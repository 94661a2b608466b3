"""Iceberg v2 merge-on-read, jar-free: row-level delete APPLICATION on
read, delete-commit writers, and MoR compaction — over the PUBLIC table
spec only (delete-file semantics per the spec's "Row-level deletes" and
"Sequence numbers" sections; the reference engine consumes such tables
through Trino, ``services/merging/JdbcMergeServiceClient.scala``).

Application plan (Spark-first, fully distributed):

- the data scan materializes each row's PHYSICAL coordinates —
  ``_metadata.file_path`` + ``_metadata.row_index`` (the exact pair
  Iceberg's ``pos`` means; ``row_index`` is the engine facility Delta
  deletion vectors ride too);
- a driver-built (metadata-sized) broadcast map translates the scan's
  encoded path back to the manifest's file URI and attaches the file's
  DATA SEQUENCE NUMBER; an unmapped path RAISES via a row-level
  ``assert_true`` filter (loud failure, never a silent resurrect/drop);
- POSITION deletes: one ``left_anti`` join on
  ``(file URI, pos)`` gated by ``delete.seq >= data.seq``;
- EQUALITY deletes: per distinct ``equality_ids`` set, one null-safe
  ``left_anti`` join on the identified columns gated by the spec's
  STRICT visibility rule ``delete.seq > data.seq`` — rows added in the
  same or a later commit than the delete survive.

No hints are forced on the anti-joins: delete files are usually tiny
(AQE broadcasts them), but a backlogged MoR table can carry GBs of
deletes and a shuffled anti-join is then the right physical plan —
Catalyst/AQE decides from runtime sizes.

Write surface:

- :func:`commit_position_deletes` — predicate → one sorted
  ``(file_path, pos)`` parquet delete file + a delete manifest +
  a new snapshot whose manifest list REUSES the previous manifests
  verbatim (the real catalog's metadata-only commit shape: O(1)
  manifest writes per delete commit, untouched data never rewritten);
- :func:`commit_equality_deletes` — key rows → an equality delete file
  (``content=2``, ``equality_ids``) with the same manifest reuse;
- :func:`rewrite_data_files` — MoR compaction (the
  ``rewrite_data_files`` maintenance action): applies all live deletes
  ONCE and commits a replace snapshot of fresh data files with footer
  bounds, dropping every delete manifest from the new manifest list;
  earlier snapshots stay time-travelable with their deletes.

Global (partition-unscoped) delete files are written against an
UNPARTITIONED partition spec, added to ``partition-specs`` on first
use — the spec's own shape for path/key-global deletes. Scale posture
matches the reader: manifest replay and the path map are driver-side
metadata, all row work is distributed; at 10^5+ files prefer the real
connector.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession

from arcane_framework_scala_spark.sources import avro_ocf
from arcane_framework_scala_spark.sources import iceberg_reader as ir
from arcane_framework_scala_spark.sources.paths import glob_escape

#: RFC 3986 pchar set (minus pct-escapes) — what ``Path.toUri`` leaves
#: unencoded; everything else is percent-encoded, matching the
#: ``_metadata.file_path`` strings Spark reports.
_URI_PATH_SAFE = "/!$&'()*+,;=:@-._~"


def _metadata_path_guesses(local: str) -> set[str]:
    """Candidate ``_metadata.file_path`` spellings for a local path:
    the Hadoop-URI percent-encoded form and the raw form. The read
    path verifies coverage per row (assert, not assume)."""
    return {"file:" + quote(local, safe=_URI_PATH_SAFE), "file:" + local}


def _group_by_seq(entries: list[dict], location: str) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for e in entries:
        out.setdefault(int(e["seq"]), []).append(
            ir._to_local(e["df"]["file_path"], location)
        )
    return out


def _field_name_by_id(meta: dict, fid: int) -> str:
    for f in _current_schema_obj(meta)["fields"]:
        if f["id"] == fid:
            return f["name"]
    raise ir.IcebergError(f"equality_ids references unknown field id {fid}")


def _current_schema_obj(meta: dict) -> dict:
    schemas = meta.get("schemas") or (
        [meta["schema"]] if "schema" in meta else []
    )
    sid = meta.get("current-schema-id", 0)
    for s in schemas:
        if s.get("schema-id", 0) == sid:
            return s
    raise ir.IcebergError("current schema not found in metadata")


def _write_time_names(
    meta: dict, seq: int, local: str, ids: tuple, cur_type_of: dict
) -> dict[int, str]:
    """``{field_id: column_name}`` under the schema that was CURRENT
    when the delete file was written (r11): its data sequence number
    names the snapshot that committed it; that snapshot's ``schema-id``
    names the schema whose field names the id-less file stores. Each
    equality field's write-time type must equal the current type or
    promote legally (the same int→long / float→double set the data
    scan enforces). Raises when the snapshot or its schema is no
    longer recorded — binding by ANY other schema could silently read
    the wrong column."""
    snap = next(
        (
            s
            for s in meta.get("snapshots") or []
            if s.get("sequence-number") == int(seq)
        ),
        None,
    )
    if snap is None or "schema-id" not in snap:
        raise ir.IcebergError(
            f"EQUALITY delete file {local!r} carries no footer field "
            f"ids and its snapshot (sequence {seq}) records no "
            "schema-id — the write-time column names are unrecoverable; "
            "compose rewrite_data_files first, or use the real connector"
        )
    wt = next(
        (
            s
            for s in meta.get("schemas") or []
            if s.get("schema-id", 0) == snap["schema-id"]
        ),
        None,
    )
    if wt is None:
        raise ir.IcebergError(
            f"EQUALITY delete file {local!r}: write-time schema "
            f"{snap['schema-id']} is no longer recorded in the metadata"
        )
    wt_by_id = {f["id"]: f for f in wt["fields"]}
    for fid in ids:
        f = wt_by_id.get(fid)
        if f is None:
            raise ir.IcebergError(
                f"EQUALITY delete file {local!r}: field id {fid} is not "
                f"in its write-time schema {snap['schema-id']}"
            )
        wt_t, cur_t = f["type"], cur_type_of[fid]
        if wt_t != cur_t and (
            not isinstance(wt_t, str)
            or not isinstance(cur_t, str)
            or (wt_t, cur_t) not in ir._PROMOTIONS
        ):
            raise ir.IcebergError(
                f"EQUALITY delete file {local!r} stores field id {fid} "
                f"as {wt_t!r} but the current schema says {cur_t!r} — "
                "not a legal promotion"
            )
    return {f["id"]: f["name"] for f in wt["fields"]}


def _mor_frame(
    spark: SparkSession,
    meta: dict,
    path: str,
    ent: dict,
    keep_lineage: bool = False,
) -> DataFrame:
    """The snapshot's LIVE rows with all row-level deletes applied;
    ``keep_lineage=True`` retains ``__ice_uri`` (manifest-form file
    URI) and ``__ice_pos`` — what a position-delete writer needs."""
    import pyspark.sql.functions as F

    schema = ir._schema_struct(meta)
    location = meta.get("location", path)
    data_entries = ent["data"]
    if not data_entries:
        out = spark.createDataFrame([], schema)
        if keep_lineage:
            out = out.withColumn("__ice_uri", F.lit(None).cast("string"))
            out = out.withColumn("__ice_pos", F.lit(None).cast("long"))
        return out
    evo = ir._evolution_info(meta)
    if evo:
        # r10: position deletes COMPOSE with schema evolution — the
        # evolved per-file-resolution scan carries the same physical
        # row coordinates, and position deletes join on (path, pos)
        # with no schema dependency at all
        base = ir._scan_evolved(
            spark, meta, path, [e["df"] for e in data_entries], evo,
            with_lineage=True,
        )
    else:
        base = ir._scan_with_partition_injection(
            spark, meta, path, [e["df"] for e in data_entries],
            with_lineage=True,
        )
    map_rows = []
    for e in data_entries:
        uri = e["df"]["file_path"]
        local = ir._to_local(uri, location)
        for guess in _metadata_path_guesses(local):
            map_rows.append((guess, uri, int(e["seq"])))
    from arcane_framework_scala_spark.sources.paths import path_map_lookup

    uri_expr = path_map_lookup(
        [(g, u) for g, u, _ in map_rows], F.col("__ice_file")
    )
    if uri_expr is not None:
        # small table: both lookups ride codegen'd literal maps — no
        # BroadcastExchange, no extra join in the plan
        seq_expr = path_map_lookup(
            [(g, s) for g, _, s in map_rows], F.col("__ice_file")
        )
        joined = base.withColumn("__ice_uri", uri_expr).withColumn(
            "__ice_seq", seq_expr
        )
    else:
        map_df = spark.createDataFrame(
            map_rows, "__ice_meta string, __ice_uri string, __ice_seq long"
        )
        joined = base.join(
            F.broadcast(map_df),
            base["__ice_file"] == map_df["__ice_meta"],
            "left",
        ).drop("__ice_meta")
    # a filter (not a projected column — projections prune) that passes
    # every mapped row and RAISES on an unmapped physical path
    joined = joined.filter(
        F.assert_true(
            F.col("__ice_seq").isNotNull(),
            F.concat(
                F.lit("iceberg_mor: data file path not in the manifest "
                      "map (URI encoding drift?): "),
                F.col("__ice_file"),
            ),
        ).isNull()
    )

    if ent["pos"]:
        pos_df = None
        for seq, files in sorted(_group_by_seq(ent["pos"], location).items()):
            d = (
                spark.read.parquet(*[glob_escape(f) for f in sorted(files)])
                .select(
                    F.col("file_path").alias("__d_file"),
                    F.col("pos").alias("__d_pos"),
                )
                .withColumn("__d_seq", F.lit(int(seq)))
            )
            pos_df = d if pos_df is None else pos_df.unionByName(d)
        joined = joined.join(
            pos_df,
            (joined["__ice_uri"] == pos_df["__d_file"])
            & (joined["__ice_pos"] == pos_df["__d_pos"])
            & (pos_df["__d_seq"] >= joined["__ice_seq"]),
            "left_anti",
        )

    if ent["eq"]:
        by_ids: dict[tuple, list[dict]] = {}
        for e in ent["eq"]:
            if not e["equality_ids"]:
                raise ir.IcebergError(
                    f"equality delete file {e['df']['file_path']!r} "
                    "carries no equality_ids"
                )
            by_ids.setdefault(tuple(sorted(e["equality_ids"])), []).append(e)
        cur_type_of = {
            f["id"]: f["type"]
            for f in _current_schema_obj(meta)["fields"]
        }
        for ids, group in sorted(by_ids.items()):
            names = [_field_name_by_id(meta, fid) for fid in ids]
            dd = None
            if evo:
                # r10 (lifts the eq+evolution fence for real writers):
                # resolve each DELETE FILE's columns by ITS OWN footer
                # field ids — the delete file stores write-time names,
                # and only ids bind them across renames; values upcast
                # through the same legal promotions as the data scan.
                # Id-less delete files (this repo's own eq writer) keep
                # the honest raise.
                import pyarrow.parquet as pq

                for e in sorted(
                    group, key=lambda e: e["df"]["file_path"]
                ):
                    local = ir._to_local(e["df"]["file_path"], location)
                    fids = ir._footer_field_ids(pq.read_schema(local))
                    if fids is None:
                        # r11 (VERDICT r10 item 4): an ID-LESS delete
                        # file binds by its WRITE-TIME schema — the
                        # file's data sequence number identifies the
                        # snapshot current when it was written, and
                        # THAT schema's name→id mapping names its
                        # columns. Values then promote to the current
                        # types under the same legality rules as the
                        # data scan. Files whose snapshot (or its
                        # schema) is no longer recorded still raise.
                        fids = _write_time_names(
                            meta, e["seq"], local, ids, cur_type_of
                        )
                    if any(fid not in fids for fid in ids):
                        raise ir.IcebergError(
                            "EQUALITY delete file "
                            f"{local!r} does not name every "
                            f"equality_ids field ({sorted(ids)}) — "
                            "use the real connector"
                        )
                    d = (
                        spark.read.parquet(glob_escape(local))
                        .select(
                            *[
                                F.col(fids[fid])
                                .cast(ir._spark_type(cur_type_of[fid]))
                                .alias(f"__eq_{n}")
                                for fid, n in zip(ids, names)
                            ]
                        )
                        .withColumn("__eq_seq", F.lit(int(e["seq"])))
                    )
                    dd = d if dd is None else dd.unionByName(d)
            else:
                for seq, files in sorted(
                    _group_by_seq(group, location).items()
                ):
                    d = (
                        spark.read.parquet(
                            *[glob_escape(f) for f in sorted(files)]
                        )
                        .select(
                            *[F.col(n).alias(f"__eq_{n}") for n in names]
                        )
                        .withColumn("__eq_seq", F.lit(int(seq)))
                    )
                    dd = d if dd is None else dd.unionByName(d)
            cond = dd["__eq_seq"] > joined["__ice_seq"]
            for n in names:
                cond = cond & joined[n].eqNullSafe(dd[f"__eq_{n}"])
            joined = joined.join(dd, cond, "left_anti")

    keep = [f.name for f in schema.fields]
    if keep_lineage:
        keep += ["__ice_uri", "__ice_pos"]
    return joined.select(*keep)


def apply_row_deletes(
    spark: SparkSession, meta: dict, path: str, ent: dict
) -> DataFrame:
    """Public MoR read entry used by :func:`iceberg_reader.read_iceberg`
    when the chosen snapshot carries live delete files."""
    return _mor_frame(spark, meta, path, ent, keep_lineage=False)


# ------------------------------------------------------------- commits


def _next_ids(meta: dict, out_dir: str) -> tuple[int, int]:
    seq = meta.get("last-sequence-number", 0) + 1
    snap_id = int(
        hashlib.md5(f"{out_dir}-{seq}".encode()).hexdigest()[:15], 16
    )
    return seq, snap_id


def _prev_manifest_list_rows(meta: dict, out_dir: str) -> list[dict]:
    snap = ir._resolve_snapshot(meta, None, None)
    if snap is None:
        return []
    if not snap.get("manifest-list"):
        raise ir.IcebergError(
            "write operations on a v1 embedded-manifests table are not "
            "supported — this writer commits manifest lists"
        )
    ml = ir._to_local(snap["manifest-list"], meta.get("location", out_dir))
    # list() — cached records are SHARED (and frozen to a tuple under
    # the debug flag); callers concatenate their new row onto this
    return list(avro_ocf.read_ocf_cached(ml)[1])


def _ensure_unpartitioned_spec(meta: dict) -> tuple[dict, int]:
    """The spec-id of an UNPARTITIONED partition spec, adding one to
    ``partition-specs`` when the table has none (the spec's shape for
    global delete files)."""
    specs = list(meta.get("partition-specs") or [])
    if not specs:
        specs = [{"spec-id": 0, "fields": []}]
    for s in specs:
        if not s.get("fields"):
            return {**meta, "partition-specs": specs}, s.get("spec-id", 0)
    new_id = max(s.get("spec-id", 0) for s in specs) + 1
    return (
        {**meta, "partition-specs": specs + [{"spec-id": new_id, "fields": []}]},
        new_id,
    )


def _write_single_parquet(
    spark_df: DataFrame, out_dir: str, dst_rel: str
) -> tuple[str, int, int] | None:
    """Write ``spark_df`` as ONE parquet file at ``out_dir/dst_rel``;
    returns (abs path, rows, bytes) or None when the frame is empty.
    Single-file is the sandbox shape — real writers shard delete files
    per partition; the manifest format carries either."""
    stage = os.path.join(out_dir, f".stage-{os.path.basename(dst_rel)}")
    shutil.rmtree(stage, ignore_errors=True)
    spark_df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = None
    for name in os.listdir(stage):
        if name.endswith(".parquet"):
            part = os.path.join(stage, name)
            break
    rows = ir._parquet_row_count(part) if part else 0
    if rows == 0:
        shutil.rmtree(stage, ignore_errors=True)
        return None
    dst = os.path.join(out_dir, dst_rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(part, dst)
    shutil.rmtree(stage, ignore_errors=True)
    return dst, rows, os.path.getsize(dst)


def _finalize_snapshot(
    out_dir: str,
    meta: dict,
    ml_rows: list[dict],
    seq: int,
    snap_id: int,
    operation: str,
) -> None:
    ml_rel = f"metadata/snap-{snap_id}-{seq}.avro"
    avro_ocf.write_ocf(
        os.path.join(out_dir, ml_rel),
        ir.MANIFEST_LIST_SCHEMA,
        ml_rows,
        extra_meta={"format-version": "2"},
    )
    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": "file://" + os.path.join(out_dir, ml_rel),
        "summary": {"operation": operation},
        "schema-id": meta.get("current-schema-id", 0),
    }
    if meta.get("current-snapshot-id") not in (None, -1):
        snapshot["parent-snapshot-id"] = meta["current-snapshot-id"]
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = (meta.get("snapshots") or []) + [snapshot]
    new_meta["snapshot-log"] = (meta.get("snapshot-log") or []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snap_id}
    ]
    ir.write_metadata(out_dir, new_meta)


def _delete_entry(
    snap_id: int,
    seq: int,
    uri: str,
    rows: int,
    size: int,
    content: int,
    equality_ids: list[int] | None = None,
) -> dict:
    df: dict = {
        "content": content,
        "file_path": uri,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": rows,
        "file_size_in_bytes": size,
        "lower_bounds": None,
        "upper_bounds": None,
    }
    if equality_ids is not None:
        df["equality_ids"] = equality_ids
    return {
        "status": 1,
        "snapshot_id": snap_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": df,
    }


def _commit_delete_file(
    out_dir: str,
    meta: dict,
    seq: int,
    snap_id: int,
    entry: dict,
    rows: int,
) -> int:
    """Shared tail of both delete writers: ONE new delete manifest, the
    previous manifests REUSED verbatim in the new manifest list, one
    metadata commit."""
    meta, unpart_id = _ensure_unpartitioned_spec(meta)
    manifest_rel = f"metadata/m-{snap_id:x}-{seq}-deletes.avro"
    manifest_abs = os.path.join(out_dir, manifest_rel)
    schema = ir._manifest_entry_schema(
        [], equality_ids_field="equality_ids" in entry["data_file"]
    )
    avro_ocf.write_ocf(
        manifest_abs,
        schema,
        [entry],
        extra_meta={
            "schema": json.dumps(_current_schema_obj(meta)),
            "partition-spec": "[]",
            "partition-spec-id": str(unpart_id),
            "format-version": "2",
            "content": "deletes",
        },
    )
    ml_rows = _prev_manifest_list_rows(meta, out_dir) + [
        {
            "manifest_path": "file://" + manifest_abs,
            "manifest_length": os.path.getsize(manifest_abs),
            "partition_spec_id": unpart_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    _finalize_snapshot(out_dir, meta, ml_rows, seq, snap_id, "delete")
    return seq


def commit_position_deletes(
    spark: SparkSession, table_dir: str, predicate: str
) -> int | None:
    """Commit a POSITION-delete snapshot: the live rows matching the
    SQL ``predicate`` (evaluated over the current merge-on-read state,
    so already-deleted rows are never re-listed) become one sorted
    ``(file_path, pos)`` delete file. Untouched data files are never
    rewritten — the commit is metadata + O(matched rows). Returns the
    new sequence number, or None when nothing matched (no commit)."""
    import pyspark.sql.functions as F

    meta = ir.table_metadata(table_dir)
    snap = ir._resolve_snapshot(meta, None, None)
    if snap is None:
        raise ir.IcebergError(f"{table_dir}: table has no snapshot")
    ent = ir._live_entries(meta, snap, table_dir)
    live = _mor_frame(spark, meta, table_dir, ent, keep_lineage=True)
    hits = (
        live.filter(F.expr(predicate))
        .select(
            F.col("__ice_uri").alias("file_path"),
            F.col("__ice_pos").alias("pos"),
        )
        .sortWithinPartitions("file_path", "pos")
    )
    seq, snap_id = _next_ids(meta, table_dir)
    written = _write_single_parquet(
        hits, table_dir, f"data/delete-pos-{snap_id:x}-{seq}.parquet"
    )
    if written is None:
        return None
    dst, rows, size = written
    entry = _delete_entry(snap_id, seq, "file://" + dst, rows, size, 1)
    return _commit_delete_file(table_dir, meta, seq, snap_id, entry, rows)


def commit_equality_deletes(
    spark: SparkSession,
    table_dir: str,
    rows_df: DataFrame,
    equality_cols: list[str],
) -> int | None:
    """Commit an EQUALITY-delete snapshot: distinct ``equality_cols``
    tuples from ``rows_df`` become one ``content=2`` delete file whose
    manifest entry carries the columns' field ids. Per the spec it
    deletes matching rows from STRICTLY OLDER commits only — data
    appended at or after this sequence number survives. Returns the
    new sequence number, or None when ``rows_df`` is empty."""
    meta = ir.table_metadata(table_dir)
    if ir._resolve_snapshot(meta, None, None) is None:
        raise ir.IcebergError(f"{table_dir}: table has no snapshot")
    ids = [
        _current_field_id(meta, c) for c in equality_cols
    ]
    seq, snap_id = _next_ids(meta, table_dir)
    written = _write_single_parquet(
        rows_df.select(*equality_cols).distinct(),
        table_dir,
        f"data/delete-eq-{snap_id:x}-{seq}.parquet",
    )
    if written is None:
        return None
    dst, rows, size = written
    entry = _delete_entry(
        snap_id, seq, "file://" + dst, rows, size, 2, equality_ids=ids
    )
    return _commit_delete_file(table_dir, meta, seq, snap_id, entry, rows)


def _current_field_id(meta: dict, name: str) -> int:
    for f in _current_schema_obj(meta)["fields"]:
        if f["name"] == name:
            return f["id"]
    raise ir.IcebergError(f"column {name!r} not in the table schema")


def rewrite_data_files(spark: SparkSession, table_dir: str) -> int:
    """MoR compaction (the ``rewrite_data_files`` maintenance action):
    apply every live delete ONCE and commit a ``replace`` snapshot of
    fresh data files — footer bounds written for data skipping, all
    delete manifests dropped from the new manifest list. Earlier
    snapshots remain time-travelable with their deletes. The rewrite
    honors the table's default partition spec (derived values
    recomputed, files per partition tuple), so the compacted layout
    stays prunable. Returns the new sequence number."""
    meta = ir.table_metadata(table_dir)
    snap = ir._resolve_snapshot(meta, None, None)
    if snap is None:
        raise ir.IcebergError(f"{table_dir}: table has no snapshot")
    ent = ir._live_entries(meta, snap, table_dir)
    cur = _mor_frame(spark, meta, table_dir, ent, keep_lineage=False)
    seq, snap_id = _next_ids(meta, table_dir)
    ml_row = _stage_data_manifest(table_dir, meta, seq, snap_id, cur, "rw")
    _finalize_snapshot(table_dir, meta, [ml_row], seq, snap_id, "replace")
    return seq


def append_rows(spark: SparkSession, table_dir: str, df: DataFrame) -> int:
    """Commit an APPEND snapshot: ``df`` lands as fresh data files at
    the NEW sequence number while every previous manifest — data AND
    delete — is reused verbatim in the new manifest list. Carried data
    files keep their deletes; the appended rows, being strictly newer
    than every live equality delete, are untouched by them (and by
    position deletes, which name older files only). This is the direct
    table-write path the exporter (overwrite-shaped, target-is-truth)
    deliberately does not provide. Returns the new sequence number."""
    meta = ir.table_metadata(table_dir)
    if ir._resolve_snapshot(meta, None, None) is None:
        raise ir.IcebergError(f"{table_dir}: table has no snapshot")
    seq, snap_id = _next_ids(meta, table_dir)
    ml_row = _stage_data_manifest(table_dir, meta, seq, snap_id, df, "ap")
    ml_rows = _prev_manifest_list_rows(meta, table_dir) + [ml_row]
    _finalize_snapshot(table_dir, meta, ml_rows, seq, snap_id, "append")
    return seq


def _stage_data_manifest(
    table_dir: str,
    meta: dict,
    seq: int,
    snap_id: int,
    frame: DataFrame,
    prefix: str,
) -> dict:
    """Write ``frame`` as data files under ``data/`` plus ONE data
    manifest (footer bounds included); returns the manifest-list row.
    The table's DEFAULT SPEC is honored: derived partition values are
    computed per row (``iceberg_transforms``), files land per partition
    tuple, and each file's typed tuple reaches the manifest — so
    appends and compactions stay prunable, and the manifest-list row
    carries real ``partitions`` field summaries. Data files always keep
    every SOURCE column (the derived columns are write-time only)."""
    import pyspark.sql.functions as F

    from arcane_framework_scala_spark.sources import (
        iceberg_transforms as tfm,
    )
    from urllib.parse import unquote

    schema_obj = _current_schema_obj(meta)
    spec_fields = []
    for s in meta.get("partition-specs") or []:
        if s.get("spec-id", 0) == meta.get("default-spec-id", 0):
            spec_fields = s.get("fields", [])
    name_of = {f["id"]: f["name"] for f in schema_obj["fields"]}
    type_of = {f["name"]: f["type"] for f in schema_obj["fields"]}
    part_schema_fields = []
    staged = frame
    for f in spec_fields:
        src = name_of.get(f.get("source-id"))
        if src is None or src not in type_of:
            raise ir.IcebergError(
                f"spec field {f!r} sources an unknown column"
            )
        transform = f.get("transform", "identity")
        nm = f.get("name") or src
        rtype = tfm._result_type(transform, type_of[src])
        if rtype not in ("int", "long", "string", "boolean"):
            raise ir.IcebergError(
                f"append under a {transform!r}({type_of[src]}) spec "
                f"field is unsupported (result type {rtype!r})"
            )
        part_schema_fields.append((nm, rtype, f.get("field-id", 1000)))
        staged = staged.withColumn(
            f"__part_{nm}",
            tfm.transform_col(transform, F.col(src), type_of[src]),
        )

    stage = os.path.join(table_dir, f".stage-{prefix}-{seq}")
    shutil.rmtree(stage, ignore_errors=True)
    writer = staged.write.mode("overwrite")
    if part_schema_fields:
        writer = writer.partitionBy(
            *[f"__part_{nm}" for nm, _, _ in part_schema_fields]
        )
    writer.parquet(stage)

    rtype_of = {nm: t for nm, t, _ in part_schema_fields}

    def _typed(nm: str, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        t = rtype_of[nm]
        if t in ("int", "long"):
            return int(raw)
        if t == "boolean":
            return raw.lower() == "true"
        return unquote(raw)

    entries = []
    added_rows = 0
    i = 0
    for root, _dirs, files in sorted(os.walk(stage)):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rows = ir._parquet_row_count(src)
            if rows == 0:
                continue
            rel_dir = os.path.relpath(root, stage)
            part_values: dict[str, object] = {}
            for seg in rel_dir.split(os.sep) if rel_dir != "." else []:
                k, _, val = seg.partition("=")
                k = k.removeprefix("__part_")
                if k in rtype_of:
                    part_values[k] = _typed(k, val)
            rel = f"data/{prefix}-{snap_id:x}-{seq}-{i:05d}.parquet"
            i += 1
            dst = os.path.join(table_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            lower, upper = ir._footer_bounds(dst, schema_obj)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": "file://" + dst,
                        "file_format": "PARQUET",
                        "partition": part_values,
                        "record_count": rows,
                        "file_size_in_bytes": os.path.getsize(dst),
                        "lower_bounds": lower or None,
                        "upper_bounds": upper or None,
                    },
                }
            )
            added_rows += rows
    shutil.rmtree(stage, ignore_errors=True)

    manifest_rel = f"metadata/m-{snap_id:x}-{seq}.avro"
    manifest_abs = os.path.join(table_dir, manifest_rel)
    avro_ocf.write_ocf(
        manifest_abs,
        ir._manifest_entry_schema(part_schema_fields),
        entries,
        extra_meta={
            "schema": json.dumps(schema_obj),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(meta.get("default-spec-id", 0)),
            "format-version": "2",
            "content": "data",
        },
    )
    return {
        "manifest_path": "file://" + manifest_abs,
        "manifest_length": os.path.getsize(manifest_abs),
        "partition_spec_id": meta.get("default-spec-id", 0),
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": ir._partition_summaries(entries, part_schema_fields),
    }


# ---------------------------------------------------- incremental changelog


def iceberg_changelog(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int,
) -> DataFrame:
    """INCREMENTAL change feed between two snapshots (r11) — the
    manifest-derived twin of ``delta_cdf.delta_cdf`` and the jar-free
    equivalent of the real connector's changelog scan. Unlike
    ``iceberg_reader.iceberg_changes`` (a key-based full-outer diff of
    the two snapshot reads — O(table)), this derives each intermediate
    snapshot's changes from what its commit ADDED:

    - data files added at sequence s → their live-at-s rows as
      ``insert`` (same-sequence position deletes already applied);
    - data files removed at s → their live-at-(s-1) rows as ``delete``
      (a ``replace``/compaction snapshot is skipped whole — no logical
      change, exactly what the connector's changelog does);
    - CARRIED files change only through delete files added at s: the
      targeted subset (the files position-delete pairs name; every
      carried file when an equality delete lands) is scanned at BOTH
      states and anti-joined on physical ``(uri, pos)`` lineage — rows
      present before and gone after are the ``delete`` rows, exact
      under any combination of position/equality deletes and any
      writer's re-listing behavior.

    Cost class: O(files changed per commit + rows changed), never a
    base-table scan — except an equality-delete commit, which must
    scan the carried files at both states (the same cost the real
    connector's changelog pays; equality deletes name no files).
    Output: the table's columns + ``_change_type`` ('insert'/'delete')
    + ``_commit_version`` (the sequence number) — feed it through
    ``delta_cdf.cdf_to_diff`` for the IVM snapshot_diff shape."""
    import pyspark.sql.functions as F

    meta = ir.table_metadata(path)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: s.get("sequence-number", 0),
    )
    by_id = {s["snapshot-id"]: s for s in snaps}
    if from_snapshot_id not in by_id or to_snapshot_id not in by_id:
        raise ir.IcebergError("snapshot id not in the table")
    seq_from = by_id[from_snapshot_id].get("sequence-number", 0)
    seq_to = by_id[to_snapshot_id].get("sequence-number", 0)
    if seq_to <= seq_from:
        raise ir.IcebergError(
            f"empty changelog range (sequence {seq_from} -> {seq_to})"
        )
    schema = ir._schema_struct(meta)
    cols = [f.name for f in schema.fields]

    def restricted(ent: dict, paths: set) -> dict:
        return {
            "data": [e for e in ent["data"] if e["df"]["file_path"] in paths],
            "pos": ent["pos"],
            "eq": ent["eq"],
        }

    prev = by_id[from_snapshot_id]
    out: DataFrame | None = None

    def emit(frame: DataFrame, kind: str, seq: int) -> None:
        nonlocal out
        f = frame.select(
            *cols,
            F.lit(kind).alias("_change_type"),
            F.lit(int(seq)).cast("long").alias("_commit_version"),
        )
        out = f if out is None else out.unionByName(f)

    for snap in snaps:
        s_seq = snap.get("sequence-number", 0)
        if not seq_from < s_seq <= seq_to:
            continue
        if (snap.get("summary") or {}).get("operation") == "replace":
            prev = snap  # compaction/rewrite: no logical change
            continue
        ent_prev = ir._live_entries(meta, prev, path)
        ent_cur = ir._live_entries(meta, snap, path)
        prev_paths = {e["df"]["file_path"] for e in ent_prev["data"]}
        cur_paths = {e["df"]["file_path"] for e in ent_cur["data"]}
        added = cur_paths - prev_paths
        removed = prev_paths - cur_paths
        carried = prev_paths & cur_paths

        new_pos = [e for e in ent_cur["pos"] if e["seq"] == s_seq]
        new_eq = [e for e in ent_cur["eq"] if e["seq"] == s_seq]
        if new_eq:
            targeted = set(carried)
        else:
            targeted = set()
            if new_pos:
                from arcane_framework_scala_spark.sources.paths import (
                    glob_escape,
                )

                locs = [
                    ir._to_local(
                        e["df"]["file_path"], meta.get("location", path)
                    )
                    for e in new_pos
                ]
                hit = (
                    spark.read.parquet(*[glob_escape(p) for p in locs])
                    .select("file_path")
                    .distinct()
                    .collect()
                )  # O(touched files) driver — the planning cost class
                targeted = {r["file_path"] for r in hit} & carried

        if added:
            emit(
                _mor_frame(
                    spark, meta, path, restricted(ent_cur, added)
                ),
                "insert",
                s_seq,
            )
        if removed:
            emit(
                _mor_frame(
                    spark, meta, path, restricted(ent_prev, removed)
                ),
                "delete",
                s_seq,
            )
        if targeted:
            before = _mor_frame(
                spark,
                meta,
                path,
                restricted(ent_prev, targeted),
                keep_lineage=True,
            )
            after = _mor_frame(
                spark,
                meta,
                path,
                restricted(ent_cur, targeted),
                keep_lineage=True,
            ).select(
                F.col("__ice_uri").alias("__a_uri"),
                F.col("__ice_pos").alias("__a_pos"),
            )
            gone = before.join(
                after,
                (before["__ice_uri"] == after["__a_uri"])
                & (before["__ice_pos"] == after["__a_pos"]),
                "left_anti",
            )
            emit(gone, "delete", s_seq)
        prev = snap

    if out is None:
        from pyspark.sql.types import LongType, StringType, StructField

        empty = schema.add(
            StructField("_change_type", StringType(), True)
        ).add(StructField("_commit_version", LongType(), True))
        return spark.createDataFrame([], empty)
    return out


class IcebergCdcSource:
    """An Iceberg table as a POLLING CDC SOURCE (r11) — the Iceberg
    twin of ``delta_cdf.DeltaCdfSource`` and the cross-format closure
    of the reference's CHANGETABLE contract (reference
    ``src/main/scala/services/mssql/base/MsSqlStreamingSource.scala``,
    ``services/mssql/MsSqlStreamingDataProvider.scala``): the same
    ``current_version()`` / ``changes(since)`` surface, so
    ``StreamRunner``, the version-guarded MERGE dialects, watermark
    stores and graceful stop all run with an Iceberg table in the
    CHANGETABLE seat. The FIRST poll emits a BACKFILL batch (full
    snapshot as ``U`` rows at the head sequence — the reference's
    backfill-then-stream pattern, S2→T1); later polls ship the
    :func:`iceberg_changelog` feed of ``(watermark, head]`` shaped by
    ``delta_cdf.cdf_to_cdc_batch`` — ``SYS_CHANGE_VERSION`` is the
    commit's SEQUENCE NUMBER, so downstream replays stay
    version-guarded no-ops (T9).

    The runner's watermark is one scalar string compared by equality;
    this source encodes ``"<sequence>:<snapshot-id>"`` — the sequence
    gives the unit count, the snapshot id anchors the changelog. A
    watermark whose snapshot has been EXPIRED from the table raises
    (via :func:`iceberg_changelog`) rather than guessing a restart
    point — re-seed with a fresh backfill, exactly what the real
    connector demands. ``max_versions_per_batch`` caps how many
    commits one micro-batch covers (the T3 trigger-cap discipline on
    the sequence axis): a backlogged feed lands as several bounded
    batches, each advancing the watermark after its merge, so a crash
    mid-backlog resumes from the last merged slice."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        max_versions_per_batch: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        if max_versions_per_batch is not None and max_versions_per_batch < 1:
            raise ValueError("max_versions_per_batch must be >= 1")
        self.max_versions_per_batch = max_versions_per_batch

    def _head(self) -> tuple[int | None, int]:
        meta = ir.table_metadata(self.path)
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None, 0
        for s in meta.get("snapshots") or []:
            if s["snapshot-id"] == cur:
                return cur, int(s.get("sequence-number", 0))
        raise ir.IcebergError(
            f"current-snapshot-id {cur} missing from snapshots"
        )

    @staticmethod
    def _encode(sid: int, seq: int) -> str:
        return f"{seq}:{sid}"

    @staticmethod
    def _decode(version: str) -> tuple[int, int]:
        seq, _, sid = str(version).partition(":")
        return int(sid), int(seq)

    def current_version(self) -> dict:
        sid, seq = self._head()
        if sid is None:
            return {"version": ""}
        return {"version": self._encode(sid, seq)}

    def changes(self, since: dict | None):
        import pyspark.sql.functions as F

        from arcane_framework_scala_spark.functions.merge_key import (
            mssql_merge_key,
        )
        from arcane_framework_scala_spark.sources.base import MicroBatch
        from arcane_framework_scala_spark.sources.delta_cdf import (
            cdf_to_cdc_batch,
        )

        sid, seq = self._head()
        if sid is None:
            return  # no snapshot yet — nothing to backfill or stream
        head = self._encode(sid, seq)
        if since is None or not since.get("version"):
            snap = ir.read_iceberg(self.spark, self.path)
            yield MicroBatch(
                df=snap.select(
                    mssql_merge_key(*self.keys).alias("ARCANE_MERGE_KEY"),
                    F.lit(seq).cast("long").alias("SYS_CHANGE_VERSION"),
                    F.lit("U").alias("SYS_CHANGE_OPERATION"),
                    *snap.columns,
                ),
                watermark={"version": head},
                units=seq,
            )
            return
        last_id, last_seq = self._decode(since["version"])
        if sid == last_id or seq <= last_seq:
            return
        # slice the pending snapshots into version-capped batches
        # (T3 trigger-cap discipline on the sequence axis); the cut
        # points are REAL snapshot ids, so each slice is an exact
        # changelog range and each merged slice advances the watermark
        meta = ir.table_metadata(self.path)
        pending = sorted(
            (
                s
                for s in meta.get("snapshots") or []
                if last_seq < int(s.get("sequence-number", 0)) <= seq
            ),
            key=lambda s: int(s.get("sequence-number", 0)),
        )
        step = self.max_versions_per_batch or len(pending)
        from_id, from_seq = last_id, last_seq
        for i in range(0, len(pending), step):
            cut = pending[min(i + step, len(pending)) - 1]
            cut_id = cut["snapshot-id"]
            cut_seq = int(cut.get("sequence-number", 0))
            feed = iceberg_changelog(self.spark, self.path, from_id, cut_id)
            # localCheckpoint: |delta|-sized, and it cuts the
            # carried-file anti-join lineage before the sink's
            # row-level MERGE re-plans
            yield MicroBatch(
                df=cdf_to_cdc_batch(feed, self.keys).localCheckpoint(),
                watermark={"version": self._encode(cut_id, cut_seq)},
                units=cut_seq - from_seq,
            )
            from_id, from_seq = cut_id, cut_seq


class IcebergChangelogTarget:
    """An Iceberg table as an IVM maintenance TARGET (r11) — the
    Iceberg twin of ``delta_cdf.DeltaCdfTarget``, completing the
    {Delta, Iceberg} × {polling source, IVM target} matrix: adapts
    snapshots + :func:`iceberg_changelog` to the interface
    ``StreamingViewMaintainer`` drives (``current_version()``
    / ``read_version`` / ``changes``), so a maintainer — state table,
    durable synced version, crash-exactly-once ``last_v`` MERGE — runs
    unchanged against an Iceberg table this engine only READS.
    Versions are SEQUENCE NUMBERS (monotonic, exactly what the
    maintainer's strictly-greater guard needs); ``changes`` is the
    per-commit manifest-derived feed through ``cdf_to_diff``,
    O(|delta|) per sync, never a snapshot diff. A version whose
    snapshot has been EXPIRED raises — resuming across an expiry needs
    a re-bootstrap, the same posture the real connector takes."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str]):
        self.spark = spark
        self.path = path
        self.keys = list(keys)

    def _meta_by_seq(self) -> tuple[dict, dict[int, dict]]:
        meta = ir.table_metadata(self.path)
        return meta, {
            int(s.get("sequence-number", 0)): s
            for s in meta.get("snapshots") or []
        }

    def _snap_at(self, version: int) -> dict:
        _, by_seq = self._meta_by_seq()
        snap = by_seq.get(int(version))
        if snap is None:
            raise ir.IcebergError(
                f"no snapshot at sequence {version} — expired from the "
                "table; re-bootstrap the maintainer"
            )
        return snap

    def current_version(self) -> int | None:
        meta, by_seq = self._meta_by_seq()
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        for seq, s in by_seq.items():
            if s["snapshot-id"] == cur:
                return seq
        raise ir.IcebergError(
            f"current-snapshot-id {cur} missing from snapshots"
        )

    def read(self) -> DataFrame:
        return ir.read_iceberg(self.spark, self.path)

    def read_version(self, version: int) -> DataFrame:
        return ir.read_iceberg(
            self.spark, self.path,
            snapshot_id=self._snap_at(version)["snapshot-id"],
        )

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        from arcane_framework_scala_spark.sources.delta_cdf import (
            cdf_to_diff,
        )

        feed = iceberg_changelog(
            self.spark,
            self.path,
            self._snap_at(v_from)["snapshot-id"],
            self._snap_at(v_to)["snapshot-id"],
        )
        # localCheckpoint: |delta|-sized; cuts the carried-file
        # anti-join lineage before the state table's row-level MERGE
        return cdf_to_diff(feed, self.keys).localCheckpoint()
