"""Jar-free Delta Lake table reader: parse the public ``_delta_log``
transaction protocol directly and hand Spark the active parquet files.

The Delta log format is a published protocol (delta.io PROTOCOL.md):
``_delta_log/%020d.json`` commit files hold one JSON action per line —
``add`` (a data file joins the table), ``remove`` (it leaves),
``metaData``/``protocol``/``commitInfo`` (bookkeeping) — and an optional
``%020d.checkpoint.parquet`` collapses the action history at a version
(pointed to by ``_last_checkpoint``). A reader therefore needs no Delta
jar at all: replay the actions, collect the files whose latest action is
``add``, and read them as plain parquet.

Why here: the reference stack reaches its lakehouse through a catalog
(Trino-on-Iceberg, ``JdbcMergeServiceClient.scala``); a Spark cluster
without the connector jars (this sandbox, minimal images, other engines'
exports) can still CONSUME Delta tables through this module — snapshot
reads and ``VERSION AS OF`` time travel included.

Scale posture: the log replay is driver-side METADATA work, O(actions
since checkpoint) — exactly what the real connector does. The data scan
is ONE ``spark.read.parquet(*files)`` with ``basePath`` set, so Spark's
own partition discovery reconstructs hive-style partition columns from
the file paths (Delta lays partitioned data out as ``col=value/...``)
and partition pruning/pushdown work as on any parquet table. Readers at
10^5+ files should prefer the real connector (data-skipping stats in
the log are not consulted here); correctness is identical.

DELETION VECTORS are APPLIED since r9 (``delta_dv``: roaring-bitmap
codec from the public formats, descriptor resolution, per-file
anti-join on ``_metadata.row_index``; ``delta_dv.delete_where`` writes
them). COLUMN MAPPING: NAME mode resolves at schema level (the scan
imposes the physical schema — nested struct fields included — and
rebuilds the logical surface, ``_mapping_plan``), ID mode per file
from parquet footer field ids (r10, ``_id_scan_groups``). Checkpoints
carry live DV descriptors, the current protocol, and remove tombstones
(r10). Remaining limitations (documented, raised loudly): mapped
struct MAP KEYS, and DV purge on ID-mapped tables (needs parquet
field-id stamping) — each raises instead of returning wrong rows.
"""

from __future__ import annotations

import json
import os
import re
import time
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_PART_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
#: V2 checkpoints carry a UUID token (canonical hyphenated form — the
#: hyphen requirement keeps this from shadowing a lone multi-part token)
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F]+(?:-[0-9a-fA-F-]+)+)"
    r"\.(parquet|json)$"
)

#: reader features we can honor; anything else in the protocol action's
#: readerFeatures raises. ``deletionVectors`` joined the set in r9 (the
#: read path APPLIES them — see ``delta_dv``) and so did
#: ``columnMapping`` — NAME mode resolved at schema level
#: (``_mapping_plan``, nested structs rebuilt recursively), ID mode per
#: file from parquet footer field ids (r10, ``_id_scan_groups``);
#: arrays/maps of mapped structs rebuild through transform lambdas;
#: mapped struct MAP KEYS still raise.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "deletionVectors",
    "columnMapping",
    "v2Checkpoint",  # r9: UUID-named top file + _sidecars replay
    "typeWidening",  # r9: per-file-group narrow scans upcast
    "typeWidening-preview",
}


def _log_dir(path: str) -> str:
    d = os.path.join(path, "_delta_log")
    if not os.path.isdir(d):
        raise ValueError(f"not a Delta table: no _delta_log under {path!r}")
    return d


def commit_actions(path: str, version: int, actions: list[dict]) -> None:
    """Publish a commit JSON with PUT-IF-ABSENT semantics (r9): the
    staged file hard-links to the final name, which FAILS if the
    version already exists — the optimistic-concurrency rule every
    real Delta writer relies on; an ``os.replace`` here would silently
    clobber a concurrent writer's commit."""
    log = _log_dir(path)
    tmp = os.path.join(log, f".{version:020d}.json.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    dst = os.path.join(log, f"{version:020d}.json")
    try:
        _put_if_absent(tmp, dst)
    except FileExistsError:
        raise ValueError(
            f"concurrent Delta commit: version {version} already exists "
            f"under {log!r} — re-read the log and retry the operation"
        ) from None
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


def _put_if_absent(tmp: str, dst: str) -> None:
    """Publish ``tmp`` at ``dst`` failing on an existing ``dst``:
    hard-link when the filesystem allows it (atomic full-content
    publish), else O_EXCL create + copy (same fallback discipline as
    the data-file link paths)."""
    try:
        os.link(tmp, dst)
        return
    except FileExistsError:
        raise
    except OSError:
        pass
    fd = os.open(dst, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with open(tmp, "rb") as src:
            os.write(fd, src.read())
    finally:
        os.close(fd)


def commit_versions(path: str) -> list[int]:
    """Commit versions present in the log, ascending."""
    return sorted(
        int(m.group(1))
        for name in os.listdir(_log_dir(path))
        if (m := _COMMIT_RE.match(name))
    )


def _latest_checkpoint(path: str, version: int | None) -> int | None:
    """Newest checkpoint version usable for a read at ``version`` —
    single-file checkpoints plus CLASSIC MULTI-PART sets
    (``V.checkpoint.<part>.<parts>.parquet``, r9); a multi-part set
    counts only when EVERY part is present (an interrupted writer's
    partial set is ignored, matching real readers)."""
    best = None
    parts_seen: dict[tuple[int, int], set[int]] = {}
    for name in os.listdir(_log_dir(path)):
        m = _CHECKPOINT_RE.match(name) or _CHECKPOINT_V2_RE.match(name)
        if m:
            v = int(m.group(1))
            if version is None or v <= version:
                best = v if best is None or v > best else best
            continue
        m = _CHECKPOINT_PART_RE.match(name)
        if m:
            v, part, total = (int(m.group(i)) for i in (1, 2, 3))
            parts_seen.setdefault((v, total), set()).add(part)
    for (v, total), got in parts_seen.items():
        if got == set(range(1, total + 1)) and (
            version is None or v <= version
        ):
            best = v if best is None or v > best else best
    return best


def _v2_checkpoint_file(path: str, version: int) -> str | None:
    """The v2 checkpoint file at ``version`` (UUID-named json or
    parquet), newest name winning when several exist — all are valid
    per the protocol, the choice just needs to be deterministic."""
    log = _log_dir(path)
    cands = sorted(
        n
        for n in os.listdir(log)
        if (m := _CHECKPOINT_V2_RE.match(n)) and int(m.group(1)) == version
    )
    return os.path.join(log, cands[-1]) if cands else None


def _read_v2_checkpoint(
    path: str, top: str, spark, on_action
) -> None:
    """Replay a V2 CHECKPOINT (r9): the top file (json action lines or
    a parquet action table) carries ``checkpointMetadata`` plus either
    inline add/remove actions or ``sidecar`` references into
    ``_delta_log/_sidecars/`` — each sidecar parquet holding the
    actions themselves. ``on_action(dict)`` receives every action in
    order; remove TOMBSTONES in a checkpoint describe already-deleted
    files kept for vacuum bookkeeping and are forwarded (they are
    no-ops against an empty live set)."""
    from arcane_framework_scala_spark.sources.paths import glob_escape

    sidecars: list[str] = []

    def _dispatch(action: dict) -> None:
        if "sidecar" in action and action["sidecar"]:
            sidecars.append(action["sidecar"]["path"])
        elif "checkpointMetadata" in action:
            pass  # version/tags — nothing to replay
        else:
            on_action(action)

    if top.endswith(".json"):
        with open(top) as f:
            for line in f:
                line = line.strip()
                if line:
                    _dispatch(json.loads(line))
    else:
        df = spark.read.parquet(glob_escape(top))
        for r in df.collect():
            d = r.asDict(recursive=True)
            _dispatch({k: v for k, v in d.items() if v is not None})
    for rel in sidecars:
        sc = os.path.join(_log_dir(path), "_sidecars", rel)
        if not os.path.exists(sc):
            raise ValueError(
                f"v2 checkpoint sidecar {rel!r} missing under "
                f"{_log_dir(path)!r}/_sidecars — refusing a partial replay"
            )
        df = spark.read.parquet(glob_escape(sc))
        for r in df.collect():
            d = r.asDict(recursive=True)
            on_action({k: v for k, v in d.items() if v is not None})


def _checkpoint_files(path: str, version: int) -> list[str]:
    """The parquet file(s) of the checkpoint at ``version`` — one for
    a single-file checkpoint, every part of a complete multi-part."""
    log = _log_dir(path)
    single = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(single):
        return [single]
    parts = sorted(
        os.path.join(log, n)
        for n in os.listdir(log)
        if (m := _CHECKPOINT_PART_RE.match(n)) and int(m.group(1)) == version
    )
    if not parts:
        raise ValueError(
            f"checkpoint {version} vanished from {log!r} mid-replay"
        )
    return parts


def _check_protocol(action: dict) -> None:
    p = action["protocol"]
    v = p.get("minReaderVersion", 1)
    if v == 2:
        # the legacy column-mapping reader version carries no
        # table-features list; the mapping MODE is validated where the
        # schema is resolved (name: _mapping_plan, id:
        # _id_scan_groups; nested types raise in both)
        return
    if v > 1:
        feats = set(p.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported or not feats:
            raise ValueError(
                "Delta table requires reader features this jar-free "
                f"reader does not implement: {sorted(unsupported) or p}"
            )


def _replay(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> tuple[list[str], dict | None]:
    """:func:`_replay_full` reduced to the classic contract: (sorted
    live table-relative file paths, newest metaData action dict)."""
    live, meta = _replay_full(path, version, spark)
    return sorted(live), meta


def _replay_full(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> tuple[dict[str, dict], dict | None]:
    """:func:`_replay_state` reduced to the classic pair:
    (live add-action map, newest metaData action dict)."""
    st = _replay_state(path, version, spark)
    return st["live"], st["meta"]


def _dv_id(action: dict) -> str:
    """The protocol's ``deletionVector.uniqueId`` of a file action
    (storage type + path or inline bitmap, ``@offset`` when set); empty
    for a file without a DV."""
    d = action.get("deletionVector")
    if not d:
        return ""
    off = d.get("offset")
    return f"{d['storageType']}{d['pathOrInlineDv']}" + (
        "" if off is None else f"@{off}"
    )


def _replay_state(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> dict:
    """ONE pass over the log (checkpoint + later commits) up to
    ``version`` (default: latest) → ``{"live": {rel -> full add-action
    dict, deletionVector descriptor included}, "meta": newest metaData
    action, "protocol": newest protocol action (None if the log never
    carried one), "tombstones": {(rel, DV id) -> newest remove action
    for file actions NOT currently live}}``. A file action is keyed by
    its path and its deletion vector's id, as the protocol keys it: a
    DV update removes ``(rel, old DV)`` and adds ``(rel, new DV)``, so
    the old DV file keeps a tombstone of its own while ``rel`` stays
    live. Every public reader builds on this so the
    log and any checkpoint parquet are parsed exactly once per call.
    Tombstones power retention decisions (vacuum gates deletion on the
    remove's ``deletionTimestamp``, not the data file's mtime); the
    protocol powers feature-preserving upgrades (``delete_where`` must
    merge, never clobber, an existing feature set). Raises on unknown
    reader requirements, on a version the log does not contain, and on
    a TRUNCATED log (earliest commits cleaned with no usable
    checkpoint — starting the replay mid-history would silently return
    a partial table)."""
    versions = commit_versions(path)
    ckpt_any = _latest_checkpoint(path, None)
    if not versions and ckpt_any is None:
        raise ValueError(f"empty _delta_log under {path!r}")
    max_head = max(
        versions[-1] if versions else -1,
        ckpt_any if ckpt_any is not None else -1,
    )
    head = max_head if version is None else version
    if (
        version is not None
        and version not in versions
        and _latest_checkpoint(path, version) != version
    ):
        raise ValueError(
            f"version {version} not in the Delta log (have "
            f"{versions[0] if versions else ckpt_any}..{max_head})"
        )
    live: dict[str, dict] = {}
    tombstones: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None

    def apply_add(action: dict) -> None:
        live[unquote(action["path"])] = action

    def apply_remove(action: dict) -> None:
        rel = unquote(action["path"])
        live.pop(rel, None)
        tombstones[(rel, _dv_id(action))] = action

    def current_tombstones() -> dict[tuple[str, str], dict]:
        live_keys = {(rel, _dv_id(a)) for rel, a in live.items()}
        return {k: a for k, a in tombstones.items() if k not in live_keys}

    def scan_commit(v: int, meta_only: bool = False) -> None:
        nonlocal meta, protocol
        with open(os.path.join(_log_dir(path), f"{v:020d}.json")) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(action)
                    protocol = action["protocol"]
                elif "metaData" in action:
                    meta = action["metaData"]
                elif meta_only:
                    continue
                elif "add" in action:
                    apply_add(action["add"])
                elif "remove" in action:
                    apply_remove(action["remove"])

    start = 0
    ckpt = _latest_checkpoint(path, head)
    if ckpt is None and versions and versions[0] != 0:
        raise ValueError(
            f"Delta log under {path!r} is truncated (earliest commit is "
            f"{versions[0]}) and no complete checkpoint (single-file or "
            "classic multi-part) covers it — v2 checkpoints are not "
            "implemented by this jar-free reader; replaying a partial "
            "history would return wrong rows"
        )
    if ckpt is not None:
        from pyspark.sql import functions as F

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "reading a checkpointed Delta log needs a SparkSession — "
                "pass one (read_delta does) or set an active session"
            )
        from arcane_framework_scala_spark.sources.paths import glob_escape

        v2 = _v2_checkpoint_file(path, ckpt)
        if v2 is not None:

            def _on(action: dict) -> None:
                nonlocal meta, protocol
                if "protocol" in action:
                    _check_protocol(action)
                    protocol = action["protocol"]
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    apply_add(action["add"])
                elif "remove" in action:
                    apply_remove(action["remove"])

            _read_v2_checkpoint(path, v2, spark, _on)
            start = ckpt + 1
            for v in versions:
                if start <= v <= head:
                    scan_commit(v)
            if meta is None and start > 0:
                for v in versions:
                    if v < start:
                        scan_commit(v, meta_only=True)
            return {
                "live": live,
                "meta": meta,
                "protocol": protocol,
                "tombstones": current_tombstones(),
            }

        ck = spark.read.parquet(
            *[glob_escape(p) for p in _checkpoint_files(path, ckpt)]
        )
        if "protocol" in ck.columns:
            for r in (
                ck.filter(F.col("protocol").isNotNull())
                .select("protocol")
                .collect()
            ):
                _check_protocol({"protocol": r["protocol"].asDict()})
                protocol = {
                    k: v
                    for k, v in r["protocol"].asDict(recursive=True).items()
                    if v is not None
                }
        if "metaData" in ck.columns:
            rows = (
                ck.filter(F.col("metaData").isNotNull())
                .select("metaData")
                .collect()
            )
            if rows:
                meta = rows[-1]["metaData"].asDict(recursive=True)
        for r in (
            ck.filter(F.col("add").isNotNull()).select("add").collect()
        ):
            apply_add(r["add"].asDict(recursive=True))
        if "remove" in ck.columns:
            # checkpoints RETAIN remove tombstones until expired — they
            # carry the deletionTimestamp vacuum's retention gates on
            for r in (
                ck.filter(F.col("remove").isNotNull())
                .select("remove")
                .collect()
            ):
                a = r["remove"].asDict(recursive=True)
                tombstones[(unquote(a["path"]), _dv_id(a))] = a
        start = ckpt + 1
    for v in versions:
        if start <= v <= head:
            scan_commit(v)
    if meta is None and start > 0:
        # non-spec checkpoint without metaData: fall back to the
        # retained pre-checkpoint commits for the schema only
        for v in versions:
            if v < start:
                scan_commit(v, meta_only=True)
    return {
        "live": live,
        "meta": meta,
        "protocol": protocol,
        "tombstones": current_tombstones(),
    }


def active_files(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> list[str]:
    """The table's live data files at ``version`` (default: latest) as
    absolute paths — see :func:`_replay` for the replay contract.
    ``spark`` is needed only when a checkpoint must be read."""
    rels, _ = _replay(path, version, spark)
    return [os.path.join(path, rel) for rel in rels]


def read_delta(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read of a Delta table without the connector jar —
    ``version`` gives ``VERSION AS OF`` time travel. One parquet scan
    over the live files with the LOG's schema imposed (the metaData
    schemaString is authoritative — footer inference would lose
    columns on a schema-evolved table and re-type string partition
    values that look numeric) and ``basePath`` set, so hive-style
    partition columns come back through Spark's partition discovery
    and partition pruning applies as usual. An empty table returns an
    empty DataFrame with the log's schema. Live DELETION VECTORS are
    APPLIED (r9, ``delta_dv``): deleted positions anti-join on
    ``(file, _metadata.row_index)`` — the same physical-coordinate
    machinery the Iceberg MoR path rides."""
    import pyspark.sql.functions as F

    live, meta = _replay_full(path, version, spark)
    schema = _schema_from_meta(meta, path)
    mode = _mapping_mode(meta)
    rels = sorted(live)
    if not rels:
        return spark.createDataFrame([], schema)
    has_dv = any(a.get("deletionVector") for a in live.values())
    if _type_widening_active(meta):
        # r10: widening composes with DVs — each narrow-type group
        # rides the lineage path so only ITS vectors apply to it;
        # r11: and with BOTH column-mapping modes (the per-group
        # (scan schema, exprs) plan shape composes the pairings)
        if mode == "name":
            plans = _widened_mapping_plans(path, rels, meta, schema)
        elif mode == "id":
            plans = _id_widened_plans(meta, path, rels, schema)
        else:
            plans = _widened_plans(path, rels, meta, schema)
        out = None
        for plan, grels in plans:
            if has_dv:
                frame = _scan_with_lineage(
                    spark, path, {r: live[r] for r in grels}, schema, plan
                ).select(*[F.col(f.name) for f in schema.fields])
            else:
                frame = _scan_plain(spark, path, grels, schema, plan)
            out = frame if out is None else out.unionByName(frame)
        return out
    if mode == "id":
        # per-file field-id resolution (r10): files group by their
        # physical-column binding; each group scans/aliases like a
        # NAME-mode table; groups union (with DVs, each group rides
        # the lineage path so only ITS vectors apply to it)
        out = None
        for pairs, grels in _id_scan_groups(meta, path, rels):
            plan = _pairs_plan(schema, pairs)
            if has_dv:
                frame = _scan_with_lineage(
                    spark, path, {r: live[r] for r in grels}, schema, plan
                ).select(*[F.col(f.name) for f in schema.fields])
            else:
                frame = _scan_plain(spark, path, grels, schema, plan)
            out = frame if out is None else out.unionByName(frame)
        return out
    plan = _mapping_plan(meta)
    if not has_dv:
        return _scan_plain(spark, path, rels, schema, plan)
    return _lineage_frame(spark, path, live, meta, schema).select(
        *[F.col(f.name) for f in schema.fields]
    )


def _scan_plain(
    spark: SparkSession, path: str, rels: list[str], schema, plan
):
    """One imposed-schema parquet scan over ``rels`` (no DVs): impose
    the physical schema when mapped, rebuild the logical surface."""
    from arcane_framework_scala_spark.sources.paths import glob_escape

    scan_schema = plan[0] if plan else schema
    base = (
        spark.read.schema(scan_schema)
        .option("basePath", path)
        .parquet(*[glob_escape(os.path.join(path, rel)) for rel in rels])
    )
    if plan:
        base = base.select(*plan[1])
    return base


def _scan_with_lineage(
    spark: SparkSession, path: str, live: dict, schema, plan=None
):
    """The live rows WITH physical coordinates (``__dl_rel`` =
    table-relative file path, ``__dl_pos`` = row index in file) and all
    deletion vectors APPLIED: a driver-built (metadata-sized) broadcast
    path map with a loud per-row assert on unmapped files (never a
    silent resurrect), then ONE ``left_anti`` join against the decoded
    positions. Decoding expands each roaring bitmap to an int64 array —
    O(deleted rows), bounded by the DVs themselves; at GB-scale DV
    backlogs prefer the real connector or rewrite the files."""
    import pandas as pd
    import pyspark.sql.functions as F

    from arcane_framework_scala_spark.sources import delta_dv as dvmod
    from arcane_framework_scala_spark.sources.iceberg_mor import (
        _metadata_path_guesses,
    )
    from arcane_framework_scala_spark.sources.paths import glob_escape

    rels = sorted(live)
    scan_schema = plan[0] if plan else schema
    base = (
        spark.read.schema(scan_schema)
        .option("basePath", path)
        .parquet(*[glob_escape(os.path.join(path, rel)) for rel in rels])
        .select(
            *(plan[1] if plan else ["*"]),
            F.col("_metadata.file_path").alias("__dl_file"),
            F.col("_metadata.row_index").alias("__dl_pos"),
        )
    )
    map_rows = []
    for rel in rels:
        for g in _metadata_path_guesses(os.path.join(path, rel)):
            map_rows.append((g, rel))
    from arcane_framework_scala_spark.sources.paths import path_map_lookup

    rel_expr = path_map_lookup(map_rows, F.col("__dl_file"))
    if rel_expr is not None:
        # small table: the path map rides a codegen'd literal-map
        # lookup — no BroadcastExchange, no extra join in the plan
        joined = base.withColumn("__dl_rel", rel_expr).drop("__dl_file")
    else:
        map_df = spark.createDataFrame(
            map_rows, "__dl_meta string, __dl_rel string"
        )
        joined = base.join(
            F.broadcast(map_df),
            base["__dl_file"] == map_df["__dl_meta"],
            "left",
        ).drop("__dl_meta", "__dl_file")
    joined = joined.filter(
        F.assert_true(
            F.col("__dl_rel").isNotNull(),
            F.concat(
                F.lit("delta_dv: data file path not in the map (URI "
                      "encoding drift?): "),
                F.input_file_name(),
            ),
        ).isNull()
    )
    frames = []
    for rel in rels:
        desc = live[rel].get("deletionVector")
        if not desc:
            continue
        positions = dvmod.read_dv(path, desc)
        if desc.get("cardinality") not in (None, len(positions)):
            raise ValueError(
                f"DV cardinality mismatch for {rel!r}: descriptor "
                f"{desc.get('cardinality')} != decoded {len(positions)}"
            )
        if len(positions):
            frames.append(
                pd.DataFrame({"__dv_file": rel, "__dv_pos": positions})
            )
    if frames:
        pos_df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
        joined = joined.join(
            pos_df,
            (joined["__dl_rel"] == pos_df["__dv_file"])
            & (joined["__dl_pos"] == pos_df["__dv_pos"]),
            "left_anti",
        )
    return joined


def _schema_from_meta(meta: dict | None, path: str):
    from pyspark.sql.types import StructType

    if meta is None or not meta.get("schemaString"):
        raise ValueError(f"no metaData action found in {path!r}")
    return StructType.fromJson(json.loads(meta["schemaString"]))


#: legal Delta type widenings (file-stored type -> current type) this
#: reader resolves with a per-file-group cast; the spec's
#: date->timestampNTZ and decimal re-scales are NOT here and raise
_WIDENINGS = {
    ("byte", "short"), ("byte", "int"), ("byte", "long"),
    ("short", "int"), ("short", "long"),
    ("int", "long"), ("int", "double"),
    ("float", "double"),
}

#: parquet footer (arrow) type string -> Delta primitive name
_ARROW_TO_DELTA = {
    "int8": "byte",
    "int16": "short",
    "int32": "int",
    "int64": "long",
    "float": "float",
    "double": "double",
}


def _type_widening_active(meta: dict | None) -> bool:
    """True when any schema field carries ``delta.typeChanges``
    metadata — the typeWidening table feature's marker that older
    files store a NARROWER physical type than the current schema."""
    if meta is None or not meta.get("schemaString"):
        return False
    return any(
        "delta.typeChanges" in (f.get("metadata") or {})
        for f in json.loads(meta["schemaString"])["fields"]
    )


def _widened_plans(
    path: str, rels: list[str], meta: dict, schema
) -> list[tuple[tuple, list[str]]]:
    """TYPE-WIDENING resolution (r9, plan form since r10): each file's
    stored column types come from its parquet footer (driver-side,
    O(files) — the planning cost class), files group by narrow-type
    signature. Returns ``[(plan, rels)]`` where plan = (narrow scan
    schema, upcast select exprs) — the shared shape _scan_plain and
    _scan_with_lineage consume, so widened tables read with AND without
    deletion vectors. A type pair outside the spec's legal widenings
    raises."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_string,
    )

    part_cols = set((meta or {}).get("partitionColumns") or [])
    narrow_spark = {
        "byte": "tinyint",
        "short": "smallint",
        "int": "int",
        "long": "bigint",
        "float": "float",
        "double": "double",
    }
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        local = os.path.join(path, rel)
        fsch = pq.read_schema(local)
        by_name = {
            fsch.field(i).name: str(fsch.field(i).type)
            for i in range(len(fsch.names))
        }
        sig = []
        for f in schema.fields:
            if f.name in part_cols or f.name not in by_name:
                sig.append((f.name, None))  # logical type (partition/absent)
                continue
            stored = _ARROW_TO_DELTA.get(by_name[f.name])
            cur = f.dataType.simpleString()
            cur_delta = {
                "tinyint": "byte", "smallint": "short", "int": "int",
                "bigint": "long", "float": "float", "double": "double",
            }.get(cur, cur)
            if stored is None or stored == cur_delta:
                sig.append((f.name, None))
                continue
            if (stored, cur_delta) not in _WIDENINGS:
                raise ValueError(
                    f"file {rel!r} stores {f.name!r} as {stored!r} but "
                    f"the schema says {cur_delta!r} — not a legal type "
                    "widening; use the real connector"
                )
            sig.append((f.name, stored))
        groups.setdefault(tuple(sig), []).append(rel)

    out = []
    for sig, files in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        fields = []
        for f in schema.fields:
            stored = dict(sig)[f.name]
            if stored is None:
                fields.append(f)
            else:
                fields.append(
                    StructField(
                        f.name,
                        _parse_datatype_string(narrow_spark[stored]),
                        f.nullable,
                    )
                )
        exprs = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        out.append(((StructType(fields), exprs), sorted(files)))
    return out


#: Delta primitive name <-> Spark simpleString (the widenable set)
_DELTA_TO_SPARK = {
    "byte": "tinyint", "short": "smallint", "int": "int",
    "long": "bigint", "float": "float", "double": "double",
}
_SPARK_TO_DELTA = {v: k for k, v in _DELTA_TO_SPARK.items()}


def _narrow_sig(
    path: str, rel: str, wanted: list[tuple[str, str]]
) -> tuple:
    """``((src_column, stored_narrow_or_None), …)`` for one file: the
    parquet footer's physical type per wanted source column (None when
    absent / already at the current width). Raises on a stored→current
    pair outside the spec's legal widenings."""
    import pyarrow.parquet as pq

    fsch = pq.read_schema(os.path.join(path, rel))
    by_name = {
        fsch.field(i).name: str(fsch.field(i).type)
        for i in range(len(fsch.names))
    }
    sig = []
    for src, cur_delta in wanted:
        if src not in by_name:
            sig.append((src, None))
            continue
        stored = _ARROW_TO_DELTA.get(by_name[src])
        if stored is None or stored == cur_delta:
            sig.append((src, None))
            continue
        if (stored, cur_delta) not in _WIDENINGS:
            raise ValueError(
                f"file {rel!r} stores {src!r} as {stored!r} but the "
                f"schema says {cur_delta!r} — not a legal type "
                "widening; use the real connector"
            )
        sig.append((src, stored))
    return tuple(sig)


def _widened_mapping_plans(
    path: str, rels: list[str], meta: dict, schema
) -> list[tuple[tuple, list[str]]]:
    """Type widening COMPOSED with NAME-mode column mapping (r11,
    VERDICT r10 item 3 — the last fenced Delta pairing): the mapping
    plan already imposes physical names; widening additionally narrows
    some of those physical columns per file. One footer read per file
    (driver O(files), the planning cost class) groups files by their
    stored-narrow signature over PHYSICAL names; each group's plan is
    the mapping scan schema with the group's narrow types imposed and
    the logical rebuild with an explicit upcast on widened fields.
    Only FLAT primitive fields widen (``delta.typeChanges`` on nested
    fields stays fenced via the primitive-only ``wanted`` set)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_string,
    )

    base_scan, _ = _mapping_plan(meta)
    fields = json.loads(meta["schemaString"])["fields"]
    part = set((meta or {}).get("partitionColumns") or [])
    sch_of = {f.name: f for f in schema.fields}
    wanted = []
    for f in fields:
        if isinstance(f["type"], dict) or f["name"] in part:
            continue
        cur_delta = _SPARK_TO_DELTA.get(
            sch_of[f["name"]].dataType.simpleString()
        )
        if cur_delta is not None:
            wanted.append((_phys_name(f), cur_delta))
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        groups.setdefault(_narrow_sig(path, rel, wanted), []).append(rel)
    out = []
    for sig, files in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        stored_of = {s: n for s, n in sig if n is not None}
        scan_fields = [
            StructField(
                bf.name,
                _parse_datatype_string(_DELTA_TO_SPARK[stored_of[bf.name]])
                if bf.name in stored_of
                else bf.dataType,
                bf.nullable,
            )
            for bf in base_scan.fields
        ]
        exprs = []
        for f in fields:
            phys = _phys_name(f)
            col = F.col(phys)
            if phys in stored_of:
                exprs.append(
                    col.cast(sch_of[f["name"]].dataType).alias(f["name"])
                )
            else:
                exprs.append(_logical_expr(col, f).alias(f["name"]))
        out.append(((StructType(scan_fields), exprs), sorted(files)))
    return out


def _id_widened_plans(
    meta: dict, path: str, rels: list[str], schema
) -> list[tuple[tuple, list[str]]]:
    """Type widening COMPOSED with ID-mode column mapping (r11): one
    footer read per file yields BOTH the field-id binding and the
    stored physical types; files group by the combined signature and
    each group scans under its (binding, narrow-type) schema with an
    upcast-and-alias projection. The missing-id null-fill and
    duplicate-source rules match :func:`_id_scan_groups` exactly."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_string,
    )

    fields = _id_mapping_fields(meta)
    part = set((meta or {}).get("partitionColumns") or [])
    sch_of = {f.name: f for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        fsch = pq.read_schema(os.path.join(path, rel))
        ids: dict[int, str] = {}
        arrow_of: dict[str, str] = {}
        for i in range(len(fsch.names)):
            fld = fsch.field(i)
            arrow_of[fld.name] = str(fld.type)
            raw = (fld.metadata or {}).get(b"PARQUET:field_id")
            if raw is not None:
                try:
                    ids[int(raw.decode())] = fld.name
                except ValueError:
                    pass
        sig = []
        for f in fields:
            if f["name"] in part or not ids:
                src = f["physical"]
            elif f["id"] in ids:
                src = ids[f["id"]]
            else:
                src = f"__dl_absent_{f['id']}"
            stored = None
            if f["name"] not in part and src in arrow_of:
                cur_delta = _SPARK_TO_DELTA.get(
                    sch_of[f["name"]].dataType.simpleString()
                )
                s = _ARROW_TO_DELTA.get(arrow_of[src])
                if cur_delta is not None and s is not None and s != cur_delta:
                    if (s, cur_delta) not in _WIDENINGS:
                        raise ValueError(
                            f"file {rel!r} stores {f['name']!r} as {s!r} "
                            f"but the schema says {cur_delta!r} — not a "
                            "legal type widening; use the real connector"
                        )
                    stored = s
            sig.append((src, f["name"], stored))
        srcs = [s for s, _lg, _n in sig]
        if len(set(srcs)) != len(srcs):
            raise ValueError(
                f"id-mapped file {rel!r} binds two fields to the same "
                f"source column ({srcs}) — spec-invalid table, use the "
                "real connector"
            )
        groups.setdefault(tuple(sig), []).append(rel)
    out = []
    for sig, files in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        scan_fields = []
        exprs = []
        for src, lg, stored in sig:
            lf = sch_of[lg]
            scan_fields.append(
                StructField(
                    src,
                    _parse_datatype_string(_DELTA_TO_SPARK[stored])
                    if stored
                    else lf.dataType,
                    lf.nullable,
                )
            )
            exprs.append(F.col(src).cast(lf.dataType).alias(lg))
        out.append(((StructType(scan_fields), exprs), sorted(files)))
    return out


def _mapping_mode(meta: dict | None) -> str:
    """The table's ``delta.columnMapping.mode`` (``none``/``name``/
    ``id``)."""
    return (
        ((meta or {}).get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        or "none"
    )


def _phys_name(f: dict) -> str:
    phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
    if not phys:
        raise ValueError(
            f"column-mapped field {f['name']!r} lacks "
            "delta.columnMapping.physicalName"
        )
    return phys


def _physical_type_json(t, ctx: str):
    """A schemaString TYPE with every nested struct field renamed to
    its physical identity — recursing through structs, array elements
    and map values (r10). Struct MAP KEYS raise (Delta itself forbids
    them; a mapped one would be unreachable for the rebuild)."""
    if not isinstance(t, dict):
        return t
    k = t.get("type")
    if k == "struct":
        return {**t, "fields": [_physical_field_json(c) for c in t["fields"]]}
    if k == "array":
        return {**t, "elementType": _physical_type_json(t["elementType"], ctx)}
    if k == "map":
        if isinstance(t.get("keyType"), dict):
            raise ValueError(
                f"column mapping over struct MAP KEYS ({ctx!r}) is not "
                "implemented — use the real connector"
            )
        return {**t, "valueType": _physical_type_json(t["valueType"], ctx)}
    raise ValueError(f"unsupported nested type {k!r}")


def _physical_field_json(f: dict) -> dict:
    """A schemaString field renamed to its physical identity,
    RECURSIVELY (r10 — every nested field of a mapped table carries its
    own physicalName), structs inside arrays/maps included."""
    return {
        **f,
        "name": _phys_name(f),
        "type": _physical_type_json(f["type"], f["name"]),
    }


def _logical_value(expr, t):
    """Rebuild a physical VALUE expression into its LOGICAL shape:
    primitives pass through; structs rebuild field-by-field under
    logical names, preserving NULL structs (a bare ``F.struct`` would
    resurrect a null struct as a struct of nulls); arrays/maps rebuild
    their elements/values through ``transform``/``transform_values``
    lambdas (both NULL-propagating)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    if not isinstance(t, dict):
        return expr
    k = t.get("type")
    if k == "struct":
        children = [
            _logical_value(expr.getField(_phys_name(c)), c["type"]).alias(
                c["name"]
            )
            for c in t["fields"]
        ]
        logical_t = StructType.fromJson(t)
        return F.when(expr.isNull(), F.lit(None).cast(logical_t)).otherwise(
            F.struct(*children)
        )
    if k == "array":
        return F.transform(expr, lambda x: _logical_value(x, t["elementType"]))
    if k == "map":
        return F.transform_values(
            expr, lambda _k, v: _logical_value(v, t["valueType"])
        )
    return expr


def _logical_expr(col, f: dict):
    """:func:`_logical_value` over a top-level schemaString field."""
    return _logical_value(col, f["type"])


def _mapping_plan(meta: dict | None):
    """None for an unmapped table, else ``(scan_schema, select_exprs)``
    for a NAME-mode table: the physical schema to impose (names
    physical at EVERY nesting level) and the expressions that rebuild
    the logical surface — flat columns alias back, nested structs
    rebuild recursively (r10; structs inside arrays/maps raise). ID
    mode resolves PER FILE (:func:`_id_scan_groups`) — callers must
    branch on :func:`_mapping_mode` first; calling this with an
    id-mapped meta raises so a forgotten branch fails loudly."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    mode = _mapping_mode(meta)
    if mode == "none":
        return None
    if mode != "name":
        raise ValueError(
            f"columnMapping mode {mode!r} resolves per file "
            "(_id_scan_groups) — this uniform plan would misname data"
        )
    fields = json.loads(meta["schemaString"])["fields"]
    scan_schema = StructType.fromJson(
        {"type": "struct", "fields": [_physical_field_json(f) for f in fields]}
    )
    exprs = [
        _logical_expr(F.col(_phys_name(f)), f).alias(f["name"])
        for f in fields
    ]
    return scan_schema, exprs


def _pairs_plan(schema, pairs: list[tuple[str, str]]):
    """Flat ``[(physical, logical)]`` pairs (the ID-mode per-file
    groups) as a plan: imposed physical schema + alias expressions."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructField, StructType

    phys_of = {lg: ph for ph, lg in pairs}
    scan_schema = StructType(
        [
            StructField(phys_of[f.name], f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    return scan_schema, [F.col(ph).alias(lg) for ph, lg in pairs]


def _id_mapping_fields(meta: dict) -> list[dict]:
    """``[{'name', 'id', 'physical'}]`` per logical field of an
    ID-mapped table (``delta.columnMapping.id`` +
    ``physicalName`` field metadata); nested mapped types raise."""
    out = []
    for f in json.loads(meta["schemaString"])["fields"]:
        if isinstance(f.get("type"), dict):
            raise ValueError(
                "column mapping over nested types is not implemented — "
                "use the real connector"
            )
        md = f.get("metadata") or {}
        fid = md.get("delta.columnMapping.id")
        phys = md.get("delta.columnMapping.physicalName")
        if fid is None or not phys:
            raise ValueError(
                f"id-mapped field {f['name']!r} lacks "
                "delta.columnMapping.id / physicalName"
            )
        out.append({"name": f["name"], "id": int(fid), "physical": phys})
    return out


def _id_scan_groups(
    meta: dict, path: str, rels: list[str]
) -> list[tuple[list[tuple[str, str]], list[str]]]:
    """ID-mode column resolution (r10): live files group by their
    per-field physical-column binding — each group is
    ``([(src_physical, logical)], rels)``. The parquet footer's
    ``PARQUET:field_id`` metadata is authoritative (what Databricks
    writes on every id-mapped table); a file WITHOUT ids (written
    before the mapping upgrade, when physicalName was assigned = the
    then-logical name) falls back to its physicalName. A field id
    absent from an id-carrying footer means the column post-dates the
    file — it binds to a sentinel source name guaranteed absent from
    the file so Spark null-fills (r11, ADVICE r10: falling back to
    physicalName here could silently capture a column with that
    physical name owned by a DROPPED field id the duplicate-source
    guard can no longer see). Footer reads
    are driver-side O(files), the planning cost class (same posture as
    the Iceberg evolved scan); partition fields always bind to their
    physicalName (the hive DIR name). Raises if two fields resolve to
    the same source column (a spec-invalid table — scanning would
    silently duplicate one column's data)."""
    import pyarrow.parquet as pq

    fields = _id_mapping_fields(meta)
    part = set((meta or {}).get("partitionColumns") or [])
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        fsch = pq.read_schema(os.path.join(path, rel))
        ids: dict[int, str] = {}
        for i in range(len(fsch.names)):
            fld = fsch.field(i)
            raw = (fld.metadata or {}).get(b"PARQUET:field_id")
            if raw is not None:
                try:
                    ids[int(raw.decode())] = fld.name
                except ValueError:
                    pass
        sig = []
        for f in fields:
            if f["name"] in part or not ids:
                sig.append((f["physical"], f["name"]))
            elif f["id"] in ids:
                sig.append((ids[f["id"]], f["name"]))
            else:
                # id-carrying footer, field id absent: column-absent →
                # forced null-fill (never bind by physicalName here)
                sig.append((f"__dl_absent_{f['id']}", f["name"]))
        srcs = [s for s, _ in sig]
        if len(set(srcs)) != len(srcs):
            raise ValueError(
                f"id-mapped file {rel!r} binds two fields to the same "
                f"source column ({srcs}) — spec-invalid table, use the "
                "real connector"
            )
        groups.setdefault(tuple(sig), []).append(rel)
    return [(list(sig), g) for sig, g in sorted(groups.items())]


def _lineage_frame(spark, path: str, live: dict, meta: dict | None, schema):
    """Live rows WITH physical coordinates and DVs applied, mapping-
    mode aware: the single entry point write paths (``delete_where``)
    and readers use so NAME- and ID-mapped tables ride the same
    machinery."""
    if _type_widening_active(meta):
        mode = _mapping_mode(meta)
        if mode == "name":
            plans = _widened_mapping_plans(path, sorted(live), meta, schema)
        elif mode == "id":
            plans = _id_widened_plans(meta, path, sorted(live), schema)
        else:
            plans = _widened_plans(path, sorted(live), meta, schema)
        frames = [
            _scan_with_lineage(
                spark, path, {r: live[r] for r in grels}, schema, plan
            )
            for plan, grels in plans
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    if _mapping_mode(meta) == "id":
        frames = [
            _scan_with_lineage(
                spark,
                path,
                {r: live[r] for r in grels},
                schema,
                _pairs_plan(schema, pairs),
            )
            for pairs, grels in _id_scan_groups(meta, path, sorted(live))
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out
    return _scan_with_lineage(
        spark, path, live, schema, _mapping_plan(meta)
    )


def table_metadata(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> dict:
    """The newest ``metaData`` action at or below ``version`` (id,
    format, schemaString, partitionColumns, configuration) — from the
    commit JSONs or, on a checkpoint-collapsed log, the checkpoint's
    own metaData column (which needs ``spark``)."""
    _, meta = _replay(path, version, spark)
    if meta is None:
        raise ValueError(f"no metaData action found in {path!r}")
    return meta


def table_schema(
    path: str, version: int | None = None, spark: SparkSession | None = None
):
    """The table schema from the newest ``metaData`` action — Delta
    stores it as a JSON struct string, which maps 1:1 onto a Spark
    StructType."""
    _, meta = _replay(path, version, spark)
    return _schema_from_meta(meta, path)


# --- write direction: publish a snapshot AS a Delta table --------------


def export_delta(target, out_dir: str) -> int:
    """Publish the target's CURRENT snapshot as a Delta table any
    Delta-capable engine can read — the outbound half of the jar-free
    interop story (:func:`read_delta` is inbound). Data files are HARD
    LINKED into ``out_dir`` (zero data movement; copy fallback) under
    names derived from their (inode, size, mtime) identity, so a file
    carried unchanged across snapshots keeps its export name and the
    incremental commit records only genuine adds/removes — repeated
    exports build a faithful Delta VERSION history of the table.
    Hive-partition subdirectories are preserved and recorded as
    ``partitionValues``, matching Delta's layout convention.

    ``target`` is a ``SnapshotParquetTarget`` (or anything with
    ``current_version()``/``path``/``read()``/``partition_cols``).
    Returns the Delta version written. The previous active set is
    recovered by replaying the export's own log — no side-channel
    state."""
    import hashlib
    import shutil

    from arcane_framework_scala_spark.sinks.table_stats import (
        _parquet_files,
    )

    v = target.current_version()
    if v is None:
        raise ValueError(f"nothing to export: {target.path} has no snapshot")
    vdir = os.path.join(target.path, f"v={v}")
    log = os.path.join(out_dir, "_delta_log")
    os.makedirs(log, exist_ok=True)

    cur: dict[str, dict] = {}  # export-relative path -> add action extras
    for f in _parquet_files(vdir):
        st = os.stat(f)
        digest = hashlib.md5(
            f"{st.st_ino}-{st.st_size}-{st.st_mtime_ns}".encode()
        ).hexdigest()
        rel_dir = os.path.dirname(os.path.relpath(f, vdir))
        part_values = {}
        if rel_dir:
            for seg in rel_dir.split(os.sep):
                k, _, val = seg.partition("=")
                val = unquote(val)
                # hive's NULL sentinel maps to a protocol null value
                part_values[k] = (
                    None if val == "__HIVE_DEFAULT_PARTITION__" else val
                )
        rel = os.path.join(rel_dir, f"part-{digest}.parquet")
        cur[rel] = {
            "partitionValues": part_values,
            "size": st.st_size,
            "modificationTime": st.st_mtime_ns // 1_000_000,
            "src": f,
        }
    has_log = bool(os.listdir(log))
    versions = commit_versions(out_dir) if has_log else []
    ckpt = _latest_checkpoint(out_dir, None) if has_log else None
    head = max(
        versions[-1] if versions else -1,
        ckpt if ckpt is not None else -1,
    )
    # prev/cur compare in UNQUOTED (filesystem) space; the log records
    # url-encoded paths per the protocol (the replay unquotes back).
    # One _replay covers prev AND the previous schema — and works on a
    # checkpoint-only log (commit JSONs cleaned by retention).
    spark = getattr(target, "spark", None)
    prev_rels, prev_meta = (
        _replay(out_dir, spark=spark) if head >= 0 else ([], None)
    )
    prev = set(prev_rels)
    schema = target.read().schema
    schema_str = json.dumps(schema.jsonValue())
    prev_schema_str = prev_meta.get("schemaString") if prev_meta else None
    if head >= 0 and set(cur) == prev and schema_str == prev_schema_str:
        return head  # nothing changed: no empty commit
    next_v = head + 1 if head >= 0 else 0
    for rel, info in cur.items():
        dst = os.path.join(out_dir, rel)
        if os.path.exists(dst):
            continue
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(info["src"], dst)
        except OSError:
            shutil.copy2(info["src"], dst)
    from urllib.parse import quote

    actions: list[dict] = []
    if next_v == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    if next_v == 0 or schema_str != prev_schema_str:
        # the protocol requires a fresh metaData action whenever the
        # schema changes (schema drift is a supported merge feature) —
        # spec-compliant readers resolve the schema from the NEWEST one
        actions.append(
            {
                "metaData": {
                    "id": hashlib.md5(out_dir.encode()).hexdigest(),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": list(
                        getattr(target, "partition_cols", []) or []
                    ),
                    # carry the table's configuration forward — a
                    # schema-drift metaData re-emit must not silently
                    # drop properties like delta.enableChangeDataFeed
                    "configuration": dict(
                        (prev_meta or {}).get("configuration") or {}
                    ),
                }
            }
        )
    for rel in sorted(prev - set(cur)):
        actions.append(
            {
                "remove": {
                    "path": quote(rel, safe="/="),
                    # retention-based VACUUM in real readers keys off this
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": True,
                }
            }
        )
    for rel in sorted(set(cur) - prev):
        actions.append(
            {
                "add": {
                    "path": quote(rel, safe="/="),
                    "partitionValues": cur[rel]["partitionValues"],
                    "size": cur[rel]["size"],
                    # spec-required field (PROTOCOL.md Add File)
                    "modificationTime": cur[rel]["modificationTime"],
                    "dataChange": True,
                }
            }
        )
    commit_actions(out_dir, next_v, actions)
    return next_v


def delta_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """Change data feed between two Delta versions, derived — one row
    per changed key with op + pre/post images (the same
    ``operators.diff.snapshot_diff`` shape the CoW target's ``changes``
    emits, so every IVM spec can maintain views off a Delta table this
    engine only READS). Plan: one full-outer join keyed on ``keys``
    over the two snapshots' pruned scans."""
    from arcane_framework_scala_spark.operators.diff import snapshot_diff

    return snapshot_diff(
        read_delta(spark, path, version=v_from),
        read_delta(spark, path, version=v_to),
        keys=keys,
    )


def export_checkpoint(spark: SparkSession, out_dir: str) -> int:
    """Collapse an exported table's log into a single-file checkpoint
    at the latest version, so replay cost stays O(commits since
    checkpoint) as the export history grows — the same reason Delta
    writers checkpoint every N commits. Earlier commit JSONs may then
    be cleaned by retention; :func:`active_files` discovers the
    checkpoint by name (a ``_last_checkpoint`` pointer is written too,
    for real readers that consult it first). Returns the checkpointed
    version.

    Protocol shape: the parquet carries the table's CURRENT ``protocol``
    (features included — a checkpoint that hardcoded 1/2 would silently
    downgrade a deletionVectors/columnMapping table on replay), the
    FULL ``metaData``, per live file ``add`` with the URL-ENCODED path
    (the same encoding the commit JSONs use — a raw filesystem path
    would be double-unquoted on replay), partitionValues, size,
    dataChange=false and — r10, lifting the purge-first fence — the
    file's ``deletionVector`` descriptor when one is live, plus the
    current ``remove`` tombstones (vacuum's retention input survives
    log cleaning)."""
    import shutil
    from urllib.parse import quote

    versions = commit_versions(out_dir)
    if not versions:
        raise ValueError(f"nothing to checkpoint under {out_dir!r}")
    head = versions[-1]
    st = _replay_state(out_dir, spark=spark)
    live, meta = st["live"], st["meta"]
    rels = sorted(live)
    if meta is None:
        raise ValueError(f"no metaData action found in {out_dir!r}")
    from pyspark.sql import Row

    def dv_row(desc: dict | None):
        if not desc:
            return None
        return Row(
            storageType=desc.get("storageType"),
            pathOrInlineDv=desc.get("pathOrInlineDv"),
            offset=desc.get("offset"),
            sizeInBytes=desc.get("sizeInBytes"),
            cardinality=desc.get("cardinality"),
        )

    def add_row(rel: str) -> Row:
        part_values = {}
        for seg in os.path.dirname(rel).split(os.sep):
            if "=" in seg:
                k, _, val = seg.partition("=")
                val = unquote(val)
                part_values[k] = (
                    None if val == "__HIVE_DEFAULT_PARTITION__" else val
                )
        fst = os.stat(os.path.join(out_dir, rel))
        return Row(
            add=Row(
                path=quote(rel, safe="/="),
                partitionValues=part_values,
                size=fst.st_size,
                modificationTime=fst.st_mtime_ns // 1_000_000,
                dataChange=False,
                deletionVector=dv_row(live[rel].get("deletionVector")),
            ),
            remove=None,
            metaData=None,
            protocol=None,
        )

    def remove_row(rel: str, a: dict) -> Row:
        # extendedFileMetadata block (r11, ADVICE r10 conformance):
        # real Delta writers stamp partitionValues + size on removes;
        # recover them from the remove action when it carried them,
        # else from the tombstoned file itself (hive path segments /
        # on-disk size while the not-yet-vacuumed file still exists)
        pv = a.get("partitionValues")
        if pv is None:
            pv = {}
            for seg in os.path.dirname(rel).split(os.sep):
                if "=" in seg:
                    k, _, val = seg.partition("=")
                    val = unquote(val)
                    pv[k] = (
                        None if val == "__HIVE_DEFAULT_PARTITION__" else val
                    )
        size = a.get("size")
        if size is None:
            try:
                size = os.stat(os.path.join(out_dir, rel)).st_size
            except OSError:
                size = None
        return Row(
            add=None,
            remove=Row(
                path=quote(rel, safe="/="),
                deletionTimestamp=a.get("deletionTimestamp"),
                dataChange=bool(a.get("dataChange", True)),
                extendedFileMetadata=True,
                partitionValues=pv,
                size=size,
                deletionVector=dv_row(a.get("deletionVector")),
            ),
            metaData=None,
            protocol=None,
        )

    meta_row = Row(
        add=None,
        remove=None,
        metaData=Row(
            id=meta.get("id", "exported"),
            format=Row(provider="parquet", options={}),
            schemaString=meta["schemaString"],
            partitionColumns=list(meta.get("partitionColumns") or []),
            configuration=dict(meta.get("configuration") or {}),
        ),
        protocol=None,
    )
    proto = st["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2}
    proto_row = Row(
        add=None,
        remove=None,
        metaData=None,
        protocol=Row(
            minReaderVersion=proto.get("minReaderVersion", 1),
            minWriterVersion=proto.get("minWriterVersion", 2),
            readerFeatures=proto.get("readerFeatures"),
            writerFeatures=proto.get("writerFeatures"),
        ),
    )
    dv_struct = (
        "struct<storageType:string, pathOrInlineDv:string, offset:int, "
        "sizeInBytes:int, cardinality:bigint>"
    )
    rows = (
        [proto_row, meta_row]
        + [add_row(rel) for rel in rels]
        + [
            remove_row(rel, a)
            for (rel, _), a in sorted(st["tombstones"].items())
        ]
    )
    ck = spark.createDataFrame(
        rows,
        "add struct<path:string, partitionValues:map<string,string>, "
        "size:bigint, modificationTime:bigint, dataChange:boolean, "
        f"deletionVector:{dv_struct}>, "
        "remove struct<path:string, deletionTimestamp:bigint, "
        "dataChange:boolean, extendedFileMetadata:boolean, "
        "partitionValues:map<string,string>, size:bigint, "
        f"deletionVector:{dv_struct}>, "
        "metaData struct<id:string, "
        "format:struct<provider:string, options:map<string,string>>, "
        "schemaString:string, partitionColumns:array<string>, "
        "configuration:map<string,string>>, "
        "protocol struct<minReaderVersion:int, minWriterVersion:int, "
        "readerFeatures:array<string>, writerFeatures:array<string>>",
    )
    tmp = os.path.join(out_dir, "_delta_log", "__ck_tmp")
    ck.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    os.replace(
        os.path.join(tmp, part),
        os.path.join(out_dir, "_delta_log", f"{head:020d}.checkpoint.parquet"),
    )
    shutil.rmtree(tmp)
    lc_tmp = os.path.join(out_dir, "_delta_log", ".last_checkpoint.tmp")
    with open(lc_tmp, "w") as f:
        json.dump({"version": head, "size": len(rows)}, f)
    os.replace(lc_tmp, os.path.join(out_dir, "_delta_log", "_last_checkpoint"))
    return head
