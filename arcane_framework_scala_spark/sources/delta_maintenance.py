"""Delta table maintenance, jar-free: deletion-vector PURGE (the
REORG TABLE ... APPLY (PURGE) action) and retention-based VACUUM —
the Delta twins of ``iceberg_maintenance`` (expiry/orphans) and
``iceberg_mor.rewrite_data_files`` (MoR compaction).

Purge rewrites DV'd files clean (the REORG action's semantics): since
r10 checkpoints carry live DV descriptors directly, purge is about
reclaiming the deleted rows' storage and simplifying reads — not a
checkpoint prerequisite anymore. Vacuum follows the real semantics:
only files unreferenced by the CURRENT version whose remove tombstone
is older than the retention window are deleted — time travel to
versions older than the window is sacrificed, exactly as documented
for the real VACUUM.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession

from arcane_framework_scala_spark.sources import delta_dv as dvm
from arcane_framework_scala_spark.sources import delta_reader as dr


def purge_deletion_vectors(
    spark: SparkSession, table_path: str
) -> int | None:
    """Rewrite every DV'd file WITHOUT its deleted rows and commit
    remove+add (clean) actions — untouched files never move; after the
    commit the table carries zero live DVs. Column-mapped tables (r10)
    rewrite under PHYSICAL column names WITH parquet field ids stamped
    (Spark writes ``PARQUET:field_id`` from the ``parquet.field.id``
    column metadata), so the new files are byte-compatible with the
    original writer's layout in BOTH name and id modes — id-mode
    resolution reads them back by footer id like any Databricks file.
    Returns the new version, or None when no live DV exists."""
    import pyspark.sql.functions as F

    live, meta = dr._replay_full(table_path, None, spark)
    dv_rels = {
        rel: a for rel, a in live.items() if a.get("deletionVector")
    }
    if not dv_rels:
        return None
    mode = dr._mapping_mode(meta)
    schema = dr._schema_from_meta(meta, table_path)
    part_cols = (meta or {}).get("partitionColumns") or []
    part_set = set(part_cols)

    def _phys_cols_with_ids():
        """Non-partition output columns: physicalName aliases carrying
        parquet.field.id metadata (field ids stamp into the footers)."""
        fields = json.loads(meta["schemaString"])["fields"]
        cols = []
        for f in fields:
            if f["name"] in part_set:
                continue
            md = f.get("metadata") or {}
            fid = md.get("delta.columnMapping.id")
            phys = dr._phys_name(f)
            cols.append(
                F.col(phys).alias(
                    phys,
                    metadata=(
                        {"parquet.field.id": int(fid)}
                        if fid is not None
                        else {}
                    ),
                )
            )
        return cols

    if mode == "id":
        # per-file resolution groups (footer ids / physicalName
        # fallback), rewritten columns NORMALIZED to physicalName + id
        fields = dr._id_mapping_fields(meta)
        id_groups: dict[str, list] = {}
        for pairs, grels in dr._id_scan_groups(
            meta, table_path, sorted(dv_rels)
        ):
            for r in grels:
                id_groups[r] = pairs
        out_cols = [
            F.col(f["name"]).alias(
                f["physical"], metadata={"parquet.field.id": f["id"]}
            )
            for f in fields
            if f["name"] not in part_set
        ]

        def kept_frame(rel, a):
            plan = dr._pairs_plan(schema, id_groups[rel])
            return dr._scan_with_lineage(
                spark, table_path, {rel: a}, schema, plan
            ).select(*out_cols)

    elif mode == "name":
        name_plan = dr._mapping_plan(meta)
        phys_schema = name_plan[0]
        scan_plan = (
            phys_schema,
            [F.col(f.name) for f in phys_schema.fields],
        )
        out_cols = _phys_cols_with_ids()

        def kept_frame(rel, a):
            return dr._scan_with_lineage(
                spark, table_path, {rel: a}, schema, scan_plan
            ).select(*out_cols)

    else:

        def kept_frame(rel, a):
            frame = dr._scan_with_lineage(
                spark, table_path, {rel: a}, schema
            ).select(*[F.col(f.name) for f in schema.fields])
            return frame.drop(*part_cols) if part_cols else frame

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    for rel, a in sorted(dv_rels.items()):
        kept = kept_frame(rel, a)
        stage = os.path.join(table_path, f".stage-purge-{now_ms}")
        shutil.rmtree(stage, ignore_errors=True)
        kept.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            (n for n in os.listdir(stage) if n.endswith(".parquet")), None
        )
        import hashlib

        tag = hashlib.md5(rel.encode()).hexdigest()[:8]
        rel_dir = os.path.dirname(rel)
        new_rel = (
            os.path.join(rel_dir, f"purge-{tag}-{now_ms}.parquet")
            if rel_dir
            else f"purge-{tag}-{now_ms}.parquet"
        )
        dst = os.path.join(table_path, new_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(os.path.join(stage, part), dst)
        shutil.rmtree(stage, ignore_errors=True)
        actions.append(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                    "deletionVector": a["deletionVector"],
                }
            }
        )
        from urllib.parse import quote

        actions.append(
            {
                "add": {
                    "path": quote(new_rel, safe="/="),
                    "partitionValues": a.get("partitionValues") or {},
                    "size": os.path.getsize(dst),
                    "modificationTime": now_ms,
                    "dataChange": True,
                }
            }
        )
    versions = dr.commit_versions(table_path)
    ckpt = dr._latest_checkpoint(table_path, None)
    head = max(
        versions[-1] if versions else -1, ckpt if ckpt is not None else -1
    )
    next_v = head + 1
    dr.commit_actions(table_path, next_v, actions)
    return next_v


def vacuum(
    spark: SparkSession, table_path: str, older_than_s: float = 7 * 86400
) -> list[str]:
    """Delete data and DV files unreferenced by the CURRENT version and
    whose remove tombstone's ``deletionTimestamp`` is older than the
    retention window — the real VACUUM's rule: a file is retained for
    the window AFTER its removal from the log, never judged by its own
    mtime (a years-old file removed a second ago must survive, or time
    travel inside the window and any concurrent reader of the
    just-replaced version breaks). A file with no tombstone at all
    (orphaned stage debris) falls back to its mtime. ``_delta_log`` is
    never touched; time travel to versions whose files fall outside the
    window stops working — the documented trade. Returns the removed
    paths."""
    st = dr._replay_state(table_path, None, spark)
    live = st["live"]
    keep: set[str] = set()
    for rel, a in live.items():
        keep.add(os.path.normpath(os.path.join(table_path, rel)))
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") != "i":
            keep.add(
                os.path.normpath(dvm.resolve_dv_path(table_path, desc))
            )
    # tombstone deletionTimestamp (ms) keyed by resolved path — a
    # remove that carried its DV descriptor covers the DV file too
    removed_at_ms: dict[str, int] = {}
    for (rel, _), a in st["tombstones"].items():
        ts = a.get("deletionTimestamp")
        if ts is None:
            continue
        p = os.path.normpath(os.path.join(table_path, rel))
        removed_at_ms[p] = max(removed_at_ms.get(p, 0), int(ts))
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") not in (None, "i"):
            dvp = os.path.normpath(dvm.resolve_dv_path(table_path, desc))
            removed_at_ms[dvp] = max(removed_at_ms.get(dvp, 0), int(ts))
    # cdc files (_change_data, CDF): bound to their COMMIT's timestamp,
    # never their own mtime — a recent commit's feed must survive an old
    # file mtime (restored/copied files), and an old commit's feed dies
    # with the retention window even if the file was touched since.
    # ``delta_cdf`` raises ChangeDataFeedError for ranges whose cdc
    # files are gone — the real VACUUM's documented trade. Commits the
    # log no longer holds (cleaned past a checkpoint) leave their cdc
    # debris to the mtime fallback below.
    log_dir = os.path.join(table_path, "_delta_log")
    for name in os.listdir(log_dir):
        if not dr._COMMIT_RE.match(name):
            continue
        commit_ts = None
        cdc_rels: list[str] = []
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    commit_ts = a["commitInfo"].get("timestamp", commit_ts)
                elif "cdc" in a:
                    cdc_rels.append(dr.unquote(a["cdc"]["path"]))
        if not cdc_rels:
            continue
        if commit_ts is None:
            commit_ts = int(
                os.stat(os.path.join(log_dir, name)).st_mtime * 1000
            )
        for rel in cdc_rels:
            p = os.path.normpath(os.path.join(table_path, rel))
            removed_at_ms[p] = max(removed_at_ms.get(p, 0), int(commit_ts))
    cutoff = time.time() - older_than_s
    removed: list[str] = []
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [
            d for d in dirs if d != "_delta_log" and not d.startswith(".")
        ]
        for name in files:
            if not (
                name.endswith(".parquet")
                or name.startswith("deletion_vector_")
            ):
                continue
            p = os.path.normpath(os.path.join(root, name))
            if p in keep:
                continue
            try:
                ts = removed_at_ms.get(p)
                age_ok = (
                    ts / 1000.0 <= cutoff
                    if ts is not None
                    else os.stat(p).st_mtime <= cutoff
                )
                if not age_ok:
                    continue
                os.remove(p)
                removed.append(p)
            except FileNotFoundError:
                pass
    return sorted(removed)


def restore_table(
    spark: SparkSession, table_path: str, version: int
) -> int | None:
    """RESTORE TABLE ... TO VERSION AS OF — a NEW commit that re-adds
    the target version's files (their DV descriptors as of that
    version) and removes files only the current head holds, exactly
    the real RestoreTableCommand's diff-of-snapshots plan; history is
    never rewritten, so time travel to the pre-restore head still
    works and a CDF feed derives insert/delete rows from the commit's
    dataChange actions. Metadata (schema, partitioning, table
    configuration) is restored alongside the data when it changed,
    matching the reference connector's engine-side RESTORE (the
    reference maintains tables through its JDBC merge client —
    src/main/scala/services/merging/JdbcMergeServiceClient.scala —
    where RESTORE is the engine's own). Raises when a file the target
    version needs has been vacuumed. Returns the new version, or None
    when the table already matches the target."""
    st_h = dr._replay_state(table_path, None, spark)
    head = max(dr.commit_versions(table_path))
    if version >= head:
        raise ValueError(
            f"RESTORE target {version} is not older than head {head}"
        )
    st_t = dr._replay_state(table_path, version, spark)
    live_t, live_h = st_t["live"], st_h["live"]

    missing = []
    for rel, a in live_t.items():
        if not os.path.exists(os.path.join(table_path, rel)):
            missing.append(rel)
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") != "i":
            dvp = dvm.resolve_dv_path(table_path, desc)
            if not os.path.exists(dvp):
                missing.append(os.path.relpath(dvp, table_path))
    if missing:
        raise ValueError(
            f"cannot RESTORE {table_path!r} to version {version}: "
            f"{len(missing)} file(s) it references have been vacuumed "
            f"(first: {missing[0]!r})"
        )

    actions: list[dict] = []
    if (st_t["meta"] or {}) != (st_h["meta"] or {}):
        actions.append({"metaData": st_t["meta"]})
    now_ms = int(time.time() * 1000)
    for rel in sorted(live_t):
        a = live_t[rel]
        h = live_h.get(rel)
        if h is None or h.get("deletionVector") != a.get(
            "deletionVector"
        ):
            add = dict(a)
            add["dataChange"] = True
            if h is not None:
                # same path, different DV state: pair remove→add so
                # replay (and the derived CDF diff) sees a rewrite
                rm = {
                    "path": h["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                    "extendedFileMetadata": True,
                    "partitionValues": h.get("partitionValues") or {},
                    "size": h.get("size"),
                }
                if h.get("deletionVector"):
                    rm["deletionVector"] = h["deletionVector"]
                actions.append({"remove": rm})
            actions.append({"add": add})
    for rel in sorted(live_h):
        if rel in live_t:
            continue
        h = live_h[rel]
        rm = {
            "path": h["path"],
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "extendedFileMetadata": True,
            "partitionValues": h.get("partitionValues") or {},
            "size": h.get("size"),
        }
        if h.get("deletionVector"):
            rm["deletionVector"] = h["deletionVector"]
        actions.append({"remove": rm})
    if not actions:
        return None
    dr.commit_actions(table_path, head + 1, actions)
    return head + 1


def cleanup_expired_logs(
    table_path: str, older_than_s: float = 30 * 86400
) -> list[str]:
    """Delta's METADATA retention (``delta.logRetentionDuration``, the
    log-cleanup pass real writers run after checkpointing): delete
    commit JSONs and superseded checkpoint files STRICTLY BELOW the
    newest usable checkpoint once they age past the window. Replay of
    the current table starts from the checkpoint, so reads and new
    commits are unaffected; time travel and change feeds into the
    cleaned range stop working — replay raises its truncated-log
    error, ``delta_cdf`` its cleaned-actions error — the documented
    trade, same shape as VACUUM's. A commit's age is its
    ``commitInfo.timestamp`` when present, else the JSON's mtime;
    checkpoint files age by mtime. ``_last_checkpoint``, v2-checkpoint
    sidecars, and everything at or above the checkpoint version are
    never touched. Without any checkpoint the log is the only source
    of truth and nothing is cleaned. Returns the removed paths."""
    log = dr._log_dir(table_path)
    ckpt = dr._latest_checkpoint(table_path, None)
    if ckpt is None:
        return []
    cutoff_ms = (time.time() - older_than_s) * 1000
    removed: list[str] = []
    for name in sorted(os.listdir(log)):
        full = os.path.join(log, name)
        cm = dr._COMMIT_RE.match(name)
        if cm:
            if int(cm.group(1)) >= ckpt:
                continue
            age_ms = None
            with open(full) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    if "commitInfo" in a and a["commitInfo"].get(
                        "timestamp"
                    ):
                        age_ms = a["commitInfo"]["timestamp"]
                        break
            if age_ms is None:
                age_ms = os.stat(full).st_mtime * 1000
            if age_ms > cutoff_ms:
                continue
            os.remove(full)
            removed.append(full)
            continue
        km = (
            dr._CHECKPOINT_RE.match(name)
            or dr._CHECKPOINT_V2_RE.match(name)
            or dr._CHECKPOINT_PART_RE.match(name)
        )
        if km and int(km.group(1)) < ckpt:
            if os.stat(full).st_mtime * 1000 <= cutoff_ms:
                os.remove(full)
                removed.append(full)
    return sorted(removed)


def version_at_timestamp(table_path: str, ts_ms: int) -> int:
    """The version a ``TIMESTAMP AS OF`` resolves to: the LATEST commit
    whose timestamp is <= ``ts_ms`` (commitInfo.timestamp when the
    writer recorded one, else the commit JSON's mtime), with
    non-decreasing adjustment across versions — the same
    monotonization real Delta applies so a clock-skewed commit can
    never make a later version look earlier. Raises when ``ts_ms``
    predates the first commit."""
    log = dr._log_dir(table_path)
    pairs: list[tuple[int, int]] = []
    for name in sorted(os.listdir(log)):
        m = dr._COMMIT_RE.match(name)
        if not m:
            continue
        full = os.path.join(log, name)
        t = None
        with open(full) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                    t = int(a["commitInfo"]["timestamp"])
                    break
        if t is None:
            t = int(os.stat(full).st_mtime * 1000)
        pairs.append((int(m.group(1)), t))
    if not pairs:
        raise ValueError(f"no commit JSONs under {table_path!r} to resolve")
    best = None
    mono = 0
    for v, t in pairs:
        mono = max(mono, t)
        if mono <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} predates the table's first commit "
            f"({pairs[0][1]})"
        )
    return best


def restore_table_to_timestamp(
    spark: SparkSession, table_path: str, ts_ms: int
) -> int | None:
    """RESTORE TABLE ... TO TIMESTAMP AS OF — resolve the timestamp to
    a version with the monotonized commit-time rule and delegate to
    :func:`restore_table`."""
    return restore_table(
        spark, table_path, version_at_timestamp(table_path, ts_ms)
    )
