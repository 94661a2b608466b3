"""Executable table maintenance (X1-X4) for versioned-parquet targets.

The reference issues Trino ``ALTER TABLE … EXECUTE`` statements against
Iceberg (``models/maintenance/JdbcOptimizationRequest.scala:4-30`` and the
expire/vacuum/analyze siblings); on a catalog-attached cluster this engine
emits the equivalent Spark SQL (``queries/maintenance.py``). This module is
the catalog-free execution path: the same four operations carried out
directly on a :class:`SnapshotParquetTarget`'s ``<path>/v=N`` snapshot
layout, so the every-N-batches cadence (``MaintenanceSchedule``) can drive
*real* maintenance in tests and in parquet-dir deployments.

Scale notes: optimize's file-count decision is O(footers) driver metadata
work (same cost class as Iceberg's manifest scan) and the rewrite itself is
one Spark job with a narrow ``coalesce`` — no shuffle, bin-packing by byte
size like ``rewrite_data_files``. Expire/orphan removal are O(directory
listing) driver work, mirroring the reference's catalog calls.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil

from arcane_framework_scala_spark.sinks.merge_sink import SnapshotParquetTarget
from arcane_framework_scala_spark.sinks.table_stats import TableStats, table_stats

_SNAPSHOT_RE = re.compile(r"^v=(\d+)$")
_STATS_FILE = "_STATS"


def _snapshot_versions(target: SnapshotParquetTarget) -> list[int]:
    try:
        names = os.listdir(target.path)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        m = _SNAPSHOT_RE.match(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _current_dir(target: SnapshotParquetTarget) -> str:
    v = target.current_version()
    if v is None:
        raise ValueError(f"no committed snapshot under {target.path}")
    return os.path.join(target.path, f"v={v}")


def optimize_snapshot(
    target: SnapshotParquetTarget,
    target_file_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
) -> int:
    """X1 compaction: rewrite the current snapshot into
    ``ceil(total_bytes / target_file_bytes)`` files as a new snapshot
    version (readers on the old snapshot are unaffected; the pointer flips
    atomically). Returns the file count written. ``coalesce`` (narrow, no
    shuffle) is deliberate: compaction reads+rewrites every byte already,
    a ``repartition`` would add a full shuffle of the table on top.

    On a hive-partitioned target (``partition_cols``) the return value is
    the write TASK count; each task fans out one file per partition
    directory it holds rows for (Iceberg's ``rewrite_data_files`` bin-packs
    per partition for the same reason).

    ``sort_cols`` switches from bin-packing to Iceberg's SORT strategy
    (``rewrite_data_files(strategy => 'sort')``): the rewrite
    range-repartitions on the sort key and sorts within each file, so
    file-level min/max ranges are non-overlapping — point/range reads
    then prune to one file by parquet footer stats alone. Costs a full
    shuffle of the table (the strategy's price on Iceberg too); plain
    compaction stays shuffle-free ``coalesce``. Pass a z-order key column
    (``functions.layout.zorder_key``) to cluster on multiple dimensions."""
    stats = table_stats(_current_dir(target))
    n_files = max(1, math.ceil(stats.bytes / target_file_bytes))
    df = target.read()
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        df = df.coalesce(n_files)
    # the per-file row cap is a staging-write knob; compaction's whole point
    # is larger files, so bypass it for this commit. The commit is the
    # undistributed one: ``overwrite`` would add a shuffle by partition
    cap, target.max_rows_per_file = target.max_rows_per_file, None
    try:
        target._commit(df)
    finally:
        target.max_rows_per_file = cap
    return n_files


def expire_snapshots(
    target: SnapshotParquetTarget,
    keep_last: int = 1,
    retention_threshold_seconds: float | None = None,
    now_fn=None,
) -> list[int]:
    """X2 snapshot expiry: drop old snapshot directories (the current
    pointer is always retained). Returns the expired version numbers.

    Two policies, matching Iceberg's ``expire_snapshots`` knobs the
    reference drives (``JdbcSnapshotExpirationRequest.scala:9`` —
    ``retention_threshold => '<duration>'`` / ``retain_last``):

    - ``keep_last`` (count-based): keep the newest N — the deterministic
      policy for tests;
    - ``retention_threshold_seconds`` (age-based): ADDITIONALLY protect
      every snapshot committed within the window, judged by the version
      directory's mtime — set atomically by the commit rename, so it IS
      the commit time. A snapshot is expired only when BOTH policies
      agree it is disposable. ``now_fn`` is injectable for tests.

    Data files shared with newer snapshots via the pruned-commit hard
    links survive the ``rmtree`` — the link count is the refcount."""
    keep_last = max(1, keep_last)
    current = target.current_version()
    # only versions at or below the committed pointer are history; a
    # v>current directory is a crashed partial commit (orphan-removal
    # territory) and must not consume a keep slot
    versions = [v for v in _snapshot_versions(target) if current is not None and v <= current]
    doomed = [v for v in versions[:-keep_last] if v != current]
    if retention_threshold_seconds is not None:
        import time as _time

        cutoff = (now_fn or _time.time)() - retention_threshold_seconds
        doomed = [
            v
            for v in doomed
            if os.path.getmtime(os.path.join(target.path, f"v={v}")) < cutoff
        ]
    for v in doomed:
        shutil.rmtree(os.path.join(target.path, f"v={v}"), ignore_errors=True)
    return doomed


def remove_orphan_files(
    target: SnapshotParquetTarget,
    retention_threshold_seconds: float = 0.0,
    now_fn=None,
) -> list[str]:
    """X3 orphan removal: delete top-level entries that are neither a live
    snapshot directory nor table metadata (``_CURRENT`` pointer, stats
    sidecar) — crashed-commit leftovers like ``_CURRENT.tmp``, abandoned
    ``v=N.tmp-*`` staging dirs, or stray files. A ``v=N`` directory with
    N above the committed pointer is a crashed partial commit (written
    but never flipped live) and is removed too. Never descends into live
    snapshots. Returns removed names.

    ``retention_threshold_seconds`` is Iceberg's safety window, the very
    knob the reference passes (``JdbcOrphanFilesExpirationRequest.
    scala:9`` — ``remove_orphan_files(retention_threshold => …)``): an
    entry younger than the window is spared because it may be a
    CONCURRENT writer's in-flight staging dir, not a leftover — deleting
    it mid-write would fail that writer's commit for no reason. The
    default 0 keeps the historical eager behavior for tests; production
    cadence should pass hours."""
    import time as _time

    cutoff = (now_fn or _time.time)() - retention_threshold_seconds
    current = target.current_version()
    live = {
        f"v={v}"
        for v in _snapshot_versions(target)
        if current is not None and v <= current
    }
    # metadata sidecars are never orphans: the pointer, the X4 stats
    # file, and the T2 watermark (SnapshotParquetTarget.watermark_store)
    live.update(
        {os.path.basename(target._pointer()), _STATS_FILE, "_WATERMARK.json"}
    )
    removed = []
    try:
        names = os.listdir(target.path)
    except FileNotFoundError:  # not-yet-bootstrapped target
        return []
    for name in names:
        if name in live:
            continue
        full = os.path.join(target.path, name)
        if (
            retention_threshold_seconds > 0
            and os.path.getmtime(full) >= cutoff
        ):
            continue  # possibly a concurrent writer's in-flight staging
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            os.remove(full)
        removed.append(name)
    return sorted(removed)


def should_compact(
    target: SnapshotParquetTarget,
    target_file_bytes: int = 128 << 20,
    max_small_ratio: float = 0.5,
) -> bool:
    """Stats-driven compaction trigger: True when more than
    ``max_small_ratio`` of the current snapshot's files are under half
    the target size — Iceberg's small-file pressure signal, decided
    from ONE footer sweep (metadata cost) so a maintenance cadence can
    ask cheaply every batch instead of compacting blindly every N
    (``MaintenanceSchedule``'s count cadence remains the simple
    default; this is the data-aware upgrade). A single-file snapshot
    never needs compaction regardless of size."""
    vdir = _current_dir(target)
    import pyarrow.parquet as pq  # noqa: F401 — table_stats pulls it anyway

    from arcane_framework_scala_spark.sinks.table_stats import _parquet_files

    files = _parquet_files(vdir)
    if len(files) <= 1:
        return False
    small = sum(
        1 for f in files if os.path.getsize(f) < target_file_bytes // 2
    )
    return small / len(files) > max_small_ratio


def analyze_snapshot(target: SnapshotParquetTarget) -> TableStats:
    """X4 statistics: record/byte/file counts and per-column compressed
    sizes for the current snapshot (A3/A4 from parquet footers), persisted
    to a ``_STATS`` sidecar the way the reference's ANALYZE persists to the
    metastore."""
    stats = table_stats(_current_dir(target))
    payload = {
        "version": target.current_version(),
        "records": stats.records,
        "bytes": stats.bytes,
        "files": stats.files,
        "column_bytes": stats.column_bytes,
    }
    tmp = os.path.join(target.path, _STATS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, os.path.join(target.path, _STATS_FILE))
    return stats


def read_stats(target: SnapshotParquetTarget) -> dict | None:
    """Read back the persisted X4 sidecar (None if ANALYZE never ran)."""
    try:
        with open(os.path.join(target.path, _STATS_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def run_maintenance(
    target: SnapshotParquetTarget,
    op: str,
    *,
    target_file_bytes: int = 128 << 20,
    keep_last: int = 1,
    retention_threshold_seconds: float | None = None,
):
    """Dispatch a :class:`MaintenanceSchedule` operation name (the strings
    ``MaintenanceSchedule.due`` yields) to its executor — the
    ``maintenance_fn`` to hand a :class:`StreamRunner` for parquet-dir
    deployments. ``retention_threshold_seconds`` maps the reference's
    ``retention_threshold`` duration onto both expiry ops."""
    if op == "optimize":
        return optimize_snapshot(target, target_file_bytes)
    if op == "expire_snapshots":
        return expire_snapshots(
            target, keep_last,
            retention_threshold_seconds=retention_threshold_seconds,
        )
    if op == "remove_orphan_files":
        return remove_orphan_files(
            target, retention_threshold_seconds or 0.0
        )
    if op == "analyze":
        return analyze_snapshot(target)
    raise ValueError(f"unknown maintenance op: {op}")
