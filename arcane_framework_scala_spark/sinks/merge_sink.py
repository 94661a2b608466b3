"""Merge sinks (K2/K3 + T8 schema migration).

Two target kinds behind one interface:

- ``CatalogTarget``: a catalog table (Iceberg/Delta). The generated MERGE
  SQL from :mod:`queries.merge` executes via ``spark.sql`` — storage-side
  file pruning, snapshots and ``TBLPROPERTIES`` watermarks come free. This
  is the production path at 100 TB.
- ``SnapshotParquetTarget``: the copy-on-write lakehouse table on a plain
  parquet directory managed as versioned snapshots (``v=N`` subdirs + a
  ``_CURRENT`` pointer committed by atomic rename) — partition- or
  file-group-pruned rewrites carried by hard link, X1–X4 maintenance,
  time travel and a derived change feed, all on the files each merge
  commits. Merge semantics execute through :func:`operators.merge_apply`.
  This makes the full pipeline runnable and testable on any filesystem
  with zero catalog dependencies — the local stand-in for Iceberg.

``MergeSink`` applies the reference's merge-retry policy to both
(exponential backoff with an error-message allowlist, ``services/merging/
JdbcMergeServiceClient.scala:38-58``), and each target handles per-batch
schema drift (T8: missing columns are added to the target before the
merge — ``SchemaMigrationProcessor.scala:24-50``).
"""

from __future__ import annotations

import os
import posixpath
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from arcane_framework_scala_spark.operators.merge_apply import _collapse_ties, merge_apply
from arcane_framework_scala_spark.sources.paths import glob_escape
from arcane_framework_scala_spark.queries.merge import MergeDialect, build_merge_query
from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN
from arcane_framework_scala_spark.schema.sql_types import quote_ident as q


@dataclass(frozen=True)
class RetryPolicy:
    """Exponential backoff; retry only on transient-looking errors."""

    max_attempts: int = 4
    initial_delay_seconds: float = 1.0
    scale_factor: float = 2.0
    retryable_fragments: tuple[str, ...] = (
        "IOException",
        "connection",
        "timeout acquiring",
        "CommitFailedException",
        "CommitConflictError",  # the in-repo snapshot-pointer analogue
    )

    def is_retryable(self, error: BaseException) -> bool:
        msg = f"{type(error).__name__}: {error}"
        return any(f.lower() in msg.lower() for f in self.retryable_fragments)


def with_retry(policy: RetryPolicy, fn):
    delay = policy.initial_delay_seconds
    for attempt in range(policy.max_attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — policy decides
            if attempt == policy.max_attempts - 1 or not policy.is_retryable(e):
                raise
            time.sleep(delay)
            delay *= policy.scale_factor


class CommitConflictError(RuntimeError):
    """A concurrent writer committed between this writer's snapshot write
    and pointer flip — the filesystem analogue of Iceberg's
    ``CommitFailedException``. Retryable by policy: the retried merge
    re-reads the winner's snapshot, so no batch is lost."""


#: K1 parity: the reference chunks staged parquet at 10 000 rows per file
#: (``IcebergS3CatalogWriter.scala:34``). Spark-native file sizing
#: (``write.target-file-size-bytes`` / split planning) is the better default
#: at scale — tiny files are a 100 TB anti-pattern — so the knob is opt-in.
REFERENCE_MAX_ROWS_PER_FILE = 10_000


def _drift_fields(
    source: DataFrame, target_columns: list[str], dialect: MergeDialect
) -> list[StructField]:
    """T8 schema drift: the batch's data fields the target lacks. Names
    match without regard to case, as Spark resolves columns: a batch
    column ``REGION`` is the target's ``region``, not a new one."""
    have = {c.lower() for c in target_columns}
    have |= {c.lower() for c in dialect.non_data_columns}
    return [f for f in source.schema.fields if f.name.lower() not in have]


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable, as a parquet
    read reports it (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _bootstrap_frame(source: DataFrame, dialect: MergeDialect) -> DataFrame:
    """The first batch as the table it creates: one row per key under the
    tie policy ``merge_apply`` uses, the insert condition applied to the
    batch's own columns, and the marker columns (``SYS_CHANGE_OPERATION``,
    ``IsDelete``, ...) dropped — later batches merge onto the schema this
    one created."""
    boot = _collapse_ties(source, dialect, MERGE_KEY_COLUMN, version_first=True)
    if dialect.insert_condition:
        boot = boot.filter(dialect.insert_condition.replace("t_s.", ""))
    return boot.drop(*[c for c in dialect.non_data_columns if c in boot.columns])


class SnapshotParquetTarget:
    """Copy-on-write lakehouse table: merges, durable snapshot commits
    and maintenance, all on ONE versioned-parquet table — ``<path>/v=N``
    snapshot dirs + a ``_CURRENT`` pointer (atomic rename commit), so
    readers always see a complete snapshot.

    Iceberg's copy-on-write MERGE performs exactly this sequence per
    commit (``JdbcMergeServiceClient.scala:62-91`` drives it through
    Trino): (1) read the current snapshot's files, (2) rewrite them with
    the batch applied, (3) commit the rewritten files as a new snapshot.
    Here step 2 is :func:`operators.merge_apply` — the M1-M3 dialect
    semantics of the generated MERGE SQL, checked row for row against
    that SQL (``tests/test_mem_catalog_merge.py``) — and steps 1/3 run on
    the snapshot layout the X1–X4 maintenance family
    (:mod:`sinks.maintenance`) manages: compaction, snapshot expiry,
    orphan removal, ANALYZE and time travel all operate on the same
    files every merge commits. No table data is held between merges:
    each one reads ``_CURRENT``, so a crash before the snapshot commit
    loses nothing — the retried batch replays onto the last durable
    snapshot (T9 version guards make the replay idempotent).

    Each merge takes one of these paths:

    - no committed snapshot: the batch bootstraps the table;
    - T8 schema drift (the batch carries columns the table lacks): the
      whole table is rewritten with the new columns added as nulls —
      carried-over files cannot gain columns;
    - ``partition_cols`` (hive partitioning, the 100 TB requirement and
      Iceberg's partition spec equivalent): the rewrite group is PRUNED
      to the touched partitions, exactly as Iceberg CoW prunes the
      rewrite to files whose key ranges intersect the source (the same
      partition-scoped merge the reference's ``ON … IN (…)`` lists buy —
      ``models/queries/MergeQuerySegment.scala:54-71``). The merge reads
      only the partitions the batch writes into or holds a matched merge
      key in, rewrites just that group, and the commit carries every
      untouched partition directory over by hard link (byte-identical,
      zero data movement, :meth:`_commit_pruned`). A batch that lacks a
      partition column rewrites the whole table;
    - ``file_group_pruning=True`` (unpartitioned tables): the rewrite
      group is the set of FILES containing a matched merge key —
      Iceberg's real granularity — found by a planning scan that
      semi-joins the broadcast batch keys, grouped by
      ``input_file_name``; every unmatched file is carried by hard link
      and inserts land in the rewritten output. How much it prunes is
      the layout's property, exactly as on Iceberg: after
      ``optimize_snapshot(sort_cols=[...])`` a key-clustered batch
      touches few files; a uniformly-hashing merge key touches most. It
      stays opt-in because the probe is an extra scan job per merge that
      pays off only on a multi-file layout;
    - otherwise: the whole table is rewritten.

    Every merge result and every ``overwrite`` input is distributed by
    the partition columns before the write, so each touched partition
    gets one file per commit (Iceberg's ``write.distribution-mode=hash``).
    Partition values must be type-inference-stable (strings that don't
    look numeric, or genuine numerics) — the same contract hive layouts
    always had; reads with a partition predicate prune to the matching
    directories (PartitionFilters in the scan, pinned by test_plan_audit).

    ``max_rows_per_file`` maps the reference's ``maxRowsPerFile`` staging
    knob onto Spark's ``maxRecordsPerFile`` write option (file writes are
    parallel per partition either way, matching the reference's
    ``ZIO.collectAllPar`` file fan-out).

    Remembered schema: after a commit succeeds the target keeps the read
    schema of the version it just committed — the written frame's data
    fields, then the partition fields with the types a reader infers
    from the directory names (a driver-side listing, no Spark job), all
    nullable: exactly what ``spark.read.parquet(v=N).schema`` reports.
    ``read()``, the merge base and the pruned group reads of that
    version pass it to ``spark.read.schema(...)``, so opening the
    snapshot the last commit wrote runs no footer-inference job. Any
    other version (older ones, one another writer committed, or every
    version after a restart) infers as before, and so does a pruned
    commit whose rewritten files do not carry the carried files' data
    types."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        max_rows_per_file: int | None = None,
        partition_cols: list[str] | None = None,
        file_group_pruning: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.max_rows_per_file = max_rows_per_file
        self.partition_cols = list(partition_cols or [])
        self.file_group_pruning = file_group_pruning
        #: (version, read schema) of the last snapshot this target
        #: committed; see the class docstring
        self._schema: tuple[int, StructType] | None = None

    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        return self._open(v)

    def _open(self, v: int) -> DataFrame:
        """Read snapshot ``v``: with the remembered schema when this
        target committed it, by footer inference otherwise."""
        reader = self.spark.read
        if self._schema is not None and self._schema[0] == v:
            reader = reader.schema(self._schema[1])
        return reader.parquet(glob_escape(os.path.join(self.path, f"v={v}")))

    def versions(self) -> list[int]:
        """Committed snapshot versions, oldest first — the readable
        history (snapshots past ``_CURRENT`` are uncommitted leftovers;
        expired ones are gone). Iceberg's ``snapshots`` metadata table
        equivalent for the sandbox layout."""
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v="):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v <= cur:
                    out.append(v)
        return sorted(out)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read a specific committed snapshot (Iceberg
        ``VERSION AS OF`` / Delta ``versionAsOf``). Raises if the
        snapshot was never committed or has been expired."""
        if version not in self.versions():
            raise ValueError(
                f"snapshot v={version} not available under {self.path} "
                f"(have {self.versions()})"
            )
        return self._open(version)

    def version_as_of(self, timestamp: float) -> int:
        """Iceberg ``TIMESTAMP AS OF`` resolution: the newest snapshot
        committed at or before ``timestamp`` (unix seconds). Commit time
        is the version directory's mtime, stamped by ``_finalize``
        immediately after the claim rename succeeds (the rename itself
        preserves the staging dir's older mtime). Raises if every
        retained snapshot is newer (the history before the first
        commit, or expired away)."""
        best = None
        for v in self.versions():
            if os.path.getmtime(os.path.join(self.path, f"v={v}")) <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot at or before timestamp {timestamp} under "
                f"{self.path} (have {self.versions()})"
            )
        return best

    def read_as_of(self, timestamp: float) -> DataFrame:
        """Time travel by wall clock (Iceberg ``TIMESTAMP AS OF`` / Delta
        ``timestampAsOf``): the table exactly as a reader at that moment
        saw it."""
        return self.read_version(self.version_as_of(timestamp))

    def read_range(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Manifest-planned range read (point lookup with ``lo == hi``):
        when the snapshot carries a ``_MANIFEST.json`` sidecar
        (``sinks.manifest.build_manifest`` — run it after a sort-strategy
        compaction), Spark opens ONLY the files whose [min, max] for
        ``col`` overlaps [lo, hi]; a residual filter keeps the result
        exact. Without a manifest this is the plain filtered scan —
        correct either way, file-pruned on a sorted layout (Iceberg's
        manifest range pruning on the sandbox layout)."""
        from arcane_framework_scala_spark.sinks.manifest import read_range

        return read_range(self, col, lo, hi, version)

    def history(self) -> list[tuple[int, float]]:
        """Commit history, oldest first: ``(version, commit_unix_ts)``
        per retained snapshot (Delta ``DESCRIBE HISTORY`` / the Iceberg
        ``snapshots`` table's committed_at) — commit time is the claim
        rename's mtime, the same clock ``version_as_of`` resolves
        against."""
        return [
            (v, os.path.getmtime(os.path.join(self.path, f"v={v}")))
            for v in self.versions()
        ]

    def _commit(self, df: DataFrame, expected_base: int | None = None) -> None:
        """Optimistic commit (Iceberg ``CommitFailedException`` semantics).

        Each attempt writes its snapshot to a writer-unique STAGING dir
        (``v=N.tmp-<token>``) and then claims the version number with one
        atomic ``os.rename`` onto ``v=N`` — a rename onto an existing
        non-empty directory fails, so the filesystem itself arbitrates:
        exactly one concurrent writer owns ``v=N``, and a loser can never
        clobber data files the winner already committed. The loser's
        staging dir is removed best-effort (leftovers are
        ``remove_orphan_files`` territory), and ``CommitConflictError`` is
        retryable — the retried merge re-reads the winner's snapshot, so
        both batches land.

        ``expected_base`` is the version the CALLER's read was based on
        (captured by :meth:`merge` before reading the target). A commit
        that landed between that read and this call moves the pointer off
        ``expected_base`` and is detected here — without it, the merge
        result would silently drop the intervening batch (lost update).
        """
        if expected_base is None:
            expected_base = self.current_version() or 0
        staging = self._write_staging(df, expected_base + 1)
        self._finalize(staging, expected_base, self._data_schema(df.schema))

    def _write_staging(self, df: DataFrame, v: int) -> str:
        """Write ``df`` as the candidate ``v`` snapshot into a
        writer-unique staging dir; returns the staging path."""
        staging = os.path.join(self.path, f"v={v}.tmp-{uuid.uuid4().hex[:12]}")
        writer = df.write.mode("overwrite")
        if self.max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", self.max_rows_per_file)
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(staging)
        return staging

    def _data_schema(self, schema: StructType) -> StructType:
        """The data fields a snapshot written from ``schema`` holds in its
        files (partition columns live in the directory names), as a
        parquet read reports them: nullable."""
        parts = {c.lower() for c in self.partition_cols}
        return _nullable(
            StructType([f for f in schema.fields if f.name.lower() not in parts])
        )

    def _finalize(
        self, staging: str, expected_base: int, data: StructType | None
    ) -> None:
        """Claim ``v=expected_base+1`` with one atomic rename of the
        staging dir, then flip the pointer, and remember the committed
        version's read schema (``data`` = its files' data fields; None
        when they are not known, and the version will infer)."""
        v = expected_base + 1
        out = os.path.join(self.path, f"v={v}")
        if (self.current_version() or 0) != expected_base:
            shutil.rmtree(staging, ignore_errors=True)
            raise CommitConflictError(
                f"concurrent commit to {self.path}: merge read the target "
                f"at v={expected_base}, pointer now at "
                f"v={self.current_version()}"
            )
        try:
            os.rename(staging, out)
        except OSError:
            # v=N already exists: a concurrent writer claimed this version
            # first (or a crashed run left it behind — X3 removes v-dirs
            # above the pointer, after which the replay succeeds).
            shutil.rmtree(staging, ignore_errors=True)
            raise CommitConflictError(
                f"concurrent commit to {self.path}: v={v} already claimed "
                f"by another writer"
            ) from None
        # stamp COMMIT time on the claimed dir: os.rename keeps the
        # renamed directory's own mtime (= last staging write, which
        # precedes the pointer flip), so without this a version_as_of
        # timestamp falling between staging-write and the flip would
        # resolve to a snapshot no reader could have seen at that moment.
        os.utime(out)
        tmp = self._pointer() + f".tmp-{uuid.uuid4().hex[:12]}"
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer())
        if data is not None and self.partition_cols:
            # partition types as every reader infers them from the
            # directory names: the file listing runs on the driver, and
            # the given data fields leave no footer to open
            data = self.spark.read.schema(data).parquet(glob_escape(out)).schema
        self._schema = None if data is None else (v, data)

    def _commit_pruned(
        self,
        df: DataFrame,
        carry: list[str],
        expected_base: int,
        base_schema: StructType,
    ) -> None:
        """CoW commit of a PRUNED rewrite group: ``df`` holds only the
        rewritten rows, and every base-snapshot-relative path in ``carry``
        — a leaf partition dir (``col=value[/col2=value2]``, all its data
        files) or a single data file — is carried into the new snapshot
        by HARD LINK: byte-identical by construction (same inodes, zero
        data movement), the file-level reuse an Iceberg manifest
        expresses by reference. ``base_schema`` is the base snapshot's
        read schema: the new version's is remembered only when the
        rewritten files hold the same data fields as the carried ones.
        Snapshots stay self-contained (every
        version dir lists the full table) and expiry stays a plain
        ``rmtree``: the filesystem's link count is the manifest refcount,
        so shared files survive until the last referencing snapshot is
        expired. Falls back to copy when the filesystem refuses links;
        never clobbers a freshly written file of the same name."""
        staging = self._write_staging(df, expected_base + 1)
        base_dir = os.path.join(self.path, f"v={expected_base}")
        for rel in carry:
            src = os.path.join(base_dir, rel)
            names = (
                [
                    os.path.join(rel, n)
                    for n in os.listdir(src)
                    if os.path.isfile(os.path.join(src, n))
                ]
                if os.path.isdir(src)
                else [rel]
            )
            for name in names:
                s, d = os.path.join(base_dir, name), os.path.join(staging, name)
                os.makedirs(os.path.dirname(d), exist_ok=True)
                try:
                    os.link(s, d)
                except FileExistsError:
                    raise
                except OSError:  # EXDEV/EPERM: links refused, copy
                    shutil.copy2(s, d)
        data = self._data_schema(df.schema)
        self._finalize(
            staging,
            expected_base,
            data if data == self._data_schema(base_schema) else None,
        )

    def _distributed(self, df: DataFrame) -> DataFrame:
        """Hash-distribute ``df`` by the partition columns before a write,
        so each partition value is written by one task — one file per
        touched partition (Iceberg's ``write.distribution-mode=hash``)
        instead of one per task that holds its rows."""
        if not self.partition_cols:
            return df
        return df.hint("rebalance", *self.partition_cols)

    def overwrite(self, df: DataFrame) -> None:
        self._commit(self._distributed(df))

    def merge(self, source: DataFrame, dialect: MergeDialect) -> None:
        # capture the base version BEFORE reading: the merge result is a
        # function of this snapshot, so the commit must verify the pointer
        # has not moved off it (otherwise the intervening batch is lost).
        base = self.current_version()
        if base is None:
            boot = _bootstrap_frame(source, dialect)
            self._commit(self._distributed(boot), expected_base=0)
            return
        target = self._open(base)
        drift = _drift_fields(source, target.columns, dialect)
        if not drift:
            # names match without regard to case, as _drift_fields does
            have = {c.lower() for c in source.columns}
            pcols = [c.lower() for c in self.partition_cols]
            if pcols and all(c in have for c in pcols):
                return self._merge_pruned(source, dialect, base, target)
            if self.file_group_pruning and not self.partition_cols:
                return self._merge_pruned_files(source, dialect, base, target)
        # whole-table rewrite; T8 schema drift adds the source-only
        # columns to the target as nulls
        for f in drift:
            target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        merged = merge_apply(target, source, dialect)
        self._commit(self._distributed(merged), expected_base=base)

    def _merge_pruned(
        self, source: DataFrame, dialect: MergeDialect, base: int, base_df: DataFrame
    ) -> None:
        """Partition-scoped CoW merge of ``source`` onto snapshot ``base``
        (opened as ``base_df``): rewrite ONLY the touched rewrite group;
        carry every other partition's data files into the new snapshot
        byte-identically. The caller has checked that the batch neither
        drifts the schema nor lacks a partition column.

        The rewrite group = partitions the batch writes into ∪ base
        partitions holding a matched merge key (an update may MOVE a row
        between partitions: the old partition must be rewritten without
        it). ONE planning query — the read Iceberg CoW also performs to
        find matched files — groups the base rows (partition, data file,
        key matched in the broadcast batch or not) together with the
        batch's own partition values by partition, so one row per
        partition reaches the driver: in the group or not, and its data
        files, named by the engine. The driver turns each file URI into
        its leaf dir — one entry per file, never a per-row string op —
        so hive escaping, glob metacharacters and NULL partitions stay
        safe. The query is SQL text over backtick-quoted names."""
        from urllib.parse import unquote, urlparse

        pcols = self.partition_cols
        base_dir = os.path.join(self.path, f"v={base}")
        base_schema = base_df.schema
        key = q(MERGE_KEY_COLUMN)
        # a repeated batch key only repeats rows inside a group: no distinct
        matched = source.selectExpr(key, "true AS __m").hint("broadcast")
        base_side = (
            base_df.selectExpr(*map(q, pcols), key, "input_file_name() AS __f")
            .join(matched, MERGE_KEY_COLUMN, "left")
            .drop(MERGE_KEY_COLUMN)
        )
        # batch values take the base's (inferred) partition types, so both
        # sides group on the same key
        source_side = source.selectExpr(
            *[
                f"CAST({q(c)} AS {base_schema[c].dataType.simpleString()}) AS {q(c)}"
                for c in pcols
            ],
            "CAST(NULL AS STRING) AS __f",
            "true AS __m",
        )
        plan = (
            base_side.unionByName(source_side)
            .groupBy(*pcols)
            .agg(F.expr("max(__m) AS __m"), F.expr("collect_set(__f) AS __f"))
            .collect()
        )  # metadata-sized: one row per partition
        touched = [tuple(r)[: len(pcols)] for r in plan if r["__m"]]
        carry = sorted({
            os.path.relpath(posixpath.dirname(unquote(urlparse(f).path)), base_dir)
            for r in plan if not r["__m"] for f in r["__f"]
        })
        # the rewrite group is a partition filter — the scan prunes to
        # the touched directories
        terms = []
        for t in touched:
            conj = None
            for c, v in zip(pcols, t):
                e = F.col(c).eqNullSafe(F.lit(v))
                conj = e if conj is None else conj & e
            terms.append(conj)
        while len(terms) > 1:  # balanced OR: no deep-recursion plans
            terms = [
                terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        group = base_df.filter(terms[0] if terms else F.lit(False))
        merged = merge_apply(group, source, dialect)
        self._commit_pruned(self._distributed(merged), carry, base, base_schema)

    def _merge_pruned_files(
        self, source: DataFrame, dialect: MergeDialect, base: int, base_df: DataFrame
    ) -> None:
        """File-granular CoW merge (Iceberg's real rewrite unit) of
        ``source`` onto snapshot ``base`` (opened as ``base_df``): the
        rewrite group is the set of base data FILES holding a matched
        merge key; unmatched files are carried into the new snapshot by
        hard link, byte-identical. The caller has checked that the batch
        does not drift the schema. Inserts need no file: they land in
        the rewritten output alongside the group's surviving rows.

        The matched-file probe is the planning scan Iceberg CoW also
        runs (a broadcast semi-join over two columns, here key +
        ``input_file_name``); the group it finds is as small as the
        LAYOUT makes it — few files after a key-sorted compaction, most
        files under a uniformly-hashing key. When the snapshot carries a
        column-range manifest covering the merge key
        (``sinks.manifest.build_manifest``), the probe itself is pruned
        at PLANNING time: files whose key range cannot overlap the
        batch's [min, max] key are carried without being scanned —
        Iceberg's manifest range pruning, so the probe cost drops from
        O(table) to O(candidate files) on a sorted layout. Carried file
        names keep their task-UUID part names; a collision with a
        freshly written name is vanishingly unlikely but still detected
        (the link raises instead of clobbering)."""
        from urllib.parse import unquote, urlparse

        base_dir = os.path.join(self.path, f"v={base}")
        base_schema = base_df.schema
        # the probe and the group read files of the base snapshot: they
        # take its schema instead of inferring it again
        read_files = self.spark.read.schema(base_schema).parquet
        # the semi-join ignores repeated keys: broadcast them as they come
        keys = source.select(MERGE_KEY_COLUMN)

        # planning-time candidate pruning from the column-range manifest
        # (absent manifest -> every file is a candidate). deferred import:
        # manifest.py imports this module.
        from arcane_framework_scala_spark.sinks.manifest import plan_files

        lo_hi = None
        candidates = plan_files(self, MERGE_KEY_COLUMN, version=base)
        if candidates is not None:
            lo_hi = source.agg(
                F.min(MERGE_KEY_COLUMN), F.max(MERGE_KEY_COLUMN)
            ).first()
            candidates = plan_files(
                self,
                MERGE_KEY_COLUMN,
                lo=lo_hi[0],
                hi=lo_hi[1],
                version=base,
            )
        probe_df = (
            base_df
            if candidates is None
            else (
                read_files(*[glob_escape(c) for c in candidates])
                if candidates
                else base_df.filter(F.lit(False))
            )
        )
        tagged = probe_df.withColumn("__f", F.input_file_name())

        def rel(uri: str) -> str:
            return os.path.relpath(unquote(urlparse(uri).path), base_dir)

        matched_uris = [
            r["__f"]
            for r in tagged.join(F.broadcast(keys), MERGE_KEY_COLUMN, "leftsemi")
            .select("__f")
            .distinct()
            .collect()
        ]  # metadata-sized: ≤ |files|
        from arcane_framework_scala_spark.sinks.table_stats import (
            _parquet_files,
        )

        all_files = {
            os.path.relpath(p, base_dir) for p in _parquet_files(base_dir)
        }
        matched_rel = sorted({rel(u) for u in matched_uris})
        carry = sorted(all_files - set(matched_rel))
        # the rewrite group IS the matched files — read exactly those
        # paths. Never an `isin(<file literals>)` filter: under a
        # uniformly-hashing merge key the matched set approaches |files|
        # and an IN-literal of 10^5+ path strings bloats the plan (the
        # scan below stays O(1) plan nodes at any file count). Paths are
        # REBUILT from the literal base_dir + decoded rel name and
        # glob-escaped — input_file_name() URIs are percent-encoded and
        # Hadoop glob-expands read paths, so feeding them back raw can
        # duplicate rows between group and carry (ADVICE r8).
        group = (
            read_files(*[glob_escape(os.path.join(base_dir, r)) for r in matched_rel])
            if matched_rel
            else base_df.filter(F.lit(False))
        )
        merged = merge_apply(group, source, dialect)
        # unmatched files are carried FLAT at their base-relative path
        self._commit_pruned(merged, carry, base, base_schema)

    def changes(self, v_from: int, v_to: int, keys: list[str] | None = None):
        """Change data feed between two committed snapshots (Delta CDF /
        Iceberg ``changes`` shape, derived): one row per changed key with
        op + pre/post images. Defaults to the merge-key column the CoW
        merges key on."""
        from arcane_framework_scala_spark.operators.diff import snapshot_diff

        return snapshot_diff(
            self.read_version(v_from),
            self.read_version(v_to),
            keys=keys or [MERGE_KEY_COLUMN],
        )

    def watermark_store(self):
        """T2 watermark persistence that survives what the table survives:
        the reference stores progress in the Iceberg table's ``comment``
        property (durable because Iceberg metadata is files); this table
        has no catalog, so the watermark lives as a rename-committed JSON
        file inside the snapshot layout — same crash-replay contract
        (``IcebergTablePropertyManager.scala``)."""
        from arcane_framework_scala_spark.streaming.watermark import (
            FileWatermarkStore,
        )

        return FileWatermarkStore(
            path=os.path.join(self.path, "_WATERMARK.json")
        )


class CatalogTarget:
    """Catalog-table target driven by generated MERGE SQL (Iceberg/Delta).

    The bootstrapped table carries only data columns (markers like
    ``SYS_CHANGE_OPERATION``/``IsDelete`` stay in the staged batch;
    :func:`queries.merge.build_merge_query` likewise never assigns them),
    so every later batch merges onto the same schema it would have created.

    On catalogs whose tables don't accept ``MERGE INTO`` (vanilla Spark's
    v1 session catalog), the same dialect semantics execute through
    :func:`operators.merge_apply` + ``replace`` — one code path per
    semantic, two physical strategies, chosen per table at runtime."""

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def read(self) -> DataFrame | None:
        return self.spark.table(self.table) if self.exists() else None

    def overwrite(self, df: DataFrame) -> None:
        try:
            df.writeTo(self.table).createOrReplace()
        except Exception as e:  # noqa: BLE001 — v1 catalogs lack RTAS
            if "REPLACE TABLE" not in str(e):
                raise
            df.write.mode("overwrite").saveAsTable(self.table)

    def _migrate_schema(self, source: DataFrame, dialect: MergeDialect) -> None:
        """T8 drift: add source-only data columns to the target before the
        merge (``SchemaMigrationProcessor.scala:24-50``). ADD COLUMNS is a
        metadata-only operation on Iceberg/Delta/v1 alike."""
        missing = _drift_fields(
            source, self.spark.table(self.table).columns, dialect
        )
        if missing:
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in missing)
            self.spark.sql(f"ALTER TABLE {self.table} ADD COLUMNS ({cols})")

    def merge(self, source: DataFrame, dialect: MergeDialect) -> None:
        if not self.exists():
            _bootstrap_frame(source, dialect).writeTo(self.table).create()
            return
        self._migrate_schema(source, dialect)
        # one staged row per key, under the same tie policy merge_apply
        # uses: rank() = 1 alone keeps every row tied at the max version,
        # which the MERGE rejects on a matched key and inserts twice on a
        # new one
        staged = _collapse_ties(source, dialect, MERGE_KEY_COLUMN, version_first=True)
        view = f"__arcane_staged_{abs(hash(self.table)) % 10_000_000}"
        # run the MERGE on the SOURCE DataFrame's session, not the one the
        # target was constructed with: inside a foreachBatch callback the
        # batch frame belongs to a per-stream CLONED session, and a temp
        # view registered there is invisible to the outer session (the
        # catalog itself is safe — MemCatalog/Iceberg state is JVM-global,
        # and clones inherit the spark.sql.catalog.* conf).
        sess = source.sparkSession
        staged.createOrReplaceTempView(view)
        try:
            sql = build_merge_query(
                dialect, self.table, view, staged.columns, deduplicate=False
            )
            try:
                sess.sql(sql)
            except Exception as e:  # noqa: BLE001 — inspect & re-raise below
                if "MERGE INTO" not in str(e):
                    raise
                # catalog has no MERGE support: same semantics, DataFrame
                # execution. Materialize before replace — the plan reads
                # the table being replaced.
                merged = merge_apply(sess.table(self.table), source, dialect)
                self.overwrite(merged.localCheckpoint(eager=True))
        finally:
            sess.catalog.dropTempView(view)


class DurableCatalogTarget(SnapshotParquetTarget):
    """``SnapshotParquetTarget`` under the constructor ``perfbench``'s
    workloads call — the only reason this class exists. They pass a
    positional, unused ``table`` name and hand ``target.snapshots`` to
    maintenance, and the perfbench tracer patches and then restores
    ``merge``/``overwrite`` on this class and on its parent by name:
    the class's own attributes below are what it restores here, so the
    parent's span wrapper is never left installed on this class."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table: str,
        max_rows_per_file: int | None = None,
        partition_cols: list[str] | None = None,
        file_group_pruning: bool = False,
    ):
        super().__init__(
            spark, path, max_rows_per_file, partition_cols, file_group_pruning
        )

    @property
    def snapshots(self) -> SnapshotParquetTarget:
        return self

    merge = SnapshotParquetTarget.merge
    overwrite = SnapshotParquetTarget.overwrite


@dataclass
class MergeSink:
    """K2: apply staged batches to a target with retry (and optional
    audit-parity staging — the reference always stages to Iceberg first;
    Spark can merge straight from the batch DataFrame, K1/K5 elided)."""

    target: SnapshotParquetTarget | CatalogTarget
    dialect: MergeDialect
    retry: RetryPolicy = field(default_factory=RetryPolicy)

    def apply(self, batch_df: DataFrame) -> None:
        if MERGE_KEY_COLUMN not in batch_df.columns:
            raise ValueError(f"batch is not mergeable: no {MERGE_KEY_COLUMN}")
        with_retry(self.retry, lambda: self.target.merge(batch_df, self.dialect))
