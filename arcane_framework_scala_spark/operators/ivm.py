"""Incremental view maintenance (IVM) over the change data feed:
maintain a grouped aggregate by applying per-snapshot CDF deltas instead
of recomputing from the full table.

The reference framework re-reads merged tables to compute statistics
(`sinks/table_stats.py` ports that); at 100 TB a per-crawl-wave full
recompute of a host-level profile is a full-table scan per wave. With
the CoW target's derived change feed (``SnapshotParquetTarget.changes``,
Delta-CDF/Iceberg-changes shape: key, op, old_*/new_* images), the
same aggregate is maintainable from just the wave's changed rows —
O(|delta|) work per wave, one hash shuffle on the group key, never a
full scan after bootstrap.

Supported aggregate shape: additive counts and sums (docs, sum_size)
per group — the self-maintainable class (no max/min, which are not
incrementally maintainable under deletes without auxiliary state; see
:mod:`ivm_minmax` for the top-k-auxiliary extension). Groups whose
count reaches zero are dropped, and SUM's NULL semantics survive
deletes via one auxiliary column: ``nn_size`` counts the group's
non-NULL size contributions, and the maintained sum returns to NULL
exactly when it reaches zero (plain additive state can't distinguish
"sum is 0" from "every remaining size is NULL" — a group holding
[10, NULL] whose 10-row is deleted must read NULL, as a fresh groupBy
would). So the maintained view is always exactly what a fresh groupBy
would produce, NULLs included.

Determinism: all-integer arithmetic; parity with a from-scratch
recompute is asserted by the gate and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def group_stats_bootstrap(
    df: DataFrame, group_col: str, size_col: str
) -> DataFrame:
    """The initial materialization: ``(group, docs, sum_size, nn_size)``
    — ``nn_size`` (count of non-NULL sizes) is the auxiliary state that
    lets the maintained sum return to NULL under deletes; it is itself
    what ``count(size_col)`` of a fresh groupBy produces."""
    return df.groupBy(F.col(group_col).alias(group_col)).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col(size_col).cast("long")).alias("sum_size"),
        F.count(F.col(size_col)).alias("nn_size"),
    )


def group_delta(cdf: DataFrame, group_col: str, size_col: str) -> DataFrame:
    """Collapse a CDF batch into per-group additive deltas.

    ``cdf`` rows carry ``op`` ∈ {insert, delete, update} with
    ``old_<c>``/``new_<c>`` images. An update may move a row between
    groups (old group loses it, new group gains it), so updates
    contribute to BOTH sides via the exploded two-row form.
    """
    ins = F.col("op") == "insert"
    dele = F.col("op") == "delete"
    # side +1 = post-image contribution, side -1 = pre-image retraction
    sided = cdf.select(
        "op",
        F.explode(
            F.when(ins, F.array(F.lit(1)))
            .when(dele, F.array(F.lit(-1)))
            .otherwise(F.array(F.lit(1), F.lit(-1)))
        ).alias("side"),
        F.col(f"new_{group_col}").alias("__ng"),
        F.col(f"old_{group_col}").alias("__og"),
        F.col(f"new_{size_col}").cast("long").alias("__ns"),
        F.col(f"old_{size_col}").cast("long").alias("__os"),
    )
    pos = F.col("side") == 1
    return (
        sided.select(
            F.when(pos, F.col("__ng")).otherwise(F.col("__og")).alias(group_col),
            F.when(pos, F.lit(1)).otherwise(F.lit(-1)).alias("__d_docs"),
            F.when(pos, F.col("__ns")).otherwise(-F.col("__os")).alias(
                "__d_size"
            ),
            F.when(pos, F.col("__ns").isNotNull().cast("long"))
            .otherwise(-F.col("__os").isNotNull().cast("long"))
            .alias("__d_nn"),
        )
        .groupBy(group_col)
        .agg(
            F.sum("__d_docs").alias("d_docs"),
            F.sum("__d_size").alias("d_size"),
            F.sum("__d_nn").alias("d_nn"),
        )
    )


def apply_group_delta(
    stats: DataFrame, delta: DataFrame, group_col: str
) -> DataFrame:
    """Merge a delta into the maintained view (full-outer on the group
    key; groups whose count hits zero disappear, exactly like a fresh
    groupBy). One hash shuffle on the group key, sized by
    |view| + |delta| — never the base table."""
    s = stats.select(
        F.col(group_col).alias("__sg"),
        "docs",
        "sum_size",
        "nn_size",
        F.lit(True).alias("__in_s"),
    )
    d = delta.select(
        F.col(group_col).alias("__dg"),
        "d_docs",
        "d_size",
        "d_nn",
        F.lit(True).alias("__in_d"),
    )
    # eqNullSafe: a NULL group key is still ONE group (a plain == would
    # leave both sides unmatched and emit two NULL-group rows)
    j = s.join(d, F.col("__sg").eqNullSafe(F.col("__dg")), "full_outer")
    in_s = F.coalesce(F.col("__in_s"), F.lit(False))
    # SUM semantics: sum is NULL exactly when ZERO non-NULL sizes remain
    # (all-NULL group, or every non-NULL contributor was deleted). The
    # nn_size auxiliary decides — additive arithmetic alone cannot
    # distinguish "sum became 0" from "nothing non-NULL remains".
    nn = (
        F.coalesce(F.col("nn_size"), F.lit(0))
        + F.coalesce(F.col("d_nn"), F.lit(0))
    )
    summed = (
        F.when(nn == 0, F.lit(None))
        .otherwise(
            F.coalesce(F.col("sum_size"), F.lit(0))
            + F.coalesce(F.col("d_size"), F.lit(0))
        )
        .cast("long")
    )
    return (
        j.select(
            F.when(in_s, F.col("__sg"))
            .otherwise(F.col("__dg"))
            .alias(group_col),
            (
                F.coalesce(F.col("docs"), F.lit(0))
                + F.coalesce(F.col("d_docs"), F.lit(0))
            ).alias("docs"),
            summed.alias("sum_size"),
            nn.alias("nn_size"),
        )
        .filter(F.col("docs") > 0)
    )


class AdditiveGroupStatsSpec:
    """The count/sum view family as a maintenance SPEC — the pluggable
    unit :class:`StreamingViewMaintainer` drives. A spec supplies:

    - ``bootstrap(df)`` — materialize the view from a full snapshot;
    - ``delta(cdf)`` — collapse a CDF batch to the family's delta shape;
    - ``apply(state, delta, target, version)`` — fold a delta into the
      DataFrame state (``target``/``version`` let families whose apply
      needs the base table — e.g. min/max band-hit recomputes — read
      the snapshot AS OF the delta's version, which matters when a
      catch-up spans several commits; ignored here);
    - ``bootstrap_as_delta(boot)`` — project a bootstrap into delta
      columns so the MERGE path can insert it (optional: only needed
      for ``state_table`` support);
    - ``merge_sql(table, view)`` — the family's state-table MERGE
      (optional, same condition).

    The sibling families live beside their algebra:
    ``ivm_profile.MomentsSpec`` / ``.DistinctSpec`` / ``.HistogramSpec``
    and ``ivm_minmax.MinMaxSpec``."""

    def __init__(self, group_col: str, size_col: str):
        self.group_col = group_col
        self.size_col = size_col

    def bootstrap(self, df: DataFrame) -> DataFrame:
        return group_stats_bootstrap(df, self.group_col, self.size_col)

    def delta(self, cdf: DataFrame) -> DataFrame:
        return group_delta(cdf, self.group_col, self.size_col)

    def apply(
        self, state: DataFrame, delta: DataFrame, target, version=None
    ) -> DataFrame:
        return apply_group_delta(state, delta, self.group_col)

    def bootstrap_as_delta(self, boot: DataFrame) -> DataFrame:
        return boot.select(
            self.group_col,
            F.col("docs").alias("d_docs"),
            F.col("sum_size").alias("d_size"),
            F.col("nn_size").alias("d_nn"),
        )

    def merge_sql(self, table: str, view: str) -> str:
        return group_state_merge_sql(table, view, self.group_col)

    def merge_sql_versioned(self, table: str, view: str, version: int) -> str:
        return group_state_merge_sql_versioned(
            table, view, version, self.group_col
        )


class StreamingViewMaintainer:
    """Ride a CoW target's change feed to keep a grouped view current —
    the piece that turns per-wave IVM into a STREAMING materialized
    view: hand ``sync`` to the stream's post-merge hook
    (``StructuredBlobStream.on_batch_merged``) and the view advances
    with every committed snapshot, O(|delta|) per wave.

    ``sync`` is idempotent and gap-tolerant: it catches up from the last
    synced version to ``_CURRENT``, however many commits landed in
    between (a crashed maintainer just re-bootstraps; production
    deployments persist the state table instead via
    :func:`group_state_merge_sql`, which this class also supports
    through ``state_table``).

    With ``state_table`` the synced version is DURABLE too: it rides the
    state table's TBLPROPERTIES (``arcane.ivm_synced_version``), written
    after every successfully merged delta and restored by a fresh
    instance — so a restarted maintainer resumes from the recorded
    version instead of re-bootstrapping.

    **Crash-exactly-once (r10, closes the r9 one-delta exposure):**
    give the state table a ``last_v BIGINT`` column and the MERGE
    becomes IDEMPOTENT — every clause carries the strictly-greater
    version guard (``t.last_v < s.d_v``, the same T9 discipline the CDC
    merge dialects use), so a crash between a merged delta and its
    recorded version re-applies that delta as a pure no-op on restart:
    updated/inserted groups sit at ``last_v = v`` and skip, deleted
    groups see a non-positive ``d_docs`` and never re-insert. The
    maintainer detects the column and switches to
    ``spec.merge_sql_versioned`` automatically; a 4-column state table
    keeps the old additive MERGE with the documented one-delta
    re-apply exposure. A populated state table with NO recorded version
    (a pre-upgrade table, or someone else's) makes ``sync`` raise rather
    than merge a full bootstrap on top of existing rows, which would
    silently double every count.

    The maintained FAMILY is pluggable via ``spec`` (default: the
    additive count/sum profile from ``group_col``/``size_col``). Any of
    the view-maintenance families rides the same loop:
    ``ivm_profile.MomentsSpec`` (avg/variance), ``.DistinctSpec``
    (exact COUNT(DISTINCT)), ``.HistogramSpec`` (delete-exact
    quantiles), ``ivm_minmax.MinMaxSpec`` (max/min; DataFrame state
    only — its band-hit recompute has no single-MERGE form)."""

    SYNC_PROPERTY = "arcane.ivm_synced_version"

    def __init__(
        self,
        target,
        group_col: str | None = None,
        size_col: str | None = None,
        state_table: str | None = None,
        spec=None,
    ):
        if spec is None:
            if group_col is None or size_col is None:
                raise ValueError("pass either spec or group_col+size_col")
            spec = AdditiveGroupStatsSpec(group_col, size_col)
        if state_table is not None and not hasattr(spec, "merge_sql"):
            raise ValueError(
                f"{type(spec).__name__} has no state-table MERGE form; "
                "use the DataFrame state (state_table=None)"
            )
        self.target = target
        self.spec = spec
        self.state_table = state_table
        self.state: DataFrame | None = None
        self._versioned = self._detect_versioned()
        self.synced_version: int | None = self._restore_synced_version()
        self.bootstraps = 0
        self.deltas_applied = 0

    def _detect_versioned(self) -> bool:
        """True when the state table carries ``last_v`` AND the spec has
        a versioned MERGE form — the crash-exactly-once mode."""
        if self.state_table is None or not hasattr(
            self.spec, "merge_sql_versioned"
        ):
            return False
        spark = self.target.spark
        if not spark.catalog.tableExists(self.state_table):
            return False
        return "last_v" in spark.table(self.state_table).columns

    def _restore_synced_version(self) -> int | None:
        if self.state_table is None:
            return None
        spark = self.target.spark
        if not spark.catalog.tableExists(self.state_table):
            return None
        rows = spark.sql(f"SHOW TBLPROPERTIES {self.state_table}").collect()
        props = {r["key"]: r["value"] for r in rows}
        try:
            return int(props[self.SYNC_PROPERTY])
        except (KeyError, ValueError):
            return None

    def _record_synced_version(self, version: int) -> None:
        if self.state_table is None:
            return
        self.target.spark.sql(
            f"ALTER TABLE {self.state_table} SET TBLPROPERTIES "
            f"('{self.SYNC_PROPERTY}'='{version}')"
        )

    def _merge_into_table(self, delta: DataFrame, version: int) -> None:
        view = "__ivm_stream_delta"
        delta.createOrReplaceTempView(view)
        try:
            if self._versioned:
                sql = self.spec.merge_sql_versioned(
                    self.state_table, view, version
                )
            else:
                sql = self.spec.merge_sql(self.state_table, view)
            delta.sparkSession.sql(sql)
        finally:
            delta.sparkSession.catalog.dropTempView(view)

    def sync(self) -> None:
        """Catch the view up to the target's current snapshot."""
        cur = self.target.current_version()
        if cur is None:
            return
        if self.synced_version is not None and self.synced_version > cur:
            # a recorded version AHEAD of the target means the state
            # belongs to a different table lifetime (target wiped/rolled
            # back/re-ingested): rewinding and applying the NEW table's
            # deltas onto the OLD table's state would be silently wrong
            raise ValueError(
                f"recorded synced version {self.synced_version} exceeds "
                f"the target's current version {cur} — the state "
                f"{'table ' + self.state_table if self.state_table else ''} "
                "reflects a different table lifetime; rebuild it."
            )
        if self.synced_version is None:
            if (
                self.state_table is not None
                and self.target.spark.catalog.tableExists(self.state_table)
                and self.target.spark.table(self.state_table).limit(1).count()
            ):
                raise ValueError(
                    f"state table {self.state_table} is populated but "
                    f"carries no {self.SYNC_PROPERTY} property — merging "
                    "a bootstrap on top would double-count every group. "
                    "Truncate the table (or restore the property) first."
                )
            boot = self.spec.bootstrap(self.target.read_version(cur))
            if self.state_table is not None:
                self._merge_into_table(self.spec.bootstrap_as_delta(boot), cur)
            else:
                self.state = boot.localCheckpoint()
            self.synced_version = cur
            self._record_synced_version(cur)
            self.bootstraps += 1
            return
        for v in range(self.synced_version + 1, cur + 1):
            delta = self.spec.delta(self.target.changes(v - 1, v))
            if self.state_table is not None:
                self._merge_into_table(delta, v)
            else:
                self.state = self.spec.apply(
                    self.state, delta, self.target, v
                ).localCheckpoint()
            self.deltas_applied += 1
            # record per STEP, not once after the loop: the MERGE is
            # additive (not idempotent), so a crash between a merged
            # delta and its recorded version would re-apply that delta
            # on restart and double-count every touched group
            self.synced_version = v
            self._record_synced_version(v)

    def view(self) -> DataFrame:
        if self.state_table is not None:
            out = self.target.spark.table(self.state_table)
            # the bookkeeping column is not part of the maintained view
            return out.drop("last_v") if self._versioned else out
        if self.state is None:
            raise ValueError("maintainer has not synced yet")
        return self.state


def group_state_merge_sql(
    target_table: str, delta_view: str, group_col: str = "host"
) -> str:
    """MERGE statement that maintains the grouped-aggregate TABLE from a
    delta view — the production twin of :func:`apply_group_delta` when
    the view lives as a real catalog table (Iceberg/Delta/DSv2): each
    wave's :func:`group_delta` output upserts additively, groups whose
    count reaches zero are DELETEd, and insert-only applies to groups
    with a positive count (a retraction for a group the table never held
    is a no-op, matching the DataFrame path's docs>0 filter). Null-safe
    ON (``<=>``) keeps a NULL group key as ONE group. The state table
    carries the ``nn_size`` auxiliary (non-NULL size contributions): the
    CASE on sum_size returns the sum to NULL exactly when it reaches
    zero, preserving SUM's NULL semantics under deletes. Engine-portable
    MERGE (Spark DSv2 / Iceberg / Delta accept the conditional
    clauses)."""
    add_size = (
        "CASE WHEN t.nn_size + s.d_nn = 0 THEN NULL "
        "ELSE coalesce(t.sum_size, CAST(0 AS BIGINT)) "
        "+ coalesce(s.d_size, CAST(0 AS BIGINT)) END"
    )
    return (
        f"MERGE INTO {target_table} t\n"
        f"USING (SELECT {group_col}, d_docs, d_size, d_nn "
        f"FROM {delta_view}) s\n"
        f"ON t.{group_col} <=> s.{group_col}\n"
        f"WHEN MATCHED AND t.docs + s.d_docs <= 0 THEN DELETE\n"
        f"WHEN MATCHED THEN UPDATE SET docs = t.docs + s.d_docs, "
        f"sum_size = {add_size}, nn_size = t.nn_size + s.d_nn\n"
        f"WHEN NOT MATCHED AND s.d_docs > 0 THEN "
        f"INSERT ({group_col}, docs, sum_size, nn_size) "
        f"VALUES (s.{group_col}, s.d_docs, s.d_size, s.d_nn)"
    )


def group_state_merge_sql_versioned(
    target_table: str,
    delta_view: str,
    version: int,
    group_col: str = "host",
) -> str:
    """:func:`group_state_merge_sql` made IDEMPOTENT (r10): the state
    table carries ``last_v`` (the last delta version that touched each
    group) and every MATCHED clause takes the strictly-greater guard
    ``t.last_v < s.d_v`` — re-applying an already-merged delta (a crash
    landed between the MERGE and the synced-version record) is a pure
    no-op: touched groups sit at ``last_v = v`` and skip, groups the
    delta deleted see a non-positive ``d_docs`` and never re-insert,
    groups it inserted are MATCHED with an exhausted guard. This is the
    same version-guard discipline the CDC merge dialects use (T9
    idempotent replay), applied to the view-maintenance state.

    A NULL ``last_v`` (the documented upgrade path: ``ALTER TABLE ADD
    COLUMN last_v`` on a populated pre-versioned state table leaves
    existing rows NULL) counts as "never version-stamped" and must
    PASS the guard — a bare ``t.last_v < s.d_v`` is NULL→false and
    would silently freeze those groups forever. First touch stamps
    them with the delta's version and they join the idempotent
    regime."""
    add_size = (
        "CASE WHEN t.nn_size + s.d_nn = 0 THEN NULL "
        "ELSE coalesce(t.sum_size, CAST(0 AS BIGINT)) "
        "+ coalesce(s.d_size, CAST(0 AS BIGINT)) END"
    )
    v = int(version)
    return (
        f"MERGE INTO {target_table} t\n"
        f"USING (SELECT {group_col}, d_docs, d_size, d_nn, "
        f"CAST({v} AS BIGINT) AS d_v FROM {delta_view}) s\n"
        f"ON t.{group_col} <=> s.{group_col}\n"
        f"WHEN MATCHED AND (t.last_v IS NULL OR t.last_v < s.d_v) "
        f"AND t.docs + s.d_docs <= 0 THEN DELETE\n"
        f"WHEN MATCHED AND (t.last_v IS NULL OR t.last_v < s.d_v) "
        f"THEN UPDATE SET "
        f"docs = t.docs + s.d_docs, sum_size = {add_size}, "
        f"nn_size = t.nn_size + s.d_nn, last_v = s.d_v\n"
        f"WHEN NOT MATCHED AND s.d_docs > 0 THEN "
        f"INSERT ({group_col}, docs, sum_size, nn_size, last_v) "
        f"VALUES (s.{group_col}, s.d_docs, s.d_size, s.d_nn, s.d_v)"
    )
