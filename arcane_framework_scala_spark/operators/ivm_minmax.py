"""Incremental maintenance of MAX/MIN aggregates under deletes — the
extension past :mod:`ivm`'s additive (count/sum) class.

max/min are not self-maintainable: a delete of the current max needs
knowledge the aggregate itself destroyed. The standard fix (top-k
auxiliary state) is used here with k = 2: the view keeps each group's two
largest and two smallest non-NULL sizes. Per CDF wave:

- inserts never need history: ``new_max = greatest(stored_max, ins_max)``
  and the stored top-2 merges with the batch's top-2 (both are the true
  extremes of their side, so their union's top-2 is the group's top-2);
- a delete strictly BELOW the stored second-largest (and strictly above
  the second-smallest) cannot change either extreme or the auxiliary —
  no work;
- only a delete reaching INTO the top-2/bottom-2 band triggers a
  recompute, and only for that group: the base table is semi-joined on
  the affected group set — O(|affected groups' rows|), never O(table).
  (Recomputing on any hit in the band, rather than only on a max hit,
  is what keeps the auxiliary SOUND: removing the second-largest and
  refilling from batch values could store a too-small m2 that a later
  max-delete would trust.)

NULL semantics match a fresh groupBy for free: the auxiliaries hold only
non-NULL sizes, and an empty top-2 with live rows means every remaining
size is NULL → max/min are NULL.

At 100 TB the recompute scan is the reason to cluster the base table on
the group key (`optimize_snapshot(sort_cols=[group])` or hive
partitioning): the affected-group semi-join then prunes to the touched
files instead of scanning the corpus for a handful of groups.

Determinism: all comparisons are on the cast-to-long size column; no
floats, no RNG. Cross-checked against a from-scratch groupBy by the
``t_ivm_minmax`` gate and a seeded randomized sweep in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def _top2(df: DataFrame, group_col: str, size_col, asc: bool, alias: str):
    """Per-group array of the 2 extreme non-NULL sizes (desc for top,
    asc for bottom) — bounded state via a row_number window, never a
    whole-group collect_list."""
    order = F.col("__sz").asc() if asc else F.col("__sz").desc()
    w = Window.partitionBy(group_col).orderBy(order)
    return (
        df.select(F.col(group_col), size_col.alias("__sz"))
        .filter(F.col("__sz").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .groupBy(group_col)
        .agg(
            F.sort_array(F.collect_list("__sz"), asc=asc).alias(alias)
        )
    )


def _nullsafe_left(left: DataFrame, right: DataFrame, group_col: str):
    """Left join on the group key where a NULL group is ONE group (a
    plain name-join would drop the NULL group's auxiliary arrays)."""
    r = right.withColumnRenamed(group_col, "__rg")
    return left.join(
        r, left[group_col].eqNullSafe(r["__rg"]), "left"
    ).drop("__rg")


def minmax_bootstrap(
    df: DataFrame, group_col: str, size_col: str
) -> DataFrame:
    """Initial state: ``(group, docs, max_size, min_size, top2, bot2)``.
    top2 is sorted DESC (top2[0] = max), bot2 sorted ASC."""
    sz = F.col(size_col).cast("long")
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("docs"),
        F.max(sz).alias("max_size"),
        F.min(sz).alias("min_size"),
    )
    t2 = _top2(df, group_col, sz, asc=False, alias="top2")
    b2 = _top2(df, group_col, sz, asc=True, alias="bot2")
    empty = F.array().cast("array<long>")
    return _nullsafe_left(
        _nullsafe_left(base, t2, group_col), b2, group_col
    ).select(
        group_col,
        "docs",
        "max_size",
        "min_size",
        F.coalesce("top2", empty).alias("top2"),
        F.coalesce("bot2", empty).alias("bot2"),
    )


def minmax_delta(cdf: DataFrame, group_col: str, size_col: str) -> DataFrame:
    """Collapse a CDF batch (op + old_*/new_* images, the
    ``SnapshotParquetTarget.changes`` shape) into per-group minmax
    deltas: ``(group, d_docs, ins_top2, ins_bot2, del_max, del_min)``.
    Updates contribute their post-image as an insert and their pre-image
    as a delete (group moves included)."""
    ins = F.col("op") == "insert"
    dele = F.col("op") == "delete"
    sided = cdf.select(
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
    rows = sided.select(
        F.when(pos, F.col("__ng")).otherwise(F.col("__og")).alias(group_col),
        F.col("side"),
        F.when(pos, F.col("__ns")).otherwise(F.col("__os")).alias("__sz"),
    )
    agg = rows.groupBy(group_col).agg(
        F.sum(F.col("side")).alias("d_docs"),
        F.max(F.when(~pos, F.col("__sz"))).alias("del_max"),
        F.min(F.when(~pos, F.col("__sz"))).alias("del_min"),
    )
    ins_rows = rows.filter(pos)
    t2 = _top2(ins_rows, group_col, F.col("__sz"), asc=False, alias="ins_top2")
    b2 = _top2(ins_rows, group_col, F.col("__sz"), asc=True, alias="ins_bot2")
    empty = F.array().cast("array<long>")
    return _nullsafe_left(
        _nullsafe_left(agg, t2, group_col), b2, group_col
    ).select(
        group_col,
        "d_docs",
        F.coalesce("ins_top2", empty).alias("ins_top2"),
        F.coalesce("ins_bot2", empty).alias("ins_bot2"),
        "del_max",
        "del_min",
    )


def apply_minmax_delta(
    state: DataFrame,
    delta: DataFrame,
    base_after: DataFrame,
    group_col: str,
    size_col: str,
) -> DataFrame:
    """Merge a wave's minmax delta into the maintained view.

    ``base_after`` is the base table AFTER the wave's merge — consulted
    ONLY for groups whose delete reached into the top-2/bottom-2 band
    (semi-join on the affected group set, O(|affected|)); every other
    group updates from the auxiliary alone. Groups whose count reaches
    zero disappear, like a fresh groupBy."""
    s = state.select(
        F.col(group_col).alias("__sg"),
        "docs", "max_size", "min_size", "top2", "bot2",
        F.lit(True).alias("__in_s"),
    )
    d = delta.select(
        F.col(group_col).alias("__dg"),
        "d_docs", "ins_top2", "ins_bot2", "del_max", "del_min",
        F.lit(True).alias("__in_d"),
    )
    j = s.join(d, F.col("__sg").eqNullSafe(F.col("__dg")), "full_outer")
    in_s = F.coalesce(F.col("__in_s"), F.lit(False))
    empty = F.array().cast("array<long>")
    top2 = F.coalesce(F.col("top2"), empty)
    bot2 = F.coalesce(F.col("bot2"), empty)
    ins_t = F.coalesce(F.col("ins_top2"), empty)
    ins_b = F.coalesce(F.col("ins_bot2"), empty)
    docs_new = (
        F.coalesce(F.col("docs"), F.lit(0))
        + F.coalesce(F.col("d_docs"), F.lit(0))
    )
    # a delete at or above the stored second-largest (element_at(top2, -1)
    # = min of the ≤2-element band) may have removed a band member — the
    # auxiliary can no longer prove the max; symmetric for the bottom
    hit_top = (
        F.col("del_max").isNotNull()
        & (F.size(top2) > 0)
        & (F.col("del_max") >= F.element_at(top2, -1))
    )
    hit_bot = (
        F.col("del_min").isNotNull()
        & (F.size(bot2) > 0)
        & (F.col("del_min") <= F.element_at(bot2, -1))
    )
    needs_recompute = in_s & (hit_top | hit_bot) & (docs_new > 0)
    merged_top = F.slice(
        F.reverse(F.array_sort(F.concat(top2, ins_t))), 1, 2
    )
    merged_bot = F.slice(F.array_sort(F.concat(bot2, ins_b)), 1, 2)
    fast = (
        j.select(
            F.when(in_s, F.col("__sg")).otherwise(F.col("__dg")).alias(
                group_col
            ),
            docs_new.alias("docs"),
            needs_recompute.alias("__rec"),
            merged_top.alias("top2"),
            merged_bot.alias("bot2"),
        )
        .filter(F.col("docs") > 0)
    )
    ok = fast.filter(~F.col("__rec")).select(
        group_col,
        "docs",
        # empty band + live rows ⇒ every remaining size is NULL
        F.when(F.size("top2") > 0, F.element_at("top2", 1)).alias("max_size"),
        F.when(F.size("bot2") > 0, F.element_at("bot2", 1)).alias("min_size"),
        "top2",
        "bot2",
    )
    affected = fast.filter(F.col("__rec")).select(group_col)
    recomputed = minmax_bootstrap(
        base_after.join(
            F.broadcast(affected),
            base_after[group_col].eqNullSafe(affected[group_col]),
            "left_semi",
        ),
        group_col,
        size_col,
    )
    return ok.unionByName(recomputed)


class MinMaxSpec:
    """MAX/MIN as a :class:`ivm.StreamingViewMaintainer` spec — DataFrame
    state only: the band-hit recompute consults the base snapshot AS OF
    the delta's version (a catch-up spanning several commits must not
    read future state), which has no single-MERGE state-table form."""

    def __init__(self, group_col: str, size_col: str):
        self.group_col = group_col
        self.size_col = size_col

    def bootstrap(self, df):
        return minmax_bootstrap(df, self.group_col, self.size_col)

    def delta(self, cdf):
        return minmax_delta(cdf, self.group_col, self.size_col)

    def apply(self, state, delta, target, version=None):
        base = (
            target.read_version(version)
            if version is not None
            else target.read()
        )
        return apply_minmax_delta(
            state, delta, base, self.group_col, self.size_col
        )
