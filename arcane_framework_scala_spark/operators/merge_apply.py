"""MERGE execution as a pure DataFrame operator.

When the session has an Iceberg/Delta catalog, the engine executes the
generated SQL from :mod:`queries.merge` (``spark.sql(merge_sql)``) — that
path gets storage-side file pruning and is preferred at 100 TB. This module
is the catalog-independent execution of the *same* dialect semantics
(reference ``models/batches/*.scala`` M1-M3): a single full-outer shuffle
join on the merge key, then per-column conditional selection. It exists so
merge behavior is testable on plain parquet and usable on any catalog.

Scale notes:
- one shuffle on ``ARCANE_MERGE_KEY`` (SHA-256-derived → uniform, skew-free);
- no driver materialization, no UDFs — whole plan stays in codegen;
- a full-outer join cannot broadcast, but CDC batches are small relative to
  targets, so the Iceberg MERGE path (with partition pruning via the ON
  IN-lists) is what production uses; this operator is the semantic ground
  truth and the local-test executor.

Tie handling: after the W1 ``rank()==1`` dedup a key can still carry several
rows at the max version (delete marker kept next to the final data row —
reference comment at ``models/batches/SynapseLink.scala:77``). SQL MERGE
would reject multi-matches, so this operator collapses ties
deterministically: a delete marker wins, then a stable hash tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from arcane_framework_scala_spark.queries.merge import (
    MergeDialect,
    SOURCE_ALIAS,
    TARGET_ALIAS,
)
from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN


def _collapse_ties(
    source: DataFrame,
    dialect: MergeDialect,
    merge_key: str,
    version_first: bool = False,
) -> DataFrame:
    """One row per key: delete markers take precedence, then version desc,
    then every remaining column ascending-nulls-first — a portable total
    order any SQL oracle reproduces (plain SQL MERGE would error on
    multi-match).

    With ``version_first`` the ordering is (version desc, delete desc, …),
    which fuses W1 latest-version dedup into this same window pass: the
    surviving row is identical to rank()==1-then-collapse (within the max
    version group the two orderings coincide), but Spark runs ONE
    partition sort instead of two over the same key."""
    s = source.alias(SOURCE_ALIAS)
    delete_flag = (
        F.expr(dialect.delete_condition) if dialect.delete_condition else F.lit(False)
    )
    special = {merge_key.lower(), dialect.version_column.lower()}
    primary = [
        F.desc(F.coalesce(delete_flag.cast("int"), F.lit(0))),
        F.desc(dialect.version_column),
    ]
    if version_first:
        primary.reverse()
    order_cols = [
        *primary,
        *[
            F.asc_nulls_first(c)
            for c in source.columns
            if c.lower() not in special
        ],
    ]
    w = Window.partitionBy(merge_key).orderBy(*order_cols)
    return (
        s.withColumn("__arcane_rn", F.row_number().over(w))
        .filter(F.col("__arcane_rn") == 1)
        .drop("__arcane_rn")
    )


def merge_apply(
    target: DataFrame,
    source: DataFrame,
    dialect: MergeDialect,
    merge_key: str = MERGE_KEY_COLUMN,
    deduplicate: bool = True,
) -> DataFrame:
    """Apply one staged CDC batch to a target snapshot, returning the new
    target contents (schema = target schema).

    Clause semantics per dialect (M1 SQL Server CT, M2 Synapse Link,
    M3 UpsertBlob): matched+delete → row removed; matched+update-guard →
    source values (version guard makes replays idempotent, T9); matched
    otherwise → target kept; unmatched source + insert-guard → inserted;
    unmatched target → kept. These are the generated MERGE SQL's
    semantics, column resolution included (``tests/test_mem_catalog_
    merge.py`` compares the two row for row).
    """
    out_fields = target.schema.fields
    # W1 dedup + tie collapse fuse into one window pass (version-first
    # ordering); see _collapse_ties. latest_version_per_key stays the
    # standalone W1 operator for pipelines that want WITH-TIES semantics.
    source = _collapse_ties(source, dialect, merge_key, version_first=deduplicate)

    t = target.alias(TARGET_ALIAS)
    s = source.alias(SOURCE_ALIAS)
    t_key = F.col(f"{TARGET_ALIAS}.{merge_key}")
    s_key = F.col(f"{SOURCE_ALIAS}.{merge_key}")
    joined = t.join(s, t_key == s_key, "full_outer")

    matched = t_key.isNotNull() & s_key.isNotNull()
    source_only = t_key.isNull() & s_key.isNotNull()
    target_only = s_key.isNull()

    delete_c = (
        F.expr(dialect.delete_condition) if dialect.delete_condition else F.lit(False)
    )
    update_c = (
        F.expr(dialect.update_condition) if dialect.update_condition else F.lit(True)
    )
    insert_c = (
        F.expr(dialect.insert_condition) if dialect.insert_condition else F.lit(True)
    )

    kept = joined.filter(
        target_only
        | (matched & ~F.coalesce(delete_c, F.lit(False)))
        | (source_only & F.coalesce(insert_c, F.lit(True)))
    )

    use_source = (matched & F.coalesce(update_c, F.lit(False))) | source_only
    # columns match by name without regard to case, as the MERGE SQL
    # resolves them; a target column the batch lacks keeps its value on
    # update (MERGE never assigns it) and is NULL on insert (the target
    # side of a source-only row is all NULL)
    source_cols = {c.lower(): c for c in source.columns}
    projection = []
    for f in out_fields:
        t_val = F.col(f"{TARGET_ALIAS}.{f.name}")
        s_name = source_cols.get(f.name.lower())
        if s_name is None:
            projection.append(t_val.alias(f.name))
            continue
        projection.append(
            F.when(use_source, F.col(f"{SOURCE_ALIAS}.{s_name}"))
            .otherwise(t_val)
            .alias(f.name)
        )
    return kept.select(*projection)
