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

Plan building: the plan is a handful of DataFrame calls over SQL text —
one ``selectExpr`` holding the tie-collapsing ``row_number() OVER (…)``
window, one full-outer join on an ``F.expr`` key condition, one ``where``
with the dialect's clause conditions (the generated MERGE SQL's own
fragments) and one ``selectExpr`` of ``CASE WHEN`` projections. Every
column name is backtick-quoted (``schema.sql_types.quote_ident``); no
value is ever spliced into the text. Building it costs about one py4j
round trip per column (the projection list), where a tree of ``Column``
calls cost one JVM call per node plus a captured call site per call.

Tie handling: after the W1 ``rank()==1`` dedup a key can still carry several
rows at the max version (delete marker kept next to the final data row —
reference comment at ``models/batches/SynapseLink.scala:77``). SQL MERGE
would reject multi-matches, so this operator collapses ties
deterministically: a delete marker wins, then the remaining columns in
ascending order (see ``_collapse_ties``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from arcane_framework_scala_spark.queries.merge import (
    MergeDialect,
    SOURCE_ALIAS,
    TARGET_ALIAS,
)
from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN
from arcane_framework_scala_spark.schema.sql_types import quote_ident as q


def _cond(sql: str | None, default: str) -> str:
    """A dialect clause condition as a parenthesized SQL fragment, or
    ``default`` when the clause is unconditional."""
    return f"({sql})" if sql else default


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
    special = {merge_key.lower(), dialect.version_column.lower()}
    primary = [
        f"coalesce(CAST({_cond(dialect.delete_condition, 'false')} AS INT), 0) DESC",
        f"{q(dialect.version_column)} DESC",
    ]
    if version_first:
        primary.reverse()
    order = ", ".join(
        [*primary, *(f"{q(c)} ASC NULLS FIRST" for c in source.columns if c.lower() not in special)]
    )
    return (
        source.alias(SOURCE_ALIAS)
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {q(merge_key)} ORDER BY {order}) AS __arcane_rn",
        )
        .where("__arcane_rn = 1")
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
    # columns match by name without regard to case, as the MERGE SQL
    # resolves them
    source_cols = {c.lower(): c for c in source.columns}
    # W1 dedup + tie collapse fuse into one window pass (version-first
    # ordering); see _collapse_ties. latest_version_per_key stays the
    # standalone W1 operator for pipelines that want WITH-TIES semantics.
    source = _collapse_ties(source, dialect, merge_key, version_first=deduplicate)

    t_key = f"{TARGET_ALIAS}.{q(merge_key)}"
    s_key = f"{SOURCE_ALIAS}.{q(merge_key)}"
    matched = f"({t_key} IS NOT NULL AND {s_key} IS NOT NULL)"
    source_only = f"({t_key} IS NULL AND {s_key} IS NOT NULL)"
    delete_c = _cond(dialect.delete_condition, "false")
    update_c = _cond(dialect.update_condition, "true")
    insert_c = _cond(dialect.insert_condition, "true")
    kept = (
        f"{s_key} IS NULL"
        f" OR ({matched} AND NOT coalesce({delete_c}, false))"
        f" OR ({source_only} AND coalesce({insert_c}, true))"
    )
    use_source = f"({matched} AND coalesce({update_c}, false)) OR {source_only}"
    # a target column the batch lacks keeps its value on update (MERGE
    # never assigns it) and is NULL on insert (the target side of a
    # source-only row is all NULL)
    projection = []
    for name in target.columns:
        t_val = f"{TARGET_ALIAS}.{q(name)}"
        s_name = source_cols.get(name.lower())
        value = (
            t_val
            if s_name is None
            else f"CASE WHEN {use_source} THEN {SOURCE_ALIAS}.{q(s_name)} ELSE {t_val} END"
        )
        projection.append(f"{value} AS {q(name)}")
    return (
        target.alias(TARGET_ALIAS)
        .join(source.alias(SOURCE_ALIAS), F.expr(f"{t_key} = {s_key}"), "full_outer")
        .where(kept)
        .selectExpr(*projection)
    )
