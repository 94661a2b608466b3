"""Shared gate scaffolding: session hardening, table readers, CDC
change-feed builders (split from ``__spark_entry__.py``)."""


from __future__ import annotations

import os
import sys
from collections.abc import Callable

# repo root on sys.path: gates/__init__.py handles it on package import

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from arcane_framework_scala_spark.functions.merge_key import (
    blob_merge_key,
    mssql_merge_key,
    mssql_merge_key_sql,
    blob_merge_key_sql,
)
from arcane_framework_scala_spark.functions import dedup as dd
from arcane_framework_scala_spark.functions import similarity as sim
from arcane_framework_scala_spark.functions import text as tx
from arcane_framework_scala_spark.functions import corpus as cx
from arcane_framework_scala_spark.functions import kmeans as km
from arcane_framework_scala_spark.functions import semdedup as sd
from arcane_framework_scala_spark.functions import classifier as clf
from arcane_framework_scala_spark.functions import web as web
from arcane_framework_scala_spark.functions import line_dedup as ld
from arcane_framework_scala_spark.operators.dedup_window import (
    backfill_commit_dedup,
    latest_version_per_key,
)
from arcane_framework_scala_spark.operators.field_filter import (
    FieldSelectionRule,
    apply_field_selection,
)
from arcane_framework_scala_spark.operators.event_windows import (
    sessionize,
    sessionize_sql,
    tumbling_window,
    tumbling_window_sql,
    windowed_event_stats,
)
from arcane_framework_scala_spark.operators.merge_apply import merge_apply
from arcane_framework_scala_spark.operators import resample as resample_mod
from arcane_framework_scala_spark.functions import stats as stats_mod
from arcane_framework_scala_spark.functions import lm as lm_mod
from arcane_framework_scala_spark.functions import layout as layout_mod
from arcane_framework_scala_spark.functions import bloom as bloom_mod
from arcane_framework_scala_spark.functions import pq as pq_mod
from arcane_framework_scala_spark.functions import bpe as bpe_mod
from arcane_framework_scala_spark.functions import projection as projection_mod
from arcane_framework_scala_spark.functions import graph as graph_mod
from arcane_framework_scala_spark.operators import analytics as analytics_mod
from arcane_framework_scala_spark.plans import advisor as advisor_mod
from arcane_framework_scala_spark.plans import profile as profile_mod
from arcane_framework_scala_spark.queries.merge import (
    SQL_SERVER_CHANGE_TRACKING,
    SYNAPSE_LINK,
    UPSERT_BLOB,
)
from arcane_framework_scala_spark.schema.normalize import normalize_columns
from arcane_framework_scala_spark.session import use_javaext


def _harden_session(spark: SparkSession) -> None:
    """The driver runs these queries in a bare SparkSession it builds
    itself, without the configs from
    arcane_framework_scala_spark.session.get_session. Set the two
    runtime-settable confs the queries depend on: older testdata drops
    store events.ts as TIMESTAMP(NANOS) (rejected without nanosAsLong),
    and timestamp parsing / epoch extraction must be TZ-stable (UTC) to
    match the DuckDB oracles."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _harden_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (read: int64 nanos) and
        # as TIMESTAMP(MICROS)/timestamp_ntz across testdata drops; the
        # engine's canonical event time is int64 epoch nanos (exact int
        # arithmetic, DuckDB twin epoch_ns(ts)) — normalize here so every
        # query sees one representation
        from arcane_framework_scala_spark.operators.event_windows import (
            ensure_epoch_ns,
        )

        df = ensure_epoch_ns(df, "ts")
    return df


# ---------------------------------------------------------------------------
# CDC change-feed builders (deterministic simulations of S1/S6/S8 output)
# ---------------------------------------------------------------------------

def _events_threshold(spark: SparkSession, sf_dir: str) -> int:
    # integer floor division on BOTH engines: DuckDB's float '/' + CAST
    # rounds-to-nearest while Spark's cast truncates, so `div`/`//` is the
    # only scale-stable choice (diverges whenever max(event_id) % 5 ∈ {1,3})
    ev = _read(spark, sf_dir, "events")
    return ev.agg(F.expr("(max(event_id) * 6) div 10")).first()[0]


_THR_SQL = "SELECT max(event_id) * 6 // 10 AS v FROM events"


def _mssql_changes(spark, sf_dir, lower=None, upper=None) -> DataFrame:
    """S1-shaped change feed: PK hash + SYS_CHANGE_VERSION/OPERATION."""
    ev = _read(spark, sf_dir, "events")
    if lower is not None:
        ev = ev.filter(F.col("event_id") > lower)
    if upper is not None:
        ev = ev.filter(F.col("event_id") <= upper)
    return ev.select(
        mssql_merge_key("user_id").alias("ARCANE_MERGE_KEY"),
        F.col("event_id").alias("SYS_CHANGE_VERSION"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "SYS_CHANGE_OPERATION"
        ),
        "user_id",
        "event_type",
        "value",
    )


def _mssql_changes_sql(pred: str = "TRUE") -> str:
    return f"""
SELECT {mssql_merge_key_sql('user_id')} AS "ARCANE_MERGE_KEY",
       event_id AS "SYS_CHANGE_VERSION",
       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS "SYS_CHANGE_OPERATION",
       user_id, event_type, value
FROM events, ({_THR_SQL}) thr WHERE {pred}
"""


def _synapse_changes(spark, sf_dir) -> DataFrame:
    """S6-shaped CDM change feed: Id merge key, versionnumber, IsDelete."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("ARCANE_MERGE_KEY"),
        F.col("user_id").cast("string").alias("Id"),
        F.col("event_id").alias("versionnumber"),
        (F.col("event_type") == "error").alias("IsDelete"),
        "event_type",
        "value",
    )


_SYNAPSE_CHANGES_SQL = """
SELECT CAST(user_id AS VARCHAR) AS "ARCANE_MERGE_KEY",
       CAST(user_id AS VARCHAR) AS "Id",
       event_id AS versionnumber,
       event_type = 'error' AS "IsDelete",
       event_type, value
FROM events
"""


def _lineitem_enriched(spark, sf_dir) -> DataFrame:
    """S8+P4: blob parquet scan enriched with merge key + version."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        blob_merge_key("l_orderkey", "l_linenumber").alias("ARCANE_MERGE_KEY"),
        F.lit(100).cast("long").alias("createdon"),
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
    )


_LINEITEM_ENRICHED_SQL = f"""
SELECT {blob_merge_key_sql('l_orderkey', 'l_linenumber')} AS "ARCANE_MERGE_KEY",
       CAST(100 AS BIGINT) AS createdon,
       l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
"""




def _docs_with_urls(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return web.url_canonicalize(
        docs.withColumn("url", web.synthetic_url_column())
    )


def _fresh_mem_table(spark, table: str) -> str:
    """Load the javaext jar, register its MemCatalog as ``arcm`` and
    drop ``table`` (an ``arcm.`` name) left by an earlier run."""
    use_javaext(spark)
    spark.conf.set("spark.sql.catalog.arcm", "arcanespark.mem.MemCatalog")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    return table


#: chained-star-import contract: export EVERYTHING (incl. _helpers)
__all__ = [n for n in list(globals()) if not n.startswith("__")]
