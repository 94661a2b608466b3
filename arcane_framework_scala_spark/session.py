"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (100 TB-class inputs); the defaults here
enable AQE (runtime re-planning, skew-join splitting, partition coalescing)
and Arrow for the pandas-UDF operators. Tests/bench run the same configs on
``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale: AQE fixes small/skewed shuffle partitions at
# runtime, so a generous static shuffle partition count is safe; Arrow makes
# the pandas-UDF operators batch-transfer instead of pickling rows.
SCALE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # driver testdata stores event timestamps as TIMESTAMP(NANOS); Spark has
    # no nanos timestamp — surface them as long nanoseconds
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # timestamps in the CDC model are UTC wall-clock (reference converts JDBC
    # timestamps to UTC LocalDateTime, MsSqlExtensions.scala:19-23)
    "spark.sql.session.timeZone": "UTC",
}


def get_session(
    app_name: str = "arcane-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entrypoint works on a laptop, in CI, and (with ``master`` passed by
    the launcher) on a real cluster.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(SCALE_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: The javaext jar: the in-memory MERGE-capable catalog (``MemCatalog``)
#: and the deletion-vector codec UDFs (``DvDiffUdf`` / ``DvBuildUdf``).
#: It is read from ``javaext/`` in the checkout; ``javaext/build.sh``
#: rebuilds it.
JAVAEXT_JAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "javaext",
    "mem-catalog.jar",
)


def use_javaext(spark: SparkSession) -> None:
    """Put :data:`JAVAEXT_JAR` on the session's classpath, once per
    session: a jar already listed by the context (``spark.jars`` at
    start-up, or an earlier call) is not added again. Raises
    ``FileNotFoundError`` when the jar is missing."""
    from urllib.parse import unquote

    from arcane_framework_scala_spark.sources.paths import _sql_str_literal

    jar = JAVAEXT_JAR
    name = os.path.basename(jar)
    listed = spark.sparkContext._jsc.sc().listJars().mkString("\n")
    if any(unquote(u).rsplit("/", 1)[-1] == name for u in listed.split("\n")):
        return
    if not os.path.isfile(jar):
        raise FileNotFoundError(
            f"{jar} is missing; build it with javaext/build.sh"
        )
    spark.sql(f"ADD JAR {_sql_str_literal(jar)}")
