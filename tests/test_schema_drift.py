"""T8 schema-drift tests: per-batch source schema changes migrate the
target (missing columns appended as nulls) before the merge — reference
``SchemaMigrationProcessor.scala:24-50`` / ``IcebergEntityManager.scala:
91-114``."""

import pyspark.sql.functions as F

from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)


def _batch(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_source_only_column_migrates_into_target(spark, tmp_path):
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=UPSERT_BLOB)

    sink.apply(
        _batch(
            spark,
            [("k1", 1, "alpha")],
            "ARCANE_MERGE_KEY string, createdon long, name string",
        )
    )
    assert target.read().columns == ["ARCANE_MERGE_KEY", "createdon", "name"]

    # batch 2 arrives with an extra column (drifted source schema)
    sink.apply(
        _batch(
            spark,
            [("k2", 2, "beta", 42.0)],
            "ARCANE_MERGE_KEY string, createdon long, name string, score double",
        )
    )
    out = {r["ARCANE_MERGE_KEY"]: r for r in target.read().collect()}
    assert set(target.read().columns) == {
        "ARCANE_MERGE_KEY", "createdon", "name", "score",
    }
    assert out["k1"]["score"] is None  # pre-drift row null-filled
    assert out["k2"]["score"] == 42.0


def test_drifted_update_overwrites_matched_row(spark, tmp_path):
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=UPSERT_BLOB)
    sink.apply(
        _batch(spark, [("k1", 1, "v1")], "ARCANE_MERGE_KEY string, createdon long, v string")
    )
    sink.apply(
        _batch(
            spark,
            [("k1", 5, "v2", True)],
            "ARCANE_MERGE_KEY string, createdon long, v string, flag boolean",
        )
    )
    row = target.read().first()
    assert row["v"] == "v2" and row["flag"] is True and row["createdon"] == 5


def test_drift_check_matches_columns_without_regard_to_case(spark, tmp_path):
    """A batch column that differs from a target column only in case is
    not drift: the target keeps its one ``region`` column and its
    existing values, and the batch's ``REGION`` values merge into it."""
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=UPSERT_BLOB)
    sink.apply(
        _batch(
            spark,
            [("k1", 1, "eu"), ("k2", 1, "us")],
            "ARCANE_MERGE_KEY string, createdon long, region string",
        )
    )
    sink.apply(
        _batch(
            spark,
            [("k1", 2, "apac")],
            "ARCANE_MERGE_KEY string, createdon long, REGION string",
        )
    )
    out = target.read()
    assert out.columns == ["ARCANE_MERGE_KEY", "createdon", "region"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("k1", 2, "apac"), ("k2", 1, "us"),
    ]
