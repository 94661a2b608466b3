"""Blob source tests: S9 JSON (root pointer + array explode), S10 CSV,
and the T2 table-property watermark store (production progress path)."""

import json

import pytest

from arcane_framework_scala_spark.sources.blob import BlobCsvSource, BlobJsonSource
from arcane_framework_scala_spark.streaming.watermark import (
    TablePropertyWatermarkStore,
    Watermark,
)


def test_json_source_plain(spark, tmp_path):
    src = tmp_path / "json"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"id": 1, "name": "x"}, {"id": 2, "name": "y"}]
        )
    )
    source = BlobJsonSource(
        spark=spark,
        path=str(src),
        primary_keys=["id"],
        schema="id long, name string",
    )
    batches = list(source.changes(None))
    assert len(batches) == 1
    rows = {r["id"]: r for r in batches[0].df.collect()}
    assert rows[1]["name"] == "x"
    assert rows[1]["ARCANE_MERGE_KEY"] is not None
    assert rows[1]["createdon"] > 0


def test_json_source_root_pointer_and_explode(spark, tmp_path):
    """S9: relocate the record root (JSON pointer) and explode a nested
    array with field renaming (JsonScanner.scala:20-163 semantics)."""
    src = tmp_path / "json2"
    src.mkdir()
    payload = {
        "payload": {
            "after": {
                "id": 7,
                "items": [
                    {"sku": "a", "qty": 1},
                    {"sku": "b", "qty": 2},
                ],
            }
        }
    }
    (src / "x.jsonl").write_text(json.dumps(payload))
    source = BlobJsonSource(
        spark=spark,
        path=str(src),
        primary_keys=["id"],
        schema=(
            "payload struct<after: struct<id: long, "
            "items: array<struct<sku: string, qty: long>>>>"
        ),
        root_pointer="payload.after",
        array_pointer=("items", "item_"),
    )
    batches = list(source.changes(None))
    rows = sorted(batches[0].df.collect(), key=lambda r: r["item_sku"])
    assert [r["item_sku"] for r in rows] == ["a", "b"]
    assert rows[0]["id"] == 7 and rows[0]["item_qty"] == 1
    assert rows[0]["ARCANE_MERGE_KEY"] == rows[1]["ARCANE_MERGE_KEY"]


def test_csv_source(spark, tmp_path):
    src = tmp_path / "csv"
    src.mkdir()
    (src / "f.csv").write_text('id,note\n1,"hello, quoted"\n2,plain\n')
    source = BlobCsvSource(
        spark=spark, path=str(src), primary_keys=["id"], header=True
    )
    rows = {r["id"]: r for r in next(iter(source.changes(None))).df.collect()}
    assert rows["1"]["note"] == "hello, quoted"


def test_table_property_watermark_roundtrip(spark, tmp_path):
    """T2 production path: watermark JSON in the target table's `comment`
    property, byte-parity with the reference's progress store."""
    spark.sql("DROP TABLE IF EXISTS wm_target")
    spark.sql("CREATE TABLE wm_target (k string, v long) USING parquet")
    spark.sql("INSERT INTO wm_target VALUES ('a', 1)")
    try:
        store = TablePropertyWatermarkStore(spark=spark, table="wm_target")
        assert store.read() is None
        wm = Watermark.now(version="12345", prefix="2025-09-01T00.00.00Z/")
        store.commit(wm)
        got = store.read()
        assert got is not None
        assert got.version == "12345"
        assert got.prefix == "2025-09-01T00.00.00Z/"
        # overwrite advances in place
        store.commit(Watermark.now(version="12346"))
        assert store.read().version == "12346"
    finally:
        spark.sql("DROP TABLE IF EXISTS wm_target")


def test_one_listing_per_poll(spark, tmp_path, monkeypatch):
    """The runner's T1 head probe and the changes() call of the same
    poll share one bucket listing; a changes() with no probe before it
    lists on its own."""
    import os

    from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.sources import blob
    from arcane_framework_scala_spark.streaming.runner import StreamRunner
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
    )

    listings = []
    real = blob._list_files

    def counted(spark_, path):
        listings.append(path)
        return real(spark_, path)

    monkeypatch.setattr(blob, "_list_files", counted)
    bucket = tmp_path / "csv"
    bucket.mkdir()

    def land(name, rows, second):
        p = bucket / name
        p.write_text("id,name\n" + "\n".join(f"{i},{n}" for i, n in rows))
        os.utime(p, (second, second))

    source = BlobCsvSource(
        spark=spark, path=str(bucket), primary_keys=["id"], schema="id long, name string"
    )
    runner = StreamRunner(
        source=source,
        sink=MergeSink(
            target=SnapshotParquetTarget(spark, str(tmp_path / "target")),
            dialect=UPSERT_BLOB,
        ),
        watermark_store=FileWatermarkStore(str(tmp_path / "wm.json")),
    )
    per_poll = []

    def poll():
        before = len(listings)
        per_poll.append((runner.run_once(), len(listings) - before))

    land("a.csv", [(1, "x"), (2, "y")], 1_000)
    poll()  # no watermark yet: changes() lists on its own
    land("b.csv", [(2, "z")], 2_000)
    poll()  # probe sees a new head, changes() reuses its listing
    poll()  # idle: the probe alone
    assert per_poll == [(1, 1), (1, 1), (0, 1)]
    assert runner.store.read().version == "2000"
    rows = {r["id"]: r["name"] for r in runner.sink.target.read().collect()}
    assert rows == {1: "x", 2: "z"}
    # the idle probe's listing serves the next changes(); a changes()
    # with no probe before it lists for itself
    assert len(list(source.changes(None))) == 1 and len(listings) == 3
    assert len(list(source.changes(None))) == 1 and len(listings) == 4
