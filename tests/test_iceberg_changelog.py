"""Incremental Iceberg changelog (r11): manifest-derived per-commit
inserts/deletes — the O(|delta|) twin of delta_cdf, replacing the
O(table) key-based snapshot diff for IVM feeds."""

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.sinks.merge_sink import (
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources import delta_cdf as dcdf
from arcane_framework_scala_spark.sources import iceberg_mor as im
from arcane_framework_scala_spark.sources import iceberg_reader as ir


BASE = [(i, "a" if i % 2 else "b", i * 10) for i in range(12)]


def _table(spark, tmp_path):
    t = SnapshotParquetTarget(spark, str(tmp_path / "pub"))
    t.overwrite(
        spark.createDataFrame(BASE, "k long, g string, n long").repartition(2)
    )
    out = str(tmp_path / "ice")
    assert ir.export_iceberg(t, out) == 1
    return out


def _snap_ids(out):
    return [s["snapshot-id"] for s in ir.snapshot_log(out)]


def _changes(spark, out, frm, to):
    return {
        (r.k, r.g, r.n, r["_change_type"], r["_commit_version"])
        for r in im.iceberg_changelog(spark, out, frm, to).collect()
    }


def test_changelog_pos_delete_append_eq_delete(spark, tmp_path):
    out = _table(spark, tmp_path)
    assert im.commit_position_deletes(spark, out, "k < 3") == 2
    assert (
        im.append_rows(
            spark,
            out,
            spark.createDataFrame([(100, "c", 7)], "k long, g string, n long"),
        )
        == 3
    )
    assert (
        im.commit_equality_deletes(
            spark, out, spark.createDataFrame([(5,), (100,)], "k long"), ["k"]
        )
        == 4
    )
    ids = _snap_ids(out)
    got = _changes(spark, out, ids[0], ids[-1])
    want = {(k, g, n, "delete", 2) for k, g, n in BASE if k < 3}
    want |= {(100, "c", 7, "insert", 3)}
    # strict eq visibility: k=5 (seq 1) goes; k=100 (seq 3 < 4) goes too
    want |= {(5, "a", 50, "delete", 4)}
    # k=100 was inserted at seq 3 and eq-deleted at 4 — both rows appear
    # (the feed is additive; net effect is zero for that key)
    want |= {(100, "c", 7, "delete", 4)}
    assert got == want

    # the feed folds into the final state via the CDF->diff adapter
    boot = ir.read_iceberg(spark, out, snapshot_id=ids[0])
    feed = im.iceberg_changelog(spark, out, ids[0], ids[-1])
    diff = dcdf.cdf_to_diff(feed, keys=["k"])
    from arcane_framework_scala_spark.operators.ivm import (
        apply_group_delta,
        group_delta,
        group_stats_bootstrap,
    )

    view = apply_group_delta(
        group_stats_bootstrap(boot, "g", "n"),
        group_delta(diff, "g", "n"),
        "g",
    )
    fresh = group_stats_bootstrap(ir.read_iceberg(spark, out), "g", "n")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0


def test_changelog_overlapping_pos_deletes_emit_only_new_rows(
    spark, tmp_path
):
    out = _table(spark, tmp_path)
    assert im.commit_position_deletes(spark, out, "k < 3") == 2
    assert im.commit_position_deletes(spark, out, "k < 5") == 3
    ids = _snap_ids(out)
    got = _changes(spark, out, ids[1], ids[2])
    assert got == {
        (k, g, n, "delete", 3) for k, g, n in BASE if 3 <= k < 5
    }


def test_changelog_skips_replace_compaction(spark, tmp_path):
    out = _table(spark, tmp_path)
    assert im.commit_position_deletes(spark, out, "k = 0") == 2
    assert im.rewrite_data_files(spark, out) == 3
    ids = _snap_ids(out)
    # the compaction snapshot contributes nothing
    assert (
        im.iceberg_changelog(spark, out, ids[1], ids[2]).count() == 0
    )
    # and a post-compaction delete still feeds correctly
    assert im.commit_position_deletes(spark, out, "k = 4") == 4
    ids = _snap_ids(out)
    got = _changes(spark, out, ids[1], ids[-1])
    assert got == {(4, "b", 40, "delete", 4)}


def test_changelog_empty_range_raises(spark, tmp_path):
    out = _table(spark, tmp_path)
    ids = _snap_ids(out)
    with pytest.raises(ir.IcebergError, match="empty changelog"):
        im.iceberg_changelog(spark, out, ids[0], ids[0])


def test_stream_runner_polls_an_iceberg_cdc_source(spark, tmp_path):
    """r11: an Iceberg table in the CHANGETABLE seat — the polling
    pipeline (StreamRunner, version-guarded MERGE dialect, watermark
    store) replicates the table into another target off the
    incremental changelog: first poll backfills the snapshot, an idle
    poll advances nothing, and a position-delete + append commit
    arrives as one CDC batch."""

    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )
    from arcane_framework_scala_spark.streaming import (
        StreamRunner,
        StreamSettings,
    )
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
    )

    out = _table(spark, tmp_path)
    target = SnapshotParquetTarget(spark, str(tmp_path / "tgt"))
    runner = StreamRunner(
        source=im.IcebergCdcSource(spark, out, keys=["k"]),
        sink=MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING),
        watermark_store=FileWatermarkStore(str(tmp_path / "wm.json")),
        settings=StreamSettings(poll_interval_seconds=0.01),
    )
    # poll 1: backfill — the whole snapshot as U rows
    assert runner.run_once() == 1
    got = {(r.k, r.g, r.n) for r in target.read().collect()}
    assert got == set(BASE)

    # poll 2: idle — no new snapshot, no batch
    assert runner.run_once() == 0

    # poll 3: a MoR position delete, an equality delete and an append,
    # one batch covering all three commits
    im.commit_position_deletes(spark, out, "k < 2")
    im.commit_equality_deletes(
        spark, out, spark.createDataFrame([(5,)], "k long"), ["k"]
    )
    im.append_rows(
        spark,
        out,
        spark.createDataFrame([(300, "z", 1)], "k long, g string, n long"),
    )
    assert runner.run_once() == 1
    got = {(r.k, r.g, r.n) for r in target.read().collect()}
    want = {(k, g, n) for k, g, n in BASE if k >= 2 and k != 5}
    want |= {(300, "z", 1)}
    assert got == want

    # replaying the same batch is a version-guarded no-op: reset the
    # watermark to the pre-batch snapshot and poll again
    from arcane_framework_scala_spark.streaming.watermark import Watermark

    ids = _snap_ids(out)
    FileWatermarkStore(str(tmp_path / "wm.json")).commit(
        Watermark.now(version=f"1:{ids[0]}")
    )
    assert runner.run_once() == 1
    got2 = {(r.k, r.g, r.n) for r in target.read().collect()}
    assert got2 == want


def test_streaming_maintainer_runs_off_an_iceberg_changelog_target(
    spark, tmp_path
):
    """r11: the full IVM runtime (durable synced version, versioned
    crash-exactly-once state MERGE) drives off an Iceberg table
    through IcebergChangelogTarget — position delete, equality delete
    and append all flow through the per-commit changelog feed,
    O(|delta|) per sync; versions are sequence numbers."""

    from arcane_framework_scala_spark.operators import ivm

    out = _table(spark, tmp_path)
    state = "arcm.test.ice_changelog_state"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(
        f"CREATE TABLE {state} "
        "(g STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT, "
        "last_v BIGINT) USING mem"
    )
    target = im.IcebergChangelogTarget(spark, out, keys=["k"])
    m = ivm.StreamingViewMaintainer(
        target, group_col="g", size_col="n", state_table=state
    )
    assert m._versioned
    m.sync()  # bootstrap at sequence 1

    im.commit_position_deletes(spark, out, "k in (2, 4)")
    im.commit_equality_deletes(
        spark, out, spark.createDataFrame([(7,)], "k long"), ["k"]
    )
    im.append_rows(
        spark,
        out,
        spark.createDataFrame([(200, "c", 9)], "k long, g string, n long"),
    )
    m.sync()
    fresh = ivm.group_stats_bootstrap(ir.read_iceberg(spark, out), "g", "n")
    view = m.view().select("g", "docs", "sum_size", "nn_size")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0
    # resumed maintainer restores the durable version and is a no-op
    m2 = ivm.StreamingViewMaintainer(
        target, group_col="g", size_col="n", state_table=state
    )
    assert m2.synced_version == m.synced_version
    m2.sync()
    assert m2.deltas_applied == 0
    spark.sql(f"DROP TABLE IF EXISTS {state}")


def test_iceberg_cdc_source_version_cap_slices_the_backlog(spark, tmp_path):
    """max_versions_per_batch on the Iceberg side: three commits land
    as three bounded micro-batches in one poll, each watermark a real
    snapshot id at its sequence."""
    out = _table(spark, tmp_path)
    assert im.commit_position_deletes(spark, out, "k = 0") == 2
    assert im.commit_equality_deletes(
        spark, out, spark.createDataFrame([(5,)], "k long"), ["k"]
    ) == 3
    assert im.append_rows(
        spark, out,
        spark.createDataFrame([(400, "q", 4)], "k long, g string, n long"),
    ) == 4
    ids = _snap_ids(out)
    source = im.IcebergCdcSource(
        spark, out, keys=["k"], max_versions_per_batch=1
    )
    batches = list(source.changes({"version": f"1:{ids[0]}"}))
    assert [b.watermark["version"] for b in batches] == [
        f"2:{ids[1]}", f"3:{ids[2]}", f"4:{ids[3]}",
    ]
    assert all(b.units == 1 for b in batches)
    ops0 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[0].df.collect()}
    assert ops0 == {(0, "D")}
    ops1 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[1].df.collect()}
    assert ops1 == {(5, "D")}
    ops2 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[2].df.collect()}
    assert ops2 == {(400, "U")}
    # a cap of 2 takes the first two commits in one slice
    source2 = im.IcebergCdcSource(
        spark, out, keys=["k"], max_versions_per_batch=2
    )
    b2 = list(source2.changes({"version": f"1:{ids[0]}"}))
    assert [b.watermark["version"] for b in b2] == [
        f"3:{ids[2]}", f"4:{ids[3]}",
    ]
    assert [b.units for b in b2] == [2, 1]
