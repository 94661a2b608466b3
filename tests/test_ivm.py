"""Unit tests for CDF-driven incremental view maintenance
(operators/ivm.py): inserts, deletes, group-moving updates, and
count-to-zero group removal must all land the maintained view exactly on
a from-scratch groupBy."""

import pyspark.sql.functions as F

from arcane_framework_scala_spark.operators import ivm
from arcane_framework_scala_spark.operators.diff import snapshot_diff


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "k long, host string, n long")


def _stats(df):
    return ivm.group_stats_bootstrap(df, "host", "n")


def _as_dict(df):
    return {r["host"]: (r["docs"], r["sum_size"]) for r in df.collect()}


def test_ivm_matches_recompute_through_mixed_delta(spark):
    before = _tbl(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)])
    after = _tbl(
        spark,
        [
            (1, "a", 11),   # in-group update (size 10 -> 11)
            (2, "c", 20),   # group-moving update (a -> c)
            (4, "b", 7),    # insert
            # key 3 deleted
        ],
    )
    cdf = snapshot_diff(before, after, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == _as_dict(_stats(after))
    assert _as_dict(maintained) == {"a": (1, 11), "b": (1, 7), "c": (1, 20)}


def test_ivm_drops_groups_that_reach_zero(spark):
    before = _tbl(spark, [(1, "solo", 9)])
    after = _tbl(spark, [(2, "other", 1)])
    cdf = snapshot_diff(before, after, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == {"other": (1, 1)}


def test_ivm_noop_delta_is_identity(spark):
    before = _tbl(spark, [(1, "a", 10), (2, "b", 20)])
    cdf = snapshot_diff(before, before, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == _as_dict(_stats(before))


def test_ivm_null_group_key_is_one_group(spark):
    before = spark.createDataFrame(
        [(1, None, 10), (2, "b", 20)], "k long, host string, n long"
    )
    after = spark.createDataFrame(
        [(1, None, 10), (2, "b", 20), (3, None, 7)],
        "k long, host string, n long",
    )
    cdf = snapshot_diff(before, after, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == _as_dict(_stats(after))
    assert _as_dict(maintained)[None] == (2, 17)


def test_ivm_all_null_sums_stay_null_like_a_fresh_groupby(spark):
    before = spark.createDataFrame(
        [(1, "a", None)], "k long, host string, n long"
    )
    after = spark.createDataFrame(
        [(1, "a", None), (2, "a", None)], "k long, host string, n long"
    )
    cdf = snapshot_diff(before, after, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == _as_dict(_stats(after)) == {"a": (2, None)}


def test_ivm_sum_returns_to_null_when_last_nonnull_size_deleted(spark):
    """Additive state alone cannot do this: a group holding [10, NULL]
    whose size-10 row is deleted must read sum_size=NULL (what a fresh
    groupBy of the remaining NULL-size row produces), not 0 — the
    nn_size auxiliary decides."""
    before = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None)], "k long, host string, n long"
    )
    after = spark.createDataFrame(
        [(2, "a", None)], "k long, host string, n long"
    )
    cdf = snapshot_diff(before, after, keys=["k"])
    maintained = ivm.apply_group_delta(
        _stats(before), ivm.group_delta(cdf, "host", "n"), "host"
    )
    assert _as_dict(maintained) == _as_dict(_stats(after)) == {"a": (1, None)}
    # and the sum comes BACK from NULL when a non-NULL size re-appears
    again = spark.createDataFrame(
        [(2, "a", None), (3, "a", 7)], "k long, host string, n long"
    )
    maintained2 = ivm.apply_group_delta(
        maintained, ivm.group_delta(snapshot_diff(after, again, keys=["k"]),
                                    "host", "n"), "host"
    )
    assert _as_dict(maintained2) == _as_dict(_stats(again)) == {"a": (2, 7)}


def _merge_state(spark, table, delta):
    from arcane_framework_scala_spark.operators.ivm import (
        group_state_merge_sql,
    )

    delta.createOrReplaceTempView("__ivm_delta")
    try:
        spark.sql(group_state_merge_sql(table, "__ivm_delta"))
    finally:
        spark.catalog.dropTempView("__ivm_delta")


def test_group_state_merge_matches_dataframe_path(spark):
    """The MERGE-maintained state table must land exactly where
    apply_group_delta lands: additive update, delete-at-zero,
    insert-positive, retraction-for-unknown-group is a no-op."""

    table = "arcm.test.ivm_state"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} "
        "(host STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT) "
        "USING mem"
    )

    before = _tbl(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 5)])
    after = _tbl(spark, [(1, "a", 11), (2, "c", 20), (4, "d", 7)])
    # bootstrap: wave-1 state as an all-insert delta
    boot = _stats(before).select(
        "host",
        F.col("docs").alias("d_docs"),
        F.col("sum_size").alias("d_size"),
        F.col("nn_size").alias("d_nn"),
    )
    _merge_state(spark, table, boot)
    # wave 2: mixed insert/delete/group-move delta, plus a retraction
    # for a group the table never held (must be a no-op)
    cdf = snapshot_diff(before, after, keys=["k"])
    delta = ivm.group_delta(cdf, "host", "n").unionByName(
        spark.createDataFrame(
            [("ghost", -3, -99, -3)],
            "host string, d_docs long, d_size long, d_nn long",
        )
    )
    _merge_state(spark, table, delta)

    got = {
        r["host"]: (r["docs"], r["sum_size"])
        for r in spark.table(table).collect()
    }
    assert got == _as_dict(_stats(after))
    assert "b" not in got and "ghost" not in got


def test_streaming_maintainer_state_table_branch(spark, tmp_path):
    """StreamingViewMaintainer with state_table persists through the
    generated MERGE instead of an in-memory frame — same landing as the
    DataFrame branch, durable across maintainer restarts."""

    import pytest

    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )

    state = "arcm.test.maintainer_state"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(
        f"CREATE TABLE {state} "
        "(host STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT) "
        "USING mem"
    )
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    m = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10), ("k2", 2, "U", "b", 5)], schema))
    m.sync()
    sink.apply(spark.createDataFrame(
        [("k1", 3, "U", "c", 11), ("k3", 4, "U", "b", 7)], schema))
    # a RESTARTED maintainer restores the synced version from the state
    # table's TBLPROPERTIES — no hand-off, no re-bootstrap double-count
    m2 = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert m2.synced_version == m.synced_version
    m2.sync()
    assert m2.bootstraps == 0  # resumed incrementally
    got = {
        r["host"]: (r["docs"], r["sum_size"])
        for r in m2.view().select("host", "docs", "sum_size").collect()
    }
    assert got == {"b": (2, 12), "c": (1, 11)}  # k1 moved a -> c

    # a recorded version AHEAD of the target (stale state from a wiped/
    # rolled-back table lifetime) must raise, never rewind-and-corrupt
    spark.sql(
        f"ALTER TABLE {state} SET TBLPROPERTIES "
        f"('{ivm.StreamingViewMaintainer.SYNC_PROPERTY}'='99')"
    )
    ahead = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert ahead.synced_version == 99
    with pytest.raises(ValueError, match="different table lifetime"):
        ahead.sync()

    # crash MID catch-up: the synced version is recorded per merged
    # delta (the MERGE is additive, not idempotent), so a resumed
    # maintainer skips the already-applied delta instead of re-merging
    spark.sql(  # restore the TRUE state version (m2 synced through v2)
        f"ALTER TABLE {state} SET TBLPROPERTIES "
        f"('{ivm.StreamingViewMaintainer.SYNC_PROPERTY}'"
        f"='{m2.synced_version}')"
    )
    sink.apply(spark.createDataFrame([("k5", 5, "U", "d", 3)], schema))
    sink.apply(spark.createDataFrame([("k6", 6, "U", "d", 4)], schema))
    crasher = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    real_changes = target.changes
    first_new = crasher.synced_version + 1

    def explode_on_second(v_from, v_to, keys=None):
        if v_to > first_new:
            raise RuntimeError("boom mid catch-up")
        return real_changes(v_from, v_to, keys)

    target.changes = explode_on_second
    with pytest.raises(RuntimeError, match="boom"):
        crasher.sync()
    target.changes = real_changes
    assert crasher.synced_version == first_new  # first delta recorded
    resumed = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert resumed.synced_version == first_new
    resumed.sync()
    fresh = ivm.group_stats_bootstrap(target.read(), "host", "n")
    view = resumed.view().select("host", "docs", "sum_size", "nn_size")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {state}")


def test_streaming_maintainer_refuses_unversioned_populated_state(
    spark, tmp_path
):
    """A populated state table WITHOUT the recorded version must refuse
    to bootstrap (merging a bootstrap onto live rows doubles counts)."""

    import pytest

    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )

    state = "arcm.test.maint_noversion"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(
        f"CREATE TABLE {state} "
        "(host STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT) "
        "USING mem"
    )
    spark.sql(f"INSERT INTO {state} VALUES ('a', 1, 10, 1)")
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10)],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long",
    ))
    m = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert m.synced_version is None
    with pytest.raises(ValueError, match="double-count"):
        m.sync()
    spark.sql(f"DROP TABLE IF EXISTS {state}")


def test_versioned_state_table_survives_crash_between_merge_and_record(
    spark, tmp_path
):
    """r10 (VERDICT r9 item 6): with a ``last_v`` column the state MERGE
    is IDEMPOTENT — a crash BETWEEN the merged delta and its recorded
    synced version re-applies that delta as a no-op on restart, so the
    old one-delta double-count window is closed, not just narrowed."""

    import pytest

    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )

    state = "arcm.test.versioned_state"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(
        f"CREATE TABLE {state} "
        "(host STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT, "
        "last_v BIGINT) USING mem"
    )
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10), ("k2", 2, "U", "b", 5)], schema))
    m = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert m._versioned
    m.sync()

    # wave 2: an update that MOVES k1 a->c (delete-at-zero for 'a'),
    # an insert, and a DELETE of k2 (group 'b' survives via k3)
    sink.apply(spark.createDataFrame(
        [("k1", 3, "U", "c", 11), ("k3", 4, "U", "b", 7)], schema))

    # crash injection: the MERGE lands, the record step dies
    crasher = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )

    def explode(version):
        raise RuntimeError("boom after merge, before record")

    crasher._record_synced_version = explode
    with pytest.raises(RuntimeError, match="boom"):
        crasher.sync()

    # a fresh maintainer restores the STALE synced version and
    # RE-APPLIES the already-merged delta — must be a pure no-op
    resumed = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert resumed.synced_version == m.synced_version  # stale on purpose
    resumed.sync()
    fresh = ivm.group_stats_bootstrap(target.read(), "host", "n")
    view = resumed.view().select("host", "docs", "sum_size", "nn_size")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0
    got = {
        r["host"]: (r["docs"], r["sum_size"])
        for r in view.collect()
    }
    assert got == {"b": (2, 12), "c": (1, 11)}
    # the bookkeeping column never leaks into the maintained view
    assert "last_v" not in resumed.view().columns

    # and a delete-to-zero delta is ALSO replay-safe: drop group 'c'
    sink.apply(spark.createDataFrame([("k1", 5, "D", None, None)], schema))
    crasher2 = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    crasher2._record_synced_version = explode
    with pytest.raises(RuntimeError, match="boom"):
        crasher2.sync()
    resumed2 = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    resumed2.sync()
    fresh2 = ivm.group_stats_bootstrap(target.read(), "host", "n")
    view2 = resumed2.view().select("host", "docs", "sum_size", "nn_size")
    assert view2.exceptAll(fresh2).count() == 0
    assert fresh2.exceptAll(view2).count() == 0
    assert "c" not in {r["host"] for r in view2.collect()}
    spark.sql(f"DROP TABLE IF EXISTS {state}")


def test_null_last_v_rows_pass_the_version_guard(spark, tmp_path):
    """r11 (ADVICE r10, medium): the documented upgrade path — ``ALTER
    TABLE ADD COLUMN last_v`` on a populated pre-versioned state table —
    leaves existing rows with NULL last_v. A bare ``t.last_v < s.d_v``
    is NULL→false, so every MATCHED clause would skip those groups
    FOREVER (silent maintenance freeze). The guard must treat NULL as
    "never stamped" and apply the delta, stamping the row."""

    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        MergeSink,
        SnapshotParquetTarget,
    )

    state = "arcm.test.null_lastv_state"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    target = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10), ("k2", 2, "U", "b", 5)], schema))

    # simulate the upgraded table: rows reflect the CURRENT target
    # snapshot, but pre-date the versioned regime (last_v NULL), and
    # the sync property points at the snapshot they reflect
    spark.sql(
        f"CREATE TABLE {state} "
        "(host STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT, "
        "last_v BIGINT) USING mem"
    )
    spark.sql(
        f"INSERT INTO {state} VALUES "
        "('a', 1, 10, 1, NULL), ('b', 1, 5, 1, NULL)"
    )
    v0 = target.current_version()
    spark.sql(
        f"ALTER TABLE {state} SET TBLPROPERTIES "
        f"('{ivm.StreamingViewMaintainer.SYNC_PROPERTY}'='{v0}')"
    )

    # wave 2 touches BOTH pre-upgrade groups: update in 'a', delete 'b'
    sink.apply(spark.createDataFrame(
        [("k1", 3, "U", "a", 20), ("k2", 4, "D", None, None)], schema))
    m = ivm.StreamingViewMaintainer(
        target, group_col="host", size_col="n", state_table=state
    )
    assert m._versioned
    m.sync()
    fresh = ivm.group_stats_bootstrap(target.read(), "host", "n")
    view = m.view().select("host", "docs", "sum_size", "nn_size")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0
    got = {r["host"]: (r["docs"], r["sum_size"]) for r in view.collect()}
    assert got == {"a": (1, 20)}  # 'b' deleted-to-zero, 'a' updated
    # first touch STAMPS the row — it joins the idempotent regime
    stamped = spark.table(state).where("host = 'a'").collect()[0]
    assert stamped["last_v"] is not None
    spark.sql(f"DROP TABLE IF EXISTS {state}")
