"""Incremental AVG/variance-moment and COUNT(DISTINCT) maintenance
(operators/ivm_profile.py): the maintained profile must land every wave
exactly on a from-scratch groupBy — including NULL-value retractions,
duplicate-value deletes (the distinct count must NOT drop until the
LAST copy leaves), group moves, and a seeded randomized sweep."""

import random

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.operators import ivm_profile as ip
from arcane_framework_scala_spark.operators.diff import snapshot_diff

SCHEMA = "k long, host string, n long"


def _tbl(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _as_dict(df):
    return {
        r["host"]: (
            r["docs"], r["sum_v"], r["sum_sq"], r["nn"], r["distinct_vals"]
        )
        for r in df.collect()
    }


def _fresh(spark, rows):
    return _as_dict(ip.profile_bootstrap_fresh(_tbl(spark, rows), "host", "n"))


def _maintained(spark, waves):
    """Bootstrap from waves[0], maintain via CDF deltas through the rest."""
    cur = waves[0]
    moments = ip.moments_bootstrap(_tbl(spark, cur), "host", "n")
    aux = ip.distinct_bootstrap(_tbl(spark, cur), "host", "n")
    for nxt in waves[1:]:
        cdf = snapshot_diff(_tbl(spark, cur), _tbl(spark, nxt), keys=["k"])
        moments = ip.apply_moments_delta(
            moments, ip.moments_delta(cdf, "host", "n"), "host"
        ).localCheckpoint()
        aux = ip.apply_distinct_delta(
            aux, ip.distinct_delta(cdf, "host", "n"), "host"
        ).localCheckpoint()
        cur = nxt
    return _as_dict(ip.profile_view(moments, aux, "host"))


@pytest.mark.parametrize(
    "before,after",
    [
        # insert-only
        (
            [(1, "a", 10)],
            [(1, "a", 10), (2, "a", 30), (3, "b", 5)],
        ),
        # duplicate-value delete: distinct count holds until the LAST
        # copy of the value leaves the group
        (
            [(1, "a", 10), (2, "a", 10), (3, "a", 7)],
            [(2, "a", 10), (3, "a", 7)],
        ),
        # last copy leaves: distinct count drops
        (
            [(1, "a", 10), (2, "a", 7)],
            [(2, "a", 7)],
        ),
        # NULL value insert/delete: docs move, nn/sums/distinct don't
        (
            [(1, "a", 10), (2, "a", None)],
            [(1, "a", 10), (3, "a", None), (4, "a", None)],
        ),
        # the last non-NULL value leaves: sums return to NULL, distinct 0
        (
            [(1, "a", 10), (2, "a", None)],
            [(2, "a", None)],
        ),
        # group-moving update: value migrates a -> b
        (
            [(1, "a", 30), (2, "a", 10), (3, "b", 7)],
            [(1, "b", 30), (2, "a", 10), (3, "b", 7)],
        ),
        # in-place value update: retract old value, admit new
        (
            [(1, "a", 30), (2, "a", 30)],
            [(1, "a", 12), (2, "a", 30)],
        ),
        # group emptied entirely
        (
            [(1, "a", 5), (2, "b", 9)],
            [(2, "b", 9)],
        ),
    ],
)
def test_profile_matches_fresh_recompute(spark, before, after):
    assert _maintained(spark, [before, after]) == _fresh(spark, after)


def test_profile_multiwave_randomized(spark):
    """Seeded random insert/update/delete churn over several waves with a
    narrow value domain (forcing duplicate values) must stay exactly on
    the fresh recompute at every wave."""
    rng = random.Random(84)
    hosts = ["a", "b", "c", None]
    vals = [None, 1, 2, 3, 5, 8]
    state = {k: (rng.choice(hosts), rng.choice(vals)) for k in range(30)}
    waves = [[(k, h, v) for k, (h, v) in state.items()]]
    for _ in range(4):
        for k in list(state):
            r = rng.random()
            if r < 0.2:
                del state[k]
            elif r < 0.5:
                state[k] = (rng.choice(hosts), rng.choice(vals))
        for _ in range(rng.randrange(6)):
            nk = max(state, default=0) + rng.randrange(1, 5)
            state[nk] = (rng.choice(hosts), rng.choice(vals))
        waves.append([(k, h, v) for k, (h, v) in state.items()])
    got = _maintained(spark, waves)
    want = _fresh(spark, waves[-1])
    assert got == want


def _hist_maintained(spark, waves):
    cur = waves[0]
    hist = ip.hist_bootstrap(_tbl(spark, cur), "host", "n")
    for nxt in waves[1:]:
        cdf = snapshot_diff(_tbl(spark, cur), _tbl(spark, nxt), keys=["k"])
        hist = ip.apply_hist_delta(
            hist, ip.hist_delta(cdf, "host", "n"), "host"
        ).localCheckpoint()
        cur = nxt
    return hist


def _hist_as_dict(df):
    return {
        (r["host"], r["e"], r["sub"]): (r["lo"], r["cnt"])
        for r in df.collect()
    }


def test_histogram_maintained_equals_fresh_sketch(spark):
    """The delete-tolerant histogram lands bucket-for-bucket on a fresh
    log_histogram of the final state — inserts, deletes, in-place value
    updates and group moves included."""
    before = [
        (1, "a", 10), (2, "a", 1000), (3, "a", 1001), (4, "b", 7),
        (5, "a", None), (6, "a", -3),  # NULL/negative: outside the domain
    ]
    after = [
        (2, "a", 1000), (3, "b", 1001),  # 10 deleted; 1001 moved a->b
        (4, "b", 7000),                  # in-place update
        (7, "a", 10),                    # re-insert of a deleted value
        (5, "a", None), (6, "a", -3),
    ]
    got = _hist_as_dict(_hist_maintained(spark, [before, after]))
    want = _hist_as_dict(ip.hist_bootstrap(_tbl(spark, after), "host", "n"))
    assert got == want


def test_histogram_randomized_multiwave_and_quantiles(spark):
    """Seeded churn over several waves: the maintained histogram stays
    bucket-exact vs a fresh sketch, and quantile_view over it equals
    log_hist_quantiles over the fresh sketch byte-for-byte."""
    rng = random.Random(21)
    hosts = ["a", "b", None]
    state = {k: (rng.choice(hosts), rng.randrange(0, 100_000)) for k in range(40)}
    waves = [[(k, h, v) for k, (h, v) in state.items()]]
    for _ in range(3):
        for k in list(state):
            r = rng.random()
            if r < 0.25:
                del state[k]
            elif r < 0.5:
                state[k] = (rng.choice(hosts), rng.randrange(0, 100_000))
        for _ in range(rng.randrange(8)):
            nk = max(state, default=0) + rng.randrange(1, 4)
            state[nk] = (rng.choice(hosts), rng.randrange(0, 100_000))
        waves.append([(k, h, v) for k, (h, v) in state.items()])
    got_hist = _hist_maintained(spark, waves)
    fresh = ip.hist_bootstrap(_tbl(spark, waves[-1]), "host", "n")
    assert _hist_as_dict(got_hist) == _hist_as_dict(fresh)
    from arcane_framework_scala_spark.functions.sketch import (
        log_hist_quantiles,
    )

    got_q = {
        (r["host"], r["pct"]): r["est"]
        for r in ip.quantile_view(got_hist, [50, 90], "host").collect()
    }
    want_q = {
        (r["host"], r["pct"]): r["est"]
        for r in log_hist_quantiles(fresh, [50, 90], ["host"]).collect()
    }
    assert got_q == want_q and got_q


def _run_merge(spark, sql_fn, table, delta):
    delta.createOrReplaceTempView("__ivmp_delta")
    try:
        spark.sql(sql_fn(table, "__ivmp_delta"))
    finally:
        spark.catalog.dropTempView("__ivmp_delta")


def test_state_merge_twins_match_dataframe_paths(spark):
    """The MERGE-maintained moments, multiset and histogram tables must
    land exactly where the DataFrame applies land — additive update,
    delete-at-zero, insert-positive — through two waves of mixed churn
    including a NULL-returning sum and a vanishing bucket."""
    before = [(1, "a", 10), (2, "a", 10), (3, "b", 5000), (4, "a", None)]
    mid = [(2, "a", 10), (3, "b", 7), (4, "a", None), (5, "c", 12)]
    after = [(3, "b", 7), (4, "a", None), (5, "c", 13)]

    mom_t = "arcm.test.ivmp_moments"
    dis_t = "arcm.test.ivmp_multiset"
    his_t = "arcm.test.ivmp_hist"
    spark.sql(f"DROP TABLE IF EXISTS {mom_t}")
    spark.sql(f"DROP TABLE IF EXISTS {dis_t}")
    spark.sql(f"DROP TABLE IF EXISTS {his_t}")
    spark.sql(
        f"CREATE TABLE {mom_t} (host STRING, docs BIGINT, sum_v BIGINT, "
        "sum_sq BIGINT, nn BIGINT) USING mem"
    )
    spark.sql(
        f"CREATE TABLE {dis_t} (host STRING, val BIGINT, cnt BIGINT) "
        "USING mem"
    )
    spark.sql(
        f"CREATE TABLE {his_t} (host STRING, e INT, sub BIGINT, "
        "lo BIGINT, cnt BIGINT) USING mem"
    )
    # bootstrap: wave-1 state as all-insert deltas
    boot_m = ip.moments_bootstrap(_tbl(spark, before), "host", "n").select(
        "host",
        F.col("docs").alias("d_docs"),
        F.col("sum_v").alias("d_sum"),
        F.col("sum_sq").alias("d_sq"),
        F.col("nn").alias("d_nn"),
    )
    boot_d = ip.distinct_bootstrap(_tbl(spark, before), "host", "n").select(
        "host", "val", F.col("cnt").alias("d_cnt")
    )
    boot_h = ip.hist_bootstrap(_tbl(spark, before), "host", "n").select(
        "host", "e", "sub", "lo", F.col("cnt").alias("d_cnt")
    )
    _run_merge(spark, ip.moments_state_merge_sql, mom_t, boot_m)
    _run_merge(spark, ip.distinct_state_merge_sql, dis_t, boot_d)
    _run_merge(spark, ip.hist_state_merge_sql, his_t, boot_h)
    cur = before
    for nxt in (mid, after):
        cdf = snapshot_diff(_tbl(spark, cur), _tbl(spark, nxt), keys=["k"])
        _run_merge(
            spark, ip.moments_state_merge_sql, mom_t,
            ip.moments_delta(cdf, "host", "n"),
        )
        _run_merge(
            spark, ip.distinct_state_merge_sql, dis_t,
            ip.distinct_delta(cdf, "host", "n"),
        )
        _run_merge(
            spark, ip.hist_state_merge_sql, his_t,
            ip.hist_delta(cdf, "host", "n"),
        )
        cur = nxt

    got = _as_dict(
        ip.profile_view(spark.table(mom_t), spark.table(dis_t), "host")
    )
    assert got == _fresh(spark, after)
    got_h = _hist_as_dict(spark.table(his_t))
    want_h = _hist_as_dict(ip.hist_bootstrap(_tbl(spark, after), "host", "n"))
    assert got_h == want_h
    for t in (mom_t, dis_t, his_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_all_spec_families_ride_the_view_maintainer(spark, tmp_path):
    """Every IVM family is a StreamingViewMaintainer plugin: moments,
    multiset-distinct, histogram (DataFrame state) and min/max (whose
    apply reads the base snapshot AS OF each delta's version) all
    bootstrap once, catch up a MULTI-commit gap in one sync, and land
    exactly on a fresh recompute of the final table."""
    from arcane_framework_scala_spark.operators import ivm, ivm_minmax
    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        DurableCatalogTarget,
        MergeSink,
    )

    table = "arcm.test.spec_families"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    target = DurableCatalogTarget(spark, str(tmp_path / "t"), table)
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10), ("k2", 1, "U", "a", 10),
         ("k3", 1, "U", "b", 5), ("k4", 1, "U", "a", None)], schema))
    ms = [
        ivm.StreamingViewMaintainer(target, spec=ip.MomentsSpec("host", "n")),
        ivm.StreamingViewMaintainer(target, spec=ip.DistinctSpec("host", "n")),
        ivm.StreamingViewMaintainer(
            target, spec=ip.HistogramSpec("host", "n")
        ),
        ivm.StreamingViewMaintainer(
            target, spec=ivm_minmax.MinMaxSpec("host", "n")
        ),
    ]
    for m in ms:
        m.sync()
    # two MORE commits land before the next sync: the catch-up must
    # apply v1->v2 and v2->v3 separately (minmax reads AS OF each)
    sink.apply(spark.createDataFrame(
        [("k1", 2, "D", "a", 10), ("k5", 2, "U", "b", 9)], schema))
    sink.apply(spark.createDataFrame(
        [("k2", 3, "U", "c", 11), ("k3", 3, "U", "b", 7)], schema))
    for m in ms:
        m.sync()
        assert m.bootstraps == 1 and m.deltas_applied == 2
    final = target.read()
    prof = ip.profile_view(ms[0].view(), ms[1].view(), "host")
    fresh = ip.profile_bootstrap_fresh(final, "host", "n")
    assert prof.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(prof).count() == 0
    assert _hist_as_dict(ms[2].view()) == _hist_as_dict(
        ip.hist_bootstrap(final, "host", "n")
    )
    from arcane_framework_scala_spark.operators.ivm_minmax import (
        minmax_bootstrap,
    )

    mm_fresh = minmax_bootstrap(final, "host", "n")
    assert ms[3].view().exceptAll(mm_fresh).count() == 0
    assert mm_fresh.exceptAll(ms[3].view()).count() == 0
    # min/max has no MERGE state-table form: constructor refuses
    with pytest.raises(ValueError, match="no state-table MERGE form"):
        ivm.StreamingViewMaintainer(
            target,
            spec=ivm_minmax.MinMaxSpec("host", "n"),
            state_table="arcm.test.nope",
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_derived_avg_and_variance_match_builtins(spark):
    """The maintained moments reproduce F.avg / F.var_pop exactly (up to
    float formatting): avg = sum_v/nn, var_pop = sum_sq/nn - avg^2."""
    import pyspark.sql.functions as F

    rows = [(k, "h" + str(k % 3), (k * 7) % 23) for k in range(40)]
    after = [(k, h, v + (1 if k % 5 == 0 else 0)) for (k, h, v) in rows[5:]]
    prof = _maintained(spark, [rows, after])
    builtin = {
        r["host"]: (r["avg"], r["var"])
        for r in _tbl(spark, after)
        .groupBy("host")
        .agg(F.avg("n").alias("avg"), F.var_pop("n").alias("var"))
        .collect()
    }
    for host, (_docs, sum_v, sum_sq, nn, _dv) in prof.items():
        avg = sum_v / nn
        var = sum_sq / nn - avg * avg
        assert abs(avg - builtin[host][0]) < 1e-9
        assert abs(var - builtin[host][1]) < 1e-9


def test_sum_sq_overflow_guard_raises_instead_of_wrapping(spark):
    """Values past floor(sqrt(2^63-1)) RAISE at bootstrap and at delta
    time — a silently wrapped square would corrupt the maintained
    variance in a way the from-scratch parity recompute wraps
    identically on, i.e. undetectably (ADVICE r8). In-bound values at
    the edge still square exactly."""
    big = ip.SUM_SQ_SAFE_ABS  # largest safe |v|: ONE square fits int64
    ok = _tbl(spark, [(1, "h", -big), (2, "h", None)])
    got = {
        r["host"]: (r["sum_sq"], r["nn"])
        for r in ip.moments_bootstrap(ok, "host", "n").collect()
    }
    assert got["h"] == (big * big, 1)
    # ACCUMULATED overflow (two edge squares) raises via ANSI SUM — the
    # session pins ansi on, so even past the per-row guard nothing wraps
    two = _tbl(spark, [(1, "h", big), (2, "h", -big)])
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        ip.moments_bootstrap(two, "host", "n").collect()

    bad = _tbl(spark, [(1, "h", big + 1)])
    with pytest.raises(Exception, match="int64-safe squaring bound"):
        ip.moments_bootstrap(bad, "host", "n").collect()
    # the delta path carries the same guard (old- AND new-image sides)
    cdf = spark.createDataFrame(
        [("insert", None, "h", None, big + 1)],
        "op string, old_host string, new_host string, "
        "old_n long, new_n long",
    )
    with pytest.raises(Exception, match="int64-safe squaring bound"):
        ip.moments_delta(cdf, "host", "n").collect()


def test_moments_spec_rides_the_maintainer_state_table(spark, tmp_path):
    """MomentsSpec + state_table: the maintainer bootstraps the moments
    TABLE via the spec's MERGE form, resumes from the recorded version
    after a restart, and lands on a fresh recompute."""
    from arcane_framework_scala_spark.operators import ivm
    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        DurableCatalogTarget,
        MergeSink,
    )

    state = "arcm.test.moments_state"
    table = "arcm.test.moments_tgt"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {state} (host STRING, docs BIGINT, sum_v BIGINT, "
        "sum_sq BIGINT, nn BIGINT) USING mem"
    )
    target = DurableCatalogTarget(spark, str(tmp_path / "t"), table)
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 10), ("k2", 1, "U", "b", 4)], schema))
    m = ivm.StreamingViewMaintainer(
        target, spec=ip.MomentsSpec("host", "n"), state_table=state
    )
    m.sync()
    sink.apply(spark.createDataFrame(
        [("k1", 2, "U", "a", 12), ("k3", 2, "U", "b", None)], schema))
    # restart: a FRESH maintainer restores the recorded version
    m2 = ivm.StreamingViewMaintainer(
        target, spec=ip.MomentsSpec("host", "n"), state_table=state
    )
    assert m2.synced_version == 1
    m2.sync()
    got = {
        r["host"]: (r["docs"], r["sum_v"], r["sum_sq"], r["nn"])
        for r in spark.table(state).collect()
    }
    fresh = {
        r["host"]: (r["docs"], r["sum_v"], r["sum_sq"], r["nn"])
        for r in ip.moments_bootstrap(target.read(), "host", "n").collect()
    }
    assert got == fresh == {
        "a": (1, 12, 144, 1),
        "b": (2, 4, 16, 1),
    }
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_histogram_spec_rides_the_maintainer_state_table(spark, tmp_path):
    """HistogramSpec + state_table: bucket counts maintained by the
    spec's MERGE form land exactly on a fresh log_histogram, and
    quantile_view over the state TABLE equals the batch estimator."""
    from arcane_framework_scala_spark.operators import ivm
    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        DurableCatalogTarget,
        MergeSink,
    )

    state = "arcm.test.hist_state"
    table = "arcm.test.hist_tgt"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {state} (host STRING, e INT, sub BIGINT, "
        "lo BIGINT, cnt BIGINT) USING mem"
    )
    target = DurableCatalogTarget(spark, str(tmp_path / "t"), table)
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, host string, n long"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", "a", 100), ("k2", 1, "U", "a", 9000),
         ("k3", 1, "U", "b", 7)], schema))
    m = ivm.StreamingViewMaintainer(
        target, spec=ip.HistogramSpec("host", "n"), state_table=state
    )
    m.sync()
    sink.apply(spark.createDataFrame(
        [("k1", 2, "U", "a", 101),   # bucket move within the group
         ("k3", 2, "D", "b", 7)],    # group's last bucket vanishes
        schema))
    m.sync()
    got = _hist_as_dict(spark.table(state))
    want = _hist_as_dict(ip.hist_bootstrap(target.read(), "host", "n"))
    assert got == want and all(c > 0 for _, c in got.values())
    q = {
        (r["host"], r["pct"]): r["est"]
        for r in ip.quantile_view(
            spark.table(state), [50], "host"
        ).collect()
    }
    from arcane_framework_scala_spark.functions.sketch import (
        log_hist_quantiles,
    )

    fresh_q = {
        (r["host"], r["pct"]): r["est"]
        for r in log_hist_quantiles(
            ip.hist_bootstrap(target.read(), "host", "n"), [50], ["host"]
        ).collect()
    }
    assert q == fresh_q
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
