"""SnapshotParquetTarget: copy-on-write merges + durable snapshots on one
table (the unified Iceberg-CoW shape — the reference gets it from
Trino-on-Iceberg, ``JdbcMergeServiceClient.scala:62-91``).

Every merge runs the M1-M3 semantics through merge_apply (checked against
the generated MERGE SQL in test_mem_catalog_merge.py) and commits a
durable parquet snapshot that the X1-X4 maintenance family manages; the
partitioned and file-group paths rewrite only the touched group and
carry the rest by hard link."""

import os
import uuid

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.operators.merge_apply import merge_apply
from arcane_framework_scala_spark.queries.merge import SQL_SERVER_CHANGE_TRACKING
from arcane_framework_scala_spark.sinks.maintenance import (
    expire_snapshots,
    optimize_snapshot,
)
from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)

BATCH_SCHEMA = (
    "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
    "SYS_CHANGE_OPERATION string, user_id long, score long"
)

WAVE1 = [
    ("k1", 1, "U", 1, 10),
    ("k2", 2, "U", 2, 20),
    ("k3", 3, "D", 3, 30),  # delete-of-absent: never inserted
]
WAVE2 = [
    ("k1", 4, "U", 1, 11),  # update
    ("k2", 5, "D", 2, 20),  # delete
    ("k4", 6, "U", 4, 40),  # insert
]


@pytest.fixture()
def target(spark, tmp_path):
    return SnapshotParquetTarget(spark, str(tmp_path / "t"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _expected_two_waves(spark):
    """The same two waves through the pure-DataFrame merge algebra."""
    w1 = spark.createDataFrame(WAVE1, BATCH_SCHEMA)
    w2 = spark.createDataFrame(WAVE2, BATCH_SCHEMA)
    from arcane_framework_scala_spark.operators.dedup_window import (
        latest_version_per_key,
    )

    boot = (
        latest_version_per_key(w1, "SYS_CHANGE_VERSION")
        .filter(F.col("SYS_CHANGE_OPERATION") != "D")
        .drop("SYS_CHANGE_OPERATION")
    )
    return _rows(merge_apply(boot, w2, SQL_SERVER_CHANGE_TRACKING))


def test_merge_commits_durable_snapshots(spark, target):
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    sink.apply(spark.createDataFrame(WAVE2, BATCH_SCHEMA))
    assert target.versions() == [1, 2]
    final = target.read()
    assert _rows(final) == _expected_two_waves(spark)
    # time travel: v=1 is the bootstrapped wave-1 state (D never inserted)
    assert _rows(target.read_version(1)) == [("k1", 1, 1, 10), ("k2", 2, 2, 20)]


def test_crash_between_merge_and_commit_loses_nothing(spark, target):
    """Durable truth is the snapshot layout: a crash after the merge ran
    but before the snapshot commit leaves _CURRENT at the old version,
    and the retried batch replays onto it cleanly (every merge reads
    _CURRENT; nothing is kept between merges)."""
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))

    real_commit = target._commit

    def crash(df, **kw):
        raise OSError("simulated crash before snapshot commit")

    target._commit = crash
    with pytest.raises(OSError, match="simulated crash"):
        target.merge(
            spark.createDataFrame(WAVE2, BATCH_SCHEMA), SQL_SERVER_CHANGE_TRACKING
        )
    # the merge ran, but durable state is untouched
    assert target.versions() == [1]
    assert _rows(target.read()) == [("k1", 1, 1, 10), ("k2", 2, 2, 20)]

    # retry (what MergeSink's RetryPolicy does for transient errors)
    target._commit = real_commit
    sink.apply(spark.createDataFrame(WAVE2, BATCH_SCHEMA))
    assert target.versions() == [1, 2]
    assert _rows(target.read()) == _expected_two_waves(spark)


def test_maintenance_runs_on_the_same_table(spark, target, tmp_path):
    """X1 compaction and X2 expiry operate on the files the merges
    committed; compaction is metadata-only (values identical)."""
    # fragment: 1-row files
    target.max_rows_per_file = 1
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    sink.apply(spark.createDataFrame(WAVE2, BATCH_SCHEMA))
    before = _rows(target.read())

    import glob

    v2_files = len(glob.glob(str(tmp_path / "t" / "v=2" / "*.parquet")))
    assert v2_files >= 2  # fragmented (one file per surviving row)
    target.max_rows_per_file = None
    n_files = optimize_snapshot(target, target_file_bytes=128 << 20)
    assert n_files < v2_files
    assert _rows(target.read()) == before
    assert expire_snapshots(target, keep_last=1) == [1, 2]
    assert not os.path.exists(tmp_path / "t" / "v=1")
    # a merge after maintenance continues the same history
    sink.apply(
        spark.createDataFrame([("k5", 7, "U", 5, 50)], BATCH_SCHEMA)
    )
    assert target.versions() == [3, 4]
    assert ("k5", 7, 5, 50) in _rows(target.read())


def test_watermark_survives_the_session(spark, target, tmp_path):
    """T2 on the durable target: the watermark lives in the snapshot
    layout (rename-committed JSON), so a brand-new target instance on the
    same path — a restarted job — resumes exactly where the crashed one
    committed, and X3 orphan sweeps never eat it."""
    from arcane_framework_scala_spark.sinks.maintenance import remove_orphan_files
    from arcane_framework_scala_spark.streaming.watermark import Watermark

    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    store = target.watermark_store()
    store.commit(Watermark(version="2", timestamp="2026-08-15T00:00:00+00:00"))

    reborn = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    wm = reborn.watermark_store().read()
    assert wm is not None and wm.version == "2"
    assert remove_orphan_files(reborn) == []
    assert reborn.watermark_store().read().version == "2"


def test_schema_drift_widens_the_durable_table(spark, target):
    """T8 through the CoW cycle: a batch carrying a new column widens
    the merged table, and the widened schema lands in the committed
    snapshot (old rows null-padded)."""
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    drifted = spark.createDataFrame(
        [("k4", 6, "U", 4, 40, "eu")],
        BATCH_SCHEMA + ", region string",
    )
    sink.apply(drifted)
    final = target.read()
    assert "region" in final.columns
    rows = {r["ARCANE_MERGE_KEY"]: r["region"] for r in final.collect()}
    assert rows["k4"] == "eu" and rows["k1"] is None
    # the widened table keeps merging
    sink.apply(
        spark.createDataFrame(
            [("k1", 7, "U", 1, 12, "us")], BATCH_SCHEMA + ", region string"
        )
    )
    rows = {r["ARCANE_MERGE_KEY"]: r["region"] for r in target.read().collect()}
    assert rows["k1"] == "us"


def test_changes_between_snapshots_is_the_cdf(spark, target):
    """The durable table is a CDC *source* too: changes(v1, v2) derives
    the Delta-CDF-shaped feed the second merge produced."""
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    sink.apply(spark.createDataFrame(WAVE2, BATCH_SCHEMA))
    ops = {
        r["ARCANE_MERGE_KEY"]: r["op"] for r in target.changes(1, 2).collect()
    }
    assert ops == {"k1": "update", "k2": "delete", "k4": "insert"}


def test_partitioned_snapshots_prune_on_read(spark, tmp_path):
    """100 TB posture: a SnapshotParquetTarget with partition_cols commits
    hive-partitioned snapshots, and a read with a partition predicate
    reaches the scan as a PartitionFilter (directory pruning — the
    Iceberg partition-spec equivalent)."""
    from arcane_framework_scala_spark.plans.audit import audit_plan
    from arcane_framework_scala_spark.sinks.maintenance import (
        expire_snapshots,
        optimize_snapshot,
    )

    target = SnapshotParquetTarget(
        spark, str(tmp_path / "t"), partition_cols=["event_type"]
    )
    wave1 = [
        ("k1", 1, "U", 1, 10, "click"),
        ("k2", 2, "U", 2, 20, "view"),
        ("k3", 3, "U", 3, 30, "click"),
    ]
    wave2 = [
        ("k1", 4, "U", 1, 11, "click"),
        ("k4", 5, "U", 4, 40, "scroll"),
    ]
    schema = BATCH_SCHEMA.replace("score long", "score long, event_type string")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(wave1, schema))
    sink.apply(spark.createDataFrame(wave2, schema))

    # hive layout on disk
    assert os.path.isdir(tmp_path / "t" / "v=2" / "event_type=click")
    # full state survives the partitioned round-trip
    got = {r["ARCANE_MERGE_KEY"]: r["event_type"] for r in target.read().collect()}
    assert got == {"k1": "click", "k2": "view", "k3": "click", "k4": "scroll"}

    # partition predicate reaches the scan as a PartitionFilter
    pruned = target.read().filter(F.col("event_type") == "click")
    a = audit_plan(pruned)
    assert a.partition_filter_scans >= 1, a.plan
    assert any("event_type" in p for p in a.partition_filters), (
        a.partition_filters
    )
    assert pruned.count() == 2

    # maintenance still works on the partitioned layout
    optimize_snapshot(target, target_file_bytes=128 << 20)
    assert {r["ARCANE_MERGE_KEY"] for r in target.read().collect()} == {
        "k1", "k2", "k3", "k4",
    }
    assert expire_snapshots(target, keep_last=1) == [1, 2]


def _partitioned_target(spark, tmp_path, tag):
    return SnapshotParquetTarget(
        spark, str(tmp_path / tag), partition_cols=["event_type"]
    )


def _dir_hashes(root):
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, root)
            out[rel] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


PART_SCHEMA = BATCH_SCHEMA + ", event_type string"


def test_pruned_merge_leaves_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """The r6 caveat closed: a merge touching ONE partition must leave
    every other partition's data files BYTE-IDENTICAL across the
    snapshot commit (file-hash pin, not value parity) — the rewrite
    group is pruned, untouched files are carried by hard link exactly
    as an Iceberg manifest carries them by reference."""
    target = _partitioned_target(spark, tmp_path, "pin")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(
        spark.createDataFrame(
            [
                ("k1", 1, "U", 1, 10, "click"),
                ("k2", 2, "U", 2, 20, "view"),
                ("k3", 3, "U", 3, 30, "scroll"),
            ],
            PART_SCHEMA,
        )
    )
    v1 = _dir_hashes(os.path.join(target.path, "v=1"))
    # wave 2 touches ONLY the click partition
    sink.apply(
        spark.createDataFrame(
            [("k1", 4, "U", 1, 11, "click")], PART_SCHEMA
        )
    )
    v2_dir = os.path.join(target.path, "v=2")
    v2 = _dir_hashes(v2_dir)
    for part in ("event_type=view", "event_type=scroll"):
        b = {k: h for k, h in v1.items() if k.startswith(part)}
        a = {k: h for k, h in v2.items() if k.startswith(part)}
        assert b and a == b, (part, b, a)
        # carried by hard link: same inode, zero data movement
        for rel in b:
            assert os.path.samefile(
                os.path.join(target.path, "v=1", rel),
                os.path.join(v2_dir, rel),
            ), rel
    # the touched partition WAS rewritten (new files)
    clicks_before = {k for k in v1 if k.startswith("event_type=click")}
    clicks_after = {k for k in v2 if k.startswith("event_type=click")}
    assert not (clicks_before & clicks_after)
    got = {
        r["ARCANE_MERGE_KEY"]: r["score"] for r in target.read().collect()
    }
    assert got == {"k1": 11, "k2": 20, "k3": 30}
    # hard links survive expiry of the source snapshot: the link
    # count is the manifest refcount
    from arcane_framework_scala_spark.sinks.maintenance import (
        expire_snapshots,
    )

    assert expire_snapshots(target, keep_last=1) == [1]
    still = {
        r["ARCANE_MERGE_KEY"]: r["score"] for r in target.read().collect()
    }
    assert still == got


def test_pruned_merge_rewrites_old_partition_of_a_moved_key(spark, tmp_path):
    """An update that MOVES a row between partitions must rewrite the old
    partition too (it holds a matched key), or the row would be
    resurrected from the carried-over files."""
    target = _partitioned_target(spark, tmp_path, "move")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(
        spark.createDataFrame(
            [
                ("k1", 1, "U", 1, 10, "click"),
                ("k2", 2, "U", 2, 20, "view"),
            ],
            PART_SCHEMA,
        )
    )
    # k1 moves click -> view; the click partition must lose it
    sink.apply(
        spark.createDataFrame([("k1", 3, "U", 1, 11, "view")], PART_SCHEMA)
    )
    rows = {
        r["ARCANE_MERGE_KEY"]: (r["event_type"], r["score"])
        for r in target.read().collect()
    }
    assert rows == {"k1": ("view", 11), "k2": ("view", 20)}
    # no stale k1 copy under the old partition dir
    old = target.read().filter(
        (F.col("event_type") == "click")
    ).count()
    assert old == 0
    # a delete prunes to the partition holding the matched key even
    # though the batch's own partition value is the row's old home
    sink.apply(
        spark.createDataFrame([("k2", 4, "D", 2, 20, "view")], PART_SCHEMA)
    )
    assert {
        r["ARCANE_MERGE_KEY"] for r in target.read().collect()
    } == {"k1"}


def test_pruned_merge_schema_drift_falls_back_to_full_rewrite(
    spark, tmp_path
):
    """Carried-over files cannot gain columns, so a drifting batch takes
    the full-table path: all partitions are rewritten with the new
    column and values stay right."""
    target = _partitioned_target(spark, tmp_path, "drift")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(
        spark.createDataFrame(
            [
                ("k1", 1, "U", 1, 10, "click"),
                ("k2", 2, "U", 2, 20, "view"),
            ],
            PART_SCHEMA,
        )
    )
    sink.apply(
        spark.createDataFrame(
            [("k1", 3, "U", 1, 11, "click", "us")],
            PART_SCHEMA + ", region string",
        )
    )
    rows = {
        r["ARCANE_MERGE_KEY"]: (r["score"], r["region"])
        for r in target.read().collect()
    }
    assert rows == {"k1": (11, "us"), "k2": (20, None)}
    # and the NEXT non-drifting merge prunes again on the widened table
    v2 = _dir_hashes(os.path.join(target.path, "v=2"))
    sink.apply(
        spark.createDataFrame(
            [("k1", 5, "U", 1, 12, "click", "us")],
            PART_SCHEMA + ", region string",
        )
    )
    v3 = _dir_hashes(os.path.join(target.path, "v=3"))
    view_b = {k: h for k, h in v2.items() if k.startswith("event_type=view")}
    view_a = {k: h for k, h in v3.items() if k.startswith("event_type=view")}
    assert view_b and view_a == view_b


def test_pruned_merge_randomized_waves_match_ground_truth(spark, tmp_path):
    """Seeded fuzz of the pruned-CoW flagship: five random CT waves
    (inserts, version-guarded updates, deletes, partition moves, absent-
    key deletes) against a bucket-partitioned target must land exactly
    where sequential merge_apply on a plain DataFrame lands, wave by
    wave — and the final state must also equal the same waves applied
    through an UNPARTITIONED (whole-table-rewrite) target."""
    import random

    from arcane_framework_scala_spark.operators.merge_apply import (
        merge_apply,
    )

    rng = random.Random(42)
    target = _partitioned_target(spark, tmp_path, "fuzz")
    plain = SnapshotParquetTarget(spark, str(tmp_path / "plain"))
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    plain_sink = MergeSink(
        target=plain, dialect=SQL_SERVER_CHANGE_TRACKING
    )
    etypes = ["click", "view", "scroll"]
    ver = 0
    truth = None  # plain DataFrame ground truth via merge_apply
    for wave in range(5):
        rows = []
        for _ in range(rng.randrange(4, 10)):
            ver += 1
            k = f"k{rng.randrange(12)}"
            op = rng.choice(["U", "U", "U", "D"])
            rows.append(
                (k, ver, op, rng.randrange(100),
                 rng.randrange(1000), rng.choice(etypes))
            )
        batch = spark.createDataFrame(rows, PART_SCHEMA)
        sink.apply(batch)
        plain_sink.apply(batch)
        if truth is None:
            truth = target.read_version(1)  # bootstrap semantics
        else:
            truth = merge_apply(
                truth, batch, SQL_SERVER_CHANGE_TRACKING
            ).localCheckpoint()
        got = target.read()
        d1 = got.exceptAll(truth).count()
        d2 = truth.exceptAll(got).count()
        assert d1 == 0 and d2 == 0, f"wave {wave}: {d1}/{d2} rows off"
    p = plain.read()
    assert p.exceptAll(got).count() == 0
    assert got.exceptAll(p).count() == 0


def test_file_group_pruned_merge_on_sorted_layout(spark, tmp_path):
    """Iceberg's real rewrite granularity (opt-in file_group_pruning):
    on a key-sorted compacted layout, a batch touching keys from ONE
    file rewrites only that file — every unmatched file is carried by
    hard link, byte-identical; an insert-only batch carries ALL files;
    a drifting batch falls back to the full rewrite."""
    from arcane_framework_scala_spark.sinks.maintenance import (
        optimize_snapshot,
    )

    target = SnapshotParquetTarget(
        spark, str(tmp_path / "fg"), file_group_pruning=True
    )
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    rows = [(f"k{i:03d}", 1, "U", i, i * 10) for i in range(60)]
    sink.apply(spark.createDataFrame(rows, BATCH_SCHEMA))
    # sort-compact on the merge key into several files (v=2)
    optimize_snapshot(
        target,
        target_file_bytes=1000,
        sort_cols=["ARCANE_MERGE_KEY"],
    )
    v2_dir = os.path.join(target.path, "v=2")
    files = sorted(
        f for f in os.listdir(v2_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    assert len(files) >= 3, files
    # manifest on the sorted layout: the probe scan itself is pruned
    # at planning time to the key-range-overlapping files
    from arcane_framework_scala_spark.sinks import manifest as mf

    mf.build_manifest(target, ["ARCANE_MERGE_KEY"])
    # pick every key living in ONE file -> the rewrite group is it
    one = spark.read.parquet(os.path.join(v2_dir, files[0]))
    keys = [r["ARCANE_MERGE_KEY"] for r in one.collect()]
    cand = mf.plan_files(
        target, "ARCANE_MERGE_KEY",
        lo=min(keys), hi=max(keys),
    )
    assert len(cand) < len(files)  # planning pruned the probe itself
    batch = spark.createDataFrame(
        [(k, 2, "U", 0, 999) for k in keys], BATCH_SCHEMA
    )
    sink.apply(batch)
    v3_dir = os.path.join(target.path, "v=3")
    for f in files[1:]:  # unmatched files carried: same inode
        assert os.path.samefile(
            os.path.join(v2_dir, f), os.path.join(v3_dir, f)
        ), f
    assert not os.path.exists(os.path.join(v3_dir, files[0]))
    got = {
        r["ARCANE_MERGE_KEY"]: r["score"] for r in target.read().collect()
    }
    assert all(got[k] == 999 for k in keys)
    assert len(got) == 60

    # insert-only batch: no matched keys -> ALL files carried
    v3_files = set(os.listdir(v3_dir))
    sink.apply(
        spark.createDataFrame([("new1", 3, "U", 99, 1)], BATCH_SCHEMA)
    )
    v4_dir = os.path.join(target.path, "v=4")
    for f in v3_files:
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            assert os.path.samefile(
                os.path.join(v3_dir, f), os.path.join(v4_dir, f)
            ), f
    assert target.read().count() == 61

    # schema drift falls back to the full rewrite and stays correct
    sink.apply(
        spark.createDataFrame(
            [("k000", 4, "U", 0, 1000, "eu")],
            BATCH_SCHEMA + ", region string",
        )
    )
    rows2 = {
        r["ARCANE_MERGE_KEY"]: (r["score"], r["region"])
        for r in target.read().collect()
    }
    assert rows2["k000"] == (1000, "eu")
    assert rows2["new1"] == (1, None)
    assert target.versions() == [1, 2, 3, 4, 5]


def test_file_group_hydration_has_no_file_name_in_literal(
    spark, tmp_path, monkeypatch
):
    """The rewrite group is read by opening the matched files
    directly — never by filtering the full scan through an IN-literal
    of file-path strings. Under a uniformly-hashing merge key the
    matched set approaches |files|, and a 10^5-string IN list bloats
    the plan; a multi-path parquet scan stays O(1) plan nodes at any
    file count (VERDICT r7 'what's wrong' 1)."""
    from arcane_framework_scala_spark.sinks import merge_sink

    target = SnapshotParquetTarget(
        spark, str(tmp_path / "fgplan"), file_group_pruning=True,
        max_rows_per_file=20,
    )
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    rows = [(f"k{i:03d}", 1, "U", i, i * 10) for i in range(60)]
    sink.apply(spark.createDataFrame(rows, BATCH_SCHEMA))

    captured = []
    real_merge_apply = merge_sink.merge_apply

    def spy(group, source, dialect):
        captured.append(group)
        return real_merge_apply(group, source, dialect)

    monkeypatch.setattr(merge_sink, "merge_apply", spy)
    sink.apply(  # second merge takes the file-pruned path
        spark.createDataFrame([("k001", 2, "U", 1, 999)], BATCH_SCHEMA)
    )
    assert captured, "pruned merge never read the rewrite group"
    plan = (
        captured[-1]._jdf.queryExecution().optimizedPlan().toString()
    )
    for marker in ("__f", " IN (", "INSET", "input_file_name"):
        assert marker not in plan, f"{marker!r} leaked into plan:\n{plan}"
    assert target.read().count() == 60


def test_pruned_merge_survives_glob_metachars_in_table_path(
    spark, tmp_path
):
    """The rewrite-group hydration rebuilds literal paths from base_dir
    + decoded rel name and glob-escapes them before the multi-path
    parquet read — input_file_name() URIs are percent-encoded and
    Hadoop glob-expands read paths, so a table path containing glob
    metacharacters or spaces used to duplicate rows between the
    rewrite group and the linked carry set, or fail to resolve
    (ADVICE r8, merge_sink glob/percent hazard)."""
    evil = tmp_path / "fg [glob]{x} dir"
    target = SnapshotParquetTarget(
        spark, str(evil), file_group_pruning=True,
        max_rows_per_file=20,
    )
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    rows = [(f"k{i:03d}", 1, "U", i, i * 10) for i in range(60)]
    sink.apply(spark.createDataFrame(rows, BATCH_SCHEMA))
    # second merge takes the file-pruned path in the evil dir
    sink.apply(
        spark.createDataFrame([("k001", 2, "U", 1, 999)], BATCH_SCHEMA)
    )
    got = {
        r["ARCANE_MERGE_KEY"]: r["score"]
        for r in target.read().collect()
    }
    assert len(got) == 60  # no row duplicated into the new snapshot
    assert target.read().count() == 60
    assert got["k001"] == 999 and got["k002"] == 20


def test_commit_time_is_stamped_at_the_pointer_flip(spark, tmp_path):
    """version_as_of resolves against COMMIT times: _finalize stamps the
    claimed v=N dir's mtime right after the rename (the rename itself
    would keep the older staging-write mtime, so a timestamp falling
    between staging-write and the flip used to resolve to a snapshot no
    reader could have seen then — ADVICE r7)."""
    import time

    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "ct"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    before = time.time()
    t.overwrite(df)
    committed = os.path.getmtime(os.path.join(t.path, "v=1"))
    # the dir mtime is the commit instant, not the earlier staging write
    assert committed >= before - 0.001
    assert t.version_as_of(time.time()) == 1
    with pytest.raises(ValueError):
        t.version_as_of(before - 60)


def test_concurrent_commit_is_detected_not_lost(spark, tmp_path):
    """Optimistic commit: a pointer flipped by another writer between
    snapshot write and this writer's flip raises CommitConflictError
    (Iceberg CommitFailedException semantics) instead of silently
    discarding the other writer's commit."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        CommitConflictError,
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "race"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    t.overwrite(df)
    assert t.current_version() == 1

    calls = {"n": 0}
    real = SnapshotParquetTarget.current_version

    def racy(self):
        calls["n"] += 1
        # first read = base for the new commit; later reads see another
        # writer's v=2 having landed meanwhile
        return real(self) if calls["n"] == 1 else real(self) + 1

    t.current_version = racy.__get__(t)
    with pytest.raises(CommitConflictError):
        t._commit(df)
    del t.current_version
    assert t.current_version() == 1  # pointer untouched by the loser


def test_loser_never_clobbers_winner_data_files(spark, tmp_path):
    """Two writers race for v=2. The winner's committed data files must be
    BYTE-IDENTICAL after the loser's failed attempt — each attempt writes
    to a unique staging dir and claims ``v=N`` with one atomic rename, so
    a loser physically cannot overwrite files the winner already owns
    (the lost-update clobber the r6 scheme allowed)."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        CommitConflictError,
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "race2"))
    t.overwrite(spark.createDataFrame([(1, "base")], "id long, v string"))
    assert t.current_version() == 1

    # winner A: a normal commit based on v=1 -> claims v=2
    t._commit(
        spark.createDataFrame([(2, "winner")], "id long, v string"),
        expected_base=1,
    )
    assert t.current_version() == 2
    v2 = os.path.join(t.path, "v=2")
    before = {
        f: open(os.path.join(v2, f), "rb").read()
        for f in sorted(os.listdir(v2))
        if not f.startswith(".")
    }

    # loser B also read the target at v=1; its commit must fail WITHOUT
    # touching the winner's v=2 files
    with pytest.raises(CommitConflictError):
        t._commit(
            spark.createDataFrame([(3, "loser")], "id long, v string"),
            expected_base=1,
        )
    after = {
        f: open(os.path.join(v2, f), "rb").read()
        for f in sorted(os.listdir(v2))
        if not f.startswith(".")
    }
    assert after == before  # byte-identical: no clobber
    assert [r["v"] for r in t.read().collect()] == ["winner"]
    # loser's staging dir was cleaned up (no v=2.tmp-* leftovers)
    assert not [n for n in os.listdir(t.path) if ".tmp-" in n]


def test_rename_claim_detects_midflight_winner_and_crash_leftovers(
    spark, tmp_path
):
    """A ``v=N`` dir that exists while the pointer still sits at N-1 is
    either a winner mid-commit (dir renamed, pointer not yet flipped) or
    a crashed run's leftover. Either way the rename claim fails -> conflict,
    and after X3 orphan removal clears a genuine crash leftover the replay
    succeeds."""
    import shutil as sh

    from arcane_framework_scala_spark.sinks.maintenance import (
        remove_orphan_files,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        CommitConflictError,
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "crash"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    # simulate a crash between the v=2 rename and the pointer flip
    sh.copytree(os.path.join(t.path, "v=1"), os.path.join(t.path, "v=2"))
    assert t.current_version() == 1

    df = spark.createDataFrame([(2, "b")], "id long, v string")
    with pytest.raises(CommitConflictError):
        t._commit(df, expected_base=1)
    assert t.current_version() == 1  # pointer untouched

    removed = remove_orphan_files(t)
    assert "v=2" in removed  # the crash leftover is above the pointer
    t._commit(df, expected_base=1)  # replay lands cleanly
    assert t.current_version() == 2
    assert sorted(r["v"] for r in t.read().collect()) == ["b"]


def test_commit_conflict_retries_and_converges(spark, target):
    """MergeSink's retry policy treats the conflict as transient: the
    retried merge re-reads the winner's snapshot and lands the
    batch — no lost update, Iceberg's optimistic-concurrency loop."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        CommitConflictError,
        RetryPolicy,
    )

    sink = MergeSink(
        target=target,
        dialect=SQL_SERVER_CHANGE_TRACKING,
        retry=RetryPolicy(initial_delay_seconds=0.01),
    )
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))

    orig = target._commit
    state = {"raised": False}

    def conflict_once(df, **kw):
        if not state["raised"]:
            state["raised"] = True
            raise CommitConflictError("simulated concurrent commit")
        return orig(df, **kw)

    target._commit = conflict_once
    sink.apply(spark.createDataFrame(WAVE2, BATCH_SCHEMA))  # retries inside
    assert state["raised"]
    assert target.versions() == [1, 2]
    assert _rows(target.read()) == _expected_two_waves(spark)


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through the status tracker's job
    group."""
    sc = spark.sparkContext
    group = f"merge-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_after_maintenance_runs_the_same_jobs(spark, target):
    """X1 compaction between two merges costs the next merge nothing
    extra: every merge reads _CURRENT, so the merge right after
    optimize_snapshot runs as many Spark jobs as the merge before it. A
    target that kept a copy of the table between merges would have to
    re-read all of it once compaction moved the pointer."""
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(WAVE1, BATCH_SCHEMA))
    wave2 = spark.createDataFrame(WAVE2, BATCH_SCHEMA)
    before = _jobs_in_group(spark, lambda: sink.apply(wave2))
    optimize_snapshot(target, target_file_bytes=128 << 20)
    wave3 = spark.createDataFrame([("k9", 9, "U", 9, 90)], BATCH_SCHEMA)
    after = _jobs_in_group(spark, lambda: sink.apply(wave3))
    assert before > 0 and after == before, (before, after)
    keys = {r["ARCANE_MERGE_KEY"] for r in target.read().collect()}
    assert keys == {"k1", "k4", "k9"}


def test_partitioned_writes_one_file_per_touched_partition(spark, tmp_path):
    """Merge results and overwrite input are hash-distributed by the
    partition columns before the write, so a pruned merge and an
    overwrite each leave ONE data file in every partition they touch,
    however many tasks held its rows (shuffle-partition coalescing is
    off here so the upstream tasks really are many)."""
    etypes = ["click", "view", "scroll", "hover"]

    def wave(ver, keys):
        rows = [(f"k{i}", ver, "U", i, ver * i, etypes[i % 4]) for i in keys]
        return spark.createDataFrame(rows, PART_SCHEMA).repartition(4)

    def files(version):
        vdir = os.path.join(target.path, f"v={version}")
        out = {}
        for part in sorted(os.listdir(vdir)):
            if part.startswith("event_type="):
                out[part] = sorted(
                    f for f in os.listdir(os.path.join(vdir, part))
                    if f.endswith(".parquet")
                )
        return out

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        target = _partitioned_target(spark, tmp_path, "files")
        sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
        sink.apply(wave(1, range(200)))
        assert [len(f) for f in files(1).values()] == [1, 1, 1, 1]
        # touches click (i % 4 == 0) and view (i % 4 == 1) only
        sink.apply(wave(2, [i for i in range(200) if i % 4 < 2]))
        v1, v2 = files(1), files(2)
        assert [len(f) for f in v2.values()] == [1, 1, 1, 1], v2
        for part in ("event_type=click", "event_type=view"):
            assert v2[part] != v1[part]  # rewritten
        for part in ("event_type=hover", "event_type=scroll"):
            assert v2[part] == v1[part]  # carried
        target.overwrite(wave(3, range(120)).drop("SYS_CHANGE_OPERATION"))
        assert [len(f) for f in files(3).values()] == [1, 1, 1, 1]
        assert target.read().count() == 120
    finally:
        spark.conf.set(key, prev)


def test_polling_loop_with_inloop_maintenance_on_the_durable_table(
    spark, target, tmp_path
):
    """The complete production loop on ONE durable table: the T1 polling
    runner merges each wave (CoW snapshot per batch), the T2 watermark lives in the snapshot layout, and the
    every-N maintenance hook compacts/expires the SAME files mid-stream —
    the reference's TargetMaintenanceProcessor wiring, jar-less."""
    import time

    from arcane_framework_scala_spark.queries.maintenance import (
        MaintenanceSchedule,
    )
    from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
    from arcane_framework_scala_spark.sinks.maintenance import run_maintenance
    from arcane_framework_scala_spark.sources import BlobParquetSource
    from arcane_framework_scala_spark.streaming import StreamRunner, StreamSettings

    src_dir = str(tmp_path / "blobs")
    os.makedirs(src_dir, exist_ok=True)
    runner = StreamRunner(
        source=BlobParquetSource(spark, src_dir, primary_keys=["pk"]),
        sink=MergeSink(target=target, dialect=UPSERT_BLOB),
        watermark_store=target.watermark_store(),
        settings=StreamSettings(poll_interval_seconds=0.01),
        maintenance=MaintenanceSchedule(optimize_every=2, expire_every=2),
        maintenance_fn=lambda op: run_maintenance(target, op),
    )

    spark.createDataFrame(
        [("a", "v1"), ("b", "v1")], "pk string, payload string"
    ).coalesce(1).write.parquet(os.path.join(src_dir, "wave1"))
    assert runner.run_once() >= 1
    assert target.versions() == [1]

    time.sleep(1.1)  # later modification epoch for wave 2
    spark.createDataFrame(
        [("b", "v2"), ("c", "v2")], "pk string, payload string"
    ).coalesce(1).write.parquet(os.path.join(src_dir, "wave2"))
    assert runner.run_once() >= 1
    # batch 2 triggered optimize (-> v=3) then expire keep_last=1
    assert runner.metrics.maintenance_runs == 2
    assert target.versions() == [3]
    rows = {r["pk"]: r["payload"] for r in target.read().collect()}
    assert rows == {"a": "v1", "b": "v2", "c": "v2"}
    # the watermark store survives in the snapshot layout
    assert target.watermark_store().read() is not None
    # and the stream keeps merging after maintenance rewrote the files
    time.sleep(1.1)
    spark.createDataFrame(
        [("d", "v3")], "pk string, payload string"
    ).coalesce(1).write.parquet(os.path.join(src_dir, "wave3"))
    assert runner.run_once() >= 1
    assert {r["pk"] for r in target.read().collect()} == {"a", "b", "c", "d"}


TIE_SCHEMA = "ARCANE_MERGE_KEY string, createdon long, name string, qty long"


@pytest.mark.parametrize("case", ["bootstrap", "new_key", "matched_key"])
def test_tied_versions_collapse_the_same_way_on_both_sinks(spark, target, tmp_path, case):
    """Two rows of one key tied at the max version (two blobs with one
    creation second) become the same single row on the snapshot target
    and on the durable target — never a cardinality violation on a
    matched key, never a doubled insert of a new one."""
    from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
    from arcane_framework_scala_spark.sinks.merge_sink import SnapshotParquetTarget

    base = {
        "bootstrap": [],
        "new_key": [("k0", 1, "base", 0)],
        "matched_key": [("k0", 1, "base", 0), ("k1", 1, "base", 0)],
    }[case]
    tied = [("k1", 2, "tied-b", 2), ("k1", 2, "tied-a", 1)]
    got = []
    for t in (SnapshotParquetTarget(spark, str(tmp_path / "snap")), target):
        sink = MergeSink(target=t, dialect=UPSERT_BLOB)
        for batch in (base, tied):
            if batch:
                sink.apply(spark.createDataFrame(batch, TIE_SCHEMA))
        got.append(
            [r.asDict() for r in t.read().filter(F.col("ARCANE_MERGE_KEY") == "k1").collect()]
        )
    snapshot, durable = got
    assert snapshot == durable
    assert [(r["name"], r["qty"]) for r in snapshot] == [("tied-a", 1)]


# (partition column DDL, wave-1 rows, wave-2 rows, leaf dirs wave 2 must
# carry) per case; rows are (key, version, op, score, partition value).
# Wave 1 fills four string partitions and the NULL one; the int case has
# its own buckets.
_BASE = [
    ("k1", 1, "U", 10, "click"),
    ("k2", 2, "U", 20, "view"),
    ("k3", 3, "U", 30, "scroll"),
    ("k4", 4, "U", 40, "hover"),
    ("k5", 5, "U", 50, None),
]
_NULL_DIR = "event_type=__HIVE_DEFAULT_PARTITION__"
_ALL = ["event_type=click", "event_type=view", "event_type=scroll",
        "event_type=hover", _NULL_DIR]
PLANNING_CASES = {
    "null_partition_touched": (
        "event_type string", _BASE, [("k5", 9, "U", 51, None)],
        [d for d in _ALL if d != _NULL_DIR],
    ),
    "null_partition_carried": (
        "event_type string", _BASE, [("k1", 9, "U", 11, "click")],
        [d for d in _ALL if d != "event_type=click"],
    ),
    "int_partition": (
        "bucket long",
        [("k1", 1, "U", 10, 0), ("k2", 2, "U", 20, 1), ("k3", 3, "U", 30, 2)],
        [("k2", 9, "U", 21, 1), ("k9", 9, "U", 90, 1)],
        ["bucket=0", "bucket=2"],
    ),
    "only_new_partition": (
        "event_type string", _BASE, [("k9", 9, "U", 90, "scrollback")], _ALL,
    ),
    "moved_key": (
        "event_type string", _BASE, [("k1", 9, "U", 11, "view")],
        ["event_type=scroll", "event_type=hover", _NULL_DIR],
    ),
    "duplicate_keys": (
        "event_type string", _BASE,
        [("k2", 8, "U", 21, "view"), ("k2", 9, "U", 22, "view"),
         ("k3", 8, "U", 31, "scroll"), ("k3", 9, "D", 31, "scroll")],
        ["event_type=click", "event_type=hover", _NULL_DIR],
    ),
}


@pytest.mark.parametrize("case", sorted(PLANNING_CASES))
def test_pruned_merge_planning_cases_match_ground_truth(spark, tmp_path, case):
    """The one planning query finds the rewrite group and the carry list
    together: every case lands where merge_apply on the whole base
    snapshot lands, and exactly the expected leaf dirs are carried —
    byte-identical, by hard link — while every other base dir is
    rewritten."""
    pcol_ddl, wave1, wave2, carried = PLANNING_CASES[case]
    pcol = pcol_ddl.split()[0]
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        f"SYS_CHANGE_OPERATION string, score long, {pcol_ddl}"
    )
    target = SnapshotParquetTarget(
        spark, str(tmp_path / case), partition_cols=[pcol]
    )
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(wave1, schema))
    v1_dir = os.path.join(target.path, "v=1")
    v1 = _dir_hashes(v1_dir)
    batch = spark.createDataFrame(wave2, schema)
    sink.apply(batch)
    assert target.versions() == [1, 2]

    truth = merge_apply(target.read_version(1), batch, SQL_SERVER_CHANGE_TRACKING)
    cols = sorted(truth.columns)
    assert sorted(target.read().columns) == cols
    assert _rows(target.read().select(*cols)) == _rows(truth.select(*cols))

    v2_dir = os.path.join(target.path, "v=2")
    v2 = _dir_hashes(v2_dir)
    for leaf in sorted({os.path.dirname(rel) for rel in v1}):
        before = {k: h for k, h in v1.items() if os.path.dirname(k) == leaf}
        after = {k: h for k, h in v2.items() if os.path.dirname(k) == leaf}
        if leaf in carried:
            assert after == before, (leaf, before, after)
            for rel in before:
                assert os.path.samefile(
                    os.path.join(v1_dir, rel), os.path.join(v2_dir, rel)
                ), rel
        else:  # rewritten (or emptied): no base file survives as is
            assert not set(before) & set(after), (leaf, before, after)


def test_pruned_merge_plans_in_one_query(spark, tmp_path):
    """A pruned merge runs one planning query before merge_apply — the
    rewrite group and the carry list come from the same scan — and opens
    the base snapshot with the schema its commit remembered, so its Spark
    job count stays at the measured floor."""
    target = _partitioned_target(spark, tmp_path, "jobs")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", 1, 10, "click"), ("k2", 2, "U", 2, 20, "view"),
         ("k3", 3, "U", 3, 30, "scroll")],
        PART_SCHEMA,
    ))
    wave2 = spark.createDataFrame(
        [("k1", 4, "U", 1, 11, "view"), ("k4", 5, "U", 4, 40, "click")],
        PART_SCHEMA,
    )
    jobs = _jobs_in_group(spark, lambda: sink.apply(wave2))
    assert jobs == 7, jobs


@pytest.mark.parametrize("partitioned", [False, True], ids=["whole_table", "pruned"])
def test_merge_on_a_version_it_committed_infers_no_schema(spark, tmp_path, partitioned):
    """A merge onto the snapshot this target committed opens it with the
    remembered schema: it runs exactly one Spark job fewer (the parquet
    footer inference) than the same merge through a fresh target over an
    identical table, and lands on the same rows."""
    pcols = ["event_type"] if partitioned else None

    def table(name):
        t = SnapshotParquetTarget(spark, str(tmp_path / name), partition_cols=pcols)
        MergeSink(target=t, dialect=SQL_SERVER_CHANGE_TRACKING).apply(
            spark.createDataFrame(
                [("k1", 1, "U", 1, 10, "click"), ("k2", 2, "U", 2, 20, "view"),
                 ("k3", 3, "U", 3, 30, "scroll")],
                PART_SCHEMA,
            )
        )
        return t

    remembered = table("remembered")
    fresh = SnapshotParquetTarget(
        spark, table("fresh").path, partition_cols=pcols
    )
    assert fresh._schema is None

    def merge(t):
        wave2 = spark.createDataFrame(
            [("k1", 4, "U", 1, 11, "view"), ("k4", 5, "U", 4, 40, "click")],
            PART_SCHEMA,
        )
        return _jobs_in_group(
            spark, lambda: MergeSink(target=t, dialect=SQL_SERVER_CHANGE_TRACKING).apply(wave2)
        )

    fresh_jobs = merge(fresh)
    assert merge(remembered) == fresh_jobs - 1, fresh_jobs
    assert _rows(remembered.read()) == _rows(fresh.read())


def test_remembered_schema_matches_inference(spark, tmp_path):
    """After every kind of commit the remembered read schema is what a
    footer-inferring read of that version reports: a partitioned bootstrap
    (long partition values a reader infers as int), a pruned merge, a T8
    drift merge, an overwrite and X1 compaction on a partitioned table,
    and the same with a whole-table merge on an unpartitioned one. Nested
    data types come back nullable, as a parquet read reports them."""
    from decimal import Decimal as D

    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, amount decimal(10,2), "
        "tags array<string>, bucket long"
    )

    def check(t):
        v = t.current_version()
        inferred = spark.read.parquet(os.path.join(t.path, f"v={v}")).schema
        assert t._schema == (v, inferred)

    def batch(rows, ddl=schema):
        return spark.createDataFrame(rows, ddl)

    for pcols in (["bucket"], None):
        t = SnapshotParquetTarget(
            spark, str(tmp_path / f"t{bool(pcols)}"), partition_cols=pcols
        )
        sink = MergeSink(target=t, dialect=SQL_SERVER_CHANGE_TRACKING)
        sink.apply(batch([("k1", 1, "U", D("1.50"), ["a"], 0), ("k2", 1, "U", D("2.50"), [], 1),
                          ("k3", 1, "U", None, None, 2)]))
        check(t)  # bootstrap
        sink.apply(batch([("k1", 2, "U", D("3.50"), ["b"], 0), ("k9", 2, "U", D("9.50"), ["z"], 0)]))
        check(t)  # pruned (partitioned) or whole-table merge
        sink.apply(batch(
            [("k2", 3, "U", D("4.50"), ["c"], 1, "new")], schema + ", note string"
        ))
        assert "note" in t.read().columns
        check(t)  # T8 drift: full rewrite
        t.overwrite(t.read().filter("ARCANE_MERGE_KEY != 'k3'"))
        check(t)
        optimize_snapshot(t, target_file_bytes=128 << 20)
        check(t)
        assert t.read().count() == 3


def test_overwrite_writes_one_file_per_partition(spark, tmp_path):
    """``overwrite`` hash-distributes by the partition columns, as every
    merge does: a backfill whose rows sit in eight tasks still commits
    one data file per partition."""
    target = _partitioned_target(spark, tmp_path, "ow")
    etypes = ["click", "view", "scroll"]
    df = spark.createDataFrame(
        [(f"k{i}", 1, i, i, etypes[i % 3]) for i in range(240)],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, user_id long, "
        "score long, event_type string",
    ).repartition(8)
    target.overwrite(df)
    vdir = os.path.join(target.path, "v=1")
    files = {
        part: [f for f in os.listdir(os.path.join(vdir, part)) if f.endswith(".parquet")]
        for part in os.listdir(vdir)
        if part.startswith("event_type=")
    }
    assert sorted(files) == ["event_type=click", "event_type=scroll", "event_type=view"]
    assert [len(f) for f in files.values()] == [1, 1, 1], files
    assert target.read().count() == 240


def test_optimize_commits_its_coalesce_output_undistributed(spark, tmp_path):
    """X1 compaction commits its ``coalesce`` output as is — no shuffle
    by partition, unlike ``overwrite`` — so each of its tasks writes one
    file per partition it holds rows of, exactly as a plain partitioned
    write of the coalesced snapshot does."""
    from arcane_framework_scala_spark.sinks.table_stats import (
        _parquet_files,
        table_stats,
    )

    target = SnapshotParquetTarget(
        spark, str(tmp_path / "x1"), max_rows_per_file=10,
        partition_cols=["event_type"],
    )
    etypes = ["click", "view", "scroll"]
    target.overwrite(spark.createDataFrame(
        [(f"k{i}", 1, i, i, etypes[i % 3]) for i in range(300)],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, user_id long, "
        "score long, event_type string",
    ))
    v1 = os.path.join(target.path, "v=1")
    assert len(_parquet_files(v1)) == 30  # ten 10-row files per partition
    target.max_rows_per_file = None
    half = table_stats(v1).bytes // 2 + 1
    base = target.read()
    assert optimize_snapshot(target, target_file_bytes=half) == 2
    plain = str(tmp_path / "plain")
    base.coalesce(2).write.partitionBy("event_type").parquet(plain)
    compacted = _parquet_files(os.path.join(target.path, "v=2"))
    assert len(compacted) == len(_parquet_files(plain)) == 6
    assert target.read().count() == 300


def test_batch_partition_column_matches_without_case(spark, tmp_path):
    """A batch that spells the partition column ``EVENT_TYPE`` still takes
    the pruned merge on a table partitioned by ``event_type``: names match
    without regard to case, as T8 drift and merge_apply match them, so
    the untouched partitions are carried by hard link, not rewritten."""
    target = _partitioned_target(spark, tmp_path, "case")
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", 1, 10, "click"), ("k2", 2, "U", 2, 20, "view"),
         ("k3", 3, "U", 3, 30, "scroll")],
        PART_SCHEMA,
    ))
    v1_dir = os.path.join(target.path, "v=1")
    v1 = _dir_hashes(v1_dir)
    sink.apply(spark.createDataFrame(
        [("k1", 4, "U", 1, 11, "click")],
        PART_SCHEMA.replace("event_type", "EVENT_TYPE"),
    ))
    v2_dir = os.path.join(target.path, "v=2")
    assert sorted(p for p in os.listdir(v2_dir) if "=" in p) == [
        "event_type=click", "event_type=scroll", "event_type=view",
    ]
    for part in ("event_type=view", "event_type=scroll"):
        rels = [k for k in v1 if k.startswith(part)]
        assert rels
        for rel in rels:
            assert os.path.samefile(
                os.path.join(v1_dir, rel), os.path.join(v2_dir, rel)
            ), rel
    rows = {
        r["ARCANE_MERGE_KEY"]: (r["event_type"], r["score"])
        for r in target.read().collect()
    }
    assert rows == {"k1": ("click", 11), "k2": ("view", 20), "k3": ("scroll", 30)}


def test_durable_catalog_target_is_the_snapshot_table(spark, tmp_path):
    """``DurableCatalogTarget`` is ``SnapshotParquetTarget`` under the call
    perfbench's workloads make: a positional table name it ignores,
    ``target.snapshots`` handed to maintenance, and the pruned merge."""
    from arcane_framework_scala_spark.sinks.maintenance import run_maintenance
    from arcane_framework_scala_spark.sinks.merge_sink import DurableCatalogTarget

    target = DurableCatalogTarget(
        spark, str(tmp_path / "t"), "t", partition_cols=["event_type"]
    )
    assert isinstance(target, SnapshotParquetTarget)
    assert target.snapshots is target
    sink = MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING)
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", 1, 10, "click"), ("k2", 2, "U", 2, 20, "view")],
        PART_SCHEMA,
    ))
    v1_dir = os.path.join(target.path, "v=1")
    views = [k for k in _dir_hashes(v1_dir) if k.startswith("event_type=view")]
    sink.apply(spark.createDataFrame([("k1", 4, "U", 1, 11, "click")], PART_SCHEMA))
    assert views
    for rel in views:  # carried by hard link: the pruned path ran
        assert os.path.samefile(
            os.path.join(v1_dir, rel), os.path.join(target.path, "v=2", rel)
        )
    assert run_maintenance(target.snapshots, "optimize") == 1
    assert target.versions() == [1, 2, 3]
    assert {
        r["ARCANE_MERGE_KEY"]: r["score"] for r in target.read().collect()
    } == {"k1": 11, "k2": 20}


def test_patching_both_class_names_restores_the_originals(spark, tmp_path):
    """perfbench's tracer wraps ``merge``/``overwrite`` on
    ``SnapshotParquetTarget``, then on ``DurableCatalogTarget``, and
    restores them in reverse order. The subclass holds its own
    attributes, so a traced merge runs one wrapper, not the parent's
    inside its own, and afterwards both classes hold the originals: an
    untraced merge runs no wrapper."""
    from arcane_framework_scala_spark.sinks.merge_sink import DurableCatalogTarget

    classes = (SnapshotParquetTarget, DurableCatalogTarget)
    attrs = ("merge", "overwrite")
    originals = {(c, a): c.__dict__[a] for c in classes for a in attrs}
    calls = []

    def wrap(fn):
        def wrapper(*a, **kw):
            calls.append(fn.__name__)
            return fn(*a, **kw)

        return wrapper

    def batch(ver):
        return spark.createDataFrame([("k1", ver, "U", 1, 10 * ver)], BATCH_SCHEMA)

    patches = []
    try:
        for cls in classes:
            for attr in attrs:
                original = getattr(cls, attr)
                patches.append((cls, attr, original))
                setattr(cls, attr, wrap(original))
        traced = DurableCatalogTarget(spark, str(tmp_path / "traced"), "t")
        traced.merge(batch(1), SQL_SERVER_CHANGE_TRACKING)
        assert calls == ["merge"]
    finally:
        while patches:
            owner, attr, original = patches.pop()
            setattr(owner, attr, original)
    assert {(c, a): c.__dict__[a] for c in classes for a in attrs} == originals
    calls.clear()
    for t in (
        SnapshotParquetTarget(spark, str(tmp_path / "plain")),
        DurableCatalogTarget(spark, str(tmp_path / "compat"), "t"),
    ):
        t.merge(batch(1), SQL_SERVER_CHANGE_TRACKING)
        t.overwrite(t.read())
        t.merge(batch(2), SQL_SERVER_CHANGE_TRACKING)
    assert calls == []
