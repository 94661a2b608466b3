"""Delta change-data-feed (r11, VERDICT r10 item 2): cdc-file reads,
derived add/remove/DV-diff feeds, the copy-on-write UPDATE writer, and
the snapshot_diff adapter that lets IVM maintain views off a
CDF-enabled Delta table in O(|delta|)."""

import json
import os

import pytest

from arcane_framework_scala_spark.operators.ivm import (
    apply_group_delta,
    group_delta,
    group_stats_bootstrap,
)
from arcane_framework_scala_spark.sinks.merge_sink import (
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources import delta_cdf as cdf
from arcane_framework_scala_spark.sources import delta_dv as dv
from arcane_framework_scala_spark.sources import delta_reader as dr


def _export(spark, tmp_path, rows, schema="k long, g string, n long"):
    t = SnapshotParquetTarget(spark, str(tmp_path / "pub"))
    t.overwrite(spark.createDataFrame(rows, schema).repartition(2))
    out = str(tmp_path / "delta")
    assert dr.export_delta(t, out) == 0
    return out


def _commit_actions(out, v):
    p = os.path.join(out, "_delta_log", f"{v:020d}.json")
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


BASE = [(i, "a" if i % 2 else "b", i * 10) for i in range(12)]


def test_enable_cdf_sets_property_and_writer_requirement(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    v = cdf.enable_cdf(spark, out)
    assert v == 1
    st = dr._replay_state(out, None, spark)
    assert st["meta"]["configuration"][cdf.CDF_PROP] == "true"
    # legacy protocol (1/2) upgrades to writer version 4 (changeDataFeed)
    assert st["protocol"]["minWriterVersion"] == 4
    # idempotent: enabling again is a no-op returning the head
    assert cdf.enable_cdf(spark, out) == 1


def test_enable_cdf_on_table_features_protocol_adds_the_feature(
    spark, tmp_path
):
    out = _export(spark, tmp_path, BASE)
    assert dv.delete_where(spark, out, "k = 0") == 1  # upgrades to 3/7
    cdf.enable_cdf(spark, out)
    st = dr._replay_state(out, None, spark)
    assert "changeDataFeed" in st["protocol"]["writerFeatures"]
    assert "deletionVectors" in st["protocol"]["writerFeatures"]


def test_cdf_requires_the_property(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    with pytest.raises(cdf.ChangeDataFeedError, match="enableChangeDataFeed"):
        cdf.delta_cdf(spark, out, -1, 0)


def test_append_rows_derives_inserts(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, out)
    v = cdf.append_rows(
        spark,
        out,
        spark.createDataFrame(
            [(100, "c", 7), (101, "c", None)], "k long, g string, n long"
        ),
    )
    feed = cdf.delta_cdf(spark, out, 1, v)
    rows = {
        (r.k, r.g, r.n, r[cdf.CHANGE_TYPE], r[cdf.COMMIT_VERSION])
        for r in feed.collect()
    }
    assert rows == {
        (100, "c", 7, "insert", v),
        (101, "c", None, "insert", v),
    }
    # and the table itself grew
    assert dr.read_delta(spark, out).count() == len(BASE) + 2


def test_dv_delete_feeds_only_the_deleted_rows(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, out)
    v2 = dv.delete_where(spark, out, "k < 3")
    feed = cdf.delta_cdf(spark, out, 1, v2)
    rows = {(r.k, r[cdf.CHANGE_TYPE]) for r in feed.collect()}
    assert rows == {(0, "delete"), (1, "delete"), (2, "delete")}

    # an OVERLAPPING second delete must feed only the NEWLY deleted
    # rows (the superset DV carries k<3 forever; the diff excludes it)
    v3 = dv.delete_where(spark, out, "k < 5")
    feed2 = cdf.delta_cdf(spark, out, v2, v3)
    rows2 = {(r.k, r[cdf.CHANGE_TYPE]) for r in feed2.collect()}
    assert rows2 == {(3, "delete"), (4, "delete")}
    # the whole range composes
    both = cdf.delta_cdf(spark, out, 1, v3)
    assert both.filter("_change_type = 'delete'").count() == 5


def test_full_file_remove_feeds_deletes(spark, tmp_path):
    t = SnapshotParquetTarget(spark, str(tmp_path / "pub"))
    t.overwrite(
        spark.createDataFrame(BASE, "k long, g string, n long").repartition(2)
    )
    out = str(tmp_path / "delta")
    assert dr.export_delta(t, out) == 0
    cdf.enable_cdf(spark, out)
    # shrink the published table -> export commits remove actions
    keep = [r for r in BASE if r[0] >= 6]
    t.overwrite(
        spark.createDataFrame(keep, "k long, g string, n long").repartition(1)
    )
    v = dr.export_delta(t, out)
    feed = cdf.delta_cdf(spark, out, 1, v)
    got = {(r.k, r[cdf.CHANGE_TYPE]) for r in feed.collect()}
    # the overwrite rewrote every file: old rows delete, kept rows
    # re-insert — the NET change is what matters downstream
    assert {(k, "delete") for k, _g, _n in BASE} <= got
    assert {(k, "insert") for k, _g, _n in keep} <= got


def test_update_where_rewrites_and_writes_cdc(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, out)
    v = cdf.update_where(spark, out, "g = 'a'", {"n": "n + 1"})
    assert v == 2
    # table state: odd keys bumped
    got = {(r.k, r.n) for r in dr.read_delta(spark, out).collect()}
    assert got == {
        (k, n + 1 if g == "a" else n) for k, g, n in BASE
    }
    # the commit carries cdc actions and a _change_data file
    actions = _commit_actions(out, v)
    cdc_actions = [a["cdc"] for a in actions if "cdc" in a]
    assert cdc_actions and all(
        a["path"].startswith("_change_data/") and a["dataChange"] is False
        for a in cdc_actions
    )
    # removes carry extendedFileMetadata per PROTOCOL.md
    rms = [a["remove"] for a in actions if "remove" in a]
    assert rms and all(r["extendedFileMetadata"] is True for r in rms)
    # the feed is exactly the pre/post images (never the rewritten
    # files' unchanged rows)
    feed = cdf.delta_cdf(spark, out, 1, v)
    pre = {
        (r.k, r.n)
        for r in feed.filter("_change_type = 'update_preimage'").collect()
    }
    post = {
        (r.k, r.n)
        for r in feed.filter("_change_type = 'update_postimage'").collect()
    }
    assert pre == {(k, n) for k, g, n in BASE if g == "a"}
    assert post == {(k, n + 1) for k, g, n in BASE if g == "a"}
    assert feed.count() == len(pre) + len(post)


def test_update_where_nothing_matched_returns_none(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    assert cdf.update_where(spark, out, "k > 999", {"n": "0"}) is None


def test_update_where_respects_live_dvs(spark, tmp_path):
    out = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, out)
    dv.delete_where(spark, out, "k = 1")
    v = cdf.update_where(spark, out, "g = 'a'", {"n": "n + 1"})
    # k=1 was dead before the update: not in the table, not in the feed
    got = {(r.k, r.n) for r in dr.read_delta(spark, out).collect()}
    assert (1, 11) not in got and (1, 10) not in got
    feed = cdf.delta_cdf(spark, out, 2, v)
    assert feed.filter("k = 1").count() == 0
    # rewritten files fold the DV in: the new adds carry no vector
    acts = _commit_actions(out, v)
    assert all(
        a["add"].get("deletionVector") is None
        for a in acts
        if "add" in a
    )


def test_update_where_refuses_partition_assignment(spark, tmp_path):
    t = SnapshotParquetTarget(
        spark, str(tmp_path / "pub"), partition_cols=["g"]
    )
    t.overwrite(spark.createDataFrame(BASE, "k long, g string, n long"))
    out = str(tmp_path / "delta")
    dr.export_delta(t, out)
    with pytest.raises(cdf.ChangeDataFeedError, match="partition columns"):
        cdf.update_where(spark, out, "k = 0", {"g": "'z'"})


def test_update_where_partitioned_keeps_layout(spark, tmp_path):
    t = SnapshotParquetTarget(
        spark, str(tmp_path / "pub"), partition_cols=["g"]
    )
    t.overwrite(spark.createDataFrame(BASE, "k long, g string, n long"))
    out = str(tmp_path / "delta")
    dr.export_delta(t, out)
    cdf.enable_cdf(spark, out)
    v = cdf.update_where(spark, out, "g = 'a' and k < 5", {"n": "n * 100"})
    got = {(r.k, r.g, r.n) for r in dr.read_delta(spark, out).collect()}
    assert got == {
        (k, g, n * 100 if (g == "a" and k < 5) else n) for k, g, n in BASE
    }
    acts = _commit_actions(out, v)
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(
        a["partitionValues"] == {"g": "a"} and a["path"].startswith("g=a/")
        for a in adds
    )
    # only the g=a files were touched
    rms = [a["remove"] for a in acts if "remove" in a]
    assert rms and all(r["partitionValues"] == {"g": "a"} for r in rms)
    feed = cdf.delta_cdf(spark, out, 1, v)
    assert {r.g for r in feed.collect()} == {"a"}


def test_schema_change_inside_range(spark, tmp_path):
    """r11 fence narrowing: an ADDITIVE schema change (appended
    nullable column) inside a CDF range reads in the END schema —
    pre-evolution rows null-fill the new column, the same semantics
    the real connector's CDF takes. Anything else (here: a retype)
    still raises."""
    t = SnapshotParquetTarget(spark, str(tmp_path / "pub"))
    t.overwrite(spark.createDataFrame(BASE, "k long, g string, n long"))
    out = str(tmp_path / "delta")
    dr.export_delta(t, out)
    cdf.enable_cdf(spark, out)
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 1, "x")], "k long, g string, n long, extra string"
        )
    )
    v = dr.export_delta(t, out)
    feed = cdf.delta_cdf(spark, out, 1, v)
    rows = {
        (r.k, r.extra, r[cdf.CHANGE_TYPE]) for r in feed.collect()
    }
    want = {(k, None, "delete") for k, _, _ in BASE}
    want |= {(1, "x", "insert")}
    assert rows == want

    # non-additive: retyping a column still needs the real connector
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "s", "x")], "k long, g string, n string, extra string"
        )
    )
    v2 = dr.export_delta(t, out)
    with pytest.raises(cdf.ChangeDataFeedError, match="non-additive"):
        cdf.delta_cdf(spark, out, v, v2).collect()


def test_cdf_to_diff_shapes_and_ivm_maintenance(spark, tmp_path):
    """End-to-end IVM off the feed: bootstrap at the enable version,
    then a DV delete + an UPDATE + an append maintain the grouped view
    in O(|delta|); the result must equal a fresh groupBy."""
    out = _export(spark, tmp_path, BASE)
    v1 = cdf.enable_cdf(spark, out)
    boot = group_stats_bootstrap(dr.read_delta(spark, out), "g", "n")

    dv.delete_where(spark, out, "k in (2, 4)")
    cdf.update_where(spark, out, "k = 7", {"n": "n + 5"})
    v4 = cdf.append_rows(
        spark,
        out,
        spark.createDataFrame([(200, "c", 9)], "k long, g string, n long"),
    )

    feed = cdf.delta_cdf(spark, out, v1, v4)
    diff = cdf.cdf_to_diff(feed, keys=["k"])
    assert set(diff.columns) == {"k", "op", "old_g", "old_n", "new_g", "new_n"}
    ops = {r.op for r in diff.collect()}
    assert ops == {"insert", "delete", "update"}
    view = apply_group_delta(boot, group_delta(diff, "g", "n"), "g")
    fresh = group_stats_bootstrap(dr.read_delta(spark, out), "g", "n")
    assert view.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(view).count() == 0


def test_cdf_on_name_mapped_table_cdc_and_derived(spark, tmp_path):
    """r11 hardening: cdc files of a column-mapped table carry
    PHYSICAL column names (real writers lay them out like data files)
    — the reader resolves them through the mapping plan instead of
    null-filling; and the DERIVED path (a DV delete) rides the mapped
    lineage machinery."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "mapped")
    os.makedirs(os.path.join(t, "_delta_log"))

    def _write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(t, name))

    _write("a.parquet", {"col-u": [0, 1, 2, 3], "col-v": [10, 11, 12, 13]})
    fields = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": lg,
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": ph,
                    },
                }
                for i, (lg, ph) in enumerate(
                    [("user_id", "col-u"), ("val", "col-v")]
                )
            ],
        }
    )
    dr.commit_actions(
        t,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            },
            {
                "metaData": {
                    "id": "m",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": fields,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        cdf.CDF_PROP: "true",
                    },
                }
            },
            {
                "add": {
                    "path": "a.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(t, "a.parquet")),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )

    # an external writer's UPDATE commit: cdc file with PHYSICAL names
    os.makedirs(os.path.join(t, "_change_data"))
    _write(
        "_change_data/cdc-0.parquet",
        {
            "col-u": [1, 1],
            "col-v": [11, 99],
            "_change_type": ["update_preimage", "update_postimage"],
        },
    )
    dr.commit_actions(
        t,
        1,
        [
            {
                "cdc": {
                    "path": "_change_data/cdc-0.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "dataChange": False,
                }
            },
            # data rewrite rides alongside (same path remove+add is NOT
            # used here; the cdc action wins regardless)
        ],
    )
    feed = cdf.delta_cdf(spark, t, 0, 1)
    rows = {(r.user_id, r.val, r[cdf.CHANGE_TYPE]) for r in feed.collect()}
    assert rows == {
        (1, 11, "update_preimage"),
        (1, 99, "update_postimage"),
    }

    # derived path on the mapped table: a DV delete speaks LOGICAL
    # names and feeds only the deleted rows
    v2 = dv.delete_where(spark, t, "user_id = 2")
    feed2 = cdf.delta_cdf(spark, t, 1, v2)
    rows2 = {(r.user_id, r.val, r[cdf.CHANGE_TYPE]) for r in feed2.collect()}
    assert rows2 == {(2, 12, "delete")}


def test_streaming_maintainer_runs_off_a_delta_cdf_target(spark, tmp_path):
    """r11: the full IVM runtime (durable synced version, versioned
    crash-exactly-once state MERGE) drives off a CDF-enabled Delta
    table through DeltaCdfTarget — DV delete, CoW update and append
    all flow through the per-commit feed, O(|delta|) per sync."""

    from arcane_framework_scala_spark.operators import ivm

    out = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, out)
    state = "arcm.test.delta_cdf_state"
    spark.sql(f"DROP TABLE IF EXISTS {state}")
    spark.sql(
        f"CREATE TABLE {state} "
        "(g STRING, docs BIGINT, sum_size BIGINT, nn_size BIGINT, "
        "last_v BIGINT) USING mem"
    )
    target = cdf.DeltaCdfTarget(spark, out, keys=["k"])
    m = ivm.StreamingViewMaintainer(
        target, group_col="g", size_col="n", state_table=state
    )
    assert m._versioned
    m.sync()  # bootstrap at the enable-CDF version

    dv.delete_where(spark, out, "k in (2, 4)")
    cdf.update_where(spark, out, "k = 7", {"n": "n + 5"})
    cdf.append_rows(
        spark,
        out,
        spark.createDataFrame([(200, "c", 9)], "k long, g string, n long"),
    )
    m.sync()
    fresh = ivm.group_stats_bootstrap(dr.read_delta(spark, out), "g", "n")
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


def test_stream_runner_polls_a_delta_cdf_source(spark, tmp_path):
    """r11: a CDF-enabled Delta table in the CHANGETABLE seat — the
    reference's whole polling pipeline (StreamRunner, version-guarded
    MERGE dialect, watermark store) replicates the table into another
    target: inserts, a CoW update, and a DV delete all arrive as CDC
    rows; an idle poll advances only the watermark; replaying a batch
    is a version-guarded no-op."""

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

    src = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, src)
    target = SnapshotParquetTarget(spark, str(tmp_path / "tgt"))
    runner = StreamRunner(
        source=cdf.DeltaCdfSource(spark, src, keys=["k"]),
        sink=MergeSink(target=target, dialect=SQL_SERVER_CHANGE_TRACKING),
        watermark_store=FileWatermarkStore(
            str(tmp_path / "wm.json")
        ),
        settings=StreamSettings(poll_interval_seconds=0.01),
    )
    # poll 1: the whole history so far (base insert feed)
    assert runner.run_once() == 1
    got = {(r.k, r.g, r.n) for r in target.read().collect()}
    assert got == set(BASE)

    # poll 2: idle — watermark-only advance, no batch
    assert runner.run_once() == 0

    # poll 3: a DV delete + a CoW update + an append, one batch
    dv.delete_where(spark, src, "k in (0, 1)")
    cdf.update_where(spark, src, "k = 7", {"n": "n + 5"})
    cdf.append_rows(
        spark,
        src,
        spark.createDataFrame([(300, "z", 1)], "k long, g string, n long"),
    )
    assert runner.run_once() == 1
    got = {(r.k, r.g, r.n) for r in target.read().collect()}
    want = {(k, g, n + 5 if k == 7 else n) for k, g, n in BASE if k > 1}
    want |= {(300, "z", 1)}
    assert got == want


def test_cdf_on_mapped_partitioned_table_cdc(spark, tmp_path):
    """r11 fence lift: cdc files of a column-mapped AND partitioned
    table read correctly — the file carries PHYSICAL data-column names
    only, and the cdc action's partitionValues are keyed by the
    partition column's PHYSICAL name (PROTOCOL.md: partition values
    use the physical identity under column mapping). NAME and ID mode
    both resolve; the partition value re-injects under its LOGICAL
    name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for mode, stamp_ids in (("name", False), ("id", True)):
        t = str(tmp_path / f"mapped_part_{mode}")
        os.makedirs(os.path.join(t, "_delta_log"))

        fields = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": lg,
                        "type": ty,
                        "nullable": True,
                        "metadata": {
                            "delta.columnMapping.id": i + 1,
                            "delta.columnMapping.physicalName": ph,
                        },
                    }
                    for i, (lg, ph, ty) in enumerate(
                        [
                            ("user_id", "col-u", "long"),
                            ("val", "col-v", "long"),
                            ("region", "col-r", "string"),
                        ]
                    )
                ],
            }
        )
        # data file: physical names, data columns only (hive layout)
        ddir = os.path.join(t, "col-r=emea")
        os.makedirs(ddir)
        cols = {"col-u": [0, 1], "col-v": [10, 11]}
        if stamp_ids:
            tbl = pa.table(cols)
            tbl = tbl.cast(
                pa.schema(
                    [
                        pa.field(
                            n,
                            tbl.schema.field(n).type,
                            metadata={b"PARQUET:field_id": str(i + 1).encode()},
                        )
                        for i, n in enumerate(["col-u", "col-v"])
                    ]
                )
            )
        else:
            tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(ddir, "a.parquet"))
        dr.commit_actions(
            t,
            0,
            [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {
                    "metaData": {
                        "id": "m",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": fields,
                        "partitionColumns": ["region"],
                        "configuration": {
                            "delta.columnMapping.mode": mode,
                            cdf.CDF_PROP: "true",
                        },
                    }
                },
                {
                    "add": {
                        "path": "col-r=emea/a.parquet",
                        "partitionValues": {"col-r": "emea"},
                        "size": os.path.getsize(
                            os.path.join(ddir, "a.parquet")
                        ),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                },
            ],
        )
        # an external writer's UPDATE commit: cdc file, PHYSICAL data
        # column names + _change_type; partitionValues keyed physically
        cdir = os.path.join(t, "_change_data", "col-r=emea")
        os.makedirs(cdir)
        ccols = {
            "col-u": [1, 1],
            "col-v": [11, 99],
            "_change_type": ["update_preimage", "update_postimage"],
        }
        if stamp_ids:
            ctbl = pa.table(ccols)
            md = {"col-u": 1, "col-v": 2}
            ctbl = ctbl.cast(
                pa.schema(
                    [
                        pa.field(
                            n,
                            ctbl.schema.field(n).type,
                            metadata=(
                                {b"PARQUET:field_id": str(md[n]).encode()}
                                if n in md
                                else None
                            ),
                        )
                        for n in ccols
                    ]
                )
            )
        else:
            ctbl = pa.table(ccols)
        pq.write_table(ctbl, os.path.join(cdir, "cdc-0.parquet"))
        dr.commit_actions(
            t,
            1,
            [
                {
                    "cdc": {
                        "path": "_change_data/col-r=emea/cdc-0.parquet",
                        "partitionValues": {"col-r": "emea"},
                        "size": 1,
                        "dataChange": False,
                    }
                }
            ],
        )
        feed = cdf.delta_cdf(spark, t, 0, 1)
        rows = {
            (r.user_id, r.val, r.region, r[cdf.CHANGE_TYPE])
            for r in feed.collect()
        }
        assert rows == {
            (1, 11, "emea", "update_preimage"),
            (1, 99, "emea", "update_postimage"),
        }, mode


def test_vacuum_covers_cdc_files_and_cdf_raises_cleanly(spark, tmp_path):
    """Change data files follow the same retention as stale data files:
    VACUUM removes a cdc file once its COMMIT ages past the window
    (since r11 the binding is the commit's timestamp, never the file's
    own mtime — see test_delta_maintenance's binding test), keeps
    younger ones, and a feed over a vacuumed range raises a clean
    ChangeDataFeedError instead of a scan-time 404."""
    import time as _time

    from arcane_framework_scala_spark.sources.delta_maintenance import (
        vacuum,
    )

    src = _export(spark, tmp_path, [(1, "a", 10), (7, "b", 70)])
    cdf.enable_cdf(spark, src)
    v1 = cdf.update_where(spark, src, "k = 7", {"n": "n + 1"})
    cdc_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(src, "_change_data"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert cdc_files
    # younger than the window: retained
    assert vacuum(spark, src, older_than_s=3600) == []
    assert all(os.path.exists(p) for p in cdc_files)
    # age the COMMIT past a zero-width window: its feed is reclaimed
    old = _time.time() - 10
    vfile = os.path.join(src, "_delta_log", f"{v1:020d}.json")
    os.utime(vfile, (old, old))
    removed = vacuum(spark, src, older_than_s=1)
    assert set(removed) >= {os.path.normpath(p) for p in cdc_files}
    with pytest.raises(cdf.ChangeDataFeedError, match="vacuumed"):
        cdf.delta_cdf(spark, src, v1 - 1, v1).collect()


def test_cdf_source_version_cap_slices_the_backlog(spark, tmp_path):
    """max_versions_per_batch: three commits land as three bounded
    micro-batches in ONE poll, each advancing the watermark — a crash
    after batch 1 resumes from that slice, not the backlog start."""
    from arcane_framework_scala_spark.sources.base import MicroBatch  # noqa: F401

    src = _export(spark, tmp_path, BASE)
    cdf.enable_cdf(spark, src)
    head0 = cdf.update_where(spark, src, "k = 7", {"n": "n + 1"})
    dv.delete_where(spark, src, "k = 0")
    cdf.append_rows(
        spark, src,
        spark.createDataFrame([(400, "q", 4)], "k long, g string, n long"),
    )
    source = cdf.DeltaCdfSource(
        spark, src, keys=["k"], max_versions_per_batch=1
    )
    batches = list(source.changes({"version": head0 - 1}))
    assert [b.watermark["version"] for b in batches] == [
        head0, head0 + 1, head0 + 2,
    ]
    assert all(b.units == 1 for b in batches)
    # slice contents: commit-by-commit feeds
    ops0 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[0].df.collect()}
    assert ops0 == {(7, "U")}
    ops1 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[1].df.collect()}
    assert ops1 == {(0, "D")}
    ops2 = {(r.k, r.SYS_CHANGE_OPERATION) for r in batches[2].df.collect()}
    assert ops2 == {(400, "U")}

    with pytest.raises(ValueError, match="max_versions_per_batch"):
        cdf.DeltaCdfSource(spark, src, keys=["k"], max_versions_per_batch=0)
