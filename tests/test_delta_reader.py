"""Jar-free Delta log reader (sources/delta_reader.py): replay the
public _delta_log protocol — adds, removes, checkpoints, time travel,
partition discovery — and refuse tables needing reader features we
don't implement."""

import json
import os
import shutil

import pytest

from arcane_framework_scala_spark.sources import delta_reader as dr

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _one_file(spark, df, table_dir, rel):
    """Write df as exactly one parquet file at table_dir/rel."""
    tmp = os.path.join(table_dir, "__tmp_write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    dst = os.path.join(table_dir, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)


def _commit(table_dir, version, actions):
    log = os.path.join(table_dir, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _meta_actions(schema_json=SCHEMA_JSON, partition_cols=None):
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": partition_cols or [],
                "configuration": {},
            }
        },
    ]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_add_remove_replay_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(1, "a"), (2, "b")]), t, "f1.parquet")
    _one_file(spark, mk([(3, "c")]), t, "f2.parquet")
    _one_file(spark, mk([(4, "d")]), t, "f3.parquet")
    _commit(t, 0, _meta_actions() + [
        {"add": {"path": "f1.parquet", "dataChange": True}},
        {"add": {"path": "f2.parquet", "dataChange": True}},
    ])
    _commit(t, 1, [
        {"remove": {"path": "f2.parquet", "dataChange": True}},
        {"add": {"path": "f3.parquet", "dataChange": True}},
    ])
    assert _rows(dr.read_delta(spark, t)) == {(1, "a"), (2, "b"), (4, "d")}
    assert _rows(dr.read_delta(spark, t, version=0)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }
    with pytest.raises(ValueError, match="not in the Delta log"):
        dr.read_delta(spark, t, version=7)
    assert [f.endswith(".parquet") for f in dr.active_files(t)] == [True] * 2
    # schema comes from the metaData action
    assert [f.name for f in dr.table_schema(t).fields] == ["id", "v"]


def test_partition_columns_come_back_via_base_path(spark, tmp_path):
    t = str(tmp_path / "p")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long")
    _one_file(spark, mk([(1,), (2,)]), t, "lang=en/f1.parquet")
    _one_file(spark, mk([(3,)]), t, "lang=fr/f2.parquet")
    # per the protocol the schemaString INCLUDES partition columns
    part_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "lang", "type": "string", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _commit(t, 0, _meta_actions(part_schema, partition_cols=["lang"]) + [
        {"add": {"path": "lang=en/f1.parquet", "dataChange": True,
                 "partitionValues": {"lang": "en"}}},
        {"add": {"path": "lang=fr/f2.parquet", "dataChange": True,
                 "partitionValues": {"lang": "fr"}}},
    ])
    got = dr.read_delta(spark, t)
    assert set(got.columns) == {"id", "lang"}
    assert _rows(got.select("id", "lang")) == {
        (1, "en"), (2, "en"), (3, "fr"),
    }
    # partition pruning applies as on any parquet table
    plan = (
        got.filter("lang = 'en'")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_checkpoint_collapses_history(spark, tmp_path):
    from pyspark.sql import Row

    t = str(tmp_path / "c")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(1, "a")]), t, "f1.parquet")
    _one_file(spark, mk([(2, "b")]), t, "f2.parquet")
    _one_file(spark, mk([(3, "c")]), t, "f3.parquet")
    _commit(t, 0, _meta_actions() + [
        {"add": {"path": "f1.parquet", "dataChange": True}},
        {"add": {"path": "f2.parquet", "dataChange": True}},
    ])
    _commit(t, 1, [{"remove": {"path": "f2.parquet", "dataChange": True}}])
    # checkpoint at v=1 holds the collapsed live set {f1} AND the
    # table's metaData (protocol: checkpoints must carry it — the
    # pre-checkpoint commits may be cleaned away)
    ck = spark.createDataFrame(
        [Row(add=Row(path="f1.parquet"), remove=None,
             metaData=Row(schemaString=SCHEMA_JSON))],
        "add struct<path:string>, remove struct<path:string>, "
        "metaData struct<schemaString:string>",
    )
    tmp = os.path.join(t, "__ck")
    ck.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(
        os.path.join(tmp, part),
        os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet"),
    )
    shutil.rmtree(tmp)
    # remove the pre-checkpoint commits: the reader must not need them
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    _commit(t, 2, [{"add": {"path": "f3.parquet", "dataChange": True}}])
    assert _rows(dr.read_delta(spark, t)) == {(1, "a"), (3, "c")}


def test_unsupported_reader_features_raise(spark, tmp_path):
    """Genuinely unimplemented features (variantType) still refuse;
    deletionVectors, columnMapping, v2Checkpoint and typeWidening are
    SUPPORTED since r9 and must pass the protocol check."""
    t = str(tmp_path / "u")
    os.makedirs(t)
    _commit(t, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"]}},
    ] + _meta_actions()[1:])
    with pytest.raises(ValueError, match="variantType"):
        dr.active_files(t)
    t2 = str(tmp_path / "u2")
    os.makedirs(t2)
    _commit(t2, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
    ] + _meta_actions()[1:])
    assert dr.active_files(t2) == []


def test_url_encoded_paths_and_empty_table(spark, tmp_path):
    t = str(tmp_path / "e")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(1, "a")]), t, "part file.parquet")
    _commit(t, 0, _meta_actions() + [
        {"add": {"path": "part%20file.parquet", "dataChange": True}},
    ])
    assert _rows(dr.read_delta(spark, t)) == {(1, "a")}
    _commit(t, 1, [
        {"remove": {"path": "part%20file.parquet", "dataChange": True}},
    ])
    empty = dr.read_delta(spark, t)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "v"]


def test_export_delta_roundtrip_and_incremental(spark, tmp_path):
    """export_delta publishes snapshots as a Delta table: the first
    export is version 0, a later snapshot exports as an incremental
    commit (removes + adds), VERSION AS OF replays history, and a
    hard-link-carried file keeps its export name (no spurious
    remove/re-add)."""
    from arcane_framework_scala_spark.queries.merge import (
        SQL_SERVER_CHANGE_TRACKING,
    )
    from arcane_framework_scala_spark.sinks.merge_sink import (
        DurableCatalogTarget,
        MergeSink,
    )

    spark.sql("DROP TABLE IF EXISTS arcm.test.delta_export")
    dur = DurableCatalogTarget(
        spark, str(tmp_path / "t"), "arcm.test.delta_export",
        partition_cols=["bucket"],
    )
    t = dur.snapshots
    sink = MergeSink(target=dur, dialect=SQL_SERVER_CHANGE_TRACKING)
    schema = (
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, "
        "SYS_CHANGE_OPERATION string, n long, bucket int"
    )
    sink.apply(spark.createDataFrame(
        [("k1", 1, "U", 10, 0), ("k2", 1, "U", 20, 1)], schema))
    out = str(tmp_path / "export")
    assert dr.export_delta(t, out) == 0
    r0 = dr.read_delta(spark, out)
    assert set(r0.columns) >= {"ARCANE_MERGE_KEY", "n", "bucket"}
    assert _rows(r0.select("ARCANE_MERGE_KEY", "n")) == _rows(
        t.read().select("ARCANE_MERGE_KEY", "n")
    )
    # wave 2 touches bucket 0 only: bucket=1's file is hard-link carried
    sink.apply(spark.createDataFrame([("k1", 2, "U", 11, 0)], schema))
    assert dr.export_delta(t, out) == 1
    assert _rows(dr.read_delta(spark, out).select("ARCANE_MERGE_KEY", "n")) \
        == {("k1", 11), ("k2", 20)}
    assert _rows(
        dr.read_delta(spark, out, version=0).select("ARCANE_MERGE_KEY", "n")
    ) == {("k1", 10), ("k2", 20)}
    # the carried bucket=1 file kept its export identity: commit 1 never
    # removes it (only bucket=0's file was remove+re-added)
    with open(os.path.join(out, "_delta_log", f"{1:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    removed = [a["remove"]["path"] for a in actions if "remove" in a]
    added = [a["add"]["path"] for a in actions if "add" in a]
    assert removed and added
    assert all("bucket=0" in p for p in removed + added), (removed, added)
    # partitionValues recorded per Delta convention
    assert all(
        a["add"]["partitionValues"] == {"bucket": "0"}
        for a in actions if "add" in a
    )
    # re-export with nothing new: no empty commit, same version
    assert dr.export_delta(t, out) == 1
    spark.sql("DROP TABLE IF EXISTS arcm.test.delta_export")


def test_truncated_log_without_checkpoint_raises(spark, tmp_path):
    """Log cleanup removed the earliest commits and no single-file
    checkpoint covers them: refuse rather than replay a partial
    history (a real table in this state uses multi-part checkpoints,
    which this reader does not implement)."""
    t = str(tmp_path / "tr")
    os.makedirs(t)
    _commit(t, 5, [{"add": {"path": "f.parquet", "dataChange": True}}])
    with pytest.raises(ValueError, match="truncated"):
        dr.active_files(t)


def test_reader_imposes_log_schema_on_evolved_tables(spark, tmp_path):
    """Schema evolution: a file written before a column existed must
    come back with that column as NULL — the log's newest metaData is
    authoritative, never parquet-footer sampling."""
    t = str(tmp_path / "ev")
    os.makedirs(t)
    _one_file(
        spark, spark.createDataFrame([(1,)], "id long"), t, "f1.parquet"
    )
    _one_file(
        spark,
        spark.createDataFrame([(2, "b")], "id long, v string"),
        t,
        "f2.parquet",
    )
    old_schema = json.dumps(
        {"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        ]}
    )
    _commit(t, 0, _meta_actions(old_schema) + [
        {"add": {"path": "f1.parquet", "dataChange": True}},
    ])
    _commit(t, 1, [
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": SCHEMA_JSON,
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "f2.parquet", "dataChange": True}},
    ])
    got = dr.read_delta(spark, t)
    assert set(got.columns) == {"id", "v"}
    assert _rows(got) == {(1, None), (2, "b")}
    # time travel to v0 reads with the OLD schema
    assert _rows(dr.read_delta(spark, t, version=0)) == {(1,)}


def test_export_reemits_metadata_on_schema_drift(spark, tmp_path):
    """A later snapshot with a drifted schema must export a fresh
    metaData action (spec readers resolve the schema from the newest
    one)."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,)], "id long"))
    out = str(tmp_path / "out")
    assert dr.export_delta(t, out) == 0
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert dr.export_delta(t, out) == 1
    assert [f.name for f in dr.table_schema(out).fields] == ["id", "v"]
    assert _rows(dr.read_delta(spark, out)) == {(1, "a")}
    assert _rows(dr.read_delta(spark, out, version=0)) == {(1,)}


def test_delta_changes_and_export_checkpoint(spark, tmp_path):
    """delta_changes derives a CDF between exported versions (the IVM
    feed for Delta tables we only read), and export_checkpoint
    collapses the log so replay survives commit-retention cleanup."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"))
    out = str(tmp_path / "out")
    dr.export_delta(t, out)
    t.overwrite(spark.createDataFrame(
        [(1, "a2"), (3, "c")], "id long, v string"))
    dr.export_delta(t, out)

    cdf = {
        (r["id"], r["op"]): (r["old_v"], r["new_v"])
        for r in dr.delta_changes(spark, out, 0, 1, keys=["id"]).collect()
    }
    assert cdf == {
        (1, "update"): ("a", "a2"),
        (2, "delete"): ("b", None),
        (3, "insert"): (None, "c"),
    }

    assert dr.export_checkpoint(spark, out) == 1
    assert os.path.exists(os.path.join(out, "_delta_log", "_last_checkpoint"))
    # retention cleans EVERY commit JSON; the checkpoint alone must
    # fully describe the table (files + protocol + metaData)
    os.remove(os.path.join(out, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(out, "_delta_log", f"{1:020d}.json"))
    assert _rows(dr.read_delta(spark, out)) == {(1, "a2"), (3, "c")}
    assert [f.name for f in dr.table_schema(out, spark=spark).fields] == [
        "id", "v",
    ]
    t.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert dr.export_delta(t, out) == 2
    assert _rows(dr.read_delta(spark, out)) == {(9, "z")}


def test_checkpoint_roundtrips_hive_escaped_partition_paths(spark, tmp_path):
    """A partition value hive-escapes in the directory name (':' →
    %3A); the checkpoint must store the URL-ENCODED path exactly like
    the commit JSONs do, or replay unquotes the raw name into a
    nonexistent path."""
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(
        spark, str(tmp_path / "t"), partition_cols=["tag"]
    )
    t.overwrite(spark.createDataFrame(
        [(1, "a:b"), (2, "plain")], "id long, tag string"))
    out = str(tmp_path / "out")
    dr.export_delta(t, out)
    want = {(1, "a:b"), (2, "plain")}
    assert _rows(dr.read_delta(spark, out).select("id", "tag")) == want
    dr.export_checkpoint(spark, out)
    os.remove(os.path.join(out, "_delta_log", f"{0:020d}.json"))
    got = dr.read_delta(spark, out)
    assert _rows(got.select("id", "tag")) == want
    # idempotent re-export on the checkpoint-only log: no new commit
    assert dr.export_delta(t, out) == 0


def test_ivm_rides_the_delta_change_feed(spark, tmp_path):
    """The view-maintenance family composes with delta_changes: a host
    profile maintained purely from the exported Delta table's derived
    CDF lands exactly on a fresh groupBy — IVM over a lakehouse table
    this engine only READS."""
    from arcane_framework_scala_spark.operators import ivm
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    w1 = [(1, "a", 10), (2, "a", 20), (3, "b", 5)]
    w2 = [(1, "a", 11), (3, "c", 5), (4, "b", 7)]
    mk = lambda rows: spark.createDataFrame(rows, "k long, host string, n long")
    t.overwrite(mk(w1))
    out = str(tmp_path / "out")
    dr.export_delta(t, out)
    t.overwrite(mk(w2))
    dr.export_delta(t, out)

    state = ivm.group_stats_bootstrap(
        dr.read_delta(spark, out, version=0), "host", "n"
    )
    cdf = dr.delta_changes(spark, out, 0, 1, keys=["k"])
    state = ivm.apply_group_delta(
        state, ivm.group_delta(cdf, "host", "n"), "host"
    )
    fresh = ivm.group_stats_bootstrap(dr.read_delta(spark, out), "host", "n")
    assert state.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(state).count() == 0


def test_export_delta_copies_when_links_are_refused(spark, tmp_path,
                                                    monkeypatch):
    """Filesystems without hard-link support (or cross-device exports)
    fall back to copy2 — same bytes, no crash."""
    import shutil as _shutil

    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    t = SnapshotParquetTarget(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))

    def no_links(src, dst, **kw):
        raise OSError(18, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", no_links)
    copies = []
    real_copy2 = _shutil.copy2
    monkeypatch.setattr(
        _shutil, "copy2",
        lambda s, d, **kw: (copies.append(d), real_copy2(s, d, **kw))[1],
    )
    out = str(tmp_path / "out")
    assert dr.export_delta(t, out) == 0
    assert copies  # the fallback actually ran
    assert _rows(dr.read_delta(spark, out)) == {(1, "a")}


def test_multipart_checkpoint_replay(spark, tmp_path):
    """Classic multi-part checkpoints (V.checkpoint.<part>.<parts>.
    parquet, r9): a complete set replays like a single file; an
    INCOMPLETE set is ignored (interrupted writer), and with the early
    commits cleaned that means a loud truncation error, never a
    partial table."""
    t = str(tmp_path / "mp")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(1, "a")]), t, "f1.parquet")
    _one_file(spark, mk([(2, "b")]), t, "f2.parquet")
    _commit(t, 0, _meta_actions() + [
        {"add": {"path": "f1.parquet", "dataChange": True}},
    ])
    _commit(t, 1, [
        {"add": {"path": "f2.parquet", "dataChange": True}},
    ])
    # hand-build a 2-part checkpoint at version 1: metaData+protocol in
    # part 1, the adds split across both parts
    from pyspark.sql import Row

    meta = _meta_actions()
    log = os.path.join(t, "_delta_log")

    ck_schema = (
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>, "
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,"
        "configuration:map<string,string>>, "
        "protocol struct<minReaderVersion:int,minWriterVersion:int>"
    )

    def _write_part(rows, part, parts):
        import shutil
        stage = os.path.join(t, f".ck{part}")
        spark.createDataFrame(rows, ck_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        src = next(
            n for n in os.listdir(stage) if n.endswith(".parquet")
        )
        os.replace(
            os.path.join(stage, src),
            os.path.join(
                log,
                f"{1:020d}.checkpoint.{part:010d}.{parts:010d}.parquet",
            ),
        )
        shutil.rmtree(stage)

    add_row = lambda p: Row(
        add=Row(path=p, partitionValues={}, size=1,
                modificationTime=0, dataChange=True),
        metaData=None, protocol=None)
    meta_row = Row(
        add=None,
        metaData=Row(
            id="m", format=Row(provider="parquet", options={}),
            schemaString=meta[1]["metaData"]["schemaString"],
            partitionColumns=[], configuration={}),
        protocol=Row(minReaderVersion=1, minWriterVersion=2))
    _write_part([meta_row, add_row("f1.parquet")], 1, 2)
    _write_part([add_row("f2.parquet")], 2, 2)
    # clean the pre-checkpoint commits: replay must ride the parts
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))
    assert _rows(dr.read_delta(spark, t)) == {(1, "a"), (2, "b")}
    # remove one part: the set is incomplete -> truncation raises
    os.remove(
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    )
    _commit(t, 2, [{"add": {"path": "f1.parquet", "dataChange": True}}])
    with pytest.raises(ValueError, match="truncated"):
        dr.read_delta(spark, t)


def test_v2_checkpoint_json_with_sidecars(spark, tmp_path):
    """V2 checkpoint replay (r9): a UUID-named JSON top file carrying
    checkpointMetadata + sidecar references; the adds live in
    _delta_log/_sidecars parquet files. A missing sidecar refuses."""
    t = str(tmp_path / "v2")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(1, "a")]), t, "f1.parquet")
    _one_file(spark, mk([(2, "b")]), t, "f2.parquet")
    _one_file(spark, mk([(3, "c")]), t, "f3.parquet")
    log = os.path.join(t, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))

    # sidecar parquet with the two live adds
    import shutil

    from pyspark.sql import Row

    add_schema = (
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>"
    )
    add_row = lambda p: Row(
        add=Row(path=p, partitionValues={}, size=1,
                modificationTime=0, dataChange=True))
    stage = os.path.join(t, ".sc")
    spark.createDataFrame(
        [add_row("f1.parquet"), add_row("f2.parquet")], add_schema
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    os.replace(
        os.path.join(stage, part),
        os.path.join(log, "_sidecars", "sc-1.parquet"),
    )
    shutil.rmtree(stage)

    uuid = "3a0887cb-1a20-4aa1-8277-2e5b2e2b2a9d"
    with open(
        os.path.join(log, f"{1:020d}.checkpoint.{uuid}.json"), "w"
    ) as f:
        for a in [
            {"checkpointMetadata": {"version": 1, "tags": {}}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"]}},
            _meta_actions()[1],
            {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1}},
        ]:
            f.write(json.dumps(a) + "\n")
    # post-checkpoint commit; pre-checkpoint commits never existed
    _commit(t, 2, [{"add": {"path": "f3.parquet", "dataChange": True}}])
    assert _rows(dr.read_delta(spark, t)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }
    # missing sidecar: loud refusal, never a partial table
    os.remove(os.path.join(log, "_sidecars", "sc-1.parquet"))
    with pytest.raises(ValueError, match="sidecar"):
        dr.read_delta(spark, t)


def test_v2_checkpoint_parquet_inline_adds(spark, tmp_path):
    """The parquet-top v2 variant with INLINE adds (no sidecars)."""
    t = str(tmp_path / "v2p")
    os.makedirs(t)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    _one_file(spark, mk([(7, "x")]), t, "g1.parquet")
    log = os.path.join(t, "_delta_log")
    os.makedirs(log)

    import shutil

    from pyspark.sql import Row

    schema = (
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>, "
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,"
        "configuration:map<string,string>>, "
        "checkpointMetadata struct<version:long>"
    )
    rows = [
        Row(add=None,
            metaData=Row(id="m",
                         format=Row(provider="parquet", options={}),
                         schemaString=SCHEMA_JSON, partitionColumns=[],
                         configuration={}),
            checkpointMetadata=None),
        Row(add=Row(path="g1.parquet", partitionValues={}, size=1,
                    modificationTime=0, dataChange=True),
            metaData=None, checkpointMetadata=None),
        Row(add=None, metaData=None,
            checkpointMetadata=Row(version=0)),
    ]
    stage = os.path.join(t, ".ck")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    uuid = "0f61a1c1-74cc-4f24-a0c9-84b3f2f9c6d2"
    os.replace(
        os.path.join(stage, part),
        os.path.join(log, f"{0:020d}.checkpoint.{uuid}.parquet"),
    )
    shutil.rmtree(stage)
    assert _rows(dr.read_delta(spark, t)) == {(7, "x")}


def test_type_widening_reads_narrow_files(spark, tmp_path):
    """typeWidening (r9): files written before the widen store int32;
    the current schema says long — per-file-group narrow scans upcast,
    and post-widen long files unify. Illegal narrowings refuse."""
    t = str(tmp_path / "tw")
    os.makedirs(t)
    _one_file(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int"),
        t, "old.parquet",
    )
    _one_file(
        spark,
        spark.createDataFrame([(3, 30)], "id long, v long"),
        t, "new.parquet",
    )
    widened_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.typeChanges": [
                            {"fromType": "integer", "toType": "long"}
                        ]
                    },
                },
                {
                    "name": "v", "type": "long", "nullable": True,
                    "metadata": {
                        "delta.typeChanges": [
                            {"fromType": "integer", "toType": "long"}
                        ]
                    },
                },
            ],
        }
    )
    _commit(t, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": widened_schema,
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "old.parquet", "dataChange": True}},
        {"add": {"path": "new.parquet", "dataChange": True}},
    ])
    got = dr.read_delta(spark, t)
    assert dict(got.dtypes) == {"id": "bigint", "v": "bigint"}
    assert _rows(got) == {(1, 10), (2, 20), (3, 30)}
    # a file storing WIDER than the schema (long vs int) must refuse
    t2 = str(tmp_path / "tw2")
    os.makedirs(t2)
    _one_file(
        spark,
        spark.createDataFrame([(9, 90)], "id long, v long"),
        t2, "wide.parquet",
    )
    narrow_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "integer", "nullable": True,
                 "metadata": {"delta.typeChanges": []}},
                {"name": "v", "type": "integer", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _commit(t2, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "t2",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": narrow_schema,
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "wide.parquet", "dataChange": True}},
    ])
    with pytest.raises(ValueError, match="not a legal type widening"):
        dr.read_delta(spark, t2).collect()

    # r10: widening COMPOSES with deletion vectors — the delete lands
    # across BOTH narrow-type groups (predicate speaks the widened
    # type) and the protocol merge keeps typeWidening declared
    from arcane_framework_scala_spark.sources import delta_dv as dvm

    assert dvm.delete_where(spark, t, "v = 20") == 1
    got2 = dr.read_delta(spark, t)
    assert dict(got2.dtypes) == {"id": "bigint", "v": "bigint"}
    assert _rows(got2) == {(1, 10), (3, 30)}
    assert dvm.delete_where(spark, t, "id = 3") == 2
    assert _rows(dr.read_delta(spark, t)) == {(1, 10)}
    proto = json.loads(
        next(
            ln
            for ln in open(
                os.path.join(t, "_delta_log", f"{1:020d}.json")
            ).read().splitlines()
            if '"protocol"' in ln
        )
    )["protocol"]
    assert "typeWidening" in proto["readerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]
