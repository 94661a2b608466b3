"""The javaext deletion-vector codec UDFs: ``DvDiffUdf`` decodes the
change feed's DV diff and ``DvBuildUdf`` builds ``delete_where``'s
vectors, with no Python node on either path. These tests pin (a)
bit-identity with the Python codec (the reference) across every
container shape the roaring format allows (array, bitmap, run,
multi-key 64-bit), (b) that the feed plan and the build stay in the
JVM, at any number of pre-existing vectors, (c) that the file-integrity
checks (size, CRC) fail loudly, and (d) how the jar is loaded.
"""

import base64
import struct

import numpy as np
import pytest

from arcane_framework_scala_spark.sources import delta_cdf as dcdf
from arcane_framework_scala_spark.sources import delta_dv as dv


def _jvm_positions(spark, data: bytes) -> list[tuple[int, str]]:
    """Decode ``data`` (a RoaringBitmapArray) as the 'new' vector of a
    pair diff via the JVM UDF: every position comes back as 'del'."""
    import pyspark.sql.functions as F

    dcdf._register_dv_udfs(spark)
    spec = "I|" + base64.b64encode(data).decode()
    src = spark.createDataFrame(
        [("f", None, spec)], "rel string, old string, new string"
    )
    rows = (
        src.select(F.explode(F.expr("arcane_dv_diff(old, new)")).alias("d"))
        .select("d.pos", "d.kind")
        .collect()
    )
    return [(r.pos, r.kind) for r in rows]


def test_array_bitmap_and_multikey_match_python(spark):
    # array containers (<=4096 per 16-bit key), one bitmap container
    # (70k dense lows), and values above 2^32 (multiple 64-bit keys)
    pos = np.concatenate(
        [
            np.array([3, 5, 100000], dtype=np.int64),
            np.arange(1 << 20, (1 << 20) + 70000, dtype=np.int64),
            np.array([(1 << 33) + 7, (1 << 34)], dtype=np.int64),
        ]
    )
    data = dv.serialize_positions(pos)
    expect = [(int(p), "del") for p in dv.deserialize_positions(data)]
    assert _jvm_positions(spark, data) == expect


def test_run_container_matches_python(spark):
    # our writer never emits run containers (cookie 12347) but real
    # Delta writers may — handcraft one: key 0, runs [5..9], [100..100]
    n = 1
    runs = [(5, 4), (100, 0)]
    rb = struct.pack("<I", (12347 & 0xFFFF) | ((n - 1) << 16))
    rb += bytes([0b1])  # run bitset: container 0 is a run container
    card = sum(ln + 1 for _, ln in runs)
    rb += struct.pack("<HH", 0, card - 1)
    # n < 4 -> no offsets section
    rb += struct.pack("<H", len(runs))
    for start, length in runs:
        rb += struct.pack("<HH", start, length)
    data = struct.pack("<iq", dv.MAGIC, 1) + rb
    expect = [(int(p), "del") for p in dv.deserialize_positions(data)]
    assert [p for p, _ in expect] == [5, 6, 7, 8, 9, 100]
    assert _jvm_positions(spark, data) == expect


def test_pair_diff_matches_python_reference(spark, tmp_path):
    import pyspark.sql.functions as F

    tbl = str(tmp_path)
    old = np.array([1, 2, 3, 50000, (1 << 33)], dtype=np.int64)
    new = np.array([2, 3, 4, (1 << 33), (1 << 34)], dtype=np.int64)
    d_old = dv.write_dv_file(tbl, old)
    d_new = dv.write_dv_file(tbl, new)
    got = sorted(
        (r.rel, r.pos, r.kind)
        for r in dcdf._dv_positions_df(
            spark, tbl, [("f", d_old, d_new), ("g", None, d_old)]
        ).collect()
    )
    exp = sorted(
        [("f", 4, "del"), ("f", 1 << 34, "del"), ("f", 1, "ins"),
         ("f", 50000, "ins")]
        + [("g", int(p), "del") for p in old]
    )
    assert got == exp


def test_feed_plan_has_no_python_node(spark, tmp_path):
    """A DV-commit feed plans with NO BatchEvalPython/ArrowEvalPython/
    MapInPandas node."""
    import pyspark.sql.functions as F

    tbl = str(tmp_path)
    d = dv.write_dv_file(tbl, np.array([1, 3], dtype=np.int64))
    pos = dcdf._dv_positions_df(spark, tbl, [("f", None, d)])
    plan = pos._sc._jvm.PythonSQLUtils.explainString(
        pos._jdf.queryExecution(), "formatted"
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan


def test_feed_input_lineage_has_no_python_rdd(spark, tmp_path):
    """The (rel, old, new) input frame is built from pandas through Arrow:
    a frame built from a Python list pickles its rows through a Python
    worker (a PythonRDD in the lineage) on every DV-commit feed read."""
    tbl = str(tmp_path)
    d = dv.write_dv_file(tbl, np.array([1, 3], dtype=np.int64))
    pos = dcdf._dv_positions_df(spark, tbl, [("f", None, d), ("g", d, None)])
    lineage = pos._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert sorted((r.rel, r.pos, r.kind) for r in pos.collect()) == [
        ("f", 1, "del"), ("f", 3, "del"), ("g", 1, "ins"), ("g", 3, "ins"),
    ]


def test_corrupt_crc_raises(spark, tmp_path):
    tbl = str(tmp_path)
    d = dv.write_dv_file(tbl, np.array([7, 9], dtype=np.int64))
    p = dv.resolve_dv_path(tbl, d)
    blob = bytearray(open(p, "rb").read())
    blob[-1] ^= 0xFF  # flip a CRC byte
    open(p, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="checksum"):
        dcdf._dv_positions_df(spark, tbl, [("f", None, d)]).collect()


def test_size_mismatch_raises(spark, tmp_path):
    tbl = str(tmp_path)
    d = dv.write_dv_file(tbl, np.array([7, 9], dtype=np.int64))
    bad = {**d, "sizeInBytes": d["sizeInBytes"] + 1}
    with pytest.raises(Exception, match="size mismatch|readFully|EOF"):
        dcdf._dv_positions_df(spark, tbl, [("f", None, bad)]).collect()


def _jvm_build(spark, old_spec, positions) -> tuple[bytes, int]:
    import pyspark.sql.functions as F

    dcdf._register_dv_udfs(spark)
    src = spark.createDataFrame(
        [(old_spec, [int(p) for p in positions])],
        "old string, pos array<bigint>",
    )
    r = src.select(
        F.call_udf("arcane_dv_build", F.col("old"), F.col("pos")).alias("b")
    ).collect()[0]["b"]
    return bytes(r["data"]), r["cardinality"]


def test_build_bytes_identical_to_python(spark):
    """DvBuildUdf must serialize BYTE-IDENTICALLY to the Python writer
    (DV file names are content-derived md5 UUIDs) across every layout
    case: empty-ish, array containers, a >4096 bitmap container, gapped
    high-32 keys (empty bitmaps serialized in between), duplicates."""
    cases = [
        np.array([0], dtype=np.int64),
        np.array([3, 5, 5, 9], dtype=np.int64),  # dup tolerated
        np.arange(0, 70000, dtype=np.int64),  # bitmap container
        np.array([1, (3 << 32) + 7], dtype=np.int64),  # gapped keys
        np.concatenate(
            [np.arange(65530, 65600, dtype=np.int64),  # container split
             np.array([(1 << 33) + 2], dtype=np.int64)]
        ),
    ]
    for pos in cases:
        expect = dv.serialize_positions(pos)
        got, card = _jvm_build(spark, None, pos)
        assert got == expect, f"byte mismatch for {pos[:5]}..."
        assert card == len(np.unique(pos))


def test_build_unions_old_vector(spark, tmp_path):
    tbl = str(tmp_path)
    old = np.array([2, 7, 100000], dtype=np.int64)
    d_old = dv.write_dv_file(tbl, old)
    spec = dcdf._dv_spec(tbl, d_old)
    new = np.array([7, 9], dtype=np.int64)
    expect = dv.serialize_positions(np.union1d(old, new))
    got, card = _jvm_build(spark, spec, new)
    assert got == expect
    assert card == 4


def test_delete_where_jvm_matches_python(spark, tmp_path):
    """End-to-end: delete_where with the JVM build commits the same
    descriptors (same content-derived UUID, size, cardinality) as the
    Python codec writes for the same positions on an identical table —
    for a first delete and for a second one that unions the first."""
    import json
    import os

    import pyspark.sql.functions as F

    from arcane_framework_scala_spark.sources import delta_reader as dr
    from arcane_framework_scala_spark.sinks.merge_sink import (
        SnapshotParquetTarget,
    )

    tables = {}
    for variant in ("jvm", "py"):
        root = str(tmp_path / variant)
        st = SnapshotParquetTarget(spark, root + "/pub")
        st.overwrite(
            spark.range(0, 500).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            )
        )
        tables[variant] = root + "/delta"
        dr.export_delta(st, tables[variant])

    def descriptor(d):
        return (d["pathOrInlineDv"], d["sizeInBytes"], d["cardinality"])

    for v, pred, deleted in ((1, "v = 3", "v = 3"), (2, "v = 5", "v IN (3, 5)")):
        tbl = tables["jvm"]
        assert dv.delete_where(spark, tbl, pred) == v
        acts = [
            json.loads(line)
            for line in open(
                os.path.join(tbl, "_delta_log", f"{v:020d}.json")
            )
        ]
        # data-file NAMES are per-table random UUIDs; the DV descriptor
        # (content-md5 address, size, cardinality) is the determinism
        # contract — compare the sorted descriptor multiset
        got = sorted(
            descriptor(a["add"]["deletionVector"]) for a in acts if "add" in a
        )

        ref = tables["py"]
        live, _ = dr._replay_full(ref, None, spark)
        bare = {rel: {**a, "deletionVector": None} for rel, a in live.items()}
        frame = dr._scan_with_lineage(spark, ref, bare, dr.table_schema(ref))
        by_file: dict[str, list[int]] = {}
        for r in frame.filter(deleted).select("__dl_rel", "__dl_pos").collect():
            by_file.setdefault(r["__dl_rel"], []).append(r["__dl_pos"])
        expect = sorted(
            descriptor(
                dv.write_dv_file(ref, np.sort(np.array(p, dtype=np.int64)))
            )
            for p in by_file.values()
        )
        assert got == expect


def test_build_past_the_old_literal_map_cap_stays_in_the_jvm(
    spark, tmp_path, monkeypatch
):
    """4,097 files that already hold a DV, one new hit each: one more
    old vector than the 4096-entry literal map the build used to fall
    back to grouped pandas at. The old specs ride the broadcast-joined
    frame and every file's bytes equal the Python codec's union."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    def _no_pandas(*args, **kwargs):
        raise AssertionError("pandas build path taken")

    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandas", _no_pandas)
    n = 4097
    old_descs = {}
    for i in range(n):
        data = dv.serialize_positions(np.array([2 * i], dtype=np.int64))
        old_descs[f"f{i}"] = {
            "storageType": "i",
            "pathOrInlineDv": base64.b85encode(data).decode(),
            "sizeInBytes": len(data),
            "cardinality": 1,
        }
    hits = spark.createDataFrame(
        [(f"f{i}", 2 * i + 1) for i in range(n)],
        "__dl_rel string, __dl_pos bigint",
    )
    rows = dv._build_dv_rows(spark, str(tmp_path), hits, old_descs)
    assert len(rows) == n
    for r in rows:
        i = int(r["rel"][1:])
        expect = dv.serialize_positions(np.union1d([2 * i], [2 * i + 1]))
        assert bytes(r["data"]) == expect, r["rel"]
        assert r["cardinality"] == 2


# ------------------------------------------------------- jar loading


def test_missing_jar_raises_naming_the_build_script(spark, tmp_path, monkeypatch):
    from arcane_framework_scala_spark import session

    monkeypatch.setattr(session, "JAVAEXT_JAR", str(tmp_path / "absent.jar"))
    with pytest.raises(FileNotFoundError, match="javaext/build.sh"):
        session.use_javaext(spark)


def test_jar_path_with_space_and_quote_loads_once(spark, tmp_path, monkeypatch):
    import shutil
    from urllib.parse import unquote

    from arcane_framework_scala_spark import session

    queries = []
    real_sql = spark.sql

    def spy_sql(query, *args, **kwargs):
        queries.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", spy_sql)
    session.use_javaext(spark)  # already in spark.jars: nothing to add
    assert queries == []

    d = tmp_path / "a b'c"
    d.mkdir()
    jar = d / "javaext copy's.jar"
    shutil.copy(session.JAVAEXT_JAR, jar)
    monkeypatch.setattr(session, "JAVAEXT_JAR", str(jar))

    def listed():
        urls = spark.sparkContext._jsc.sc().listJars().mkString("\n")
        return [u for u in urls.split("\n") if unquote(u).endswith(jar.name)]

    assert listed() == []
    session.use_javaext(spark)
    session.use_javaext(spark)
    assert len(listed()) == 1
    assert len(queries) == 1
