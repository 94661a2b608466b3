"""Delta deletion vectors (sources/delta_dv.py): roaring-bitmap codec
pinned at byte level against the public RoaringFormatSpec / delta
PROTOCOL.md layouts, DV file I/O with size+CRC verification, and the
read/write lifecycle through delta_reader."""

import os
import struct

import numpy as np
import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.sinks.merge_sink import (
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources import delta_dv as dv
from arcane_framework_scala_spark.sources import delta_maintenance as dmx
from arcane_framework_scala_spark.sources import delta_reader as dr


# ------------------------------------------------------------- codec


def test_roaring_roundtrip_all_container_shapes():
    rng = np.random.RandomState(7)
    cases = [
        np.array([], dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([0, 1, 5, 65535, 65536, 70000], dtype=np.int64),
        np.arange(100000, dtype=np.int64),  # dense -> bitmap containers
        np.array([2**32 + 5, 2**33 + 1, 7], dtype=np.int64),  # multi-map
        rng.choice(10**7, 50000, replace=False).astype(np.int64),
        np.array([4096] * 3, dtype=np.int64),  # duplicates collapse
    ]
    for case in cases:
        got = dv.deserialize_positions(dv.serialize_positions(case))
        assert np.array_equal(got, np.unique(case))


def test_portable_layout_byte_fixture():
    """{1,2,3} serialized: delta magic, one 32-bit map, cookie 12346,
    one array container keyed 0 with card 3 — every offset per the
    public RoaringFormatSpec."""
    b = dv.serialize_positions(np.array([1, 2, 3], dtype=np.int64))
    magic, n = struct.unpack_from("<iq", b, 0)
    cookie, nc = struct.unpack_from("<ii", b, 12)
    key, cm1 = struct.unpack_from("<HH", b, 20)
    (off,) = struct.unpack_from("<i", b, 24)
    vals = struct.unpack_from("<3H", b, 12 + off)
    assert (magic, n) == (1681511377, 1)
    assert (cookie, nc, key, cm1 + 1, off) == (12346, 1, 0, 3, 16)
    assert vals == (1, 2, 3)


def test_run_container_cookie_12347_decodes():
    """Hand-built run-container bitmap (cookie 12347, runs [5..9] and
    [20..22]) — the shape real writers emit for dense runs."""
    rb = (
        struct.pack("<i", (0 << 16) | 12347)
        + bytes([1])  # run bitset: container 0 is a run container
        + struct.pack("<HH", 0, 7)  # key 0, cardinality 8
        + struct.pack("<HHHHH", 2, 5, 4, 20, 2)  # 2 runs
    )
    arr = struct.pack("<iq", dv.MAGIC, 1) + rb
    assert list(dv.deserialize_positions(arr)) == [5, 6, 7, 8, 9, 20, 21, 22]


def test_run_cookie_with_high_bit_container_count_decodes():
    """A run-format bitmap with >= 0x8000 containers packs (n-1)<<16
    into the cookie's TOP BIT — a signed int32 read goes negative and
    misparses; the cookie must be read unsigned."""
    n = 0x8001  # (n-1) << 16 sets bit 31
    out = bytearray(struct.pack("<I", ((n - 1) << 16) | 12347))
    out += b"\xff" * ((n + 7) // 8)  # every container is a run container
    for k in range(n):
        out += struct.pack("<HH", k, 0)  # key k, cardinality 1
    out += b"\x00" * (4 * n)  # offsets (present at n >= 4; reader skips)
    for _ in range(n):
        out += struct.pack("<HHH", 1, 0, 0)  # 1 run: [0..0]
    arr = struct.pack("<iq", dv.MAGIC, 1) + bytes(out)
    got = dv.deserialize_positions(arr)
    assert len(got) == n
    assert np.array_equal(got, (np.arange(n, dtype=np.int64) << 16))


def test_dv_file_crc_and_size_checks(tmp_path):
    pos = np.array([3, 5, 9], dtype=np.int64)
    desc = dv.write_dv_file(str(tmp_path), pos)
    assert desc["storageType"] == "u"
    assert desc["cardinality"] == 3
    assert np.array_equal(dv.read_dv(str(tmp_path), desc), pos)
    # corrupt one data byte: CRC must catch it
    path = dv.resolve_dv_path(str(tmp_path), desc)
    blob = bytearray(open(path, "rb").read())
    blob[7] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(dv.DeletionVectorError, match="checksum|size"):
        dv.read_dv(str(tmp_path), desc)


def test_inline_dv_descriptor():
    import base64

    data = dv.serialize_positions(np.array([1, 4], dtype=np.int64))
    desc = {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(data).decode(),
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    assert list(dv.read_dv("/nowhere", desc)) == [1, 4]


# ---------------------------------------------------------- lifecycle


def _export(spark, tmp_path, n=200):
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 3).alias("p")
    )
    st = SnapshotParquetTarget(
        spark, str(tmp_path / "pub"), partition_cols=["p"]
    )
    st.overwrite(df)
    out = str(tmp_path / "delta [x]")
    assert dr.export_delta(st, out) == 0
    return out


def _ids(spark, out, **kw):
    return {r.id for r in dr.read_delta(spark, out, **kw).collect()}


def test_delete_where_roundtrip_and_merge(spark, tmp_path):
    out = _export(spark, tmp_path)
    assert dv.delete_where(spark, out, "id % 4 = 0") == 1
    want = {i for i in range(200) if i % 4}
    assert _ids(spark, out) == want
    # superset rule: the second DV on a file carries BOTH deletes
    assert dv.delete_where(spark, out, "k = 3 AND id < 100") == 2
    want = {i for i in want if not (i % 7 == 3 and i < 100)}
    assert _ids(spark, out) == want
    # no-op predicate -> no commit
    assert dv.delete_where(spark, out, "id = -1") is None
    assert dr.commit_versions(out)[-1] == 2
    # time travel sees each stage
    assert _ids(spark, out, version=0) == set(range(200))
    assert _ids(spark, out, version=1) == {i for i in range(200) if i % 4}
    # protocol upgraded with the feature, and our reader accepts it
    meta_protocol = [
        a
        for a in open(
            os.path.join(out, "_delta_log", f"{1:020d}.json")
        ).read().splitlines()
        if "protocol" in a
    ]
    assert "deletionVectors" in meta_protocol[0]


def test_distributed_build_pins_byte_identical_dv_files(spark, tmp_path):
    """delete_where's distributed build (``DvBuildUdf``) must produce
    byte-for-byte the files the Python codec produces: content-derived
    UUID names, serialize_positions payloads, one DV per touched file —
    for a first delete, and for a second delete on files that already
    hold a DV (the superset rule: the new DV holds both deletes)."""
    import hashlib
    import uuid as uuid_mod
    import zlib

    out = _export(spark, tmp_path, n=300)  # 3 partitions -> >= 3 files
    schema = dr.table_schema(out)
    for v, pred, deleted in (
        (1, "id % 4 = 0", "id % 4 = 0"),
        (2, "id % 5 = 0", "id % 4 = 0 OR id % 5 = 0"),
    ):
        assert dv.delete_where(spark, out, pred) == v
        live, _ = dr._replay_full(out, None, spark)
        touched = {
            rel: a["deletionVector"]
            for rel, a in live.items()
            if a.get("deletionVector")
        }
        assert len(touched) >= 3, "expected a multi-file delete"
        for rel, desc in touched.items():
            # the expected positions for THIS file: a fresh lineage scan
            # of the file with no DV applied
            frame = dr._scan_with_lineage(
                spark, out, {rel: {**live[rel], "deletionVector": None}},
                schema,
            )
            pos = np.sort(
                np.array(
                    [
                        r["__dl_pos"]
                        for r in frame.filter(deleted)
                        .select("__dl_pos")
                        .collect()
                    ],
                    dtype=np.int64,
                )
            )
            expected = dv.serialize_positions(pos)
            # descriptor must carry the exact metadata of that payload
            assert desc["sizeInBytes"] == len(expected)
            assert desc["cardinality"] == len(pos)
            # and the on-disk file must be the canonical blob byte-for-byte
            path = dv.resolve_dv_path(out, desc)
            blob = open(path, "rb").read()
            assert blob == (
                bytes([1])
                + struct.pack(">i", len(expected))
                + expected
                + struct.pack(">I", zlib.crc32(expected) & 0xFFFFFFFF)
            )
            # content-derived name: md5 of the payload
            uid = uuid_mod.UUID(bytes=hashlib.md5(expected).digest())
            assert path.endswith(f"deletion_vector_{uid}.bin")


def test_second_dv_commit_omits_protocol_action(spark, tmp_path):
    """Once the table declares deletionVectors, later delete_where
    commits must NOT re-emit a protocol action (replay takes the newest
    protocol — re-emitting would be where feature-dropping bugs live)."""
    out = _export(spark, tmp_path, n=40)
    assert dv.delete_where(spark, out, "id = 1") == 1
    assert dv.delete_where(spark, out, "id = 2") == 2
    lines = open(
        os.path.join(out, "_delta_log", f"{2:020d}.json")
    ).read().splitlines()
    assert not any('"protocol"' in ln for ln in lines)
    assert _ids(spark, out) == set(range(40)) - {1, 2}


def test_protocol_merge_preserves_legacy_features():
    """Upgrading a legacy protocol to table-features must carry the
    legacy-implied features forward (PROTOCOL.md): a minReaderVersion-2
    / minWriterVersion-5 table keeps columnMapping, a plain 1/2 table
    gains appendOnly+invariants, and richer existing feature lists
    merge instead of being clobbered."""
    p = dv._merged_protocol(
        {"minReaderVersion": 2, "minWriterVersion": 5}
    )
    assert p == {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["columnMapping", "deletionVectors"],
        "writerFeatures": sorted(
            [
                "appendOnly", "invariants", "checkConstraints",
                "changeDataFeed", "generatedColumns", "columnMapping",
                "deletionVectors",
            ]
        ),
    }
    p2 = dv._merged_protocol(
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz", "domainMetadata"],
        }
    )
    assert p2["readerFeatures"] == ["deletionVectors", "timestampNtz"]
    assert p2["writerFeatures"] == [
        "deletionVectors", "domainMetadata", "timestampNtz",
    ]
    # already declared -> no action at all
    assert (
        dv._merged_protocol(
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        )
        is None
    )


def test_unknown_reader_feature_still_raises(spark, tmp_path):
    out = _export(spark, tmp_path, n=10)
    assert dv.delete_where(spark, out, "id = 1") == 1
    # forge an unsupported feature into the protocol action
    p = os.path.join(out, "_delta_log", f"{1:020d}.json")
    s = open(p).read().replace(
        '"readerFeatures": ["deletionVectors"]',
        '"readerFeatures": ["deletionVectors", "variantType"]',
    )
    open(p, "w").write(s)
    with pytest.raises(ValueError, match="reader features"):
        dr.read_delta(spark, out)


def test_checkpoint_with_live_dvs_roundtrips(spark, tmp_path):
    """r10 (lifts the purge-first fence): a checkpoint carries live DV
    descriptors, the CURRENT protocol (features included) and the
    remove tombstones — replay from the checkpoint ALONE reproduces the
    DV-applied state, keeps the feature declarations, and keeps
    vacuum's retention input."""
    out = _export(spark, tmp_path, n=60)
    assert dv.delete_where(spark, out, "id < 15") == 1
    assert dr.export_checkpoint(spark, out) == 1
    want = set(range(15, 60))
    assert _ids(spark, out) == want
    # clean EVERY commit json: the checkpoint must stand alone
    log = os.path.join(out, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json") and not n.startswith("_"):
            os.remove(os.path.join(log, n))
    assert _ids(spark, out) == want
    st = dr._replay_state(out, spark=spark)
    assert "deletionVectors" in (st["protocol"] or {}).get(
        "readerFeatures", []
    )
    # and the table keeps working: a SECOND delete on top of the
    # checkpointed DV state (superset rule across the checkpoint)
    assert dv.delete_where(spark, out, "id % 2 = 0") == 2
    want = {i for i in want if i % 2}
    assert _ids(spark, out) == want

    # purge produces NET removes (old files replaced by clean ones);
    # the next checkpoint must RETAIN those tombstones so vacuum's
    # retention input survives log cleaning
    assert dmx.purge_deletion_vectors(spark, out) == 3
    assert dr.export_checkpoint(spark, out) == 3
    for n in os.listdir(os.path.join(out, "_delta_log")):
        if n.endswith(".json") and not n.startswith("_"):
            os.remove(os.path.join(out, "_delta_log", n))
    assert _ids(spark, out) == want
    st2 = dr._replay_state(out, spark=spark)
    assert st2["tombstones"], "checkpoint dropped the remove tombstones"
    assert all(
        a.get("deletionTimestamp") for a in st2["tombstones"].values()
    )
    # fresh tombstones + aged files -> vacuum retains inside the window
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for n in files:
            os.utime(os.path.join(root, n), (1, 1))
    assert dmx.vacuum(spark, out, older_than_s=3600) == []


def test_derived_cdf_sees_dv_deletes(spark, tmp_path):
    out = _export(spark, tmp_path, n=60)
    assert dv.delete_where(spark, out, "id % 5 = 0") == 1
    ch = dr.delta_changes(spark, out, 0, 1, ["id"])
    rows = {(r["id"], r["op"]) for r in ch.collect()}
    assert rows == {(i, "delete") for i in range(0, 60, 5)}


def test_dv_crc_is_full_unsigned_32bit(tmp_path):
    """A payload whose CRC-32 has the TOP BIT SET must verify — the
    checksum is the full unsigned value (Java writes the same bit
    pattern as a signed int); a 31-bit mask would reject half of all
    real files."""
    import zlib

    rng = np.random.RandomState(0)
    for _ in range(200):
        pos = rng.choice(10**6, rng.randint(1, 50), replace=False)
        data = dv.serialize_positions(pos.astype(np.int64))
        if zlib.crc32(data) >= 2**31:
            break
    else:
        pytest.skip("no high-bit CRC found (vanishingly unlikely)")
    desc = dv.write_dv_file(str(tmp_path), pos.astype(np.int64))
    got = dv.read_dv(str(tmp_path), desc)
    assert np.array_equal(got, np.unique(pos))
