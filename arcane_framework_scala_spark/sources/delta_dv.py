"""Delta Lake DELETION VECTORS: the roaring-bitmap codec, DV file I/O,
descriptor resolution and ``delete_where`` — from the PUBLIC formats
only (delta.io PROTOCOL.md "Deletion Vectors" + the RoaringBitmap
project's RoaringFormatSpec; the reference engine consumes Delta
through its lakehouse runtime, no Delta jar is used here). The Python
codec is the reference the javaext ``DvBuildUdf`` / ``DvDiffUdf`` are
tested against, and the driver-side reader (:func:`read_dv`); the
distributed build and decode run in those UDFs.

Layers, bottom-up:

- 32-bit RoaringBitmap portable serialization: the reader handles both
  cookies (12346 no-run; 12347 with the run-container bitset and the
  <4-container no-offsets rule); the writer always emits the simplest
  legal form — cookie 12346, array containers at cardinality <= 4096,
  8 KiB bitmap containers above.
- RoaringBitmapArray ("portable" 64-bit form Delta uses): int32 LE
  magic 1681511377, int64 LE bitmap count, then each 32-bit bitmap
  back-to-back; bitmap i holds the low 32 bits of values whose high 32
  bits equal i.
- DV FILE: a 1-byte format version (1), then each vector stored as
  [int32 BE dataSize][data][int32 BE CRC-32 of data]; the descriptor's
  ``offset`` points at the dataSize word and ``sizeInBytes`` is the
  data length (both checked, plus the CRC).
- DESCRIPTOR (``add.deletionVector``): storageType "u" resolves
  ``pathOrInlineDv`` = optional prefix + base85(16-byte UUID) (RFC 1924
  alphabet — stdlib ``base64.b85decode``) to
  ``<table>/<prefix>/deletion_vector_<uuid>.bin``; "p" is an absolute
  path; "i" is inline base85 data.

Scale note: a DV is O(deleted rows) bits ROARING-compressed; decoding
expands to an int64 position array only where applied.
"""

from __future__ import annotations

import base64
import os
import struct
import uuid as uuid_mod
import zlib

import numpy as np

MAGIC = 1681511377  # RoaringBitmapArray portable magic (delta)
_COOKIE_NO_RUN = 12346
_COOKIE_RUN = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096


class DeletionVectorError(ValueError):
    pass


# ---------------------------------------------------- 32-bit roaring


def _serialize_rb32(values: np.ndarray) -> bytes:
    """Portable-serialize a SORTED UNIQUE uint32 array as a 32-bit
    RoaringBitmap (cookie 12346: no run containers, offsets present)."""
    keys = (values >> 16).astype(np.uint16)
    uniq_keys, starts = np.unique(keys, return_index=True)
    bounds = list(starts) + [len(values)]
    containers: list[tuple[int, int, bytes]] = []  # key, card, payload
    for i, k in enumerate(uniq_keys):
        lo = (values[bounds[i] : bounds[i + 1]] & 0xFFFF).astype(np.uint16)
        card = len(lo)
        if card <= _ARRAY_MAX:
            payload = lo.astype("<u2").tobytes()
        else:
            bits = np.zeros(1024, dtype="<u8")
            idx = lo.astype(np.uint32)
            np.bitwise_or.at(
                bits, idx >> 6, np.left_shift(np.uint64(1), (idx & 63).astype(np.uint64))
            )
            payload = bits.tobytes()
        containers.append((int(k), card, payload))
    n = len(containers)
    out = bytearray()
    out += struct.pack("<ii", _COOKIE_NO_RUN, n)
    for k, card, _ in containers:
        out += struct.pack("<HH", k, card - 1)
    # offsets: byte position of each container payload from stream start
    pos = 4 + 4 + 4 * n + 4 * n
    for _, _, payload in containers:
        out += struct.pack("<i", pos)
        pos += len(payload)
    for _, _, payload in containers:
        out += payload
    return bytes(out)


def _deserialize_rb32(buf: bytes, base: int) -> tuple[np.ndarray, int]:
    """Decode one 32-bit RoaringBitmap at ``base``; returns (sorted
    uint32 values, bytes consumed)."""
    # unsigned: a run-cookie with >= 0x8000 containers sets bit 31 and a
    # signed read would go negative (n computed from a sign-extended
    # shift misparses the stream)
    (cookie,) = struct.unpack_from("<I", buf, base)
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = ((cookie >> 16) & 0xFFFF) + 1
        p = base + 4
        run_bits = buf[p : p + (n + 7) // 8]
        p += (n + 7) // 8
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, base + 4)
        p = base + 8
        run_bits = b""
        has_offsets = True
    else:
        raise DeletionVectorError(f"bad roaring cookie {cookie}")
    keys = []
    cards = []
    for i in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, p)
        keys.append(k)
        cards.append(cm1 + 1)
        p += 4
    if has_offsets:
        p += 4 * n  # we read containers sequentially; offsets unused
    chunks = []
    for i in range(n):
        is_run = bool(run_bits) and bool(run_bits[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, p)
            p += 2
            runs = np.frombuffer(buf, "<u2", n_runs * 2, p).reshape(-1, 2)
            p += 4 * n_runs
            lo = np.concatenate(
                [
                    np.arange(s, s + ln + 1, dtype=np.uint32)
                    for s, ln in runs
                ]
            ) if n_runs else np.empty(0, np.uint32)
        elif cards[i] <= _ARRAY_MAX:
            lo = np.frombuffer(buf, "<u2", cards[i], p).astype(np.uint32)
            p += 2 * cards[i]
        else:
            bits = np.frombuffer(buf, "<u8", 1024, p)
            p += 8192
            lo = np.flatnonzero(
                np.unpackbits(
                    bits.view(np.uint8), bitorder="little"
                )
            ).astype(np.uint32)
        chunks.append((np.uint32(keys[i]) << np.uint32(16)) | lo)
    vals = (
        np.concatenate(chunks) if chunks else np.empty(0, np.uint32)
    )
    return vals, p - base


# ------------------------------------------------ RoaringBitmapArray


def serialize_positions(positions: np.ndarray) -> bytes:
    """int64 row positions -> Delta's portable RoaringBitmapArray."""
    pos = np.unique(positions.astype(np.uint64))
    highs = (pos >> np.uint64(32)).astype(np.uint32)
    out = bytearray(struct.pack("<iq", MAGIC, 0))
    n_maps = 0
    if len(pos):
        if int(highs.max()) > 0x7FFFFFFF:
            raise DeletionVectorError("position exceeds the DV domain")
        uniq, starts = np.unique(highs, return_index=True)
        bounds = list(starts) + [len(pos)]
        # every index up to the max key is present (empty maps allowed)
        n_maps = int(uniq.max()) + 1
        by_key = {int(k): (bounds[i], bounds[i + 1]) for i, k in enumerate(uniq)}
        for k in range(n_maps):
            if k in by_key:
                a, b = by_key[k]
                out += _serialize_rb32(
                    (pos[a:b] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
                )
            else:
                out += _serialize_rb32(np.empty(0, np.uint32))
    struct.pack_into("<iq", out, 0, MAGIC, n_maps)
    return bytes(out)


def deserialize_positions(data: bytes) -> np.ndarray:
    """Delta portable RoaringBitmapArray -> sorted int64 positions."""
    magic, n_maps = struct.unpack_from("<iq", data, 0)
    if magic != MAGIC:
        raise DeletionVectorError(f"bad RoaringBitmapArray magic {magic}")
    p = 12
    chunks = []
    for k in range(n_maps):
        vals, used = _deserialize_rb32(data, p)
        p += used
        if len(vals):
            chunks.append(
                (np.uint64(k) << np.uint64(32)) | vals.astype(np.uint64)
            )
    if not chunks:
        return np.empty(0, np.int64)
    return np.concatenate(chunks).astype(np.int64)


# ------------------------------------------------------------ DV file


def write_dv_file(table_path: str, positions: np.ndarray) -> dict:
    """Write ONE deletion vector into a fresh "u"-addressed DV file;
    returns the ``deletionVector`` descriptor dict for the add action."""
    return write_dv_blob(
        table_path,
        serialize_positions(positions),
        int(len(np.unique(positions))),
    )


def write_dv_blob(table_path: str, data: bytes, cardinality: int) -> dict:
    """Publish an already-serialized RoaringBitmapArray as a DV file —
    the driver-side tail of the distributed ``delete_where`` build
    (executors serialize, the driver only writes metadata-sized blobs).
    The UUID is content-derived (deterministic replays re-produce the
    same file, a commit retry is idempotent)."""
    uid = uuid_mod.UUID(bytes=__import__("hashlib").md5(data).digest())
    fname = f"deletion_vector_{uid}.bin"
    abspath = os.path.join(table_path, fname)
    # CRC-32 is the full unsigned 32-bit value, stored as 4 raw
    # big-endian bytes (Java writes the same bit pattern as a signed
    # int — masking to 31 bits would reject half of real files)
    blob = bytes([1]) + struct.pack(">i", len(data)) + data + struct.pack(
        ">I", zlib.crc32(data) & 0xFFFFFFFF
    )
    tmp = abspath + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, abspath)
    return {
        "storageType": "u",
        "pathOrInlineDv": base64.b85encode(uid.bytes).decode(),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": int(cardinality),
    }


#: legacy (pre-table-features) protocol versions imply named features
#: when upgrading to readerVersion 3 / writerVersion 7 — delta.io
#: PROTOCOL.md "Table Features": the upgrade must carry them forward or
#: the table silently loses requirements (e.g. columnMapping on a
#: legacy minReaderVersion-2 table)
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def _merged_protocol(old: dict | None) -> dict | None:
    """Protocol action that ADDS ``deletionVectors`` while preserving
    every requirement the table already declares: max of the version
    pair, union of explicit features plus the features IMPLIED by a
    legacy (list-free) version. Returns None when the table already
    declares deletionVectors — no protocol action belongs in the
    commit then."""
    old = old or {}
    r = old.get("minReaderVersion", 1)
    w = old.get("minWriterVersion", 2)
    rfeats = set(old.get("readerFeatures") or ())
    wfeats = set(old.get("writerFeatures") or ())
    if "deletionVectors" in rfeats and "deletionVectors" in wfeats:
        return None
    if r < 3:
        for v, fs in _LEGACY_READER_FEATURES.items():
            if v <= r:
                rfeats.update(fs)
    if w < 7:
        for v, fs in _LEGACY_WRITER_FEATURES.items():
            if v <= w:
                wfeats.update(fs)
    rfeats.add("deletionVectors")
    # the spec requires every reader feature to appear in writerFeatures
    wfeats |= rfeats
    return {
        "minReaderVersion": max(3, r),
        "minWriterVersion": max(7, w),
        "readerFeatures": sorted(rfeats),
        "writerFeatures": sorted(wfeats),
    }


def delete_where(spark, table_path: str, predicate: str) -> int | None:
    """Commit a DELETION-VECTOR delete to a Delta table: live rows
    matching the SQL ``predicate`` (evaluated over the current
    DV-applied state) become per-file roaring bitmaps; each touched
    file is re-added with its merged descriptor (the spec's superset
    rule: a file's new DV contains every previously deleted position)
    and the old entry removed — untouched files are never rewritten,
    the commit is metadata-sized. The bitmaps are built DISTRIBUTED
    (:func:`_build_dv_rows`): positions group by file executor-side and
    each file's roaring bitmap serializes in the javaext ``DvBuildUdf``
    — the driver collects one (file, bitmap-bytes) row per touched
    file, O(files × compressed-bitmap bytes), never O(deleted rows).
    The first DV commit upgrades the protocol by MERGING
    ``deletionVectors`` into the table's existing requirements
    (:func:`_merged_protocol`) — never clobbering legacy-implied
    features like columnMapping. Returns the new version, or None when
    nothing matched."""
    import time

    import pyspark.sql.functions as F

    from arcane_framework_scala_spark.sources import delta_reader as dr

    st = dr._replay_state(table_path, None, spark)
    live, meta = st["live"], st["meta"]
    if not live:
        raise DeletionVectorError(f"{table_path}: empty table")
    schema = dr._schema_from_meta(meta, table_path)
    frame = dr._lineage_frame(spark, table_path, live, meta, schema)
    hits = frame.filter(F.expr(predicate)).select("__dl_rel", "__dl_pos")

    old_descs = {
        rel: a["deletionVector"]
        for rel, a in live.items()
        if a.get("deletionVector")
    }
    built = _build_dv_rows(spark, table_path, hits, old_descs)
    if not built:
        return None
    versions = dr.commit_versions(table_path)
    ckpt = dr._latest_checkpoint(table_path, None)
    head = max(
        versions[-1] if versions else -1, ckpt if ckpt is not None else -1
    )
    next_v = head + 1

    actions: list[dict] = []
    merged = _merged_protocol(st["protocol"])
    if merged is not None:
        actions.append({"protocol": merged})
    now_ms = int(time.time() * 1000)
    for row in sorted(built, key=lambda r: r["rel"]):
        rel = row["rel"]
        desc = write_dv_blob(
            table_path, bytes(row["data"]), row["cardinality"]
        )
        old = old_descs.get(rel)
        add = dict(live[rel])
        remove = {
            "path": add["path"],
            "deletionTimestamp": now_ms,
            "dataChange": True,
        }
        if old:
            remove["deletionVector"] = old
        add["deletionVector"] = desc
        add["dataChange"] = True
        actions.append({"remove": remove})
        actions.append({"add": add})

    dr.commit_actions(table_path, next_v, actions)
    return next_v


def _build_dv_rows(spark, table_path: str, hits, old_descs: dict) -> list:
    """One ``(rel, data, cardinality)`` row per touched file — the
    distributed bitmap build of :func:`delete_where`. Positions group
    by file; each file's current DV spec arrives through a
    broadcast-joined ``(rel, spec)`` frame, and the javaext
    ``DvBuildUdf`` unions it with the new positions (superset rule) and
    serializes the roaring bitmap — byte-identical to
    :func:`serialize_positions`, pinned in tests/test_dv_diff_jvm.py.
    No Python node in the DV write path; the driver collects O(files ×
    compressed-bitmap bytes), never O(deleted rows)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from arcane_framework_scala_spark.sources import delta_cdf as dcdf

    dcdf._register_dv_udfs(spark)
    grouped = hits.groupBy("__dl_rel").agg(
        F.array_sort(F.collect_list("__dl_pos")).alias("__pos")
    )
    if old_descs:
        # an Arrow-built frame: a list-built one pickles its rows
        # through a Python worker when the broadcast side runs
        specs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "__dl_rel": list(old_descs),
                    "__old": [
                        dcdf._dv_spec(table_path, d)
                        for d in old_descs.values()
                    ],
                }
            ),
            "__dl_rel string, __old string",
        )
        grouped = grouped.join(F.broadcast(specs), "__dl_rel", "left")
    else:
        # no file holds a DV yet: an empty frame would still cost a
        # broadcast job
        grouped = grouped.withColumn("__old", F.lit(None).cast("string"))
    return (
        grouped.select(
            F.col("__dl_rel").alias("rel"),
            F.call_udf(
                dcdf._DV_BUILD_UDF, F.col("__old"), F.col("__pos")
            ).alias("__b"),
        )
        .select(
            "rel",
            F.col("__b.data").alias("data"),
            F.col("__b.cardinality").alias("cardinality"),
        )
        .collect()
    )


def resolve_dv_path(table_path: str, descriptor: dict) -> str:
    st = descriptor["storageType"]
    if st == "p":
        return descriptor["pathOrInlineDv"]
    if st != "u":
        raise DeletionVectorError(f"unsupported DV storageType {st!r}")
    enc = descriptor["pathOrInlineDv"]
    prefix, b85 = enc[:-20], enc[-20:]
    uid = uuid_mod.UUID(bytes=base64.b85decode(b85))
    return os.path.join(table_path, prefix, f"deletion_vector_{uid}.bin")


def read_dv(table_path: str, descriptor: dict) -> np.ndarray:
    """Descriptor -> sorted int64 deleted positions (size + CRC
    verified; inline "i" vectors decoded without file I/O)."""
    if descriptor["storageType"] == "i":
        data = base64.b85decode(descriptor["pathOrInlineDv"])
        return deserialize_positions(data)
    path = resolve_dv_path(table_path, descriptor)
    with open(path, "rb") as f:
        blob = f.read()
    if not blob or blob[0] != 1:
        raise DeletionVectorError(
            f"unsupported DV file version {blob[:1]!r} in {path!r}"
        )
    off = descriptor.get("offset", 1)
    (size,) = struct.unpack_from(">i", blob, off)
    if size != descriptor["sizeInBytes"]:
        raise DeletionVectorError(
            f"DV size mismatch at {path!r}: header {size} != "
            f"descriptor {descriptor['sizeInBytes']}"
        )
    data = blob[off + 4 : off + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, off + 4 + size)
    if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
        raise DeletionVectorError(f"DV checksum mismatch in {path!r}")
    return deserialize_positions(data)
