"""Blob listing sources (S8 parquet / S9 JSON / S10 CSV).

Reference behavior (``services/blobsource/readers/listing/
BlobListingStreamingSource.scala:110-119`` and
``BlobListingParquetStreamingSource.scala:90-112``): list the bucket,
filter blobs with ``createdOn >= watermark``, stream rows, enrich each row
with ``ARCANE_MERGE_KEY`` (base64 SHA-256 of lower-cased concatenated PKs,
``models/batches/BlobBatchCommons.scala:21-51``) and a ``createdon``
version column (blob creation epoch).

No re-merge at the boundary: the reference's inclusive filter re-reads
every file of the watermark's own second on each poll (a no-op merge by
the version guard, but a full read, shuffle and rewrite). Here each
batch's watermark also names the files of its boundary second
(``Watermark.boundary``: ``name@mtime_ms``), and the next poll takes
files newer than the watermark plus the files of that second it does not
name — a late arrival, or a file rewritten in place. A watermark without
a boundary (an older one, or the reference's) falls back to the
inclusive re-read.

Spark-first design: the listing runs on the driver through Hadoop's
FileSystem API (works for s3a/abfss/local URIs alike), but rows never touch
the driver — files are handed to ``spark.read`` in watermark-ascending
groups, and the per-file creation time comes from the executor-side
``_metadata.file_modification_time`` hidden column, so enrichment is a
narrow projection. ``maxFilesPerTrigger``-style batching caps batch size
(T3 static throughput shaping).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from arcane_framework_scala_spark.functions.merge_key import blob_merge_key
from arcane_framework_scala_spark.schema.schema import (
    BLOB_VERSION_COLUMN,
    MERGE_KEY_COLUMN,
)
from arcane_framework_scala_spark.sources.base import MicroBatch


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, str, int]]:
    """(uri, name relative to ``path``, modification epoch millis) for
    every file under ``path``, via the JVM Hadoop FileSystem so
    s3a/abfss/file URIs all work."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.exists(hpath):
        return []
    root = fs.makeQualified(hpath).toString().rstrip("/") + "/"
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if st.isFile():
            uri = st.getPath().toString()
            name = uri[len(root):] if uri.startswith(root) else uri
            out.append((uri, name, st.getModificationTime()))
    return out


@dataclass(frozen=True)
class _Blob:
    uri: str
    #: creation epoch second: the version the watermark orders by
    ts: int
    #: ``name@mtime_ms``: the file's identity in a watermark boundary
    tag: str


@dataclass
class BlobListingSource:
    """Common listing/watermark logic for the three blob formats."""

    spark: SparkSession
    path: str
    primary_keys: list[str]
    max_files_per_batch: int = 10_000
    #: exclude files whose names start with any of these (commit markers etc.)
    exclude_prefixes: tuple[str, ...] = ("_", ".")

    #: the listing the last ``current_version()`` probe took, handed to
    #: the next ``changes()`` call so one poll lists the bucket once
    _probed: list[_Blob] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def _eligible(self) -> list[_Blob]:
        files = [
            _Blob(uri, ms // 1000, f"{name}@{ms}")
            for uri, name, ms in _list_files(self.spark, self.path)
            if not uri.rsplit("/", 1)[-1].startswith(self.exclude_prefixes)
        ]
        return sorted(files, key=lambda b: (b.ts, b.uri))

    def current_version(self) -> dict:
        """A2: max createdOn over the listing (driver-side fold)."""
        self._probed = self._eligible()
        return {"version": max((b.ts for b in self._probed), default=0)}

    def _read(self, paths: list[str]) -> DataFrame:  # format-specific
        raise NotImplementedError

    def _enrich(self, df: DataFrame) -> DataFrame:
        version = F.col("_metadata.file_modification_time").cast("long")
        return df.select(
            "*",
            blob_merge_key(*self.primary_keys).alias(MERGE_KEY_COLUMN),
            version.alias(BLOB_VERSION_COLUMN),
        )

    def changes(self, since: dict | None) -> Iterator[MicroBatch]:
        since = since or {}
        since_epoch = since.get("version")
        boundary = since.get("boundary")
        files, self._probed = self._probed, None
        if files is None:  # no probe before this call: list now
            files = self._eligible()
        seen: set[str] = set()
        if since_epoch is not None:
            since_epoch = int(since_epoch)
            if boundary is None:
                # no boundary: the reference's createdOn >= watermark,
                # which relies on the version-guarded merge for replay
                # idempotency
                files = [b for b in files if b.ts >= since_epoch]
            else:
                seen = set(boundary)
                files = [
                    b for b in files
                    if b.ts > since_epoch or (b.ts == since_epoch and b.tag not in seen)
                ]
        # the watermark committed is the max over THIS listing, so a file
        # landing after it is picked up by the next poll
        for i in range(0, len(files), self.max_files_per_batch):
            chunk = files[i : i + self.max_files_per_batch]
            top = chunk[-1].ts  # sorted by (ts, uri)
            # every file of the top second merged once this chunk is: its
            # own, earlier chunks', and the boundary's if it is that second
            done = {b.tag for b in files[: i + len(chunk)] if b.ts == top}
            if top == since_epoch:
                done |= seen
            df = self._enrich(self._read([b.uri for b in chunk]))
            yield MicroBatch(
                df=df,
                watermark={"version": top, "boundary": sorted(done)},
                units=len(chunk),
            )

    def backfill_shards(
        self,
        max_shard_bytes: int = 10 * 1024**3,
        max_shard_files: int = 10_000,
    ):
        """S5 for blobs: file groups ≤10 GiB and ≤10 000 files each
        (``BlobListingStreamingSource.scala:74-96``; the reference sizes
        groups from a ≤1000-file average — with the full listing in hand we
        use exact sizes). Each shard is one restartable staging unit for
        :class:`backfill.graph.BackfillOverwriteRunner`."""
        from arcane_framework_scala_spark.backfill.graph import Shard

        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        sized = []
        for b in self._eligible():
            hp = jvm.org.apache.hadoop.fs.Path(b.uri)
            sized.append((b.uri, hp.getFileSystem(conf).getFileStatus(hp).getLen()))
        shards, group, group_bytes = [], [], 0
        for p, size in sized:
            if group and (
                group_bytes + size > max_shard_bytes or len(group) >= max_shard_files
            ):
                shards.append(group)
                group, group_bytes = [], 0
            group.append(p)
            group_bytes += size
        if group:
            shards.append(group)
        return [
            Shard(
                name=f"{i:05d}",
                load=(lambda paths=tuple(g): self._enrich(self._read(list(paths)))),
            )
            for i, g in enumerate(shards)
        ]


@dataclass
class BlobParquetSource(BlobListingSource):
    """S8: parquet blobs; schema from footers (or ``schema`` override —
    the reference's Base64-preconfigured schema path)."""

    schema: str | None = None
    merge_schema: bool = False

    def _read(self, paths: list[str]) -> DataFrame:
        reader = self.spark.read
        if self.schema:
            reader = reader.schema(self.schema)
        if self.merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)


@dataclass
class BlobJsonSource(BlobListingSource):
    """S9: JSONL blobs with an explicit schema (the reference decodes via a
    user-supplied Avro schema — here a Spark DDL/StructType), optional
    root pointer relocation and array explode with column renaming
    (``services/iceberg/interop/JsonScanner.scala:20-163``)."""

    #: Spark DDL ("a long, b string") or a reference-style Avro record
    #: schema JSON (auto-detected by the leading "{" and converted via
    #: schema.avro_interop — lets reference users reuse their schemas)
    schema: str | None = None
    #: dotted path to relocate the record root, e.g. "payload.after"
    root_pointer: str | None = None
    #: (array_column, prefix): explode and rename exploded struct fields
    array_pointer: tuple[str, str] | None = None

    def _read(self, paths: list[str]) -> DataFrame:
        reader = self.spark.read
        if self.schema:
            schema = self.schema
            if schema.lstrip().startswith("{"):
                from arcane_framework_scala_spark.schema.avro_interop import (
                    avro_schema_to_struct,
                )

                schema = avro_schema_to_struct(schema)
            reader = reader.schema(schema)
        df = reader.json(list(paths))
        if self.root_pointer:
            meta = df["_metadata"]
            df = df.select(F.col(self.root_pointer + ".*"), meta)
        if self.array_pointer:
            col, prefix = self.array_pointer
            others = [c for c in df.columns if c != col]
            df = df.select(*others, F.explode(F.col(col)).alias("__x"))
            exploded_fields = [
                f.name for f in df.schema["__x"].dataType.fields  # type: ignore[union-attr]
            ]
            df = df.select(
                *others,
                *[F.col(f"__x.{f}").alias(f"{prefix}{f}") for f in exploded_fields],
            )
        return df


@dataclass
class BlobCsvSource(BlobListingSource):
    """S10 (unimplemented ``???`` in the reference — trivially supported
    here): CSV blobs with header or explicit schema."""

    schema: str | None = None
    header: bool = True
    delimiter: str = ","

    def _read(self, paths: list[str]) -> DataFrame:
        reader = (
            self.spark.read.option("header", str(self.header).lower())
            .option("sep", self.delimiter)
            .option("multiLine", "true")
            .option("quote", '"')
            .option("escape", '"')
        )
        if self.schema:
            reader = reader.schema(self.schema)
        return reader.csv(list(paths))
