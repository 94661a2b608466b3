"""Synapse Link CDM folder source (S6/S7).

Reference behavior (``services/synapse/base/SynapseLinkStreamingSource.
scala:104-176``, folder math ``SynapseAzureBlobReaderExtensions.scala:
40-131``, CSV parsing ``models/cdm/CdmParser.scala:9-117``):

- change batches land in folders named ``yyyy-MM-dd'T'HH.mm.ss'Z'``;
- ``Changelog/changelog.info`` names the in-progress folder — that batch
  and anything newer is excluded from the poll;
- each folder carries a ``model.json`` CDM manifest: per-entity attribute
  names + CDM types (schema may change batch to batch → T8 migration);
  it is read and parsed once per batch. Small files (``model.json``,
  ``changelog.info``) are read in one JVM call each
  (``IOUtils.toByteArray``), never byte by byte over py4j;
- entity CSVs are quoted multiline; files are numbered ``N.csv`` and the
  reference processes them in **descending numeric order so the deletes in
  the lowest-numbered file apply last** (O1);
- merge key is the raw ``Id`` column (P5); rows carry ``versionnumber`` and
  nullable ``IsDelete`` used by the M2 merge dialect.

Spark-first: folders are the micro-batch unit (processed sequentially, so
cross-batch ordering is preserved); within one batch ordering is irrelevant
because the M2 merge is version-guarded and the W1 window keeps delete
markers. CSV parsing is Spark's multiline reader — no hand-rolled parser.

Timestamp zoo (P7, ``SynapseLinkStreamingSource.scala:194-251``): system
columns ``SinkCreatedOn``/``SinkModifiedOn`` arrive as ``M/d/yyyy h:mm:ss
a``; ``CreatedOn`` as ISO offset; other dateTime columns as ISO local.
Ported exactly (documented correctness wart included).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T

from arcane_framework_scala_spark.schema.schema import MERGE_KEY_COLUMN
from arcane_framework_scala_spark.schema.sql_types import quote_ident as q
from arcane_framework_scala_spark.sources.base import MicroBatch

_FOLDER_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}\.\d{2}\.\d{2}Z$")

#: CDM string type → Spark type (reference ``SimpleCdmModel.scala:54-63``;
#: CDM decimal → DoubleType is the reference's own mapping).
_CDM_TYPES: dict[str, T.DataType] = {
    "guid": T.StringType(),
    "string": T.StringType(),
    "int64": T.LongType(),
    "decimal": T.DoubleType(),
    "dateTime": T.TimestampNTZType(),
    "dateTimeOffset": T.TimestampType(),
    "boolean": T.BooleanType(),
}

#: per-column timestamp parse patterns (P7) — Spark datetime patterns
_SYSTEM_TS_FORMAT = "M/d/yyyy h:mm:ss a"
_ISO_OFFSET_FORMAT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]XXX"


def parse_cdm_model(model_json: str, entity: str) -> list[tuple[str, T.DataType]]:
    """(name, spark_type) attribute list for one entity of a model.json."""
    model = json.loads(model_json)
    for ent in model.get("entities", []):
        if ent.get("name") == entity:
            return [
                (a["name"], _CDM_TYPES.get(a.get("dataType", "string"), T.StringType()))
                for a in ent.get("attributes", [])
            ]
    raise KeyError(f"entity {entity!r} not found in model.json")


def _csv_sort_key(path: str) -> int:
    m = re.search(r"(\d+)\.csv$", path)
    return int(m.group(1)) if m else -1


@dataclass
class SynapseCdmSource:
    spark: SparkSession
    container_path: str
    entity: str
    #: the completed folders the last ``current_version()`` probe found,
    #: handed to the next ``changes()`` call so one poll lists the
    #: container and reads ``changelog.info`` once
    _probed: list[str] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    # -- driver-side listing helpers (small metadata, never row data) ------
    def _fs(self):
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.container_path)
        return path.getFileSystem(conf), jvm

    def _read_small_file(self, rel: str) -> str | None:
        fs, jvm = self._fs()
        p = jvm.org.apache.hadoop.fs.Path(f"{self.container_path}/{rel}")
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            # one py4j round trip for the whole file (py4j returns byte[]
            # as bytes); decoding happens here, so multi-byte UTF-8 is safe
            return jvm.org.apache.commons.io.IOUtils.toByteArray(stream).decode("utf-8")
        finally:
            stream.close()

    def list_batch_folders(self) -> list[str]:
        fs, jvm = self._fs()
        root = jvm.org.apache.hadoop.fs.Path(self.container_path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and _FOLDER_RE.match(name):
                out.append(name)
        return sorted(out)  # lexicographic == chronological for this format

    def in_progress_folder(self) -> str | None:
        """Changelog/changelog.info holds the folder currently being
        written — exclude it and anything newer."""
        info = self._read_small_file("Changelog/changelog.info")
        if not info:
            return None
        return info.strip().split("/")[-1] or None

    def completed_folders(self, since_folder: str | None) -> list[str]:
        folders = self.list_batch_folders()
        cutoff = self.in_progress_folder()
        if cutoff is not None:
            folders = [f for f in folders if f < cutoff]
        if since_folder:
            folders = [f for f in folders if f > since_folder]
        return folders

    def current_version(self) -> dict:
        self._probed = self.completed_folders(None)
        return {"version": self._probed[-1] if self._probed else ""}

    # -- batch assembly ----------------------------------------------------
    @staticmethod
    def _typed(fields: list[tuple[str, T.DataType]]) -> list[str]:
        """The typed projection of the string-read CSV columns, plus the
        merge key (the typed ``Id`` as a string), as SQL expressions for
        one ``selectExpr``: one py4j round trip per column, no tree of
        ``Column`` calls."""
        typed = {}
        for name, dtype in fields:
            c = q(name)
            if name in ("SinkCreatedOn", "SinkModifiedOn"):
                c = f"to_timestamp({c}, '{_SYSTEM_TS_FORMAT}')"
            elif name == "CreatedOn":
                # reference converts CreatedOn to the *system default zone*
                # (SynapseLinkStreamingSource.scala:229-251) — session TZ is
                # pinned UTC, preserving the behavior deterministically
                c = f"to_timestamp({c})"
            elif isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
                c = f"CAST(to_timestamp({c}) AS {dtype.simpleString()})"
            elif not isinstance(dtype, T.StringType):
                c = f"CAST({c} AS {dtype.simpleString()})"
            typed[name] = c
        key = f"CAST({typed.get('Id', q('Id'))} AS STRING) AS {q(MERGE_KEY_COLUMN)}"
        return [f"{c} AS {q(name)}" for name, c in typed.items()] + [key]

    def read_batch(self, folder: str) -> DataFrame | None:
        """One folder → one typed DataFrame with merge key + delete-last
        file ordering (O1: union in descending N.csv order; ordering is
        semantic only for non-versioned consumers — M2 merges are
        version-guarded)."""
        fs, jvm = self._fs()
        ent_dir = jvm.org.apache.hadoop.fs.Path(
            f"{self.container_path}/{folder}/{self.entity}"
        )
        if not fs.exists(ent_dir):
            return None
        csvs = [
            st.getPath().toString()
            for st in fs.listStatus(ent_dir)
            if st.isFile() and st.getPath().getName().endswith(".csv")
        ]
        if not csvs:
            return None
        csvs.sort(key=_csv_sort_key, reverse=True)
        model = self._read_small_file(f"{folder}/model.json")
        if model is None:
            raise FileNotFoundError(f"{folder}/model.json missing")
        fields = parse_cdm_model(model, self.entity)
        # CSVs are read as strings; _typed() converts them
        schema = T.StructType([T.StructField(n, T.StringType(), True) for n, _ in fields])
        raw = (
            self.spark.read.schema(schema)
            .option("header", "false")
            .option("multiLine", "true")
            .option("quote", '"')
            .option("escape", '"')
            .csv(csvs)
        )
        return raw.selectExpr(*self._typed(fields))

    def changes(self, since: dict | None) -> Iterator[MicroBatch]:
        since_folder = (since or {}).get("version") or None
        folders, self._probed = self._probed, None
        if folders is None:  # no probe before this call: list now
            folders = self.completed_folders(None)
        # the watermark committed is the last folder of THIS listing, so
        # a folder completed after it is picked up by the next poll
        for folder in [f for f in folders if not since_folder or f > since_folder]:
            df = self.read_batch(folder)
            wm = {"version": folder, "prefix": f"{folder}/"}
            if df is None:
                yield MicroBatch(df=None, watermark=wm)
            else:
                yield MicroBatch(df=df, watermark=wm, units=1)
