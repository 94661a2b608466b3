"""Seeded producers: they land change sets in a source and keep the ledger.

Each producer owns a ``random.Random(seed)`` and nothing else decides its
inputs, so one seed always lands the same files with the same rows. CDM
folders and blob files are written with plain Python and pyarrow; the
Delta producer calls the engine's own jar-free Delta writer, which needs
the Spark session.
"""

from __future__ import annotations

import base64
import csv
import datetime as dt
import hashlib
import io
import json
import os
import random
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ledger import Ledger


@dataclass(frozen=True)
class Landed:
    """One change set, fully landed in the source."""

    head: str  # the watermark the runner must commit after polling it
    rows: int
    bytes: int


# ---------------------------------------------------------------------------
# Synapse Link CDM folders
# ---------------------------------------------------------------------------

CDM_ENTITY = "account"
CDM_BASE_TIME = dt.datetime(2024, 1, 1)
CDM_ATTRIBUTES = [
    ("Id", "guid"),
    ("SinkModifiedOn", "dateTime"),
    ("versionnumber", "int64"),
    ("IsDelete", "boolean"),
    ("name", "string"),
    ("amount", "decimal"),
    ("qty", "int64"),
    ("note", "string"),
]
CDM_DRIFT_ATTRIBUTE = ("region", "string")
#: the columns the target carries once the drift folder has landed
CDM_TARGET_COLUMNS = [
    "Id", "SinkModifiedOn", "versionnumber", "name", "amount", "qty",
    "note", "region", "ARCANE_MERGE_KEY",
]
CDM_DROPPED = frozenset({"note"})
#: the other entities every model.json lists, as real exports do
CDM_OTHER_ENTITIES = ("contact", "opportunity", "lead")
CDM_OTHER_ATTRIBUTES = 3
_REGIONS = ("emea", "amer", "apac", "latam")


def cdm_folder_name(index: int) -> str:
    return (CDM_BASE_TIME + dt.timedelta(minutes=index)).strftime(
        "%Y-%m-%dT%H.%M.%SZ"
    )


def cdm_model_json(drifted: bool) -> str:
    def attrs(pairs):
        return [
            {
                "$type": "AttributeReference",
                "name": n,
                "dataType": t,
                "maxLength": -1 if t == "string" else None,
                "description": "",
            }
            for n, t in pairs
        ]

    ours = CDM_ATTRIBUTES + ([CDM_DRIFT_ATTRIBUTE] if drifted else [])
    entities = [{"$type": "LocalEntity", "name": CDM_ENTITY, "attributes": attrs(ours)}]
    for ent in CDM_OTHER_ENTITIES:
        pairs = [("Id", "guid"), ("versionnumber", "int64"), ("IsDelete", "boolean")]
        pairs += [(f"{ent}_attr_{i:02d}", "string") for i in range(CDM_OTHER_ATTRIBUTES)]
        entities.append({"$type": "LocalEntity", "name": ent, "attributes": attrs(pairs)})
    return json.dumps({"name": "cdm", "version": "1.0", "entities": entities}, indent=1)


class CdmProducer:
    """Lands Synapse Link export folders: ``<folder>/model.json`` plus
    ``<folder>/account/{1,2}.csv`` (deletes in the lowest-numbered file),
    then names the next folder in ``Changelog/changelog.info`` so the
    landed one counts as complete."""

    def __init__(
        self,
        root: str,
        seed: int,
        initial_keys: int,
        changes_per_folder: int,
        delete_share: float,
        drift_folder: int,
    ):
        self.root = root
        self.rng = random.Random(seed)
        self.initial_keys = initial_keys
        self.changes_per_folder = changes_per_folder
        self.delete_share = delete_share
        self.drift_folder = drift_folder
        self.ledger = Ledger()
        self.folder = 0
        self.version = 1_000_000
        self._live: list[str] = []
        os.makedirs(os.path.join(root, "Changelog"), exist_ok=True)

    def _new_id(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def _row(self, key: str, delete: bool, drifted: bool) -> dict:
        self.version += 1
        modified = CDM_BASE_TIME + dt.timedelta(seconds=self.version % 10_000_000)
        row = {
            "Id": key,
            "SinkModifiedOn": modified,
            "versionnumber": self.version,
            "IsDelete": delete,
            "name": f"n{self.rng.randrange(10**6)}",
            "amount": round(self.rng.uniform(0, 10_000), 2),
            "qty": self.rng.randrange(1000),
            "note": f"line one\nline, two {self.rng.randrange(100)}",
        }
        if drifted:
            row["region"] = self.rng.choice(_REGIONS)
        return row

    @staticmethod
    def _csv_cell(name: str, value) -> str:
        if name == "SinkModifiedOn":
            # the export's system-column format, M/d/yyyy h:mm:ss a
            return (
                f"{value.month}/{value.day}/{value.year} "
                f"{(value.hour % 12) or 12}:{value.minute:02d}:{value.second:02d} "
                f"{'AM' if value.hour < 12 else 'PM'}"
            )
        if isinstance(value, bool):
            return "True" if value else "False"
        return str(value)

    def _write_csv(self, path: str, rows: list[dict], names: list[str]) -> int:
        buf = io.StringIO()
        w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        for r in rows:
            w.writerow([self._csv_cell(n, r.get(n)) for n in names])
        data = buf.getvalue().encode()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)

    def _plan(self) -> tuple[list[str], list[str], list[str]]:
        """(deletes, updates, inserts) for the next folder."""
        if self.folder == 0:
            return [], [], [self._new_id() for _ in range(self.initial_keys)]
        n = self.changes_per_folder
        n_del = int(n * self.delete_share)
        touched = self.rng.sample(self._live, n - n_del)
        deletes, updates = touched[:n_del], touched[n_del:]
        inserts = [self._new_id() for _ in range(n_del)]  # table size stays put
        return deletes, updates, inserts

    def land(self) -> Landed:
        name = cdm_folder_name(self.folder)
        drifted = self.folder >= self.drift_folder
        deletes, updates, inserts = self._plan()
        names = [n for n, _ in CDM_ATTRIBUTES] + (
            [CDM_DRIFT_ATTRIBUTE[0]] if drifted else []
        )
        ent_dir = os.path.join(self.root, name, CDM_ENTITY)
        os.makedirs(ent_dir)
        del_rows = [self._row(k, True, drifted) for k in deletes]
        up_rows = [self._row(k, False, drifted) for k in updates + inserts]
        size = 0
        if del_rows:
            size += self._write_csv(os.path.join(ent_dir, "1.csv"), del_rows, names)
        size += self._write_csv(os.path.join(ent_dir, "2.csv"), up_rows, names)
        model = cdm_model_json(drifted).encode()
        with open(os.path.join(self.root, name, "model.json"), "wb") as f:
            f.write(model)
        # the next folder is the one in progress: this one is now complete
        info = os.path.join(self.root, "Changelog", "changelog.info")
        with open(info + ".tmp", "w") as f:
            f.write(cdm_folder_name(self.folder + 1))
        os.replace(info + ".tmp", info)
        for r in del_rows:
            self.ledger.record(r["Id"], r["versionnumber"], None)
        for r in up_rows:
            values = {k: v for k, v in r.items() if k != "IsDelete"}
            values["ARCANE_MERGE_KEY"] = r["Id"]
            self.ledger.record(r["Id"], r["versionnumber"], values)
        dead = set(deletes)
        self._live = [k for k in self._live if k not in dead] + inserts
        self.folder += 1
        return Landed(head=name, rows=len(del_rows) + len(up_rows), bytes=size + len(model))


# ---------------------------------------------------------------------------
# Parquet blob bucket
# ---------------------------------------------------------------------------

BLOB_BASE_SECOND = 1_700_000_000
BLOB_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("part", pa.string()),
        ("name", pa.string()),
        ("amount", pa.float64()),
        ("qty", pa.int64()),
    ]
)
BLOB_TARGET_COLUMNS = ["id", "part", "name", "amount", "qty", "ARCANE_MERGE_KEY", "createdon"]


def blob_merge_key(pk: int) -> str:
    """Base64 SHA-256 of the lower-cased key string (the blob P3 key)."""
    return base64.b64encode(hashlib.sha256(str(pk).lower().encode()).digest()).decode()


def blob_part(pk: int, partitions: int) -> str:
    return f"p{pk % partitions:02d}"


def write_blob(path: str, rows: list[dict], second: int) -> int:
    """Write one parquet blob whose creation second is ``second``: staged
    under a hidden name, stamped, then renamed into the listing."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pylist(rows, schema=BLOB_SCHEMA), tmp)
    os.utime(tmp, (second, second))
    os.rename(tmp, path)
    return os.path.getsize(path)


class BlobProducer:
    """Bulk files holding several versions of many keys (one creation
    second per file, keys unique within a file), then drops of a few
    files each whose keys cluster into one or two partitions and whose
    files share the drop's own creation second."""

    def __init__(
        self,
        bucket: str,
        seed: int,
        partitions: int,
        key_space: int,
        files_per_drop: int,
        rows_per_file: int,
        insert_share: float,
    ):
        self.bucket = bucket
        self.rng = random.Random(seed)
        self.partitions = partitions
        self.key_space = key_space
        self.files_per_drop = files_per_drop
        self.rows_per_file = rows_per_file
        self.insert_share = insert_share
        self.ledger = Ledger()
        self.second = BLOB_BASE_SECOND
        self.next_id = key_space
        self.files = 0
        os.makedirs(bucket, exist_ok=True)

    def _row(self, pk: int) -> dict:
        return {
            "id": pk,
            "part": blob_part(pk, self.partitions),
            "name": f"n{self.rng.randrange(10**6)}",
            "amount": round(self.rng.uniform(0, 10_000), 2),
            "qty": self.rng.randrange(1000),
        }

    def _land_files(self, key_groups: list[list[int]]) -> Landed:
        self.second += 1
        rows_total = size = 0
        for keys in key_groups:
            rows = [self._row(k) for k in keys]
            size += write_blob(
                os.path.join(self.bucket, f"blob-{self.files:06d}.parquet"),
                rows,
                self.second,
            )
            self.files += 1
            rows_total += len(rows)
            for r in rows:
                values = dict(r, ARCANE_MERGE_KEY=blob_merge_key(r["id"]), createdon=self.second)
                self.ledger.record(values["ARCANE_MERGE_KEY"], self.second, values)
        return Landed(head=str(self.second), rows=rows_total, bytes=size)

    def land_bulk_file(self) -> Landed:
        keys = self.rng.sample(range(self.key_space), self.rows_per_file)
        return self._land_files([keys])

    def land_drop(self) -> Landed:
        parts = self.rng.sample(range(self.partitions), self.rng.choice((1, 2)))
        need = self.files_per_drop * self.rows_per_file
        n_new = int(need * self.insert_share)
        keys: list[int] = []
        while len(keys) < n_new:  # new keys, each landing in a chosen partition
            if self.next_id % self.partitions in parts:
                keys.append(self.next_id)
            self.next_id += 1
        existing = [
            p + self.partitions * i
            for p in parts
            for i in range(self.key_space // self.partitions)
        ]
        keys += self.rng.sample(existing, need - n_new)
        self.rng.shuffle(keys)
        per = self.rows_per_file
        return self._land_files([keys[i : i + per] for i in range(0, need, per)])


class TiedDropProbe:
    """Fixed inputs for the tied-version drop: one blob with key 1, then
    one drop of two blobs that share a creation second and both carry
    key 1. Independent of the seed."""

    KEY = 1

    def __init__(self, bucket: str, partitions: int):
        self.bucket = bucket
        self.partitions = partitions
        os.makedirs(bucket, exist_ok=True)
        self.tied_rows = [
            {"id": self.KEY, "part": blob_part(self.KEY, partitions), "name": n,
             "amount": 1.0, "qty": q}
            for n, q in (("tied-a", 1), ("tied-b", 2))
        ]

    def land_base(self) -> str:
        row = dict(self.tied_rows[0], name="base", qty=0)
        write_blob(os.path.join(self.bucket, "base.parquet"), [row], BLOB_BASE_SECOND)
        return str(BLOB_BASE_SECOND)

    def land_tied(self) -> str:
        for i, row in enumerate(self.tied_rows):
            write_blob(os.path.join(self.bucket, f"tied-{i}.parquet"), [row], BLOB_BASE_SECOND + 1)
        return str(BLOB_BASE_SECOND + 1)


# ---------------------------------------------------------------------------
# CDF-enabled Delta table
# ---------------------------------------------------------------------------

DELTA_TARGET_COLUMNS = [
    "ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "id", "grp", "name", "amount", "qty",
]
DELTA_SCHEMA = "id long, grp string, name string, amount double, qty long"


def mssql_merge_key(pk: int) -> str:
    """Lower-hex SHA-256 of the key string in UTF-16LE (the M1 P3 key)."""
    return hashlib.sha256(str(pk).encode("utf-16-le")).hexdigest()


class DeltaPlan:
    """The seeded choice of each round's changes, kept apart from the
    Spark calls that commit them: per round, a deletion-vector delete of
    ``deletes`` live keys, a copy-on-write update of ``updates`` others
    and an append of ``deletes`` new keys."""

    def __init__(self, seed: int, initial_keys: int, deletes: int, updates: int):
        self.rng = random.Random(seed)
        self.deletes = deletes
        self.updates = updates
        self.live = list(range(initial_keys))
        self.next_id = initial_keys
        self.round = 0

    def row(self, pk: int) -> dict:
        return {
            "id": pk,
            "grp": f"g{pk % 16:02d}",
            "name": f"n{self.rng.randrange(10**6)}",
            "amount": round(self.rng.uniform(0, 10_000), 2),
            "qty": self.rng.randrange(1000),
        }

    def initial_rows(self) -> list[dict]:
        return [self.row(pk) for pk in self.live]

    def next_round(self) -> tuple[list[int], list[int], list[dict]]:
        self.round += 1
        touched = self.rng.sample(self.live, self.deletes + self.updates)
        deletes, updates = sorted(touched[: self.deletes]), sorted(touched[self.deletes :])
        appends = [self.row(self.next_id + i) for i in range(self.deletes)]
        self.next_id += self.deletes
        dead = set(deletes)
        self.live = [k for k in self.live if k not in dead] + [r["id"] for r in appends]
        return deletes, updates, appends


class DeltaProducer:
    """Commits each round's delete, update and append to the Delta table
    through the engine's writer, and records them at their commit
    versions."""

    def __init__(self, path: str, seed: int, initial_keys: int, deletes: int, updates: int):
        self.path = path
        self.plan = DeltaPlan(seed, initial_keys, deletes, updates)
        self.ledger = Ledger()
        self.rows: dict[int, dict] = {}

    def _record(self, row: dict, version: int) -> None:
        self.rows[row["id"]] = row
        key = mssql_merge_key(row["id"])
        self.ledger.record(
            key, version, dict(row, ARCANE_MERGE_KEY=key, SYS_CHANGE_VERSION=version)
        )

    def create(self, spark, staging: str) -> Landed:
        """The initial table: a parquet snapshot exported as Delta, with
        the change feed enabled. The first poll reads it whole, at the
        head version."""
        from arcane_framework_scala_spark.sinks.merge_sink import SnapshotParquetTarget
        from arcane_framework_scala_spark.sources.delta_cdf import enable_cdf
        from arcane_framework_scala_spark.sources.delta_reader import export_delta

        rows = self.plan.initial_rows()
        seed_table = SnapshotParquetTarget(spark, staging)
        seed_table.overwrite(spark.createDataFrame(rows, DELTA_SCHEMA).coalesce(4))
        export_delta(seed_table, self.path)
        head = enable_cdf(spark, self.path)
        for r in rows:
            self._record(r, head)
        return Landed(head=str(head), rows=len(rows), bytes=_tree_bytes(self.path))

    def land(self, spark) -> Landed:
        from arcane_framework_scala_spark.sources.delta_cdf import append_rows, update_where
        from arcane_framework_scala_spark.sources.delta_dv import delete_where

        before = _tree_bytes(self.path)
        deletes, updates, appends = self.plan.next_round()
        r = self.plan.round
        v_del = delete_where(spark, self.path, f"id IN ({','.join(map(str, deletes))})")
        v_up = update_where(
            spark, self.path, f"id IN ({','.join(map(str, updates))})",
            {"qty": str(r), "name": f"'u{r}'"},
        )
        v_app = append_rows(spark, self.path, spark.createDataFrame(appends, DELTA_SCHEMA).coalesce(1))
        if None in (v_del, v_up) or not v_del < v_up < v_app:
            raise RuntimeError(f"delta round {r}: unexpected versions {v_del}, {v_up}, {v_app}")
        for pk in deletes:
            self.ledger.record(mssql_merge_key(pk), v_del, None)
            self.rows.pop(pk)
        for pk in updates:
            self._record(dict(self.rows[pk], qty=r, name=f"u{r}"), v_up)
        for row in appends:
            self._record(row, v_app)
        return Landed(
            head=str(v_app),
            rows=len(deletes) + len(updates) + len(appends),
            bytes=_tree_bytes(self.path) - before,
        )


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
    )
