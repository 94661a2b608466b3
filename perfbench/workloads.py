"""The three CDC pipelines the benchmark drives, end to end.

Each workload lands its inputs through a seeded producer, builds the
engine's public pipeline (source -> ``StreamRunner`` or
``BackfillOverwriteRunner`` -> ``MergeSink`` -> target + watermark
store), runs a bulk phase and then whole rounds of stream batches, and
checks the target against the producer's ledger at the end.

Sizes are module constants so the README can quote them.
"""

from __future__ import annotations

import os

from arcane_framework_scala_spark import metrics as M
from arcane_framework_scala_spark.backfill.graph import (
    BackfillOverwriteRunner,
    FileBackfillStateStore,
)
from arcane_framework_scala_spark.operators.field_filter import FieldSelectionRule
from arcane_framework_scala_spark.queries.maintenance import MaintenanceSchedule
from arcane_framework_scala_spark.queries.merge import (
    SQL_SERVER_CHANGE_TRACKING,
    SYNAPSE_LINK,
    UPSERT_BLOB,
)
from arcane_framework_scala_spark.sinks import maintenance
from arcane_framework_scala_spark.sinks.merge_sink import (
    DurableCatalogTarget,
    MergeSink,
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources.blob import BlobParquetSource
from arcane_framework_scala_spark.sources.cdm import SynapseCdmSource
from arcane_framework_scala_spark.sources.delta_cdf import DeltaCdfSource
from arcane_framework_scala_spark.streaming.runner import StreamRunner, StreamSettings
from arcane_framework_scala_spark.streaming.watermark import FileWatermarkStore

import producers as P
from ledger import check_target, read_snapshot

MERGE_KEY = "ARCANE_MERGE_KEY"

# cdm_stream
CDM_INITIAL_KEYS = 15_000
CDM_CHANGES_PER_FOLDER = 500
CDM_DELETE_SHARE = 0.1
CDM_BACKLOG_FOLDERS = 2  # folder 0 is the initial load
CDM_DRIFT_FOLDER = 1
CDM_MAINTENANCE_EVERY = 5  # X1-X4 each run once per round

# blob_upsert
BLOB_PARTITIONS = 8
BLOB_KEY_SPACE = 40_000
BLOB_BULK_FILES = 4
BLOB_BULK_ROWS_PER_FILE = 6_000
BLOB_SHARD_FILES = 2
BLOB_FILES_PER_DROP = 3
BLOB_DROP_ROWS_PER_FILE = 1_000
BLOB_INSERT_SHARE = 0.1
BLOB_DROPS_PER_ROUND = 2

# delta_cdf_stream
DELTA_INITIAL_KEYS = 20_000
DELTA_DELETES = 100
DELTA_UPDATES = 200


def _hub():
    emitter = M.CollectingEmitter()
    return M.DeclaredMetrics([emitter]), emitter


class Workload:
    name = ""
    batches_per_round = 1
    #: a round's typical wall time on the reference box (see README); a run
    #: attempts ``--seconds / nominal_round_s`` whole rounds
    nominal_round_s = 5.0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.emitter = None

    def prepare(self) -> None:
        """Inputs written before the session starts."""

    def build(self, spark) -> None:
        """Source, target, sink, watermark store and runner (set-up)."""

    def after_build(self, spark) -> None:
        """Inputs that need the session (not timed)."""

    def before_timed(self) -> None:
        """Runs after the warm-up batches (not timed)."""

    def bulk(self) -> int:
        """Runs the bulk phase; returns the rows it ingested."""
        raise NotImplementedError

    def step(self, poll) -> None:
        """One stream batch: land a change set and poll it."""
        raise NotImplementedError

    def round(self, poll, probe) -> None:
        """One round: ``batches_per_round`` stream batches, then any probe."""
        for _ in range(self.batches_per_round):
            self.step(poll)

    def check(self) -> list[str]:
        raise NotImplementedError

    def target_path(self) -> str:
        return os.path.join(self.work, "target")


class CdmStream(Workload):
    name = "cdm_stream"
    batches_per_round = CDM_MAINTENANCE_EVERY
    nominal_round_s = 12.0

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.root = os.path.join(work, "cdm")
        self.producer = P.CdmProducer(
            self.root, seed, CDM_INITIAL_KEYS, CDM_CHANGES_PER_FOLDER,
            CDM_DELETE_SHARE, CDM_DRIFT_FOLDER,
        )

    def prepare(self):
        landed = [self.producer.land() for _ in range(CDM_BACKLOG_FOLDERS)]
        self.bulk_rows = sum(x.rows for x in landed)
        self.bulk_head = landed[-1].head

    def build(self, spark):
        self.target = DurableCatalogTarget(spark, self.target_path(), "mem.bench.cdm")
        self.store = self.target.watermark_store()
        dm, self.emitter = _hub()
        every = CDM_MAINTENANCE_EVERY
        self.runner = StreamRunner(
            SynapseCdmSource(spark, self.root, P.CDM_ENTITY),
            MergeSink(self.target, SYNAPSE_LINK),
            self.store,
            settings=StreamSettings(poll_interval_seconds=0.0),
            field_rule=FieldSelectionRule("exclude", frozenset(P.CDM_DROPPED)),
            maintenance=MaintenanceSchedule(every, every, every, every),
            maintenance_fn=self._maintain,
            declared_metrics=dm,
        )

    def _maintain(self, op: str) -> None:
        maintenance.run_maintenance(self.target.snapshots, op)

    def bulk(self):
        self.runner.run_once()
        return self.bulk_rows

    def step(self, poll):
        poll(self.producer.land, self.runner, self.store)

    def check(self):
        return check_target(
            self.producer.ledger, self.target_path(), P.CDM_TARGET_COLUMNS,
            MERGE_KEY, dropped=P.CDM_DROPPED,
        )


class BlobUpsert(Workload):
    name = "blob_upsert"
    batches_per_round = BLOB_DROPS_PER_ROUND
    nominal_round_s = 6.0

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.bucket = os.path.join(work, "bucket")
        self.producer = P.BlobProducer(
            self.bucket, seed, BLOB_PARTITIONS, BLOB_KEY_SPACE,
            BLOB_FILES_PER_DROP, BLOB_DROP_ROWS_PER_FILE, BLOB_INSERT_SHARE,
        )
        self.tied = P.TiedDropProbe(os.path.join(work, "probe_bucket"), BLOB_PARTITIONS)
        self.shard_wrapper = None

    def prepare(self):
        self.producer.rows_per_file = BLOB_BULK_ROWS_PER_FILE
        landed = [self.producer.land_bulk_file() for _ in range(BLOB_BULK_FILES)]
        self.producer.rows_per_file = BLOB_DROP_ROWS_PER_FILE
        self.bulk_rows = sum(x.rows for x in landed)
        self.bulk_head = landed[-1].head
        self.tied.land_base()

    def _pipeline(self, spark, bucket, path, table):
        target = DurableCatalogTarget(spark, path, table, partition_cols=["part"])
        store = target.watermark_store()
        dm, emitter = _hub()
        runner = StreamRunner(
            BlobParquetSource(spark, bucket, ["id"]),
            MergeSink(target, UPSERT_BLOB),
            store,
            settings=StreamSettings(poll_interval_seconds=0.0),
            declared_metrics=dm,
        )
        return target, store, runner, emitter

    def build(self, spark):
        self.spark = spark
        self.target, self.store, self.runner, self.emitter = self._pipeline(
            spark, self.bucket, self.target_path(), "mem.bench.blob"
        )
        _, _, self.probe_runner, _ = self._pipeline(
            spark, self.tied.bucket, os.path.join(self.work, "probe_target"),
            "mem.bench.blob_probe",
        )

    def before_timed(self):
        # the probe stream merges its base blob, then the tied drop lands
        self.probe_runner.run_once()
        self.tied.land_tied()

    def bulk(self):
        shards = self.runner.source.backfill_shards(max_shard_files=BLOB_SHARD_FILES)
        if self.shard_wrapper is not None:
            shards = self.shard_wrapper(shards)
        BackfillOverwriteRunner(
            self.spark, self.target, UPSERT_BLOB,
            os.path.join(self.work, "staging"),
            FileBackfillStateStore(os.path.join(self.work, "backfill_state.json")),
            watermark_store=self.store,
        ).run(shards, "bulk", "0", self.bulk_head)
        return self.bulk_rows

    def step(self, poll):
        poll(self.producer.land_drop, self.runner, self.store)

    def round(self, poll, probe):
        super().round(poll, probe)
        probe(self.tied_drop)

    def tied_drop(self) -> tuple[bool, list[str]]:
        """Polls the stream whose next drop holds two blobs with one
        creation second and one key. Returns (failed, problems)."""
        try:
            self.probe_runner.run_once()
        except Exception as e:  # noqa: BLE001 — the known fault is checked below
            if "MERGE_CARDINALITY_VIOLATION" in str(e):
                return True, []
            return True, [f"tied drop failed otherwise: {type(e).__name__}: {str(e)[:300]}"]
        # once fixed: the key appears once, carrying one of the two rows
        _, rows = read_snapshot(os.path.join(self.work, "probe_target"), MERGE_KEY, hive=True)
        hits = [r for r in rows if r["id"] == P.TiedDropProbe.KEY]
        tied = [(r["name"], r["qty"]) for r in self.tied.tied_rows]
        if len(hits) != 1 or (hits[0]["name"], hits[0]["qty"]) not in tied:
            return False, [f"tied drop merged to {hits}"]
        return False, []

    def check(self):
        return check_target(
            self.producer.ledger, self.target_path(), P.BLOB_TARGET_COLUMNS,
            MERGE_KEY, hive=True,
        )


class DeltaCdfStream(Workload):
    name = "delta_cdf_stream"

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.delta = os.path.join(work, "delta")
        self.producer = P.DeltaProducer(
            self.delta, seed, DELTA_INITIAL_KEYS, DELTA_DELETES, DELTA_UPDATES
        )

    def build(self, spark):
        self.spark = spark
        target = SnapshotParquetTarget(spark, self.target_path())
        self.store = FileWatermarkStore(os.path.join(self.target_path(), "_WATERMARK.json"))
        dm, self.emitter = _hub()
        self.runner = StreamRunner(
            DeltaCdfSource(spark, self.delta, ["id"]),
            MergeSink(target, SQL_SERVER_CHANGE_TRACKING),
            self.store,
            settings=StreamSettings(poll_interval_seconds=0.0),
            declared_metrics=dm,
        )

    def after_build(self, spark):
        landed = self.producer.create(spark, os.path.join(self.work, "delta_seed"))
        self.bulk_rows = landed.rows
        self.bulk_head = landed.head

    def bulk(self):
        self.runner.run_once()
        return self.bulk_rows

    def step(self, poll):
        poll(lambda: self.producer.land(self.spark), self.runner, self.store)

    def check(self):
        return check_target(
            self.producer.ledger, self.target_path(), P.DELTA_TARGET_COLUMNS, MERGE_KEY
        )


WORKLOADS = {w.name: w for w in (CdmStream, BlobUpsert, DeltaCdfStream)}
