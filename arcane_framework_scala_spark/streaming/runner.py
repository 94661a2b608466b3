"""Change-capture polling runtime (T1/T2/T9/T10/T12 + pipeline wiring).

Re-expresses the reference's streaming graph (``DefaultStreamingGraphBuilder.
scala:37-47`` / ``DefaultStreamDataProvider.scala:21-113``) as a driver
loop:

    poll source version ──unchanged──▶ sleep(interval ± jitter, seeded RNG)
          │ changed
          ▼
    for each micro-batch:
        field filtering (P1) → MergeSink.apply (W1+M1/M2/M3, retried)
        → maintenance every-N (X1-X4) → watermark commit (T2)

Ordering contract: the watermark commits only **after** the merge succeeds;
a crash between merge and commit replays the batch, which the version-
guarded merge turns into a no-op (T9 exactly-once semantics).

Graceful stop (T10): ``stop()`` (or SIGTERM via ``install_signal_handler``)
finishes the in-flight batch, commits its watermark, then exits.
"""

from __future__ import annotations

import random
import signal
import threading
import time
from dataclasses import dataclass, field

from arcane_framework_scala_spark.operators.field_filter import (
    FieldSelectionRule,
    apply_field_selection,
)
from arcane_framework_scala_spark.queries.maintenance import MaintenanceSchedule
from arcane_framework_scala_spark.sinks.merge_sink import MergeSink
from arcane_framework_scala_spark.streaming.watermark import Watermark, WatermarkStore


@dataclass(frozen=True)
class StreamSettings:
    poll_interval_seconds: float = 15.0
    jitter_fraction: float = 0.1  # interval ± variance
    rng_seed: int = 42  # reference uses a seeded RNG for jitter
    #: stop after N batches (None = run until cancelled) — used by backfill
    #: mode and tests; the reference's lifetime service maps to stop()
    max_batches: int | None = None
    advance_watermark_on_idle: bool = True


@dataclass
class StreamMetrics:
    """T12 + DeclaredMetrics residue: counters the reference reports."""

    rows_incoming: int = 0
    batches_merged: int = 0
    watermark_updates: int = 0
    maintenance_runs: int = 0
    last_watermark_age_seconds: float | None = None


class StreamRunner:
    def __init__(
        self,
        source,
        sink: MergeSink,
        watermark_store: WatermarkStore,
        settings: StreamSettings | None = None,
        field_rule: FieldSelectionRule | None = None,
        maintenance: MaintenanceSchedule | None = None,
        maintenance_fn=None,
        declared_metrics=None,
    ):
        self.source = source
        self.sink = sink
        self.store = watermark_store
        self.settings = settings or StreamSettings()
        self.field_rule = field_rule
        self.maintenance = maintenance or MaintenanceSchedule()
        self.maintenance_fn = maintenance_fn  # callable(op_name) -> None
        self.metrics = StreamMetrics()
        #: optional metrics.DeclaredMetrics hub; emission is fire-and-forget
        self.declared_metrics = declared_metrics
        self._cancelled = threading.Event()
        self._rng = random.Random(self.settings.rng_seed)
        self._batch_index = 0

    # -- lifetime (T10) -----------------------------------------------------
    def stop(self) -> None:
        self._cancelled.set()

    def install_signal_handler(self) -> None:
        signal.signal(signal.SIGTERM, lambda *_: self.stop())
        signal.signal(signal.SIGINT, lambda *_: self.stop())

    def _sleep_jittered(self) -> None:
        s = self.settings
        jitter = s.poll_interval_seconds * s.jitter_fraction
        delay = s.poll_interval_seconds + self._rng.uniform(-jitter, jitter)
        self._cancelled.wait(max(delay, 0.0))

    # -- pipeline ------------------------------------------------------------
    def _process_batch(self, batch) -> None:
        from arcane_framework_scala_spark import metrics as M

        dm = self.declared_metrics
        if batch.df is not None:
            df = batch.df
            if self.field_rule is not None:
                df = apply_field_selection(df, self.field_rule)
            # rows.incoming rides on the sink's own action (df.observe):
            # no second job re-reads the batch to count it
            df, finish = M.observe_batch(df, dm) if dm is not None else (df, None)
            with M.timed_gauge(dm, M.BATCH_MERGE_DURATION):
                self.sink.apply(df)
            observed = finish and finish()
            if observed:
                self.metrics.rows_incoming += observed["rows"]
            self.metrics.batches_merged += 1
            for op in self.maintenance.due(self._batch_index):
                if self.maintenance_fn is not None:
                    with M.timed_gauge(
                        dm, M.MAINTENANCE_DURATION_METRICS.get(op, M.NAMESPACE + ".target." + op)
                    ):
                        self.maintenance_fn(op)
                self.metrics.maintenance_runs += 1
            self._batch_index += 1
        wm = Watermark.now(
            version=str(batch.watermark.get("version", "")),
            prefix=batch.watermark.get("prefix"),
            boundary=batch.watermark.get("boundary"),
        )
        # monotonic guard: a replayed/out-of-order batch (crash replay,
        # source retry) must never move the watermark BACKWARDS — the
        # merge itself is idempotent (T9 version guards), but a regressed
        # watermark would re-fetch every later batch on the next poll.
        # Ordering is the reference's: numeric for CT versions,
        # lexicographic for timestamp-name watermarks.
        prior = self.store.read()
        if prior is not None and wm < prior:
            return
        self.store.commit(wm)
        self.metrics.watermark_updates += 1
        if dm is not None:
            dm.counter(M.WATERMARK_UPDATES)

    def run_once(self) -> int:
        """One poll cycle; returns number of batches applied."""
        current = self.store.read()
        since = None
        if current is not None:
            since = {"version": current.version}
            if current.boundary is not None:
                since["boundary"] = current.boundary
        head = None
        if current is not None:
            # T1: compare source head version against the stored watermark
            # before fetching (DefaultStreamDataProvider.scala:91-113) —
            # an idle poll then reads nothing, even from a source that
            # filters `version >= watermark` inclusively (a blob
            # watermark without a boundary). A file landing late in the
            # boundary second waits for the next newer head.
            # The listing sources hand this probe's listing to the
            # changes() call below: one listing per poll.
            head = self.source.current_version()
            if str(head.get("version", "")) == current.version:
                if self.settings.advance_watermark_on_idle:
                    self.store.commit(
                        Watermark.now(
                            version=current.version,
                            prefix=current.prefix,
                            boundary=current.boundary,
                        )
                    )
                    self.metrics.watermark_updates += 1
                self.metrics.last_watermark_age_seconds = 0.0
                return 0
        n = 0
        interrupted = False
        for batch in self.source.changes(since):
            if self._cancelled.is_set():
                # batches may be pending — committing any head-version
                # watermark now would permanently skip them on restart
                interrupted = True
                break
            self._process_batch(batch)
            n += 1
            if (
                self.settings.max_batches is not None
                and self.metrics.batches_merged >= self.settings.max_batches
            ):
                self.stop()
                break
        if n == 0 and not interrupted and self.settings.advance_watermark_on_idle:
            # startup watermark-advance semantics: record liveness even when
            # the source is quiet (DefaultStreamDataProvider.scala:94-111).
            # Only when the changes() iterator genuinely yielded nothing —
            # a cancellation mid-iterator must leave the watermark at its
            # last merged position (merge-before-commit contract, T10/T2).
            if head is None:
                head = self.source.current_version()
            wm = Watermark.now(
                version=str(head.get("version", "")),
                prefix=current.prefix if current else None,
            )
            self.store.commit(wm)
        stored = self.store.read()
        if stored is not None:
            self.metrics.last_watermark_age_seconds = stored.age_seconds()
            if self.declared_metrics is not None:
                from arcane_framework_scala_spark import metrics as M

                self.declared_metrics.gauge(
                    M.WATERMARK_AGE, self.metrics.last_watermark_age_seconds
                )
        return n

    def run(self) -> StreamMetrics:
        """Poll until cancelled (or max_batches reached)."""
        while not self._cancelled.is_set():
            applied = self.run_once()
            if self._cancelled.is_set():
                break
            if applied == 0:
                self._sleep_jittered()
        return self.metrics
