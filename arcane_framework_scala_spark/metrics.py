"""Metrics emission (reference ``services/metrics/DeclaredMetrics.scala:18-103``
+ ``ArcaneDimensionsProvider`` publishing to a StatsD socket).

The reference declares a fixed inventory of counters/gauges under the
``arcane.stream`` namespace and publishes them on an interval. Here the same
inventory is a set of declared names on :class:`DeclaredMetrics`, which fans
every observation out to pluggable emitters:

- :class:`CollectingEmitter` — in-memory (tests, debugging);
- :class:`StatsdEmitter` — DogStatsD wire format over a datagram socket
  (UDP address or unix socket path), the reference's transport;
- :class:`StreamingQueryMetricsListener` — a Structured Streaming
  ``StreamingQueryListener`` that maps Spark's own progress events
  (``numInputRows``, trigger durations, event-time watermark) onto the
  declared names, so the T7 path reports the same metrics as the polling
  runner without any extra jobs.

Emitters must never break the pipeline: emission errors are swallowed
(the reference's metric effects are likewise fire-and-forget).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

NAMESPACE = "arcane.stream"

# -- the declared inventory (DeclaredMetrics.scala:18-103) -------------------
ROWS_INCOMING = f"{NAMESPACE}.rows.incoming"  # counter
ROW_CHUNK_SIZE = f"{NAMESPACE}.rows.chunk_size"  # gauge
ROW_CHUNK_SIZE_BYTES = f"{NAMESPACE}.rows.chunk_size_bytes"  # gauge
ROW_CHUNK_COST = f"{NAMESPACE}.rows.chunk_cost"  # gauge
MBS_GC_FREQUENCY = f"{NAMESPACE}.mbs.gc_frequency"  # gauge
MBS_GC_PROBABILITY = f"{NAMESPACE}.mbs.gc_probability"  # gauge
BATCH_TRANSFORM_DURATION = f"{NAMESPACE}.batch.grouping_duration"  # gauge
BATCH_STAGE_DURATION = f"{NAMESPACE}.batch.stage_duration"  # gauge
BATCH_MERGE_DURATION = f"{NAMESPACE}.batch.merge_duration"  # gauge
BATCH_DISPOSE_DURATION = f"{NAMESPACE}.batch.dispose_duration"  # gauge
SHARD_COMMIT_DURATION = f"{NAMESPACE}.backfill.shard.commit_duration"  # gauge
TARGET_OPTIMIZE_DURATION = f"{NAMESPACE}.target.optimize_duration"  # gauge
TARGET_EXPIRE_DURATION = f"{NAMESPACE}.target.snapshot_expire_duration"  # gauge
TARGET_ORPHAN_DURATION = f"{NAMESPACE}.target.remove_orphan_duration"  # gauge
TARGET_ANALYZE_DURATION = f"{NAMESPACE}.target.analyze_duration"  # gauge
WATERMARK_AGE = f"{NAMESPACE}.watermark.age"  # gauge
WATERMARK_UPDATES = f"{NAMESPACE}.watermark.updates"  # counter
BACKFILL_SHARDS_STAGED = f"{NAMESPACE}.backfill.shards_staged"  # counter
BACKFILL_SHARDS_COMBINED = f"{NAMESPACE}.backfill.shards_combined"  # counter

#: maintenance op name (queries.maintenance.MaintenanceSchedule.due) → gauge
MAINTENANCE_DURATION_METRICS = {
    "optimize": TARGET_OPTIMIZE_DURATION,
    "expire_snapshots": TARGET_EXPIRE_DURATION,
    "remove_orphan_files": TARGET_ORPHAN_DURATION,
    "analyze": TARGET_ANALYZE_DURATION,
}


class DeclaredMetrics:
    """Fan-out hub: ``counter``/``gauge`` forward to every registered
    emitter (``emitter.emit(name, value, kind)``); failures are swallowed."""

    def __init__(self, emitters: list | None = None):
        self.emitters: list = list(emitters or [])

    def add(self, emitter) -> "DeclaredMetrics":
        self.emitters.append(emitter)
        return self

    def _emit(self, name: str, value: float, kind: str) -> None:
        for e in self.emitters:
            try:
                e.emit(name, value, kind)
            except Exception:  # noqa: BLE001 — metrics never break the stream
                pass

    def counter(self, name: str, value: float = 1) -> None:
        self._emit(name, value, "counter")

    def gauge(self, name: str, value: float) -> None:
        self._emit(name, value, "gauge")


@dataclass
class CollectingEmitter:
    """Counters sum; gauges keep the latest value (plus a full event log)."""

    counters: dict = field(default_factory=dict)
    gauges: dict = field(default_factory=dict)
    events: list = field(default_factory=list)

    def emit(self, name: str, value: float, kind: str) -> None:
        self.events.append((name, value, kind))
        if kind == "counter":
            self.counters[name] = self.counters.get(name, 0) + value
        else:
            self.gauges[name] = value


class StatsdEmitter:
    """DogStatsD line format (``name:value|c`` / ``|g``) over a datagram
    socket — UDP ``(host, port)`` or a unix socket path like the reference's
    DataDog socket default. Connectionless; send errors are ignored."""

    def __init__(self, address="127.0.0.1:8125", tags: dict | None = None):
        import socket

        self._tags = (
            "|#" + ",".join(f"{k}:{v}" for k, v in sorted(tags.items()))
            if tags
            else ""
        )
        if isinstance(address, str) and ":" in address:
            host, port = address.rsplit(":", 1)
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self._addr = (host, int(port))
        else:  # unix domain datagram socket path
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
            self._addr = address

    def emit(self, name: str, value: float, kind: str) -> None:
        suffix = "c" if kind == "counter" else "g"
        payload = f"{name}:{value}|{suffix}{self._tags}".encode()
        try:
            self._sock.sendto(payload, self._addr)
        except OSError:
            pass


def timed_gauge(metrics: "DeclaredMetrics | None", name: str):
    """Context manager gauging elapsed seconds into ``name`` (no-op when
    metrics is None) — the batch.*_duration / target.*_duration pattern."""
    import contextlib
    import time

    @contextlib.contextmanager
    def _cm():
        t0 = time.monotonic()
        try:
            yield
        finally:
            if metrics is not None:
                metrics.gauge(name, time.monotonic() - t0)

    return _cm()


def make_streaming_listener(metrics: DeclaredMetrics):
    """A ``StreamingQueryListener`` mapping Spark progress events onto the
    declared inventory: ``numInputRows`` → rows.incoming,
    ``durationMs.triggerExecution`` → batch.merge_duration (seconds),
    event-time watermark lag → watermark.age. Register with
    ``spark.streams.addListener(...)``; Spark computes these for free, so
    the T7 path costs zero extra jobs.

    Built lazily (function, not module-level class) because subclassing
    ``StreamingQueryListener`` requires a live PySpark import context.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamingQueryMetricsListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            try:
                metrics.counter(ROWS_INCOMING, int(p.numInputRows or 0))
                trigger_ms = (p.durationMs or {}).get("triggerExecution")
                if trigger_ms is not None:
                    metrics.gauge(BATCH_MERGE_DURATION, trigger_ms / 1000.0)
                wm = (p.eventTime or {}).get("watermark")
                if wm:
                    import datetime

                    age = (
                        datetime.datetime.now(datetime.timezone.utc)
                        - datetime.datetime.fromisoformat(
                            wm.replace("Z", "+00:00")
                        )
                    ).total_seconds()
                    metrics.gauge(WATERMARK_AGE, age)
            except Exception:  # noqa: BLE001
                pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamingQueryMetricsListener()


#: how long a pending observation may wait for the listener bus to drain
#: before its batch counts as never executed (ms)
_OBSERVATION_DRAIN_MS = 5_000


def observe_batch(df, metrics: "DeclaredMetrics | None", name: str = "batch"):
    """Inline batch observability via Spark's ``observe`` API: attach a
    row count to a DataFrame so the SAME action that runs the pipeline
    reports ``rows.incoming`` — no second ``count()`` job (the reference
    pays its metrics zero extra queries too; this is the batch twin of the
    streaming listener).

    Returns ``(observed_df, finish)`` — run any action on the returned
    frame, then call ``finish()``: it adds the observed row count to the
    ``rows.incoming`` counter and returns the values as a dict. ``finish``
    never blocks on an action that did not happen: when nothing executed
    the frame, it logs one WARN line, emits nothing and returns None."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    obs = Observation(name)
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def finish() -> dict | None:
        if not _observation_done(obs, df.sparkSession):
            logging.getLogger(__name__).warning(
                "observe_batch: no action executed the observed batch; "
                "%s not emitted for it", ROWS_INCOMING,
            )
            return None
        got = obs.get
        if metrics is not None:
            metrics.counter(ROWS_INCOMING, got.get("rows", 0))
        return got

    return observed, finish


def _observation_done(obs, spark) -> bool:
    """Non-blocking completion check. Spark completes an observation from
    a query-execution listener, so right after the action returns its
    event may still be queued: a pending observation gets one bounded
    drain of the listener bus before it counts as never executed."""
    from py4j.protocol import Py4JJavaError

    future = obs._jo.future()
    if future.isCompleted():
        return True
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
            _OBSERVATION_DRAIN_MS
        )
    except Py4JJavaError:  # TimeoutException: a busy bus reads as not executed
        pass
    return future.isCompleted()
