"""Spans at the engine's layer boundaries, py4j round trips and Spark
stage metrics, for the traced run.

Spans come from wrapping the layers' public entry points from here, so
the program itself is unchanged; ``install`` patches them and
``uninstall`` restores the originals, which lets one run alternate
traced and untraced rounds. Spans are held in memory; the per-layer
record is computed once the run has ended.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.batch: str | None = None
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.listed = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "batch": self.batch,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "py4j_calls": self.py4j_calls,
            "py4j_s": self.py4j_s,
            "listed": self.listed,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            for k in ("py4j_calls", "py4j_s", "listed"):
                rec[k] = getattr(self, k) - rec[k]

    def set_batch(self, batch: str | None) -> None:
        """Tag the following spans and Spark jobs with ``batch``."""
        self.batch = batch
        self.spark.sparkContext.setJobGroup(batch or "untraced", batch or "untraced")

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(original))

    def _spanned(self, name: str):
        def factory(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)

            return wrapper

        return factory

    def _spanned_generator(self, name: str):
        """Each ``next()`` of the generator is one span: the source's own
        work, not the consumer's between yields."""

        def factory(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                it = iter(fn(*a, **kw))
                while True:
                    with self.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item

            return wrapper

        return factory

    def _counted_listing(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            out = fn(*a, **kw)
            self.listed += len(out)
            return out

        return wrapper

    def _counted_py4j(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.py4j_calls += 1
                self.py4j_s += time.perf_counter() - t0

        return wrapper

    def install(self) -> None:
        from arcane_framework_scala_spark.backfill import graph
        from arcane_framework_scala_spark.operators import dedup_window
        from arcane_framework_scala_spark.sinks import maintenance, merge_sink
        from arcane_framework_scala_spark.sources import blob, cdm, delta_cdf
        from arcane_framework_scala_spark.streaming import runner, watermark

        for cls in (cdm.SynapseCdmSource, blob.BlobListingSource, delta_cdf.DeltaCdfSource):
            self._patch(cls, "current_version", self._spanned("sources.current_version"))
            self._patch(cls, "changes", self._spanned_generator("sources.changes"))
        self._patch(blob, "_list_files", self._counted_listing)
        self._patch(cdm.SynapseCdmSource, "list_batch_folders", self._counted_listing)
        self._patch(runner.StreamRunner, "run_once", self._spanned("streaming.run_once"))
        self._patch(watermark.FileWatermarkStore, "read", self._spanned("streaming.watermark"))
        self._patch(watermark.FileWatermarkStore, "commit", self._spanned("streaming.watermark"))
        self._patch(runner, "apply_field_selection", self._spanned("operators.field_filter"))
        self._patch(graph, "apply_field_selection", self._spanned("operators.field_filter"))
        self._patch(merge_sink, "merge_apply", self._spanned("operators.merge_apply"))
        self._patch(dedup_window, "latest_version_per_key", self._spanned("operators.dedup_window"))
        self._patch(graph, "backfill_commit_dedup", self._spanned("operators.dedup_window"))
        self._patch(merge_sink.MergeSink, "apply", self._spanned("sinks.apply"))
        for cls in (merge_sink.SnapshotParquetTarget, merge_sink.DurableCatalogTarget):
            self._patch(cls, "merge", self._spanned("sinks.target.merge"))
            self._patch(cls, "overwrite", self._spanned("sinks.target.overwrite"))
        self._patch(maintenance, "run_maintenance", self._spanned("maintenance.run"))
        self._patch(graph.BackfillOverwriteRunner, "run", self._spanned("backfill.run"))
        client = type(self.spark.sparkContext._gateway._gateway_client)
        self._patch(client, "send_command", self._counted_py4j)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
        self.set_batch(None)

    def wrap_shards(self, shards):
        """Backfill shards whose ``load`` records a span."""
        from arcane_framework_scala_spark.backfill.graph import Shard

        def traced(load):
            def run():
                with self.span("backfill.shard_load"):
                    return load()

            return run

        return [Shard(name=s.name, load=traced(s.load)) for s in shards]

    # -- Spark jobs and stages ----------------------------------------------
    def _drain_listener_bus(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — older Spark: give the bus a moment
            time.sleep(1.0)

    def jobs(self, groups: list[str]) -> dict[str, list[dict]]:
        """group -> its jobs, each with submit/complete epoch seconds and
        the summed metrics of the stages that ran."""
        self._drain_listener_bus()
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out: dict[str, list[dict]] = {}
        for group in groups:
            jobs = []
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                job = {
                    "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    "complete": done.get().getTime() / 1000.0 if done.isDefined() else 0.0,
                    "stages": 0, "tasks": 0, "executor_cpu_s": 0.0, "executor_run_s": 0.0,
                    "gc_s": 0.0, "shuffle_bytes": 0, "input_bytes": 0, "output_bytes": 0,
                    "output_rows": 0, "spill_bytes": 0,
                }
                ids = jd.stageIds()
                for i in range(ids.size()):
                    try:
                        sd = store.lastStageAttempt(ids.apply(i))
                    except Exception:  # noqa: BLE001 — stage never submitted
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numTasks()
                    job["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    job["executor_run_s"] += sd.executorRunTime() / 1e3
                    job["gc_s"] += sd.jvmGcTime() / 1e3
                    job["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    job["input_bytes"] += sd.inputBytes()
                    job["output_bytes"] += sd.outputBytes()
                    job["output_rows"] += sd.outputRecords()
                    job["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                jobs.append(job)
            out[group] = jobs
        return out


# ---------------------------------------------------------------------------
# the per-layer record
# ---------------------------------------------------------------------------

_SOURCE_SPANS = ("sources.current_version", "sources.changes")
_SPARK_KEYS = (
    "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_bytes", "input_bytes", "output_bytes", "spill_bytes",
)


def _within(t: float, spans: list[dict]) -> bool:
    return any(s["start"] <= t <= s["end"] for s in spans)


def _self_seconds(span: dict, spans: list[dict]) -> float:
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return span["end"] - span["start"] - union_seconds(kids)


def batch_layers(spans: list[dict], jobs: list[dict], batch: str) -> dict[str, float]:
    """Per-layer figures of one batch (or of the bulk phase)."""
    mine = [s for s in spans if s["batch"] == batch]

    def named(*names):
        return [s for s in mine if s["name"] in names]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    sources, sink, maint = named(*_SOURCE_SPANS), named("sinks.apply"), named("maintenance.run")
    runs = named("streaming.run_once")
    sink_jobs = [j for j in jobs if _within(j["submit"], sink)]
    maint_jobs = [j for j in jobs if _within(j["submit"], maint)]
    extra = [
        j for j in jobs
        if _within(j["submit"], runs)
        and not _within(j["submit"], sources + sink + maint)
    ]
    wall = dur(runs) or dur(named("backfill.run"))
    job_span = union_seconds([(j["submit"], j["complete"]) for j in jobs])
    out = {
        "sources.py4j_calls": sum(s["py4j_calls"] for s in sources),
        "sources.changes_s": dur(named("sources.changes")),
        "sources.poll_s": dur(named("sources.current_version")),
        "sources.listed": sum(s["listed"] for s in mine if s["parent"] is None),
        "streaming.extra_jobs": len(extra),
        "streaming.self_s": sum(_self_seconds(s, spans) for s in runs),
        "streaming.watermark_s": dur(named("streaming.watermark")),
        # outermost operator calls only: W2 dedup calls W1 inside it
        "operators.plan_s": dur(
            s for s in mine
            if s["name"].startswith("operators.")
            and not (s["parent"] is not None and spans[s["parent"]]["name"].startswith("operators."))
        ),
        "sinks.apply_s": dur(sink),
        "sinks.jobs": len(sink_jobs),
        "sinks.bytes_written": sum(j["output_bytes"] for j in sink_jobs),
        "sinks.rows_written": sum(j["output_rows"] for j in sink_jobs),
        "maintenance.s": dur(maint),
        "maintenance.bytes_rewritten": sum(j["output_bytes"] for j in maint_jobs),
        "spark.jobs": len(jobs),
        "driver.s": max(wall - job_span, 0.0),
        "py4j.calls": sum(s["py4j_calls"] for s in runs + named("backfill.run")),
        "py4j.s": sum(s["py4j_s"] for s in runs + named("backfill.run")),
    }
    for k in _SPARK_KEYS:
        out[f"spark.{k}"] = sum(j[k] for j in jobs)
    swap = [
        s for s in named("sinks.target.overwrite")
        if s["parent"] is not None and spans[s["parent"]]["name"] == "backfill.run"
    ]
    out["backfill.swap_s"] = dur(swap)
    out["backfill.stage_s"] = dur(named("backfill.run")) - out["backfill.swap_s"]
    return out


def layer_record(
    spans: list[dict],
    jobs: dict[str, list[dict]],
    batches: list[dict],
    bulk_group: str,
) -> dict[str, float]:
    """Medians over the traced stream batches; maintenance, which runs on
    a cadence, as its mean per batch; backfill and ``bulk.*`` figures
    from the bulk phase."""
    per = []
    for b in batches:
        layers = batch_layers(spans, jobs.get(b["id"], []), b["id"])
        layers["jvm.cpu_s"] = b["cpu"]["jvm"]
        layers["python.cpu_s"] = b["cpu"]["python"]
        layers["jvm.jit_cpu_s"] = b["cpu"]["jit"]
        layers["sinks.write_amplification"] = layers["sinks.bytes_written"] / max(b["input_bytes"], 1)
        per.append(layers)
    record = {}
    for k in per[0]:
        vals = [p[k] for p in per]
        mean_keys = ("maintenance.s", "maintenance.bytes_rewritten")
        record[k] = statistics.fmean(vals) if k in mean_keys else statistics.median(vals)
    bulk = batch_layers(spans, jobs.get(bulk_group, []), bulk_group)
    record["backfill.stage_s"] = bulk["backfill.stage_s"]
    record["backfill.swap_s"] = bulk["backfill.swap_s"]
    for k in ("spark.jobs", "spark.executor_cpu_s", "spark.shuffle_bytes", "driver.s", "py4j.calls"):
        record[f"bulk.{k}"] = bulk[k]
    return record


#: every per-layer metric with its unit; all of them are better lower
LAYER_UNITS = {
    "sources.py4j_calls": "count",
    "sources.changes_s": "s",
    "sources.poll_s": "s",
    "sources.listed": "count",
    "streaming.extra_jobs": "count",
    "streaming.self_s": "s",
    "streaming.watermark_s": "s",
    "operators.plan_s": "s",
    "sinks.apply_s": "s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.rows_written": "rows",
    "sinks.write_amplification": "ratio",
    "maintenance.s": "s",
    "maintenance.bytes_rewritten": "bytes",
    "backfill.stage_s": "s",
    "backfill.swap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "driver.s": "s",
    "py4j.calls": "count",
    "py4j.s": "s",
    "jvm.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "python.cpu_s": "s",
    "bulk.spark.jobs": "count",
    "bulk.spark.executor_cpu_s": "s",
    "bulk.spark.shuffle_bytes": "bytes",
    "bulk.driver.s": "s",
    "bulk.py4j.calls": "count",
    "trace.overhead_s": "s",
    "trace.merge_gauge_gap_s": "s",
}
