"""CDC ingestion benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdm_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. The run lands seeded inputs, starts a
Spark session (``local[2]``) with the in-memory catalog jar, runs the
workload's bulk phase and warm-up batches, then ``--seconds / nominal
round time`` whole rounds of stream batches. It checks the target
against the producer's ledger and every poll's watermark against the
head the producer published, and prints one JSON object as its last
line: the end-to-end metrics with ``--trace 0``, the per-layer record
with ``--trace 1``. Everything it writes stays under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (trace records).
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import procstat  # noqa: E402
import tracing  # noqa: E402
from ledger import snapshot_files  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TASK_THREADS = 2
DRIVER_MEMORY = "2g"
SETUP_ROUNDS = 5
#: stream batches before the timed rounds, not counted as operations
WARMUP_BATCHES = 1
#: the end-to-end metrics, in the order they are printed, with their units
E2E_UNITS = {
    "setup_s": "s",
    "batch_cpu_p50_s": "s",
    "bulk_rows_per_cpu_s": "rows/s",
    "peak_rss_mb": "MB",
    "target_files": "count",
    "target_bytes": "bytes",
}
JAR = os.path.join(ROOT, "javaext", "mem-catalog.jar")


def start_session(work: str):
    from arcane_framework_scala_spark.session import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{TASK_THREADS}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.jars": JAR,
            "spark.sql.catalog.mem": "arcanespark.mem.MemCatalog",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap and young generation, which G1 would otherwise
            # resize after pause times that follow the hypervisor's steal;
            # persistent JIT compiler threads, so their CPU can be read apart
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("SHOW TABLES IN mem.bench").collect()  # the catalog is loaded
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait()


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it; None below eleven samples."""
    ordered = sorted(samples)
    n = len(ordered)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, ordered[n - 11]


def committed_version(store) -> str | None:
    """The watermark a file store holds, read without going through the
    (possibly traced) store."""
    from arcane_framework_scala_spark.streaming.watermark import Watermark

    try:
        with open(store.path) as f:
            wm = Watermark.from_json(f.read())
    except FileNotFoundError:
        return None
    return None if wm is None else wm.version


class Run:
    """The state of one run: its batches, operations and problems."""

    def __init__(self, workload, trace: bool):
        self.wl = workload
        self.trace = trace
        self.tracer = None
        self.meter = None
        self.batches: list[dict] = []
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.traced_round = False
        self.counting = False  # warm-up batches are not operations

    def poll(self, land, runner, store) -> None:
        """Land one change set, then poll it: one stream batch."""
        from arcane_framework_scala_spark.metrics import BATCH_MERGE_DURATION

        self.meter.refresh()
        tr = self.tracer if self.traced_round else None
        if tr is not None:
            tr.set_batch("producer")
        landed = land()
        t_landed = time.monotonic()
        bid = f"b{len(self.batches):04d}"
        if tr is not None:
            tr.set_batch(bid)
        events = len(self.wl.emitter.events)
        c0 = self.meter.sample()
        runner.run_once()
        t1 = time.monotonic()
        c1 = self.meter.sample()
        version = committed_version(store)
        if version != landed.head:
            self.problems.append(f"{bid}: watermark {version!r}, producer head {landed.head!r}")
        self.batches.append({
            "id": bid,
            "fresh": t1 - t_landed,
            "cpu": procstat.CpuMeter.delta(c0, c1),
            "input_bytes": landed.bytes,
            "traced": tr is not None,
            "gauges": [
                v for name, v, _ in self.wl.emitter.events[events:]
                if name == BATCH_MERGE_DURATION
            ],
        })
        self.attempted += self.counting

    def probe(self, op) -> None:
        if self.traced_round:
            self.tracer.set_batch(f"probe{self.attempted:04d}")
        failed, problems = op()
        self.attempted += 1
        self.failed += int(failed)
        self.problems.extend(problems)

    def round(self, traced: bool) -> None:
        self.traced_round = traced
        if traced:
            self.tracer.install()
        try:
            self.wl.round(self.poll, self.probe)
        finally:
            if traced:
                self.tracer.uninstall()


def set_up(wl, work: str, gen: dict):
    """The session, catalog, source, target and runner, ``SETUP_ROUNDS``
    times: first from process start (launching the JVM), then by
    restarting the session in it. ``gen`` is the wall and CPU time input
    generation took, which the first round leaves out. Returns the
    session, the CPU meter and each round's wall and CPU seconds."""
    spark = start_session(work)
    wl.build(spark)
    meter = procstat.CpuMeter()
    walls = [time.monotonic() - PROCESS_START - gen["wall_s"]]
    cpus = [meter.sample()["total"] - gen["cpu_s"]]
    for _ in range(SETUP_ROUNDS - 1):
        spark.stop()
        s0, c0 = time.monotonic(), meter.sample()["total"]
        spark = start_session(work)
        wl.build(spark)
        walls.append(time.monotonic() - s0)
        cpus.append(meter.sample()["total"] - c0)
    return spark, meter, {"wall_s": walls, "cpu_s": cpus}


def run_bulk(run: Run, wl) -> dict:
    if run.trace:
        run.tracer.install()
        run.tracer.set_batch("bulk")
        wl.shard_wrapper = run.tracer.wrap_shards
    c0, t0 = run.meter.sample(), time.monotonic()
    rows = wl.bulk()
    wall, c1 = time.monotonic() - t0, run.meter.sample()
    if run.trace:
        run.tracer.uninstall()
    version = committed_version(wl.store)
    if version != wl.bulk_head:
        run.problems.append(f"bulk: watermark {version!r}, head {wl.bulk_head!r}")
    return {"rows": rows, "wall_s": wall, "cpu_s": procstat.CpuMeter.delta(c0, c1)["total"]}


def end_to_end(wl, setups, bulk, untraced, jvm_pid) -> dict:
    files = snapshot_files(wl.target_path())
    return {
        "setup_s": statistics.median(setups["cpu_s"]),
        "batch_cpu_p50_s": statistics.median(b["cpu"]["total"] for b in untraced),
        "bulk_rows_per_cpu_s": bulk["rows"] / bulk["cpu_s"],
        "peak_rss_mb": procstat.peak_rss_mb([p for p in (os.getpid(), jvm_pid) if p]),
        "target_files": len(files),
        "target_bytes": sum(os.path.getsize(f) for f in files),
    }


def layer_record(run: Run, traced: list[dict], freshness_p50: float, out_path: str) -> dict:
    """The per-layer record of the traced rounds, with the tracing
    overhead and the merge-duration gauge cross-check; written to
    ``out_path`` with the spans and jobs it came from."""
    jobs = run.tracer.jobs([b["id"] for b in traced] + ["bulk"])
    record = tracing.layer_record(run.tracer.spans, jobs, traced, "bulk")
    record["trace.overhead_s"] = statistics.median(b["fresh"] for b in traced) - freshness_p50
    gaps = []
    for b in traced:
        applies = [
            s["end"] - s["start"] for s in run.tracer.spans
            if s["batch"] == b["id"] and s["name"] == "sinks.apply"
        ]
        if len(applies) != len(b["gauges"]):
            run.problems.append(
                f"{b['id']}: {len(b['gauges'])} merge_duration gauges, "
                f"{len(applies)} sinks.apply spans"
            )
        gaps += [abs(g - a) for g, a in zip(b["gauges"], applies)]
    record["trace.merge_gauge_gap_s"] = max(gaps, default=0.0)
    if record["trace.merge_gauge_gap_s"] > 0.05:
        run.problems.append(
            f"merge_duration gauge and sinks.apply span differ by "
            f"{record['trace.merge_gauge_gap_s']:.3f} s"
        )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"layers": record, "batches": traced, "spans": run.tracer.spans, "jobs": jobs}, f)
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # keep every file the run writes inside the checkout: Spark scratch,
    # Python temp files, and no JVM perf-data files under /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    steal0 = procstat.steal_seconds()
    wl = WORKLOADS[args.workload](work, args.seed)
    run = Run(wl, bool(args.trace))
    phases: dict[str, float] = {}
    spark = None
    try:
        t, c = time.monotonic(), procstat.cpu_seconds(os.getpid())
        wl.prepare()
        gen = {"wall_s": time.monotonic() - t, "cpu_s": procstat.cpu_seconds(os.getpid()) - c}
        spark, run.meter, setups = set_up(wl, work, gen)
        t = time.monotonic()
        wl.after_build(spark)
        phases["after_build_s"] = time.monotonic() - t
        if run.trace:
            run.tracer = tracing.Tracer(spark)
        bulk = run_bulk(run, wl)

        t = time.monotonic()
        for _ in range(WARMUP_BATCHES):
            wl.step(run.poll)
        wl.before_timed()
        phases["warmup_s"] = time.monotonic() - t
        run.counting = True
        warm = len(run.batches)
        t = time.monotonic()
        rounds = max(2 if run.trace else 1, round(args.seconds / wl.nominal_round_s))
        for r in range(rounds):
            # the traced run alternates traced and untraced rounds, so the
            # difference of the two is the tracing overhead
            run.round(traced=run.trace and r % 2 == 0)
        phases["timed_s"] = time.monotonic() - t
        timed = run.batches[warm:]
        run.problems.extend(wl.check())

        untraced = [b for b in timed if not b["traced"]]
        fresh = [b["fresh"] for b in untraced]
        e2e = end_to_end(wl, setups, bulk, untraced, run.meter.jvm)
        if run.trace:
            out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
            record = layer_record(
                run, [b for b in timed if b["traced"]], statistics.median(fresh), out
            )
            metrics = {k: {"value": record[k], "unit": u} for k, u in tracing.LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    context = {
        "workload": args.workload, "seed": args.seed, "attempted": run.attempted,
        "failed": run.failed, "nproc": os.cpu_count(), "task_threads": TASK_THREADS,
        "steal_s": round(procstat.steal_seconds() - steal0, 2),
        "rounds": rounds, "stream_batches": len(timed),
        # wall-time figures, kept out of the metrics: on a shared VM they
        # follow the hypervisor's steal (see README)
        "freshness_p50_s": statistics.median(fresh),
        "freshness_tail": tail_percentile(fresh),
        "bulk_rows_per_s": bulk["rows"] / bulk["wall_s"],
        "setup_wall_s": statistics.median(setups["wall_s"]),
        "setup_rounds": setups, "bulk": bulk, **phases,
        "total_s": time.monotonic() - PROCESS_START,
        "freshness": [round(b["fresh"], 3) for b in timed],
        "batch_cpu": [round(b["cpu"]["total"], 2) for b in timed],
        "problems": run.problems[:10],
    }
    print("context: " + json.dumps(context), flush=True)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
