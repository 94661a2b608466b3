#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line with per-query wall times.

Each query is forced end-to-end with a noop datasource write (full
materialization of every column, no driver collect)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: The bench's query sections, in order. Section 1's wall-time total is
#: the record's ``value`` (with ``queries``/``query_stats``); section
#: n >= 2 reports as ``headline{n}_total``/``_queries``/``_query_stats``.
#: Later rounds add sections rather than queries to earlier ones, so each
#: total stays comparable round over round.
SECTIONS = [
    # 1: the headline queries
    [
        "m3_merge_upsert",
        "m1_merge_sqlserver",
        "w1_dedup_latest",
        "m4_overwrite_backfill",
        "tpch_q1",
        "tpch_q3",
        "tpch_q5ish",
        "dedup_exact",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash",
        "text_quality",
        "doc_fingerprint",
        "sim_cosine_topk",
        "sim_lsh_neighbors",
        "sim_ivf_topk",
        "dedup_embedding_cosine",
        "t_window_agg",
        "mm_image_features",
    ],
    # 2 (r3+): the heaviest formerly-ungated queries
    [
        "corpus_pack",
        "t_rollup_cascade",
        "sim_ivf_trained_topk",
        # r3-continuation additions (heaviest of the new operator families)
        "sim_pq_topk",
        "sim_ivfpq_topk",
        "corpus_bpe_merges",
        "dedup_bloom_probe",
    ],
    # 3 (r4): the round-4 operators — fit-included by design (SemDeDup's
    # Lloyd cells, the classifier's GD rounds), so these price the full
    # train+apply verticals
    [
        "dedup_semantic",
        "corpus_dsir_select",
        "corpus_quality_classifier",
    ],
    # 4 (r5): the persisted-IVF-PQ vertical (build: encode +
    # cell-partitioned write, then partition-pruned search in one gate)
    # and search-only SemDeDup against a session-cached prefit codebook —
    # the reclaim section 3's fit-included dedup_semantic leaves on the
    # table, the same fit-once story the r4 PQ prefit switch told
    [
        "sim_ivfpq_index_topk",
        "dedup_semantic_prefit",
        "sim_ivfpq_index_rerank",
        # r6: the persisted-band-index dedup vertical (build once + probe
        # a batch against the stored index) — the dedup sibling of the
        # IVF-PQ build+search story above (VERDICT r5 item 7)
        "dedup_index_pairs",
    ],
    # 5 (r6): the engine-exact sketch family — the "aggregate without
    # shuffling raw values" story priced end-to-end (each gate includes
    # its exact-count comparison columns, so these times are sketch +
    # exact side by side)
    [
        "a17_hll_distinct",
        "a18_cms_heavy_hitters",
        "a19_kmv_overlap",
        "a20_log_hist_quantiles",
    ],
    # 6 (r6): the unified lakehouse lifecycle priced end-to-end — three
    # copy-on-write merge commits + compaction + ANALYZE + orphan sweep +
    # snapshot expiry + an idempotent replay, all on one durable table (a
    # lifecycle vertical, not a single-operator throughput number)
    [
        "m8_lakehouse_vertical",
    ],
    # 7 (late-r6): the web-curation family — URL canonicalization is the
    # zero-shuffle narrow-projection story (its time IS scan + codegen'd
    # regexp algebra), the others price one host/URL-keyed shuffle each;
    # line-dedup prices the explode→count→join→reassemble chain
    [
        "web_url_canonical",
        "web_url_dedup",
        "web_host_cap",
        "corpus_line_dedup_clean",
        "corpus_top_ngrams",
    ],
    # 8 (r11): the cross-format CDC verticals — each builds a real
    # lakehouse table, mutates it through DV/CoW/MoR commits and consumes
    # the per-commit change feed end-to-end (IVM maintenance off Delta
    # CDF and the Iceberg changelog; the full polling pipeline with an
    # Iceberg table in the CHANGETABLE seat). Lifecycle verticals like
    # m8, not single-operator numbers
    [
        "t_ivm_delta_feed",
        "t_ivm_iceberg_changelog",
        "t_iceberg_cdc_poll",
    ],
]

#: the run's own fields the compact stdout line repeats, in order
_COMPACT_RUN_KEYS = (
    "calibration_scan_sec",
    "calibration_cpu_sec",
    "runs_per_query",
    "load_before_1m",
    "cpus",
    "sf",
)


def build_reports(
    results: list[tuple[dict[str, float], dict[str, dict]]], run: dict
) -> tuple[dict, dict]:
    """The ``BENCH_DETAIL.json`` record and the compact stdout line.

    ``results`` holds each section's ``(medians, stats)`` in ``SECTIONS``
    order; ``run`` holds the run's calibration and environment fields
    (``_COMPACT_RUN_KEYS`` plus ``load_after_1m`` and ``host_cpus``)."""
    detail = {"metric": "headline_queries_total_wall"}
    compact = dict(detail)
    for n, (timings, stats) in enumerate(results, start=1):
        total = round(sum(timings.values()), 3)
        if n == 1:
            detail.update(value=total, unit="sec", queries=timings, query_stats=stats)
            compact.update(value=total, unit="sec", queries=timings)
            continue
        detail[f"headline{n}_total"] = total
        detail[f"headline{n}_queries"] = timings
        detail[f"headline{n}_query_stats"] = stats
        compact[f"headline{n}_total"] = total
    detail.update(run)
    compact.update({k: run[k] for k in _COMPACT_RUN_KEYS})
    compact["detail"] = "BENCH_DETAIL.json"
    return detail, compact


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    # Load guard, STRICT BY DEFAULT since r10 (VERDICT r9 item 2: the r9
    # ledger record was taken at load ratio 0.19 and every section came
    # out 15-30% inflated — a contaminated number must never be able to
    # become the record). Behavior: poll-wait up to
    # $SPARK_GRAFT_BENCH_WAIT_S (default 900 s) for the 1-minute load
    # ratio to drop to <= 0.15, then REFUSE if still busy — unless
    # SPARK_GRAFT_BENCH_STRICT=0 explicitly opts into a contaminated
    # sample (it still carries load_before_1m for post-hoc reading).
    cpus = os.cpu_count() or 1
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_S", "900"))
    deadline = time.time() + wait_budget
    load_before = round(os.getloadavg()[0], 2)
    while load_before / cpus > 0.15 and time.time() < deadline:
        print(
            f"# waiting for idle box: 1m load {load_before} on {cpus} "
            f"cpus (ratio {round(load_before / cpus, 3)} > 0.15)",
            file=sys.stderr,
        )
        time.sleep(15)
        load_before = round(os.getloadavg()[0], 2)
    load_ratio = round(load_before / cpus, 3)
    if load_ratio > 0.15:
        print(
            f"# WARNING: pre-bench load {load_before} on {cpus} cpus "
            f"(ratio {load_ratio} > 0.15) — sample is contaminated",
            file=sys.stderr,
        )
        if os.environ.get("SPARK_GRAFT_BENCH_STRICT", "1") != "0":
            print(
                '{"error": "load_guard", "load_before_1m": %s, '
                '"cpus": %d}' % (load_before, cpus)
            )
            sys.exit(3)

    import __spark_entry__ as entry_mod
    from arcane_framework_scala_spark import get_session

    # Route ALL JVM logging to a file (VERDICT r5 "What's wrong" #2): the
    # driver keeps only the last ~2.3 KB of captured output, and r5's
    # artifact lost tail budget to a benign DAGScheduler ERROR trace. With
    # log4j writing to /tmp the captured stream is exactly ours.
    log4j = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "scripts", "bench_log4j2.properties",
    )
    spark = get_session(
        "arcane-bench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions":
                f"-Dlog4j2.configurationFile=file:{log4j}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # untimed warmup: JVM + codegen + parquet footer caches, so the first
    # timed query measures the operator rather than session startup
    qs["tpch_q1"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # n=5 per query + one DISCARDED per-query warm-up iteration (VERDICT
    # r5 item 1b): single-number timings on this box drift ±14-20%
    # run-to-run, and the first run of a query pays its own codegen/JIT
    # (m3_merge_upsert showed a 2.6x max/median spread in r5). Report the
    # MEDIAN of the n timed runs plus the spread.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # Per-query calibration tick (r11, after two same-day samples showed
    # DIFFERENT query families inflated 2-3x with clean start-of-run
    # guards and low per-query cv): transient host noise spans a whole
    # query's ~10 s run window, so a single start-of-run probe cannot
    # normalize it. One scan-probe iteration AFTER each query stamps the
    # box speed in that query's own time window (~0.3 s each); post-hoc
    # comparisons divide by the MATCHING tick, not the global probe.
    li_cal = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def cal_tick() -> float:
        t0 = time.time()
        li_cal.groupBy("l_returnflag").agg(
            {"l_quantity": "sum", "l_extendedprice": "avg"}
        ).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    def measure(names: list[str]) -> tuple[dict[str, float], dict[str, dict]]:
        medians: dict[str, float] = {}
        stats: dict[str, dict] = {}
        for name in names:
            fn = qs[name]
            samples = []
            for i in range(runs + 1):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if i == 0:
                    warm = dt  # discarded: codegen/JIT warm-up
                else:
                    samples.append(dt)
            samples.sort()
            med = samples[len(samples) // 2]
            # per-query CV (stdev/mean over the n timed runs, VERDICT r7
            # item 4): the ledger's own noise floor, so a future reader
            # can tell a 15% regression from box jitter per query
            mean = sum(samples) / len(samples)
            var = sum((s - mean) ** 2 for s in samples) / len(samples)
            cv = (var ** 0.5) / mean if mean else 0.0
            medians[name] = round(med, 3)
            stats[name] = {
                "median": round(med, 3),
                "min": round(samples[0], 3),
                "max": round(samples[-1], 3),
                "cv": round(cv, 3),
                "warmup": round(warm, 3),
                "cal_tick": cal_tick(),
            }
            print(
                f"# {name}: {stats[name]['median']}s "
                f"[{stats[name]['min']}..{stats[name]['max']}] "
                f"cv={stats[name]['cv']} "
                f"cal_tick={stats[name]['cal_tick']} "
                f"(warmup {stats[name]['warmup']}s discarded)",
                file=sys.stderr,
            )
        return medians, stats

    # Host-drift calibration: a fixed trivial plan (scan+agg over
    # lineitem, no engine code under test) timed in the same session.
    # Same-code totals have drifted 15-30% between runs on different
    # days on this box; dividing any headline by this number compares
    # engine behavior across rounds with the host normalized out.
    def calibration() -> float:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        samples = []
        for i in range(4):
            t0 = time.time()
            li.groupBy("l_returnflag").agg(
                {"l_quantity": "sum", "l_extendedprice": "avg"}
            ).write.format("noop").mode("overwrite").save()
            if i:  # first run discarded (footer/codegen warm-up)
                samples.append(time.time() - t0)
        samples.sort()
        return round(samples[len(samples) // 2], 3)

    calib = calibration()
    print(f"# calibration_scan: {calib}s", file=sys.stderr)

    # Second probe (r11, VERDICT r10 item 6): the scan probe is
    # IO-light and under-corrects CPU-frequency dips on the iterative
    # CPU-bound fits (dsir/semantic/classifier were the three noisiest
    # adjusted ratios of r10). This one is pure fixed-size JVM compute
    # (sha2 over a synthetic range, no files): normalize CPU-bound
    # query families by THIS number, IO/scan-shaped ones by the scan.
    def calibration_cpu() -> float:
        from pyspark.sql import functions as F

        r = spark.range(0, 8_000_000, 1, int(os.environ.get(
            "SPARK_GRAFT_CPUS", "32"
        )))
        samples = []
        for i in range(4):
            t0 = time.time()
            r.select(
                F.sum(
                    F.conv(
                        F.substring(
                            F.sha2(F.col("id").cast("string"), 256), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                ).alias("s")
            ).write.format("noop").mode("overwrite").save()
            if i:  # first run discarded (codegen warm-up)
                samples.append(time.time() - t0)
        samples.sort()
        return round(samples[len(samples) // 2], 3)

    calib_cpu = calibration_cpu()
    print(f"# calibration_cpu: {calib_cpu}s", file=sys.stderr)

    try:
        session_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", cpus))
    except ValueError:  # e.g. SPARK_GRAFT_CPUS="*" — report the host count
        session_cpus = cpus

    results = [measure(names) for names in SECTIONS]
    # The driver records only the LAST ~2.3 KB of stdout; r4's combined
    # line (medians + min/max stats) overflowed that and truncated its own
    # "value" field (VERDICT r4 item 5). So: the FINAL stdout line is a
    # compact totals+medians JSON that fits the window, and the full
    # per-query stats go to BENCH_DETAIL.json committed in-repo.
    detail, compact = build_reports(
        results,
        {
            "calibration_scan_sec": calib,
            "calibration_cpu_sec": calib_cpu,
            "runs_per_query": runs,
            "load_before_1m": load_before,
            "load_after_1m": round(os.getloadavg()[0], 2),
            # the SESSION core count (local[$SPARK_GRAFT_CPUS]) — r11's c8
            # scaling run stamped os.cpu_count() here and the parsed JSON
            # claimed 32 cores for an 8-core session (VERDICT r11 item 6);
            # host_cpus keeps the box size for load-guard context
            "cpus": session_cpus,
            "host_cpus": cpus,
            "sf": sf,
        },
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"# full per-query stats -> {detail_path}", file=sys.stderr)
    line = json.dumps(compact)
    if len(line) > 2000:  # stay inside the driver's ~2.3 KB tail window
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
