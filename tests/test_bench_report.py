"""bench.py's report records: one section table, the same keys as the
per-section literals they replaced."""

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUN = {
    "calibration_scan_sec": 0.5,
    "calibration_cpu_sec": 0.7,
    "runs_per_query": 5,
    "load_before_1m": 0.1,
    "load_after_1m": 2.0,
    "cpus": 4,
    "host_cpus": 4,
    "sf": 0.1,
}


def _results():
    return [
        ({q: 1.0 + i for i, q in enumerate(names)}, {q: {"median": 1.0} for q in names})
        for names in bench.SECTIONS
    ]


def test_sections_hold_the_45_bench_queries_once():
    names = [n for section in bench.SECTIONS for n in section]
    assert [len(s) for s in bench.SECTIONS] == [18, 7, 3, 4, 4, 1, 5, 3]
    assert len(set(names)) == len(names) == 45
    assert bench.SECTIONS[5] == ["m8_lakehouse_vertical"]


def test_detail_keys_match_the_committed_record():
    detail, _ = bench.build_reports(_results(), RUN)
    heads = [
        f"headline{n}_{k}" for n in range(2, 9) for k in ("total", "queries", "query_stats")
    ]
    want = {
        "metric", "value", "unit", "queries", "query_stats", *heads,
        "calibration_scan_sec", "calibration_cpu_sec", "runs_per_query",
        "load_before_1m", "load_after_1m", "cpus", "host_cpus", "sf",
    }
    assert set(detail) == want
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        assert set(json.load(f)) == want
    first = bench.SECTIONS[0]
    assert detail["queries"] == {q: 1.0 + i for i, q in enumerate(first)}
    assert detail["value"] == round(sum(1.0 + i for i in range(len(first))), 3)
    assert detail["headline6_total"] == 1.0
    assert detail["headline8_queries"] == {
        "t_ivm_delta_feed": 1.0, "t_ivm_iceberg_changelog": 2.0, "t_iceberg_cdc_poll": 3.0,
    }
    assert detail["metric"] == "headline_queries_total_wall" and detail["unit"] == "sec"


def test_compact_line_keeps_its_key_order():
    detail, compact = bench.build_reports(_results(), RUN)
    assert list(compact) == [
        "metric", "value", "unit", "queries",
        "headline2_total", "headline3_total", "headline4_total",
        "headline5_total", "headline6_total", "headline7_total",
        "headline8_total",
        "calibration_scan_sec", "calibration_cpu_sec", "runs_per_query",
        "load_before_1m", "cpus", "sf", "detail",
    ]
    assert compact["detail"] == "BENCH_DETAIL.json"
    for n in range(2, 9):
        assert compact[f"headline{n}_total"] == detail[f"headline{n}_total"]
    assert compact["value"] == detail["value"]
