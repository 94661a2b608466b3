#!/usr/bin/env python
"""Capture .explain("formatted") for bench queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> [query ...]
Writes plans/<tag>/<query>_{suffix}.txt where suffix comes from
$PLAN_SUFFIX (default "before"). Gate bodies run their side-effect jobs
once (lakehouse verticals build real tables); the captured plan is the
returned DataFrame's — the thing the noop sink executes in bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    names = sys.argv[2:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as entry_mod
    from arcane_framework_scala_spark import get_session

    if not names:
        names = [n for section in bench.SECTIONS for n in section]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(
        "plan-capture", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        t0 = time.time()
        try:
            df: DataFrame = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"# {name}: {round(time.time() - t0, 1)}s", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
