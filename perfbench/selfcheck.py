#!/usr/bin/env python3
"""Tiny-input self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced on
tiny inputs (``--tiny``: sf0.001-sized tables, a 300-document corpus, 500
reads) and asserts that each run exits 0, checks its outputs as correct, and
emits every named metric with its unit. Then cross-checks the traced run's
``tables.input_mb`` (projected column-chunk bytes of the logged Parquet
scans) against Spark's own input byte counts, with Parquet's vectored reads
turned off, since Spark's counters miss those. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q6_revenue_change")


def check_input_mb() -> list[str]:
    """Projected scan bytes must lie at most 30 % below Spark's own input
    bytes when every read is counted. Spark's figure is the larger: it adds
    footers and re-reads for pushed filters (dictionary pages read for
    row-group filtering). An undercount like that of vectored reads, which
    miss most column bytes, fails."""
    import shutil

    import gen
    from harness import WORK, environment, spark_conf, stop_jvm
    from probes import EventLog, find_event_log

    environment(len(os.sched_getaffinity(0)))
    data, events = os.path.join(WORK, "selfcheck_tpch"), os.path.join(WORK, "selfcheck_ev")
    shutil.rmtree(events, ignore_errors=True)
    os.makedirs(events)
    gen.tpch_tables(data, 1, 0.05)
    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    conf = spark_conf(events)
    conf["spark.hadoop.parquet.hadoop.vectored.io.enabled"] = "false"
    spark = get_spark("perfbench-selfcheck", extra_conf=conf)
    try:
        app = spark.sparkContext.applicationId
        for name in INPUT_QUERIES:
            spark.sparkContext.setJobGroup(name, name)
            all_queries()[name].fn(spark, data).write.format("noop").mode("overwrite").save()
    finally:
        stop_jvm(spark)
    log = EventLog(find_event_log(events, app))
    problems = []
    for name in INPUT_QUERIES:
        r = log.reduce(lambda g, n=name: g == n)
        ok = 0.7 * r["spark_input_mb"] <= r["input_mb"] <= r["spark_input_mb"]
        print(f"{'ok  ' if ok else 'FAIL'} input_mb {name}: projected "
              f"{r['input_mb']:.4f} MB, Spark read {r['spark_input_mb']:.4f} MB",
              flush=True)
        if not ok:
            problems.append(f"tables.input_mb of {name} disagrees with Spark's count")
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(events, ignore_errors=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", "1", "--seconds", "2",
                "--trace", str(trace), "--tiny",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            tag = f"{wl} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: outputs not correct: {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics {got} != {want[trace]}")
            print(f"ok  {tag}: {res['attempted']} operations checked", flush=True)
    problems += check_input_mb()
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
