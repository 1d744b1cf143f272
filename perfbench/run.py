#!/usr/bin/env python3
"""mare_spark benchmark: one closed-loop client per workload on
``local[<cores / 2>]``, every output checked.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 10 --trace 0

Paths resolve from this file, so any working directory works. Workloads:
``olap_tpch`` and ``llm_dedup_export`` (see ``workloads.py`` and
``README.md``).

``--trace 0`` prints the end-to-end metrics, measured untraced:
``setup_s`` (session start with a fresh JVM, registration, one untimed warm
pass), ``wall_s`` (median fully executed pass), ``rows_per_s``,
``peak_rss_mb``, ``ok_frac`` (1 - failed / attempted) and ``dup_recall``.

``--trace 1`` runs untraced passes, then restarts the session in the same
JVM with spans and Spark's event log on, and prints the per-layer metrics of
``layers.py``, including ``trace.overhead_s`` (traced minus untraced median
pass time). Host context (cores, CPU steal over the run, a fixed-work Python
probe) goes to stderr on every run and into the traced metrics; it is never
used to rescale a metric.

The last stdout line is the JSON result; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from harness import (
    ROOT, WORK, Session, account, environment, pass_counts, stop_jvm, timed_passes,
)
from probes import RssSampler, Tracer, cpu_steal_s, python_probe_s
from workloads import WORKLOADS

T0 = time.perf_counter()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def _check_checkout() -> None:
    if not os.path.isfile(os.path.join(ROOT, "mare_spark", "__init__.py")):
        log(f"perfbench: no mare_spark package under {ROOT}; "
            "run from a full checkout of the repository")
        sys.exit(2)


def _measure(args, wl, sess, t0) -> tuple[dict, int, int]:
    """Set-up (from ``t0``, session already started), timed passes, checks;
    with ``--trace 1`` also the traced run. Returns (metrics, attempted,
    failed)."""
    wl.register(sess.spark)
    ctx = sess.ctx(Tracer(False))
    warm_out = wl.run_pass(ctx, warm=True)
    setup_s = time.perf_counter() - t0
    log(f"# setup: {setup_s:.3f}s (session start {sess.get_spark_s:.3f}s)")

    with RssSampler(os.getpid()) as rss:
        rss.reset()
        n_warm, n_timed = pass_counts(
            wl, args.seconds / 2 if args.trace else args.seconds
        )
        times, outs = timed_passes(wl, ctx, n_warm, n_timed, first_pass=1)
        peak = rss.peak_mb
    attempted, failed, recall = account(wl, ctx, [warm_out] + outs)
    errors = list(ctx.errors)
    wall = statistics.median(times)
    log(f"# pass times: {[round(t, 3) for t in times]} (n={len(times)}, "
        f"after {n_warm} untimed); "
        f"outputs checked at t={time.perf_counter() - T0:.1f}s")

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (wl.input_rows / wall, "1/s"),
            "peak_rss_mb": (peak, "MB"),
            "ok_frac": (1.0 - failed / attempted, "ratio"),
            "dup_recall": (recall, "ratio"),
        }
    else:
        from layers import traced_run

        sess.spark.stop()
        metrics, t_att, t_failed, self_times = traced_run(
            wl, args, wall, sess.get_spark_s
        )
        attempted += t_att
        failed += t_failed
        log("# self time per pass by span: " + json.dumps(
            {k: round(v, 4) for k, v in sorted(self_times.items())}))

    for e in errors:
        log(f"# FAILED: {e}")
    return metrics, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (self-check only)")
    args = ap.parse_args(argv)
    _check_checkout()

    cores = len(os.sched_getaffinity(0))
    environment(cores)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](WORK, args.seed, args.tiny)

    steal0, t_run0 = cpu_steal_s(), time.perf_counter()
    t0 = time.perf_counter()
    wl.prepare()
    log(f"# {args.workload}: inputs written in {time.perf_counter() - t0:.2f}s "
        f"({wl.input_rows} input rows)")

    # Set-up (session start, registration, warm pass), measured once per
    # run: it costs 20-45 s, and every run must fit the time budget.
    t0 = time.perf_counter()
    sess = Session()
    try:
        metrics, attempted, failed = _measure(args, wl, sess, t0)
    finally:
        # stop the JVM and wait for it, on failure too
        stop_jvm(sess.spark)
        wl.cleanup()
    host = {
        "cores": cores,
        "steal_s": cpu_steal_s() - steal0,
        "python_probe_s": python_probe_s(),
        "run_s": time.perf_counter() - t_run0,
    }
    log(f"# host: {json.dumps(host)}")
    if args.trace:
        metrics["host.cores"] = (cores, "count")
        metrics["host.steal_s"] = (host["steal_s"], "s")
        metrics["host.python_probe_s"] = (host["python_probe_s"], "s")
    print(_result(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
