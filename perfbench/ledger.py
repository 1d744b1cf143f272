#!/usr/bin/env python3
"""Repeated runs of the benchmark, summarized into one ledger file.

    python3 perfbench/ledger.py --runs 10 --out perfbench/baseline/head_4cpu.json
    python3 perfbench/ledger.py --runs 5 --workloads llm_dedup_export --out /tmp/x.json

For each workload: ``--runs`` untraced runs with seeds ``1..runs`` (the
end-to-end metrics' median, quartiles and quartile spread as a share of
the median), then one traced run with seed 1 (the per-layer numbers). Each
run's host context (cores, CPU steal, fixed-work probe) is kept from its
stderr. Workloads run one after another; nothing else should load the host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("# ")]
    host = next(
        (json.loads(ln[len("# host: "):]) for ln in notes if ln.startswith("# host: ")),
        {},
    )
    return {"seed": seed, "elapsed_s": round(elapsed, 2), "host": host,
            "notes": [n for n in notes if not n.startswith("# host: ")], **res}


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    ledger: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in names:
        runs = []
        for seed in range(1, args.runs + 1):
            r = run_once(spec, wl, seed, 0)
            runs.append(r)
            print(f"{wl} seed {seed}: {r['elapsed_s']}s correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        entry = {
            "end_to_end": {
                m["name"]: {
                    "unit": m["unit"], "bound": m["bound"],
                    **summarize([r["metrics"][m["name"]]["value"] for r in runs]),
                }
                for m in spec["end_to_end"]
            },
            "runs": runs,
        }
        t = run_once(spec, wl, 1, 1)
        entry["traced"] = t
        print(f"{wl} traced: {t['elapsed_s']}s correct={t['correct']}", flush=True)
        ledger["workloads"][wl] = entry
        for name, s in entry["end_to_end"].items():
            flag = "" if name == "setup_s" or s["spread"] <= s["bound"] / 3 else "  <-- wide"
            print(f"  {wl} {name}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']}){flag}", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(ledger, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
