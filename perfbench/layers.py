"""The traced run: per-layer numbers for one workload.

The untraced passes of the same process give ``wall_s``; then the session
is restarted in the same JVM with Spark's event log on, spans are wrapped
around the engine's public functions, and the same passes run again. Per-pass
numbers are reported as the median over the timed traced passes; the warm
passes of the traced session are excluded.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys

from harness import WORK, Session, account, pass_counts, timed_passes
from probes import EventLog, Tracer, find_event_log, instrument

# engine function -> span name (calls the engine makes internally count too)
WRAPPED = {
    "mare_spark.tables:read_table": "tables.read_table",
    "mare_spark.tables:load_tables": "tables.load_tables",
    "mare_spark.operators.dedup:exact_dedup": "dedup.exact_dedup",
    "mare_spark.operators.dedup:minhash_lsh_pairs": "dedup.minhash_lsh_pairs",
    "mare_spark.operators.dedup:ngram_jaccard_pairs": "dedup.ngram_jaccard_pairs",
    "mare_spark.operators.dedup:dedup_clusters": "dedup.dedup_clusters",
    "mare_spark.operators.dedup:release_caches": "cache.release_caches",
    "mare_spark.operators.similarity:brute_force_topk": "similarity.brute_force_topk",
}
MARE_METHODS = ("map", "reduce", "repartition", "repartition_by", "collect_reduce")

# (metric, unit) in output order
METRICS = (
    ("session.get_spark_s", "s"),
    ("tables.read_table_s", "s"), ("tables.input_mb", "MB"),
    ("tables.scan_tasks", "count"),
    ("ops.build_s", "s"), ("ops.build_jobs", "count"), ("ops.action_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"), ("spark.task_overhead_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.aqe_replans", "count"),
    ("python.mb_sent", "MB"), ("python.mb_returned", "MB"),
    ("python.rows_returned", "count"),
    ("dedup.candidate_rows", "count"), ("dedup.pairs_out", "count"),
    ("dedup.verify_yield", "ratio"), ("dedup.clusters", "count"),
    ("cache.persists_peak", "count"), ("cache.persists_left", "count"),
    ("cache.storage_mb_peak", "MB"),
    ("pipe.containers", "count"), ("pipe.mount_in_mb", "MB"),
    ("pipe.stage_run_s", "s"), ("pipe.ms_per_container", "ms"),
    ("export.write_s", "s"), ("export.output_mb", "MB"), ("export.files", "count"),
    ("export.verify_s", "s"),
    ("trace.overhead_s", "s"),
)


class CacheProbe:
    """Persisted-RDD census through the JVM context: count and stored MB."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.peak = 0
        self.storage_peak_mb = 0.0

    def sample(self) -> int:
        n = self.jsc.getPersistentRDDs().size()
        mb = sum(
            (i.memSize() + i.diskSize()) for i in self.jsc.sc().getRDDStorageInfo()
        ) / 1e6
        self.peak = max(self.peak, n)
        self.storage_peak_mb = max(self.storage_peak_mb, mb)
        return n


def _wrap_mare(tracer: Tracer) -> None:
    from mare_spark.dataset import MaRe

    for m in MARE_METHODS:
        setattr(MaRe, m, tracer.wrap(f"dataset.MaRe.{m}", getattr(MaRe, m)))


def traced_run(wl, args, untraced_wall: float,
               get_spark_s: float) -> tuple[dict, int, int, dict]:
    """Returns (metrics, attempted, failed, self times by span name) of the
    traced passes."""
    event_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    tracer = Tracer(True)
    instrument(tracer, WRAPPED)
    _wrap_mare(tracer)

    sess = Session(event_dir)
    spark = sess.spark
    app_id = spark.sparkContext.applicationId
    probe = CacheProbe(spark)
    wl.register(spark)
    ctx = sess.ctx(tracer)
    ctx.cache_probe = probe
    tracer.pass_id = 0
    warm_out = wl.run_pass(ctx, warm=True)  # pass 0 is not reported
    probe.peak, probe.storage_peak_mb = 0, 0.0
    n_warm, n_timed = pass_counts(wl, args.seconds / 2)
    times, outs = timed_passes(wl, ctx, n_warm, n_timed, first_pass=1)
    passes = list(range(1 + n_warm, 1 + n_warm + n_timed))
    timed_outs = outs[n_warm:]
    left = ctx.persists_left
    export_mb, export_files = (
        wl.export_stats() if hasattr(wl, "export_stats") else (0.0, 0)
    )
    attempted, failed, _ = account(wl, ctx, [warm_out] + outs)
    for e in ctx.errors:
        print(f"# FAILED (traced): {e}", file=sys.stderr)
    spark.stop()

    log = EventLog(find_event_log(event_dir, app_id))
    per_pass = [log.reduce(lambda g, p=p: g.startswith(f"p{p}|")) for p in passes]
    builds = [
        log.reduce(lambda g, p=p: g.startswith(f"p{p}|") and g.endswith("|build"))
        for p in passes
    ]

    def med(key, rows=per_pass):
        return statistics.median(r[key] for r in rows)

    def span(name):
        return statistics.median(tracer.totals(name, passes))

    pairs = [len(o["pairs"]) if o.get("pairs") is not None else 0 for o in timed_outs]
    cand = med("candidate_rows")
    containers = med("pipe_containers") + sum(
        1 for s in tracer.spans if s["name"] == "dataset.MaRe.collect_reduce"
        and s["pass"] == passes[0]
    )
    pipe_run = med("pipe_run_s")
    m = {
        "session.get_spark_s": get_spark_s,
        "tables.read_table_s": span("tables.read_table"),
        "tables.input_mb": med("input_mb"),
        "tables.scan_tasks": med("scan_tasks"),
        "ops.build_s": span("ops.build"),
        "ops.build_jobs": med("jobs", builds),
        "ops.action_s": span("ops.action"),
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.executor_cpu_s": med("cpu_s"),
        "spark.executor_run_s": med("run_s"),
        "spark.gc_s": med("gc_s"),
        "spark.task_overhead_s": med("overhead_s"),
        "spark.shuffle_write_mb": med("shuffle_write_mb"),
        "spark.shuffle_read_mb": med("shuffle_read_mb"),
        "spark.spill_mb": med("spill_mb"),
        "spark.aqe_replans": med("aqe_replans"),
        "python.mb_sent": med("py_sent_mb"),
        "python.mb_returned": med("py_returned_mb"),
        "python.rows_returned": med("py_rows"),
        "dedup.candidate_rows": cand,
        "dedup.pairs_out": statistics.median(pairs),
        "dedup.verify_yield": statistics.median(pairs) / cand if cand else 0.0,
        "dedup.clusters": statistics.median(
            wl.clusters(o) if hasattr(wl, "clusters") else 0 for o in timed_outs
        ),
        "cache.persists_peak": probe.peak,
        "cache.persists_left": max(left) if left else 0,
        "cache.storage_mb_peak": probe.storage_peak_mb,
        "pipe.containers": containers,
        "pipe.mount_in_mb": med("pipe_sent_mb"),
        "pipe.stage_run_s": pipe_run,
        "pipe.ms_per_container": 1e3 * pipe_run / containers if containers else 0.0,
        "export.write_s": span("export.write"),
        "export.output_mb": export_mb,
        "export.files": export_files,
        "export.verify_s": span("export.verify"),
        "trace.overhead_s": statistics.median(times) - untraced_wall,
    }
    tracer.write(os.path.join(WORK, f"spans_{args.workload}_{args.seed}.json"))
    self_times = tracer.self_times(passes)
    return (
        {k: (m[k], unit) for k, unit in METRICS},
        attempted,
        failed,
        self_times,
    )
