"""The measurement loop shared by the untraced and the traced run:
environment, Spark session, closed-loop passes and output accounting."""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Driver heap: 2g, committed and touched up front (-Xms = -Xmx,
# AlwaysPreTouch), so the heap adds a constant 2 GB to peak_rss_mb. A heap
# left to grow makes G1's sizing, which follows GC pause times, part of the
# metric: over ten seeds of olap_tpch on a 4-vCPU host its spread was
# 0.21-0.26, against 0.006 pinned. So peak_rss_mb does not see heap use,
# persisted DataFrames included; cache.storage_mb_peak does. The engine's
# default heap (16g) would let one run take most of a shared host.
DRIVER_MEM = "2g"


def task_threads(cores: int) -> int:
    """Spark task threads: half the cores, at least one. The passes are
    bound by per-job overhead on the driver, not by rows, and the JVM's JIT
    and GC threads need the other half (JIT compilation alone took 2-4
    CPU-seconds per warm ``olap_tpch`` pass). On a shared 4-vCPU host with
    little CPU steal, passes 5-8 after set-up took 3.0-3.5 s on
    ``local[4]``, 2.8-2.9 s on ``local[2]`` and 2.6-3.1 s on ``local[1]``."""
    return max(1, cores // 2)


def environment(cores: int) -> None:
    """Point Spark, its Python workers and every temp file at the checkout.
    The workers get the repository root on PYTHONPATH, so ``mare_spark``
    imports in them whatever the working directory is."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_threads(cores))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def spark_conf(event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_dir,
            # full scan paths in the logged plans (tables.input_mb reads them)
            "spark.sql.maxMetadataStringLength": "100000",
        })
    return conf


def stop_jvm(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Session:
    """One Spark session; the first in a process also launches the JVM.
    ``event_dir`` turns Spark's event log on (the traced run only)."""

    def __init__(self, event_dir: str | None = None):
        from mare_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf(event_dir))
        self.get_spark_s = time.perf_counter() - t0

    def ctx(self, tracer):
        from workloads import Ctx

        return Ctx(self.spark, tracer)


def pass_counts(wl, seconds: float) -> tuple[int, int]:
    """(untimed warm passes, timed passes) for a run of ``seconds``. Both
    are fixed by the workload and ``seconds`` alone, never by how fast the
    passes go, so every build reports the median of the same passes of the
    warm-up curve."""
    return wl.WARM_PASSES, max(1, round(seconds / wl.PASS_S))


def timed_passes(wl, ctx, n_warm: int, n_timed: int, first_pass: int):
    """Closed loop, one client: the next pass starts only when the previous
    one ended. ``n_warm`` untimed passes, then ``n_timed`` timed ones.
    Returns (timed pass times, outputs of all passes)."""
    times, outs = [], []
    for i in range(n_warm + n_timed):
        ctx.tracer.pass_id = first_pass + i
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            outs.append(wl.run_pass(ctx))
        if i >= n_warm:
            times.append(time.perf_counter() - t0)
        if ctx.cache_probe is not None:
            ctx.persists_left.append(ctx.cache_probe.sample())
    ctx.tracer.pass_id = None
    return times, outs


def account(wl, ctx, outs) -> tuple[int, int, float]:
    """Check every output; returns (operations attempted, operations failed
    — raised or wrong —, recall of the last checked pass)."""
    raised = len(ctx.errors)
    failed, recall = 0, 0.0
    for out in outs:
        f, r = wl.check(ctx, out)
        failed += f
        recall = r if r is not None else recall
    return sum(o["ops"] for o in outs), raised + failed, recall
