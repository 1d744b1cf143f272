"""Measurement plumbing that lives outside the engine: spans, process RSS,
host context and the Spark event-log reducer.

Nothing here changes what the engine computes. Spans wrap calls the
benchmark makes into the engine's public functions; the event log is
Spark's own record of jobs, stages, tasks and SQL plan metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Each span keeps its name, start, end, parent
    index and pass id; ``write`` dumps them when the run ends. A disabled
    tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def totals(self, name: str, passes: list[int]) -> list[float]:
        """Per-pass summed duration of spans called ``name``."""
        out = {p: 0.0 for p in passes}
        for s in self.spans:
            if s["name"] == name and s["pass"] in out:
                out[s["pass"]] += s["end"] - s["start"]
        return [out[p] for p in passes]

    def self_times(self, passes: list[int]) -> dict[str, float]:
        """Median per-pass self time by span name: a span's duration minus
        the part of it its child spans cover (children never overlap —
        the benchmark is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        per: dict[str, dict[int, float]] = {}
        for i, s in enumerate(self.spans):
            if s["pass"] in passes:
                d = per.setdefault(s["name"], {p: 0.0 for p in passes})
                d[s["pass"]] += (s["end"] - s["start"]) - child[i]
        return {n: statistics.median(d.values()) for n, d in per.items()}


def instrument(tracer: Tracer, wrapped: dict[str, str]) -> None:
    """Replace each ``module:function`` in ``wrapped`` by a span-recording
    wrapper, everywhere a loaded ``mare_spark`` module has imported it, so
    calls the engine makes internally are seen too."""
    import importlib
    import sys

    originals = {}
    for target, span_name in wrapped.items():
        mod_name, fn_name = target.split(":")
        fn = getattr(importlib.import_module(mod_name), fn_name)
        originals[id(fn)] = tracer.wrap(span_name, fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("mare_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            repl = originals.get(id(val))
            if repl is not None:
                setattr(mod, attr, repl)


# ---------------------------------------------------------------------------
# Process RSS (driver + JVM + Python workers)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        pid = int(raw[: raw.index(" ")])
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Summed resident set of ``root`` and all its descendants, in MB."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak_mb`` is
    the largest sample since the last ``reset``."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb(self.root)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Host context: recorded with every run, never used to rescale a metric
# ---------------------------------------------------------------------------


def cpu_steal_s() -> float:
    """Cumulative CPU steal of the host, in seconds (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def python_probe_s() -> float:
    """Fixed-work single-thread probe (the shape of bench.py's calibration):
    minimum of three 2M-iteration loops."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for k in range(2_000_000):
            acc += k ^ (k >> 3)
        best = min(best, time.perf_counter() - t0)
    return best


# ---------------------------------------------------------------------------
# Spark event log reducer
# ---------------------------------------------------------------------------

_PY_NODE = ("Python", "InPandas", "InArrow")
_JOIN_NODE = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", ()):
        yield from _walk(c)


def _is_self_join(node: dict) -> bool:
    """An inner equi-join of a table with itself plus an id ``<`` filter —
    the shape of every LSH / inverted-index candidate join."""
    s = node.get("simpleString", "")
    if not node["nodeName"].startswith(_JOIN_NODE) or ", Inner" not in s:
        return False
    try:
        keys = s[s.index("[") :].split("], [", 1)
        left = [k.split("#")[0].strip("[ ") for k in keys[0].split(",")]
        right = [k.split("#")[0].strip("[ ") for k in keys[1].split("]")[0].split(",")]
    except (ValueError, IndexError):
        return False
    return left == right and " < " in s


class EventLog:
    """One application's event log, reduced by Spark job group. The
    benchmark names each job group ``p<pass>|<op>|<phase>``."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}       # job id -> {group, exec}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict, dict]] = []  # (stage, info, metrics)
        self.aqe_updates: list[int] = []      # execution ids
        self.py_accums: dict[int, str] = {}   # accum id -> metric name
        self.py_node_of: dict[int, int] = {}  # accum id -> python node key
        self.join_rows: set[int] = set()      # self-join "number of output rows"
        # Parquet scans, keyed by their "number of output rows" accum id:
        self.scans: dict[int, tuple[str, str]] = {}  # -> (Location, ReadSchema)
        self.scan_stage: dict[int, int] = {}  # -> first stage it ran in
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "exec": props.get("spark.sql.execution.id"),
                    }
                    for sid in ev["Stage IDs"]:
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    self.tasks.append(
                        (ev["Stage ID"], info, ev.get("Task Metrics") or {})
                    )
                    for acc in info.get("Accumulables", ()):
                        if acc.get("ID") in self.scans:
                            self.scan_stage.setdefault(acc["ID"], ev["Stage ID"])
                elif kind in (_SQL_START, _SQL_AQE):
                    if kind == _SQL_AQE:
                        self.aqe_updates.append(ev["executionId"])
                    for node in _walk(ev["sparkPlanInfo"]):
                        self._index_node(node)

    def _index_node(self, node: dict) -> None:
        name = node["nodeName"]
        metrics = node.get("metrics", ())
        if any(k in name for k in _PY_NODE):
            key = min((m["accumulatorId"] for m in metrics), default=-1)
            for m in metrics:
                self.py_accums[m["accumulatorId"]] = m["name"]
                self.py_node_of[m["accumulatorId"]] = key
        if name.startswith("Scan parquet"):
            meta = node.get("metadata") or {}
            for m in metrics:
                if m["name"] == "number of output rows":
                    self.scans[m["accumulatorId"]] = (
                        meta["Location"], meta["ReadSchema"]
                    )
        if _is_self_join(node):
            for m in metrics:
                if m["name"] == "number of output rows":
                    self.join_rows.add(m["accumulatorId"])

    def group_of_stage(self, sid: int) -> str:
        jid = self.stage_job.get(sid)
        return self.jobs[jid]["group"] if jid is not None else ""

    def reduce(self, match) -> dict:
        """Sum the layer counters over every job whose group satisfies
        ``match(group)``."""
        jobs = {j for j, v in self.jobs.items() if match(v["group"])}
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        execs = {self.jobs[j]["exec"] for j in jobs} - {None}
        out = dict.fromkeys(
            ("tasks", "cpu_s", "run_s", "gc_s", "overhead_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb", "input_mb", "spark_input_mb", "scan_tasks",
             "py_sent_mb", "py_returned_mb", "py_rows", "candidate_rows",
             "pipe_containers", "pipe_run_s", "pipe_sent_mb"),
            0.0,
        )
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        out["aqe_replans"] = sum(1 for e in self.aqe_updates if str(e) in execs)
        for sid, info, m in self.tasks:
            if sid not in stages:
                continue
            out["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["run_s"] += run_ms / 1e3
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            out["overhead_s"] += max(0, wall_ms - run_ms) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            im = m.get("Input Metrics") or {}
            if im.get("Records Read", 0) > 0:
                out["scan_tasks"] += 1
                out["spark_input_mb"] += im.get("Bytes Read", 0) / 1e6
            pipe_nodes, sent_mb = set(), 0.0
            for acc in info.get("Accumulables", ()):
                aid, upd = acc.get("ID"), acc.get("Update")
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
                if aid in self.join_rows:
                    out["candidate_rows"] += upd
                name = self.py_accums.get(aid)
                if name is None:
                    continue
                if name == "data sent to Python workers":
                    sent_mb += upd / 1e6
                elif name == "data returned from Python workers":
                    out["py_returned_mb"] += upd / 1e6
                elif name == "number of output rows":
                    out["py_rows"] += upd
                pipe_nodes.add(self.py_node_of[aid])
            out["py_sent_mb"] += sent_mb
            if pipe_nodes and self.group_of_stage(sid).split("|")[1].startswith("pipe_"):
                out["pipe_containers"] += len(pipe_nodes)
                out["pipe_run_s"] += run_ms / 1e3
                out["pipe_sent_mb"] += sent_mb
        for aid, sid in self.scan_stage.items():
            if sid in stages:
                out["input_mb"] += projected_mb(*self.scans[aid])
        return out


def _top_fields(struct: str) -> set[str]:
    """Top-level field names of a Spark ``struct<a:int,b:array<float>>``."""
    body, names, depth, start = struct[len("struct<"):-1], set(), 0, 0
    for i, ch in enumerate(body + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.add(body[start:i].split(":", 1)[0].strip("`"))
            start = i + 1
    return names - {""}


@functools.lru_cache(maxsize=None)
def projected_mb(location: str, read_schema: str) -> float:
    """Compressed size, in MB, of the column chunks a Parquet scan projects:
    every row group of every file under the scan's root paths, the columns
    of its read schema. Row groups skipped by statistics still count."""
    import pyarrow.parquet as pq

    roots = location[location.index("[") + 1 : location.rindex("]")].split(", ")
    files = []
    for r in roots:
        path = r[len("file:"):] if r.startswith("file:") else r
        if os.path.isdir(path):
            files += [
                os.path.join(d, f) for d, _, fs in os.walk(path)
                for f in fs if f.endswith(".parquet")
            ]
        else:
            files.append(path)
    cols, total = _top_fields(read_schema), 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                if cc.path_in_schema.split(".")[0] in cols:
                    total += cc.total_compressed_size
    return total / 1e6


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return path
