"""Traced runs: spans at each layer boundary plus Spark's own records.

Spans come from the benchmark's own files: the runner opens ``pass`` >
``query`` > ``build`` / ``execute``, and :meth:`Tracer.install` wraps the
public functions of ``tsengine.sources`` and ``tsengine.streaming`` so
their calls become children of ``build``.  Nothing under ``tsengine/``
is edited.  Every span has a name, start, end and parent, and all spans
of one query share its ``qid``.  Spans stay in memory until the run ends.

Spark's side is read from outside after each traced pass: jobs and
stages from the application status store, per-node SQL metrics from the
SQL status store (scan, exchange and Python-worker nodes), and
micro-batch progress from a ``StreamingQueryListener``.  Jobs are
attributed to a query by their submission time inside its span, never
by job group: ``tsengine.pipelines`` submits jobs from pool threads that
do not inherit the caller's group.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import itertools
import re
import sys
import threading
import time
from datetime import datetime

# public layer functions whose calls become spans: span name -> (module, attr)
LAYER_FUNCTIONS = {
    "sources.load_table": [("tsengine.sources.tables", "load_table")],
    "sources.wearable": [
        ("tsengine.sources.wearable", "wearable_long"),
        ("tsengine.sources.wearable", "wearable_wide"),
    ],
    "streaming.drain": [("tsengine.streaming.windows", "run_available_now")],
}

#: modules whose execute time is rolled up as operators.<module>.exec_s
OPERATOR_MODULES = (
    "relational", "fuse", "timeseries", "spectral", "recurrence", "contrastive",
    "metrics", "dedup", "similarity", "text", "mining", "corpus", "windows",
    "extensions", "analytics", "streaming_queries", "pipelines",
)


def module_key(module: str) -> str:
    """``tsengine.operators.fuse`` -> ``fuse``; ``tsengine.streaming.queries``
    -> ``streaming_queries``; ``tsengine.pipelines`` -> ``pipelines``."""
    parts = module.split(".")[1:]
    if parts and parts[0] == "operators":
        parts = parts[1:]
    return "_".join(parts)


class _NullTracer:
    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext()


NULL = _NullTracer()


class Tracer:
    def __init__(self):
        self.enabled = True
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, qid: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent["qid"] if parent else None),
            "start": time.time(), "end": None, **attrs,
        }
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()

    @contextlib.contextmanager
    def paused(self):
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True

    def install(self) -> None:
        """Wrap the layer functions wherever a tsengine module bound them."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith("tsengine") and m]
        for span_name, targets in LAYER_FUNCTIONS.items():
            for mod_name, attr in targets:
                orig = getattr(sys.modules[mod_name], attr)
                wrapped = self._wrap(span_name, attr, orig)
                for m in mods:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)

    def _wrap(self, span_name: str, attr: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not self.enabled:
                return fn(*a, **k)
            with self.span(span_name, fn=attr):
                return fn(*a, **k)

        return wrapper


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - covered(
        s["start"], s["end"], [(c["start"], c["end"]) for c in kids.get(s["id"], [])])
        for s in spans}


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Spark's records, read through py4j

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_NUM = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """A formatted SQL metric ("1,000", "3.3 KiB", "583 ms", or the
    multi-task "total (min, med, max ...)\\n<total> (...)") as a number in
    bytes, seconds or units."""
    if "\\n" in text:
        text = text.split("\\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def parse_plan_dot(dot: str) -> tuple[dict[int, dict], dict[int, list[int]]]:
    """Nodes {id: {"name", "metrics"}} and child lists of a plan-graph dot file."""
    nodes = {}
    for nid, label in _NODE.findall(dot):
        parts = label.split("<br>")
        name = next((p[3:-4].strip() for p in parts if p.startswith("<b>")), "")
        metrics = {}
        for p in parts:
            if ": " in p and not p.startswith("<b>"):
                k, v = p.split(": ", 1)
                metrics[k] = _metric_value(v)
        nodes[int(nid)] = {"name": name, "metrics": metrics}
    children: dict[int, list[int]] = {}
    for child, parent in _EDGE.findall(dot):
        children.setdefault(int(parent), []).append(int(child))
    return nodes, children


def _rows_into(nid: int, nodes, children) -> float:
    """Rows a node consumed: the first single-child descendant that counts
    its output rows (or an exchange's records read)."""
    kids = children.get(nid, [])
    while len(kids) == 1:
        m = nodes.get(kids[0], {}).get("metrics", {})
        for k in ("number of output rows", "records read"):
            if k in m:
                return m[k]
        kids = children.get(kids[0], [])
    return 0.0


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class Probe:
    """Collects Spark's job, stage, SQL and streaming records for the
    traced passes and turns them, with the spans, into layer metrics."""

    def __init__(self, spark, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        from tsengine import registry

        self.spark, self.tr, self.registry = spark, tracer, registry
        self.jsc = spark.sparkContext._jsc.sc()
        self.windows: list[tuple[float, float]] = []
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.execs: list[dict] = []
        self.progress: list[dict] = []
        self.memo_hits = 0
        tracer.install()
        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "run": str(p.runId), "batch": p.batchId,
                    "t": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "durations": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def traced(self, run_pass) -> dict:
        hits = self.registry.PLAN_MEMO_HITS
        t0 = time.time()
        out = run_pass()
        t1 = time.time()
        self.memo_hits += self.registry.PLAN_MEMO_HITS - hits
        self.windows.append((t0, t1))
        self.jsc.listenerBus().waitUntilEmpty()
        self._collect(t0, t1)
        return out

    def _in_window(self, t: float | None) -> bool:
        return t is not None and any(a - 0.001 <= t <= b + 0.001 for a, b in self.windows)

    def _collect(self, t0: float, t1: float) -> None:
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = _ms(j.submissionTime())
            if sub is None or not (t0 - 0.001 <= sub <= t1 + 0.001):
                continue
            self.jobs.append({"id": j.jobId(), "submit": sub, "end": _ms(j.completionTime()) or t1})
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            sub = _ms(s.submissionTime())
            if sub is None or not (t0 - 0.001 <= sub <= t1 + 0.001):
                continue
            self.stages.append({
                "id": s.stageId(), "submit": sub, "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(), "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9, "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(), "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            sub = e.submissionTime() / 1000.0
            if not (t0 - 0.001 <= sub <= t1 + 0.001):
                continue
            nodes, children = parse_plan_dot(
                sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid)))
            self.execs.append({"id": eid, "submit": sub, "nodes": nodes, "children": children})

    # -- metrics -------------------------------------------------------------

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        spans = self.tr.spans
        own = self_times(spans)

        def total(name: str) -> float:
            """Self time of every span called ``name``."""
            return sum(own[s["id"]] for s in spans if s["name"] == name)

        qspans = sorted((s for s in spans if s["name"] == "query"), key=lambda s: s["start"])
        starts = [s["start"] for s in qspans]
        phases: dict[int, dict[str, dict]] = {}
        for s in spans:
            if s["name"] in ("build", "execute"):
                phases.setdefault(s["parent"], {})[s["name"]] = s

        def owner(t: float):
            """(query span, phase name) whose interval holds time ``t``."""
            i = bisect.bisect_right(starts, t + 0.001) - 1
            if i < 0 or t > qspans[i]["end"] + 0.001:
                return None, None
            q = qspans[i]
            for ph, s in phases.get(q["id"], {}).items():
                if s["start"] - 0.001 <= t <= s["end"] + 0.001:
                    return q, ph
            return q, None

        build_jobs = pipeline_jobs = 0
        pipe_intervals = []
        for j in self.jobs:
            q, ph = owner(j["submit"])
            build_jobs += ph == "build"
            if q is not None and module_key(q["module"]) == "pipelines":
                pipeline_jobs += 1
                pipe_intervals.append((j["submit"], j["end"]))

        job_iv = [(j["submit"], j["end"]) for j in self.jobs]
        driver_gap = sum((s["end"] - s["start"]) - covered(s["start"], s["end"], job_iv)
                         for s in spans if s["name"] == "execute")

        exec_by_module = dict.fromkeys(OPERATOR_MODULES, 0.0)
        pipelines_s = 0.0
        for q in qspans:
            key = module_key(q["module"])
            ex = phases.get(q["id"], {}).get("execute")
            if ex is not None and key in exec_by_module:
                exec_by_module[key] += ex["end"] - ex["start"]
            if key == "pipelines":
                pipelines_s += q["end"] - q["start"]

        st = self.stages
        arrow = dict.fromkeys(("init", "run", "sent", "back", "rows"), 0.0)
        exchanges = 0
        scan_s = 0.0
        for x in self.execs:
            for nid, n in x["nodes"].items():
                m = n["metrics"]
                if n["name"] == "Exchange":
                    exchanges += 1
                if n["name"].startswith("Scan"):
                    scan_s += m.get("scan time", 0.0)
                if "time to run Python workers" in m:
                    arrow["init"] += m.get("time to start Python workers", 0.0) + m.get(
                        "time to initialize Python workers", 0.0)
                    arrow["run"] += m["time to run Python workers"]
                    arrow["sent"] += m.get("data sent to Python workers", 0.0)
                    arrow["back"] += m.get("data returned from Python workers", 0.0)
                    arrow["rows"] += _rows_into(nid, x["nodes"], x["children"])

        prog = [p for p in self.progress if self._in_window(p["t"])]
        last_state: dict[str, int] = {}
        for p in sorted(prog, key=lambda p: (p["run"], p["batch"])):
            last_state[p["run"]] = p["state_rows"]

        def dur(key: str) -> float:
            return sum(p["durations"].get(key, 0) for p in prog) / 1e3

        setup = {s["name"]: s["end"] - s["start"] for s in spans
                 if s["name"] in ("session.start", "session.warmup")}
        out = {
            "session.start_s": (setup.get("session.start", 0.0), "s"),
            "session.warmup_s": (setup.get("session.warmup", 0.0), "s"),
            "registry.build_s": (total("build"), "s"),
            "registry.memo_hits": (self.memo_hits, "count"),
            "registry.build_jobs": (build_jobs, "count"),
            "sources.load_table_s": (total("sources.load_table"), "s"),
            "sources.wearable_s": (total("sources.wearable"), "s"),
            "sources.scan_s": (scan_s, "s"),
            "sources.scan_bytes": (sum(s["input_bytes"] for s in st), "bytes"),
            "jobs.count": (len(self.jobs), "count"),
            "jobs.stages": (len(st), "count"),
            "jobs.tasks": (sum(s["tasks"] for s in st), "count"),
            "jobs.failed_tasks": (sum(s["failed_tasks"] for s in st), "count"),
            "jobs.driver_gap_s": (driver_gap, "s"),
            "jobs.executor_run_s": (sum(s["run_s"] for s in st), "s"),
            "jobs.executor_cpu_s": (sum(s["cpu_s"] for s in st), "s"),
            "jobs.gc_s": (sum(s["gc_s"] for s in st), "s"),
            "shuffle.exchanges": (exchanges, "count"),
            "shuffle.write_bytes": (sum(s["shuffle_write"] for s in st), "bytes"),
            "shuffle.read_bytes": (sum(s["shuffle_read"] for s in st), "bytes"),
            "shuffle.fetch_wait_s": (sum(s["fetch_wait_s"] for s in st), "s"),
            "shuffle.spill_bytes": (sum(s["spill_bytes"] for s in st), "bytes"),
            "arrow.worker_init_s": (arrow["init"], "s"),
            "arrow.python_exec_s": (arrow["run"], "s"),
            "arrow.bytes_to_python": (arrow["sent"], "bytes"),
            "arrow.bytes_from_python": (arrow["back"], "bytes"),
            "arrow.rows_to_python": (arrow["rows"], "count"),
            "streaming.drain_s": (total("streaming.drain"), "s"),
            "streaming.batches": (len(prog), "count"),
            "streaming.planning_s": (dur("queryPlanning"), "s"),
            "streaming.wal_commit_s": (dur("walCommit"), "s"),
            "streaming.add_batch_s": (dur("addBatch"), "s"),
            "streaming.commit_offsets_s": (dur("commitOffsets"), "s"),
            "streaming.state_commit_s": (sum(p["state_commit_ms"] for p in prog) / 1e3, "s"),
            "streaming.state_rows": (sum(last_state.values()), "count"),
            "pipelines.exec_s": (pipelines_s, "s"),
            "pipelines.jobs": (pipeline_jobs, "count"),
            "pipelines.concurrent_jobs_peak": (peak_overlap(pipe_intervals), "count"),
        }
        for mod, v in exec_by_module.items():
            out[f"operators.{mod}.exec_s"] = (v, "s")
        return out


def peak_overlap(intervals) -> int:
    """Most intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda e: (e[0], e[1]))
    peak = cur = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak
