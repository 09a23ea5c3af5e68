"""Tracing for the benchmark's traced run.

Everything here lives outside the engine: spans are recorded around the
benchmark's own calls into the engine's public functions, and the
per-layer numbers come from Spark's status stores (jobs, stages, SQL
plan-graph metrics), a streaming-progress listener and ``/proc``.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, op
  id) and tags the Spark jobs fired inside a span with a job group that
  names the span. :class:`NullTracer` is the untraced stand-in.
- :class:`ProcSampler` samples the JVM and its Python worker processes;
  it runs in untraced runs too, because peak memory is an end-to-end
  metric.
- :func:`read_status` reads the status stores once, after the timed
  window, so nothing is read from them while an op is being timed.
- :func:`layer_metrics` turns spans plus status-store records into the
  per-layer metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time

# ------------------------------------------------------------------ spans


class NullTracer:
    """Untraced run: the same interface, recording nothing."""

    enabled = False

    def span(self, name: str, op):
        return contextlib.nullcontext()


class Tracer:
    """In-memory span recorder. Each span is a dict with ``id``,
    ``name``, ``op``, ``parent``, ``start`` and ``end`` (epoch
    seconds). Spark jobs submitted inside a span carry the job group
    ``perfbench:<span id>``, which :func:`layer_metrics` uses to hang
    each job under the span that fired it."""

    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"perfbench:{sid}", f"{name} op={op}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(
                    f"perfbench:{parent}", f"{self.spans[parent]['name']} op={op}"
                )
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------------------ /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, own cpu seconds, rss
    bytes, command name) or None."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    ppid = int(f[1])
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK
    own = (int(f[11]) + int(f[12])) / _CLK
    rss = int(f[21]) * os.sysconf("SC_PAGE_SIZE")
    return ppid, cpu, own, rss, raw[raw.index("(") + 1:raw.rindex(")")]


def descendants(pid: int) -> dict[int, tuple]:
    """Every live descendant of ``pid``, with its :func:`_stat` record."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    out, frontier = {}, {pid}
    while frontier:
        frontier = {p for p, st in stats.items() if st[0] in frontier}
        out.update((p, stats[p]) for p in frontier)
    return out


def alive(pid: int) -> bool:
    raw = _read(f"/proc/{pid}/stat")
    return raw is not None and raw[raw.rindex(")") + 2] != "Z"


def vm_hwm_bytes(pid: int | str) -> int:
    raw = _read(f"/proc/{pid}/status") or ""
    m = re.search(r"^VmHWM:\s+(\d+) kB", raw, re.M)
    return int(m.group(1)) * 1024 if m else 0


class ProcSampler:
    """Samples the JVM's descendants (the Python daemon and workers)
    every ``interval`` seconds on a daemon thread. Keeps the peak of
    their summed RSS and every worker pid seen. :meth:`snapshot` reads
    CPU counters synchronously, for per-op deltas."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_python_rss = 0
        self._worker_pids: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _python_procs(self) -> dict[int, tuple]:
        # A child the JVM has forked but not yet exec'd is still named
        # java and shares the JVM's pages; it is not a Python process.
        return {
            p: st for p, st in descendants(self.jvm_pid).items()
            if st[4].startswith("python")
        }

    def snapshot(self) -> dict:
        procs = self._python_procs()
        jvm = _stat(self.jvm_pid)
        self._record(procs)
        return {
            "jvm_cpu": jvm[2] if jvm else 0.0,
            # a reaped worker's CPU moves into its parent's child
            # counters, so the sum over live processes never drops
            "python_cpu": sum(st[1] for st in procs.values()),
        }

    def take_worker_pids(self) -> set[int]:
        """Worker pids seen since the last call."""
        with self._lock:
            pids, self._worker_pids = self._worker_pids, set()
        return pids

    def _record(self, procs: dict) -> None:
        # the daemon is the JVM's direct child; workers are its children
        workers = {p for p, st in procs.items() if st[0] != self.jvm_pid}
        with self._lock:
            self.peak_python_rss = max(
                self.peak_python_rss, sum(st[3] for st in procs.values())
            )
            self._worker_pids |= workers

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._record(self._python_procs())


# ------------------------------------------------------- streaming listener


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event as a
    plain dict, keyed by run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            rec = {
                "run": str(p.runId), "batch": p.batchId,
                "rows": p.numInputRows, "ms": dict(p.durationMs),
                "state_rows": state.numRowsTotal if state else 0,
                "state_mem": state.memoryUsedBytes if state else 0,
            }
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.runId))

        def wait_terminated(self, run_id: str, timeout: float = 10.0) -> None:
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self._lock:
                    if run_id in self.terminated:
                        return
                time.sleep(0.02)

    return ProgressListener()


# ------------------------------------------------------------ status stores


def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    ).__getattr__("MODULE$")
    mapper.registerModule(scala_module)
    return mapper


def read_status(spark, since_ms: float) -> dict:
    """Jobs, stages and SQL executions (with plan graph and metric
    values) submitted at or after ``since_ms``, read from the status
    stores as JSON in a handful of JVM calls."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    mapper = _mapper(sc._jvm)
    store = jsc.statusStore()
    jobs = [
        j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
        if (j.get("submissionTime") or 0) >= since_ms
    ]
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)
    ))
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = []
    for e in json.loads(mapper.writeValueAsString(sql.executionsList())):
        if (e.get("submissionTime") or 0) < since_ms:
            continue
        eid = e["executionId"]
        graph = json.loads(mapper.writeValueAsString(sql.planGraph(eid)))
        values = json.loads(mapper.writeValueAsString(sql.executionMetrics(eid)))
        execs.append({
            "id": eid, "start": e["submissionTime"] / 1000,
            "jobs": [int(j) for j in e.get("jobs", {})],
            "nodes": _plan_nodes(graph, values),
        })
    return {"jobs": jobs, "stages": stages, "execs": execs}


def _plan_nodes(graph: dict, values: dict) -> list[dict]:
    """Flatten the plan graph: each node with its parsed metric values
    and the ids of its children."""
    flat: list[dict] = []

    def walk(nodes):
        for n in nodes:
            flat.append({
                "id": n["id"], "name": n["name"], "desc": n["desc"],
                "m": {
                    m["name"]: parse_metric(values.get(str(m["accumulatorId"])))
                    for m in n["metrics"]
                },
            })
            walk(n.get("nodes") or [])

    walk(graph["nodes"])
    kids: dict[int, list[int]] = {}
    for e in graph["edges"]:
        kids.setdefault(e["toId"], []).append(e["fromId"])
    for n in flat:
        n["children"] = kids.get(n["id"], [])
    return flat


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """Parse a SQL metric as the status store formats it: ``600,000``,
    ``8.2 MiB``, ``753 ms``, or ``total (min, med, max ...)\\n21.2 s
    (...)``. Sizes come back in bytes, timings in seconds."""
    if not text:
        return 0.0
    head = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    parts = head.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


# ---------------------------------------------------------- layer metrics

#: The per-layer metrics, in the order BENCHMARK.json lists them, with
#: their units. Every traced run reports all of them; a layer a
#: workload does not use reads 0.
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "pipeline.self_s": "s", "pipeline.jobs": "count",
    "sources.scan_rows": "rows", "sources.scan_bytes": "bytes", "sources.scan_s": "s",
    "transform.rows_in": "rows", "transform.rows_out": "rows",
    "transform.python_run_s": "s", "transform.python_start_s": "s",
    "transform.python_init_s": "s",
    "transform.arrow_bytes_in": "bytes", "transform.arrow_bytes_out": "bytes",
    "pyudf.python_run_s": "s", "pyudf.rows_out": "rows",
    "exchange.count": "count", "exchange.records": "rows",
    "exchange.shuffle_bytes": "bytes", "exchange.spill_bytes": "bytes",
    "exec.stages": "count", "exec.tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s", "proc.python_workers": "count",
    "proc.jvm_hwm_mb": "MB", "proc.driver_hwm_mb": "MB",
    "streaming.batches": "count", "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s", "streaming.planning_s_p50": "s",
    "streaming.wal_s_p50": "s", "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "bytes",
    "dedup.candidate_pairs": "rows", "dedup.result_rows": "rows",
    "dedup.pair_yield": "ratio",
}

# Python stage of the python_transform operator (the worker-side
# function it hands to mapInPandas); every other Python plan node is
# counted under pyudf.
_TRANSFORM_FN = "transform_batches("
_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "FlatMapGroupsInPandasWithState", "PythonMapInArrow")
_ROW_METRICS = ("number of output rows", "records read")


def _rows_into(node: dict, by_id: dict[int, dict]) -> float:
    """Rows flowing into ``node``: the first row metric found walking
    down each child edge (through nodes that carry none)."""
    total = 0.0
    for cid in node["children"]:
        child = by_id.get(cid)
        while child is not None:
            hit = next((m for m in _ROW_METRICS if m in child["m"]), None)
            if hit:
                total += child["m"][hit]
                break
            nxt = child["children"]
            child = by_id.get(nxt[0]) if len(nxt) == 1 else None
    return total


def layer_metrics(ops: list[dict], spans: list[dict], status: dict,
                  progress: list[dict], pair_ops: set[str]) -> dict[str, float]:
    """Per-layer metrics over the traced ops. Counts, bytes and times
    are per op (the traced units' total divided by their op count);
    ``streaming.*`` are per micro-batch medians and per-pass counts.

    ``ops`` holds one record per traced op: ``op`` id, ``start``/``end``,
    the query name (``q``), result rows (``rows_out``) and the proc CPU
    deltas. ``pair_ops`` names the queries whose output is a set of
    candidate pairs (the dedup filter-verify layer)."""
    m = {k: 0.0 for k in LAYER_UNITS}
    n_ops = max(1, len(ops))
    by_op = {o["op"]: o for o in ops}

    def op_at(t: float):
        for o in ops:
            if o["start"] - 0.002 <= t <= o["end"] + 0.002:
                return o
        return None

    # jobs -> spans: the job group names the firing span; streaming
    # jobs (grouped by the query's run id) hang under the op whose
    # interval holds their submission
    span_by_id = {s["id"]: s for s in spans}
    job_spans = []
    for j in status["jobs"]:
        start = j["submissionTime"] / 1000
        end = (j.get("completionTime") or j["submissionTime"]) / 1000
        group = j.get("jobGroup") or ""
        parent = None
        if group.startswith("perfbench:"):
            parent = span_by_id.get(int(group.split(":", 1)[1]))
        if parent is None:
            o = op_at(start)
            parent = o and span_by_id.get(o.get("span"))
        job_spans.append({
            "id": len(spans) + len(job_spans), "name": "spark.job",
            "op": parent["op"] if parent else None,
            "parent": parent["id"] if parent else None,
            "start": start, "end": end, "job": j["jobId"],
            "stages": j.get("stageIds", []),
        })
    all_spans = spans + job_spans
    selft = self_times(all_spans)
    kids = {}
    for s in job_spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["op"] not in by_op:
            continue
        if s["name"] == "queries.build":
            m["queries.build_s"] += s["end"] - s["start"]
            m["queries.build_jobs"] += len(kids.get(s["id"], []))
        elif s["name"] == "pipeline.run":
            m["pipeline.self_s"] += selft[s["id"]]
            m["pipeline.jobs"] += len(kids.get(s["id"], []))

    # stages of the traced ops' jobs
    stage_ids = {sid for s in job_spans if s["op"] in by_op for sid in s["stages"]}
    for st in status["stages"]:
        if st["stageId"] not in stage_ids or st["status"] not in ("COMPLETE", "FAILED"):
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        m["exec.run_s"] += st["executorRunTime"] / 1e3
        m["exec.cpu_s"] += st["executorCpuTime"] / 1e9
        m["exec.gc_s"] += st["jvmGcTime"] / 1e3
        m["exchange.spill_bytes"] += st["diskBytesSpilled"]

    # SQL plan-graph metrics of the traced ops' executions
    for ex in status["execs"]:
        o = op_at(ex["start"])
        if o is None:
            continue
        by_id = {n["id"]: n for n in ex["nodes"]}
        for n in ex["nodes"]:
            name, mm = n["name"], n["m"]
            if name.startswith("Scan "):
                m["sources.scan_rows"] += mm.get("number of output rows", 0)
                m["sources.scan_bytes"] += mm.get("size of files read", 0)
                m["sources.scan_s"] += mm.get("scan time", 0)
            elif name == "Exchange":
                m["exchange.count"] += 1
                m["exchange.records"] += mm.get("shuffle records written", 0)
                m["exchange.shuffle_bytes"] += mm.get("shuffle bytes written", 0)
            elif name in _PY_NODES and _TRANSFORM_FN in n["desc"]:
                m["transform.rows_in"] += _rows_into(n, by_id)
                m["transform.rows_out"] += mm.get("number of output rows", 0)
                m["transform.python_run_s"] += mm.get("time to run Python workers", 0)
                m["transform.python_start_s"] += mm.get("time to start Python workers", 0)
                m["transform.python_init_s"] += mm.get(
                    "time to initialize Python workers", 0)
                m["transform.arrow_bytes_in"] += mm.get("data sent to Python workers", 0)
                m["transform.arrow_bytes_out"] += mm.get(
                    "data returned from Python workers", 0)
            elif name in _PY_NODES:
                m["pyudf.python_run_s"] += mm.get("time to run Python workers", 0)
                m["pyudf.rows_out"] += mm.get("number of output rows", 0)
            if o.get("q") in pair_ops and (name == "Generate" or name.endswith("Join")):
                m["dedup.candidate_pairs"] += mm.get("number of output rows", 0)

    pair_rows = sum(o["rows_out"] for o in ops if o.get("q") in pair_ops)
    m["dedup.result_rows"] = pair_rows
    m["proc.jvm_cpu_s"] = sum(o["jvm_cpu"] for o in ops)
    m["proc.python_cpu_s"] = sum(o["python_cpu"] for o in ops)

    per_op = [k for k in m if k.split(".")[0] in (
        "queries", "pipeline", "sources", "transform", "pyudf", "exchange",
        "exec", "proc", "dedup")]
    for k in per_op:
        m[k] /= n_ops
    m["dedup.pair_yield"] = (
        m["dedup.result_rows"] / m["dedup.candidate_pairs"]
        if m["dedup.candidate_pairs"] else 0.0
    )

    if progress:
        batches = [p for p in progress if p["rows"] > 0]
        per_run: dict[str, int] = {}
        for p in batches:
            per_run[p["run"]] = per_run.get(p["run"], 0) + 1
        m["streaming.batches"] = statistics.median(per_run.values()) if per_run else 0

        def p50(key):
            vals = [p["ms"].get(key, 0) / 1e3 for p in batches]
            return statistics.median(vals) if vals else 0.0

        m["streaming.trigger_s_p50"] = p50("triggerExecution")
        m["streaming.add_batch_s_p50"] = p50("addBatch")
        m["streaming.planning_s_p50"] = p50("queryPlanning")
        m["streaming.wal_s_p50"] = p50("walCommit")
        m["streaming.state_rows"] = max((p["state_rows"] for p in batches), default=0)
        m["streaming.state_mem_bytes"] = max((p["state_mem"] for p in batches), default=0)
    return m
