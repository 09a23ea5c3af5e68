"""Benchmark entry point. Run it from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: generate the workload's inputs from ``--seed`` under
``perfbench/.work/``, compute every op's expected result with DuckDB,
start a Spark session (``local[min(4, nproc)]``), warm up with one
untimed unit and let op latencies settle over one more, then run a
closed loop (one client; each op starts when the previous one has
completed) for a whole number of units that lasts about ``--seconds``
on a 4-core box. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``). With ``--trace 1`` the window's units alternate
between untraced and traced (U T T U ...); the traced units' spans and
status-store records give the per-layer metrics (``per_layer``).

A fingerprint goes to stderr with every run: the box (nproc, load
average at start and end, one fixed-work calibration loop, the share of
CPU time stolen by the hypervisor during the run), the run's
phases, the error rate and, on traced runs, the tracing overhead (the
traced units' ``op_s_p50`` minus the untraced units'). It is there
to help read drift and gates nothing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as layers  # noqa: E402
import workloads  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s_p50": "s",
    "worker_rss_mb": "MB",
}


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t0


def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    sys.path.insert(0, ROOT)


def start_session(work: str):
    from python_plugins_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process started under this one (the JVM, the Python daemon and its
    workers) has ended; kill any left after 30 s."""
    from pyspark import SparkContext

    started = set(layers.descendants(os.getpid()))
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(layers.alive(p) for p in started):
        time.sleep(0.1)
    for pid in started:
        if layers.alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class OpRunner:
    """Runs one op: times it, records its outcome, and on traced runs
    reads the JVM and Python-worker CPU counters around it. An op that
    raises or returns a wrong result is recorded as failed and the run
    goes on."""

    def __init__(self, sampler):
        self.sampler = sampler
        self.tracer = layers.NullTracer()
        self.records: list[dict] = []

    def __call__(self, q: str, rows_in: int, fn) -> bool:
        op = len(self.records)
        traced = self.tracer.enabled
        snap0 = self.sampler.snapshot() if traced else None
        start, t0 = time.time(), time.perf_counter()
        err, span = None, None
        try:
            with self.tracer.span("op", op) as span:
                ok, rows_out = fn(op)
        except Exception:
            ok, rows_out, err = False, 0, traceback.format_exc()
        latency = time.perf_counter() - t0
        rec = {
            "op": op, "q": q, "start": start, "end": time.time(), "latency": latency,
            "ok": bool(ok), "rows_in": rows_in, "rows_out": rows_out,
            "span": span["id"] if span else None,
        }
        if traced:
            snap1 = self.sampler.snapshot()
            rec["jvm_cpu"] = snap1["jvm_cpu"] - snap0["jvm_cpu"]
            rec["python_cpu"] = snap1["python_cpu"] - snap0["python_cpu"]
        if not ok:
            print(f"perfbench: op {op} ({q}) failed: "
                  f"{err or 'result differs from the oracle'}", file=sys.stderr)
        self.records.append(rec)
        return rec["ok"]


def units(wl, seconds: float) -> int:
    """``round(seconds / wl.unit_s)`` units, at least one: a fixed amount
    of work that lasts about ``seconds`` on a 4-core box. A window that
    instead ran until ``seconds`` had passed held a different number of
    units on a faster or slower box, which moved the metrics more than
    the box did."""
    return max(1, round(seconds / wl.unit_s))


def op_s_p50(recs: list[dict]) -> float:
    """The median latency of each kind of op (registry query or
    micro-batch), combined by geometric mean when a workload mixes
    several kinds. The median of a pooled mix sits on the edge between
    two queries' latencies and jumps from one to the other between runs;
    this moves smoothly with each query's latency and weighs them
    alike."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r["q"], []).append(r["latency"])
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()
    ))


def timed_pass(wl, ctx, n: int) -> tuple[list[dict], float]:
    """Run ``n`` units; returns (op records, wall seconds)."""
    first = len(ctx.op.records)
    t0 = time.perf_counter()
    for _ in range(n):
        wl.run_unit(ctx)
    return ctx.op.records[first:], time.perf_counter() - t0


def traced_pass(wl, ctx, tracer, n: int) -> tuple[list[dict], list[dict], set[str]]:
    """Run ``n`` units (at least two), traced and untraced in the order
    U T T U U T T U ..., so that latencies drifting during the window
    weigh on both sides alike. Returns (untraced op records, traced op
    records, run ids of the streaming queries the traced units ran)."""
    untraced: list[dict] = []
    traced: list[dict] = []
    runs: set[str] = set()
    for i in range(max(2, n)):
        on = i % 4 in (1, 2)
        ctx.tracer = ctx.op.tracer = tracer if on else layers.NullTracer()
        first = len(ctx.op.records)
        run_id = wl.run_unit(ctx)
        (traced if on else untraced).extend(ctx.op.records[first:])
        if on and run_id:
            runs.add(run_id)
    ctx.tracer = ctx.op.tracer = layers.NullTracer()
    return untraced, traced, runs


def cpu_ticks() -> list[int]:
    """The box's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def box(load_start: float, calib: float, ticks_start: list[int]) -> dict:
    """The fingerprint: nproc, load average at start and end, the
    calibration loop, and the share of the box's CPU time the hypervisor
    took (steal) while the run lasted."""
    delta = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_start": load_start,
        "load_end": os.getloadavg()[0],
        "calib_s": calib,
        "steal_share": delta[7] / max(1, sum(delta)),
    }


def prepare_inputs(wl, seed: int, work: str) -> tuple[str, str]:
    """Generate the workload's inputs under ``work`` and compute the
    expected result of every op with DuckDB. Returns the table and
    stream-file directories."""
    import duckdb

    data = os.path.join(work, "data")
    table_rows = gen.generate(data, seed, wl.sf, workloads.K_STREAM_FILES, wl.tables)
    tables_dir, stream_dir = os.path.join(data, "tables"), os.path.join(data, "stream")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cores()}")
        con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for t in wl.tables:
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{tables_dir}/{t}.parquet')")
        wl.prepare(con, tables_dir, stream_dir, table_rows)
    finally:
        con.close()
    return tables_dir, stream_dir


def measure(spark, wl, dirs: tuple[str, str], scratch: str, seconds: float,
            trace: bool, start_s: float) -> tuple[dict, list[dict], list[dict]]:
    """Warm up with one unit (the set-up), run one untimed unit to let
    op latencies settle, then run the timed window. Returns the metric
    values, every op record (untimed ones included) and the spans of
    the traced units (empty when untraced)."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    sampler = layers.ProcSampler(jvm_pid).start()
    try:
        runner = OpRunner(sampler)
        os.makedirs(scratch, exist_ok=True)
        ctx = workloads.Ctx(spark, runner.tracer, runner, dirs[0], scratch)

        t0 = time.perf_counter()
        wl.run_unit(ctx, warmup=True)
        warmup_s = time.perf_counter() - t0
        # Op latencies keep falling for about one more unit after the
        # first (JIT compilation); one untimed unit lets them settle.
        wl.run_unit(ctx)

        spans: list[dict] = []
        n = units(wl, seconds)
        if not trace:
            recs, wall = timed_pass(wl, ctx, n)
            values = {
                "setup_s": start_s + warmup_s,
                "rows_per_s": sum(r["rows_in"] for r in recs if r["ok"]) / wall,
                "op_s_p50": op_s_p50(recs),
            }
        else:
            tracer = layers.Tracer(spark.sparkContext)
            listener = None
            if isinstance(wl, workloads.StreamingPipeline):
                listener = layers.make_progress_listener()
                spark.streams.addListener(listener)
            since_ms = time.time() * 1000
            sampler.take_worker_pids()
            untraced, recs, runs = traced_pass(wl, ctx, tracer, n)
            workers = sampler.take_worker_pids()
            progress = []
            if listener is not None:
                for run_id in runs:
                    listener.wait_terminated(run_id)
                spark.streams.removeListener(listener)
                progress = [p for p in listener.progress if p["run"] in runs]
            status = layers.read_status(spark, since_ms)
            values = layers.layer_metrics(recs, tracer.spans, status, progress, wl.pair_ops)
            values["proc.python_workers"] = len(workers)
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warmup_s
            values["trace_overhead_s"] = op_s_p50(recs) - op_s_p50(untraced)
            spans = tracer.spans
        jvm_hwm, driver_hwm = layers.vm_hwm_bytes(jvm_pid), layers.vm_hwm_bytes("self")
    finally:
        sampler.stop()
    values["worker_rss_mb"] = sampler.peak_python_rss / 1e6
    values["proc.jvm_hwm_mb"] = jvm_hwm / 1e6
    values["proc.driver_hwm_mb"] = driver_hwm / 1e6
    return values, runner.records, spans


def result(values: dict, records: list[dict], trace: bool) -> dict:
    """The run's JSON line: outcome counts plus the end-to-end metrics
    (untraced) or the per-layer metrics (traced), each with its unit."""
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    declared = layers.LAYER_UNITS if trace else END_TO_END_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in declared.items()},
    }


def run(args) -> dict:
    wl = workloads.make(args.workload)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        isolate(work)
        load_start, calib, ticks = os.getloadavg()[0], calibrate(), cpu_ticks()
        t0 = time.perf_counter()
        dirs = prepare_inputs(wl, args.seed, work)
        phases = {"inputs_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        spark = start_session(work)
        start_s = time.perf_counter() - t0
        try:
            values, records, spans = measure(
                spark, wl, dirs, os.path.join(work, "scratch"), args.seconds,
                bool(args.trace), start_s,
            )
        finally:
            t0 = time.perf_counter()
            stop_session(spark)
            phases["stop_s"] = time.perf_counter() - t0
        if spans:
            _write_spans(args, spans, records)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    fingerprint = box(load_start, calib, ticks)
    out = result(values, records, bool(args.trace))
    phases["start_s"] = start_s
    latencies: dict[str, list[float]] = {}
    for r in records:
        latencies.setdefault(r["q"], []).append(round(r["latency"], 4))
    overhead = {k: values[k] for k in ("trace_overhead_s",) if k in values}
    print(json.dumps({"workload": wl.name, "seed": args.seed, "box": fingerprint,
                      "phases": phases, **overhead, "op_latencies_s": latencies}),
          file=sys.stderr)
    print(f"perfbench: {wl.name} seed={args.seed} error_rate="
          f"{out['failed'] / out['attempted']} ({out['failed']}/{out['attempted']})"
          + "".join(f" {k}={v:.4f}" for k, v in overhead.items()),
          file=sys.stderr)
    return out


def _write_spans(args, spans: list[dict], ops: list[dict]) -> None:
    out = os.path.join(HERE, ".work", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": spans, "ops": ops}, fh)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "python_plugins_spark", "__init__.py")):
        print(f"perfbench: no python_plugins_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
