"""The benchmark's four workloads.

Each workload knows which generated tables it reads, computes the
expected result of every op from DuckDB before Spark starts, and runs
its ops in *units*: the smallest sequence of ops after which the mix of
ops is complete (a round over its registry queries, one pipeline run,
or one pass of micro-batches over the stream files). ``unit_s`` is how
long one unit takes on a 4-core box; a timed window is a whole number
of units sized from it, so every run measures the same ops.

An op ends in a fully materialized result checked against the
expected one; an exception or a mismatch is a failed op.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

# ------------------------------------------------------------ comparison


def _norm_cell(v):
    """Same normalization as the engine's oracle gate: floats to 9
    places, integral floats as ints, NULL/NaN as one token."""
    if v is None or v != v:
        return "\\N"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(pdf) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Order-insensitive form of a result frame: sorted column names and
    the sorted list of normalized rows."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        tuple(_norm_cell(v) for v in rec)
        for rec in pdf[list(cols)].itertuples(index=False)
    )
    return cols, rows


# ---------------------------------------------------------------- context


class Ctx:
    """What a workload needs while it runs: the session, the tracer,
    the op runner (``ctx.op(...)``), the generated data and a private
    scratch directory."""

    def __init__(self, spark, tracer, op_runner, data_dir, scratch):
        self.spark = spark
        self.tracer = tracer
        self.op = op_runner
        self.data_dir = data_dir
        self.scratch = scratch


# -------------------------------------------------- registry-query workloads


def ann_topk_expected(data_dir: str, k: int):
    """Exact top-k cosine neighbours with numpy, ranked like the
    registry oracle for ``ann_topk_cosine``: (cos rounded to 6 places,
    half away from zero) descending, then neighbour id ascending, self
    pairs excluded. The DuckDB oracle is a cross join that takes tens
    of seconds at this size; the smoke check runs both at a small size
    and requires them to agree."""
    import pandas as pd

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vec = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    norm = np.sqrt((vec * vec).sum(axis=1))
    cos = (vec @ vec.T) / np.outer(norm, norm)
    cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
    rows = []
    for i in range(len(ids)):
        c = cos[i].copy()
        c[i] = -np.inf
        top = np.lexsort((ids, -c))[:k]
        rows += [(int(ids[i]), int(ids[j]), float(c[j]), r + 1) for r, j in enumerate(top)]
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cos_sim", "rk"])


class RegistryWorkload:
    """Ops are calls to registry query builders, materialized with
    ``toPandas`` and compared with the query's oracle. A unit is one
    round over the queries in order."""

    def __init__(self, name, queries: dict[str, tuple[str, ...]], sf: float,
                 unit_s: float, pair_ops=(), numpy_oracles=None):
        self.name = name
        self.queries = queries  # query -> tables it reads
        self.sf = sf
        self.unit_s = unit_s
        self.tables = tuple(sorted({t for ts in queries.values() for t in ts}))
        self.pair_ops = set(pair_ops)
        self.numpy_oracles = numpy_oracles or {}
        self.want: dict[str, tuple] = {}
        self.rows_in: dict[str, int] = {}

    def prepare(self, con, data_dir, stream_dir, table_rows):
        from python_plugins_spark.queries import ORACLES

        for q, tables in self.queries.items():
            if q in self.numpy_oracles:
                self.want[q] = normalize(self.numpy_oracles[q](data_dir))
            else:
                self.want[q] = normalize(con.sql(ORACLES[q]).df())
            self.rows_in[q] = sum(table_rows[t] for t in tables)

    def run_unit(self, ctx: Ctx, warmup: bool = False):
        for q in self.queries:
            ctx.op(q, self.rows_in[q], lambda op, q=q: self._one(ctx, q, op))

    def _one(self, ctx: Ctx, q: str, op):
        from python_plugins_spark.queries import QUERIES

        with ctx.tracer.span("queries.build", op):
            df = QUERIES[q](ctx.spark, ctx.data_dir)
        with ctx.tracer.span("collect", op):
            pdf = df.toPandas()
        with ctx.tracer.span("check", op):
            ok = normalize(pdf) == self.want[q]
        return ok, len(pdf)


# ------------------------------------------------------- transform_batch

# The reference's tax example as a pipeline stage. Revenue and tax are
# emitted as integer cents (floor(x*100+0.5), the rounding the
# transform_revenue_agg oracle applies per row), so the group sums are
# exact in any summation order.
TAX_SCRIPT = """
import math

def transform(record, emitter, context):
    rate = float(context.getArguments().get('taxrate'))
    if record['l_quantity'] >= 49:
        emitter.emitError({'errorCode': 10, 'errorMsg': 'quantity out of range',
                           'invalidRecord': record})
        return
    revenue = record['l_extendedprice'] * (1 - record['l_discount'])
    emitter.emit({'l_returnflag': record['l_returnflag'],
                  'revenue_cents': math.floor(revenue * 100 + 0.5),
                  'tax_cents': math.floor(revenue * rate * 100 + 0.5)})
"""


class TransformBatch:
    """One op is one run of a batch pipeline document: parquet source
    -> python transform (error port on) -> group-by -> parquet sink.
    The check reads the sink's files back and compares them with the
    ``transform_revenue_agg`` oracle."""

    name = "transform_batch"
    tables = ("lineitem",)
    pair_ops: set = set()
    unit_s = 5.0

    def __init__(self, sf: float):
        self.sf = sf
        self.want = None
        self.rows = 0

    def prepare(self, con, data_dir, stream_dir, table_rows):
        from python_plugins_spark.queries import ORACLES

        self.want = normalize(con.sql(ORACLES["transform_revenue_agg"]).df())
        self.rows = table_rows["lineitem"]

    def spec(self, data_dir: str, out: str) -> dict:
        return {
            "stages": [
                {"name": "src", "type": "batchsource.parquet",
                 "config": {"path": os.path.join(data_dir, "lineitem.parquet")}},
                {"name": "tax", "type": "transform.python",
                 "config": {
                     "script": TAX_SCRIPT,
                     "schema": "l_returnflag string, revenue_cents long, tax_cents long",
                     "args": {"taxrate": "0.07"},
                     "on_error": "route",
                 }},
                {"name": "agg", "type": "batchaggregator.groupby",
                 "config": {
                     "groupByFields": ["l_returnflag"],
                     "aggregates": [
                         {"name": "revenue_cents", "function": "sum", "field": "revenue_cents"},
                         {"name": "tax_cents", "function": "sum", "field": "tax_cents"},
                         {"name": "n", "function": "count", "field": "*"},
                     ],
                 }},
                {"name": "sink", "type": "batchsink.parquet",
                 "config": {"path": out, "mode": "overwrite"}},
            ],
            "connections": [
                {"from": "src", "to": "tax"},
                {"from": "tax", "to": "agg"},
                {"from": "agg", "to": "sink"},
            ],
        }

    def run_unit(self, ctx: Ctx, warmup: bool = False):
        ctx.op("tax_pipeline", self.rows, lambda op: self._one(ctx, op))

    def _one(self, ctx: Ctx, op):
        import pandas as pd

        from python_plugins_spark.pipeline import run_pipeline

        out = os.path.join(ctx.scratch, "transform_sink")
        with ctx.tracer.span("pipeline.run", op):
            run_pipeline(ctx.spark, self.spec(ctx.data_dir, out))
        with ctx.tracer.span("check", op):
            got = pq.read_table(out).to_pandas()
            pdf = pd.DataFrame({
                "l_returnflag": got["l_returnflag"],
                "total_revenue": [round(v / 100.0, 4) for v in got["revenue_cents"]],
                "total_tax": [round(v / 100.0, 4) for v in got["tax_cents"]],
                "n": got["n"],
            })
            ok = normalize(pdf) == self.want
        return ok, len(pdf)


# ---------------------------------------------------- streaming_pipeline

STREAM_SCRIPT = (
    "def transform(record, emitter, context):\n"
    "    if record['event_type'] == 'purchase':\n"
    "        emitter.emit({'ts': record['ts'],\n"
    "                      'doubled': record['value'] * 2})\n"
)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


class StreamingPipeline:
    """The same python stage inside a streaming document: file source
    (``maxFilesPerTrigger: 1``) -> python transform -> 5-minute windowed
    group-by -> complete-mode memory sink. A unit is one pass: a fresh
    query over an empty directory, fed the K stream files one at a time.
    One op is one micro-batch: drop the next file in, wait for the query
    to process it, read the sink table and compare it with the
    ``pipeline_streaming_end_to_end`` oracle over the files fed so far.
    The first op of a pass also starts the query."""

    name = "streaming_pipeline"
    tables = ("events",)
    pair_ops: set = set()
    unit_s = 6.5

    def __init__(self, sf: float):
        self.sf = sf
        self.want: list = []
        self.files: list[str] = []
        self.file_rows: list[int] = []
        self.passes = 0

    def prepare(self, con, data_dir, stream_dir, table_rows):
        from python_plugins_spark.queries import ORACLES

        self.files = sorted(
            os.path.join(stream_dir, f) for f in os.listdir(stream_dir)
            if f.endswith(".parquet")
        )
        self.file_rows = [pq.ParquetFile(f).metadata.num_rows for f in self.files]
        for i in range(len(self.files)):
            prefix = ", ".join(f"'{f}'" for f in self.files[: i + 1])
            con.sql(f"CREATE OR REPLACE VIEW events AS FROM read_parquet([{prefix}])")
            self.want.append(normalize(con.sql(ORACLES["pipeline_streaming_end_to_end"]).df()))

    def spec(self, watch_dir: str, qname: str) -> dict:
        return {
            "stages": [
                {"name": "src", "type": "streamingsource.file",
                 "config": {"path": watch_dir, "schema": EVENTS_SCHEMA,
                            "options": {"maxFilesPerTrigger": "1"}}},
                {"name": "ev", "type": "transform.python",
                 "config": {"script": STREAM_SCRIPT, "schema": "ts timestamp, doubled double"}},
                {"name": "agg", "type": "streamingaggregator.windowed_groupby",
                 "config": {
                     "eventTime": "ts", "windowDuration": "5 minutes",
                     "groupByFields": [],
                     "aggregates": [
                         {"name": "n", "function": "count", "field": "*"},
                         {"name": "total", "function": "sum", "field": "doubled"},
                     ],
                 }},
                {"name": "sink", "type": "streamingsink.memory",
                 "config": {"queryName": qname, "outputMode": "complete",
                            "statePartitions": 8, "drain": False}},
            ],
            "connections": [
                {"from": "src", "to": "ev"},
                {"from": "ev", "to": "agg"},
                {"from": "agg", "to": "sink"},
            ],
        }

    def run_unit(self, ctx: Ctx, warmup: bool = False) -> str | None:
        """One pass; returns the stopped query's run id."""
        self.passes += 1
        watch = os.path.join(ctx.scratch, f"stream_pass_{self.passes}")
        os.makedirs(watch)
        qname = f"perfbench_stream_{self.passes}"
        state = {"query": None}
        n = 2 if warmup else len(self.files)
        try:
            for i in range(n):
                ok = ctx.op("micro_batch", self.file_rows[i],
                            lambda op, i=i: self._batch(ctx, state, watch, qname, i, op))
                if not ok and (state["query"] is None or not state["query"].isActive):
                    break
        finally:
            if state["query"] is not None:
                state["query"].stop()
        return str(state["query"].runId) if state["query"] is not None else None

    def _batch(self, ctx: Ctx, state: dict, watch: str, qname: str, i: int, op):
        from pyspark.sql import functions as F

        from python_plugins_spark.pipeline import run_pipeline

        if state["query"] is None:
            with ctx.tracer.span("pipeline.run", op):
                frames = run_pipeline(ctx.spark, self.spec(watch, qname))
            state["query"] = frames["sink.query"]
        with ctx.tracer.span("feed", op):
            os.link(self.files[i], os.path.join(watch, os.path.basename(self.files[i])))
        with ctx.tracer.span("stream.process", op):
            state["query"].processAllAvailable()
        with ctx.tracer.span("collect", op):
            pdf = ctx.spark.table(qname).select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "n",
                F.round("total", 4).alias("total_doubled"),
            ).toPandas()
        with ctx.tracer.span("check", op):
            ok = normalize(pdf) == self.want[i]
        return ok, len(pdf)


# ---------------------------------------------------------------- registry

RELATIONAL_QUERIES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_top_orders": ("customer", "orders", "lineitem"),
    "q5_region_revenue": ("region", "nation", "customer", "orders", "lineitem", "supplier"),
    "q13_order_distribution": ("customer", "orders"),
    "q18_big_orders": ("customer", "orders", "lineitem"),
}
CORPUS_QUERIES = {
    "minhash_lsh_candidates": ("documents",),
    "dedup_exact_documents": ("documents",),
    "simhash_signatures": ("documents",),
    "ann_topk_cosine": ("embeddings",),
    "embedding_lsh_neardup": ("embeddings",),
}

K_STREAM_FILES = 4


def make(name: str, sf: float | None = None):
    """The workload called ``name``; ``sf`` overrides its input scale
    (the smoke check runs every workload at 0.001)."""
    if name == "relational":
        return RegistryWorkload(name, RELATIONAL_QUERIES, sf or 0.1, unit_s=4.0)
    if name == "corpus_dedup":
        return RegistryWorkload(
            name, CORPUS_QUERIES, sf or 0.05, unit_s=5.5,
            pair_ops=("minhash_lsh_candidates", "embedding_lsh_neardup"),
            numpy_oracles={"ann_topk_cosine": lambda d: ann_topk_expected(d, 5)},
        )
    if name == "transform_batch":
        return TransformBatch(sf or 0.1)
    if name == "streaming_pipeline":
        return StreamingPipeline(sf or 0.1)
    raise KeyError(name)


WORKLOADS = ("transform_batch", "relational", "streaming_pipeline", "corpus_dedup")
