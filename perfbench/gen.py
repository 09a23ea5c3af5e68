"""Seeded input generator for the benchmark.

Writes the engine's ten tables (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file per
table, with the same column names, types and single-row-group layout as
the engine's test data, so every registry query and its DuckDB oracle
run on them unchanged. Every value and the row order come from
``--seed``: the same seed writes the same files.

The value distributions follow the engine's sf 0.1 test data, as
measured by :func:`profile` and recorded in :data:`PROFILE`; the smoke
check generates sf 0.1 and requires :func:`profile` of it to match.

``events`` is also split into ``k_files`` stream files; which rows go
to which file is drawn from the seed as well.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Rows per table at scale factor 1; documents and embeddings keep the
# test data's floor of 500 rows at small scale factors.
_ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a the spark stream batch query table row column key value hash join "
    "sort merge filter scan group agg window order line part customer data "
    "vector fast slow big small"
).split()
_DIM = 64
_LABELS = 10


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(1, int(round(n * sf))) for t, n in _ROWS_SF1.items()}
    rows["documents"] = max(500, rows["documents"])
    rows["embeddings"] = max(500, rows["embeddings"])
    rows.update(region=5, nation=25)
    return rows


def _ts_us(rng, n, start: str, end: str, day_only: bool) -> np.ndarray:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, n)
    if day_only:
        day = 86_400_000_000
        v = v - v % day
    return v


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _ts_col(v: np.ndarray) -> pa.Array:
    return pa.array(v, pa.int64()).cast(pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    """Documents of 10-99 words drawn uniformly from a 30-word
    vocabulary, as in the test data. One in twenty is a near duplicate:
    another document's text plus the word ``dup``. Eight more are exact
    copies of another document."""
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, _VOCAB, int(k))) for k in lengths]
    n_near, n_exact = n // 20, 8
    idx = rng.permutation(n)[: 2 * (n_near + n_exact)]
    src, dst = idx[: n_near + n_exact], idx[n_near + n_exact:]
    for j, (s, d) in enumerate(zip(src, dst)):
        texts[d] = texts[s] + " dup" if j < n_near else texts[s]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    """Unit vectors in uniformly random directions, with labels drawn
    independently of them: in the test data, vectors of one label are
    no closer to each other than to the rest."""
    vec = rng.normal(0, 1, (n, _DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * _DIM + 1, _DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, _LABELS, n), pa.int32()),
    }


def _build(rng, rows: dict[str, int]) -> dict[str, dict]:
    nc, ns, np_, no, nl, ne = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731
    s = lambda a: pa.array(a, pa.string())  # noqa: E731
    out: dict[str, dict] = {
        "region": {"r_regionkey": i32(np.arange(5)), "r_name": s(_REGIONS)},
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": s([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": i64(np.arange(nc)),
            "c_name": s([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": f64(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": s(_pick(rng, _SEGMENTS, nc)),
        },
        "supplier": {
            "s_suppkey": i64(np.arange(ns)),
            "s_name": s([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": f64(_money(rng, ns, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": i64(np.arange(np_)),
            "p_name": s(_pick(rng, _COLORS, np_) + " " + _pick(rng, _NOUNS, np_)),
            "p_brand": s(["Brand#%d" % b for b in rng.integers(1, 26, np_)]),
            "p_type": s(_pick(rng, _PART_TYPES, np_)),
            "p_size": i32(rng.integers(1, 51, np_)),
            "p_retailprice": f64(np.round(900 + (np.arange(np_) % 1000) / 10, 2)),
        },
        "orders": {
            "o_orderkey": i64(np.arange(no)),
            "o_custkey": i64(rng.integers(0, nc, no)),
            "o_orderstatus": s(_pick(rng, ["F", "O", "P"], no)),
            "o_totalprice": f64(_money(rng, no, 1000, 500_000)),
            "o_orderdate": _ts_col(_ts_us(rng, no, "1995-01-01", "2001-08-02", True)),
            "o_orderpriority": s(_pick(rng, _PRIORITIES, no)),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, no, nl)),
            "l_partkey": i64(rng.integers(0, np_, nl)),
            "l_suppkey": i64(rng.integers(0, ns, nl)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": f64(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": f64(_money(rng, nl, 900, 105_000)),
            "l_discount": f64(np.round(rng.uniform(0, 0.1, nl), 2)),
            "l_tax": f64(np.round(rng.uniform(0, 0.08, nl), 2)),
            "l_returnflag": s(_pick(rng, ["A", "N", "R"], nl)),
            "l_linestatus": s(_pick(rng, ["F", "O"], nl)),
            "l_shipdate": _ts_col(_ts_us(rng, nl, "1995-01-02", "2001-11-05", True)),
        },
        "events": {
            "event_id": i64(np.arange(ne)),
            "ts": _ts_col(np.sort(_ts_us(rng, ne, "2024-01-01", "2024-01-31", False))),
            "user_id": i64(rng.integers(0, 1500, ne)),
            "event_type": s(_pick(rng, _EVENT_TYPES, ne)),
            "value": f64(np.round(rng.exponential(50, ne), 2)),
            "props": s(['{"k": %d}' % k for k in rng.integers(0, 100, ne)]),
        },
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    return out


def generate(root: str, seed: int, sf: float, k_files: int,
             tables=TABLES) -> dict[str, int]:
    """Write ``{root}/tables/<name>.parquet`` for each table in
    ``tables`` and, when ``events`` is among them,
    ``{root}/stream/part-NNN.parquet`` (events split into ``k_files``
    files). Every table is drawn whether written or not, so a table's
    contents depend only on the seed and scale factor. Returns the row
    count per table."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    tables_dir = os.path.join(root, "tables")
    stream_dir = os.path.join(root, "stream")
    os.makedirs(tables_dir, exist_ok=True)
    os.makedirs(stream_dir, exist_ok=True)
    for name, cols in _build(rng, rows).items():
        table = pa.table(cols)
        if name not in ("region", "nation"):
            # the seeded row permutation
            table = table.take(pa.array(rng.permutation(table.num_rows)))
        if name not in tables:
            continue
        pq.write_table(table, os.path.join(tables_dir, f"{name}.parquet"))
        if name == "events":
            assign = rng.integers(0, k_files, table.num_rows)
            for i in range(k_files):
                part = table.filter(pa.array(assign == i))
                pq.write_table(part, os.path.join(stream_dir, f"part-{i:03d}.parquet"))
    return rows


def profile(tables_dir: str) -> dict[str, float]:
    """The statistics that set the workloads' cost, measured on the
    tables under ``tables_dir``: the share of lineitem rows the tax
    stage routes to its error port, the event-time span and window
    count the streaming aggregation keeps state for, the purchase share
    its Python stage emits, the document length, vocabulary and
    duplicate rates the dedup queries see, and how close the nearest
    embedding neighbours are."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("lineitem", "events", "documents"):
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{tables_dir}/{t}.parquet')")
        one = lambda sql: float(con.sql(sql).fetchone()[0])  # noqa: E731
        out = {
            "lineitem.qty_ge_49_share": one("SELECT avg((l_quantity >= 49)::INT) FROM lineitem"),
            "lineitem.extendedprice_p50": one(
                "SELECT quantile_cont(l_extendedprice, 0.5) FROM lineitem"),
            "events.span_days": one(
                "SELECT date_diff('second', min(ts), max(ts)) / 86400 FROM events"),
            "events.windows_5min": one(
                "SELECT count(DISTINCT time_bucket(INTERVAL 5 MINUTE, ts)) FROM events"),
            "events.purchase_share": one(
                "SELECT avg((event_type = 'purchase')::INT) FROM events"),
            "events.value_mean": one("SELECT avg(value) FROM events"),
            "events.value_p50": one("SELECT quantile_cont(value, 0.5) FROM events"),
            "documents.words_mean": one(
                "SELECT avg(len(string_split(text, ' '))) FROM documents"),
            "documents.vocabulary": one(
                "SELECT count(DISTINCT w) FROM "
                "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"),
            "documents.near_dup_share": one(
                "SELECT avg((text LIKE '% dup')::INT) FROM documents"),
            "documents.exact_dup_groups": one(
                "SELECT count(*) FROM (SELECT text FROM documents "
                "GROUP BY text HAVING count(*) > 1)"),
        }
    finally:
        con.close()
    t = pq.read_table(os.path.join(tables_dir, "embeddings.parquet"))
    vec = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    cos = vec @ vec.T
    np.fill_diagonal(cos, -1.0)
    label = t.column("label").to_numpy()
    same = label[:, None] == label[None, :]
    np.fill_diagonal(same, False)
    out["embeddings.nn_cos_p50"] = float(np.median(cos.max(axis=1)))
    out["embeddings.same_label_cos_mean"] = float(cos[same].mean())
    return out


#: :func:`profile` of the engine's sf 0.1 test data. The generator's
#: parameters above are set from these numbers.
PROFILE = {
    "lineitem.qty_ge_49_share": 0.0401,
    "lineitem.extendedprice_p50": 52923.19,
    "events.span_days": 30.0,
    "events.windows_5min": 8640,
    "events.purchase_share": 0.2008,
    "events.value_mean": 49.87,
    "events.value_p50": 34.77,
    "documents.words_mean": 54.14,
    "documents.vocabulary": 31,
    "documents.near_dup_share": 0.05,
    "documents.exact_dup_groups": 8,
    "embeddings.nn_cos_p50": 0.4075,
    "embeddings.same_label_cos_mean": 0.0,
}
