"""Batch analytics (``operators`` / ``llm_ops``): a fixed set of registered
queries over seeded fixture tables, each checked against its registered
DuckDB ``oracle_sql()`` entry over the same parquet files.

The tables follow the schemas of the repository's test fixtures (TPC-H
subset, ``events``, ``documents``, ``embeddings``) at a size that keeps
one warm pass of the set near ten seconds on four cores.  They are built
from the seed with NumPy so the run reads nothing outside its checkout.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


QUERIES = (
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "window_topk_per_group",
    "events_sessionization",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_token_stats",
)

N_ORDERS = 30_000
N_LINEITEM = 120_000
N_CUSTOMERS = 3_000
N_PARTS = 4_000
N_SUPPLIERS = 200
N_EVENTS = 20_000
N_DOCS = 1_000
N_VECS = 1_000
DIM = 64

_WORDS = (
    "spark stream batch table query join merge key value window scan filter sort hash "
    "group agg row column order line part customer vector data fast slow big small the a"
).split()
_COLORS = "green blue red ivory navy plum hot large small".split()
_NOUNS = "ring bolt gear pipe valve sheet chain lamp".split()
_US_PER_DAY = 86_400 * 1_000_000
_DAY0_1992 = 8_035  # days from 1970-01-01 to 1992-01-01


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array((days.astype(np.int64) + _DAY0_1992) * _US_PER_DAY, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(seed: int, out_dir: str) -> None:
    """Seeded fixture tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": [f"REGION_{i}" for i in range(5)]})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, N_SUPPLIERS),
        },
    )
    put(
        "customer",
        {
            "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, N_CUSTOMERS),
            "c_mktsegment": rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD"], N_CUSTOMERS),
        },
    )
    put(
        "part",
        {
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_COLORS, N_PARTS), rng.choice(_NOUNS, N_PARTS))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
            "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD"], N_PARTS),
            "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1_000, 450_000, N_ORDERS),
            "o_orderdate": _ts_days(rng.integers(0, 3_650, N_ORDERS)),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PARTS, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEM),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100_000, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
            "l_shipdate": _ts_days(rng.integers(0, 3_700, N_LINEITEM)),
        },
    )
    ev_us = np.cumsum(rng.integers(0, 20_000_000, N_EVENTS)) + 11_688 * _US_PER_DAY  # from 2002-01-01
    put(
        "events",
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ev_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 400, N_EVENTS),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], N_EVENTS),
            "value": _money(rng, 0, 200, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        },
    )
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 80))))
        texts.append(" ".join(words))
    put(
        "documents",
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "fr", "de", "zh"], N_DOCS),
            "source": [f"src{i % 7}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    vecs = rng.normal(size=(N_VECS, DIM)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        },
    )


def _same(got, want) -> str | None:
    """None when the frames hold the same rows (order-insensitive; floats
    to 1e-9 relative), else a one-line reason."""
    import decimal

    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"

    def norm(df):
        df = df.copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif df[c].dtype == object:
                s = df[c].dropna()
                if len(s) and isinstance(s.iloc[0], decimal.Decimal):
                    df[c] = df[c].astype("float64")
                else:
                    df[c] = df[c].map(lambda v: None if v is None else str(v))
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")

    g, w = norm(got), norm(want)
    for c in g.columns:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or (math.isnan(a) and math.isnan(b)):
                    if not (pd.isna(a) and pd.isna(b)):
                        return f"{c}: {a!r} vs {b!r}"
                elif not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9):
                    return f"{c}: {a!r} vs {b!r}"
            elif a != b and not (pd.isna(a) and pd.isna(b)):
                return f"{c}: {a!r} vs {b!r}"
    return None


def measure(run) -> None:
    """Warm-up pass, then one timed pass (input to complete result at the
    driver) of every query in the set, each checked against its oracle."""
    import duckdb

    import __spark_entry__ as entry

    data = run.scratch.path("analytics")
    write_tables(run.seed, data)
    queries, oracles = entry.queries(), entry.oracle_sql()
    spark = run.spark
    spark.catalog.clearCache()
    for name in QUERIES:
        queries[name](spark, data).toPandas()
    times = {}
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in QUERIES:
            with run.tracer.spark_call(spark, f"analytics.{name}", name):
                t = time.perf_counter()
                got = queries[name](spark, data).toPandas()
                times[name] = time.perf_counter() - t
            want = con.execute(oracles[name]).df()
            if run.corrupt:
                want = want.iloc[1:]
            why = _same(got, want)
            run.check(why is None, f"analytics {name}: {why}")
    finally:
        con.close()
    for name, s in times.items():
        run.layer[f"analytics.{name}_s"] = s
    run.layer["analytics.total_s"] = sum(times.values())
