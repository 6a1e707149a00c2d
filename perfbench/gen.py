"""Seeded generator for the benchmark's input tables.

The tables have the names, columns and types of FIXTURES.md and the row
counts of its sf0.01 data, and each column is drawn from the value domain of
the same column in the sf0.1 fixture data (uniform keys and categories, the same date windows, the same 30-word
document vocabulary), so every benchmarked query returns rows at any seed.
Foreign keys are drawn from the parent table's key range: every l_orderkey
exists in orders and every o_custkey in customer.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: those of the sf0.01 fixture data.
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}
TABLES = list(SCHEMAS)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _uniform_day(rng, n, lo, hi):
    a, b = np.datetime64(lo), np.datetime64(hi)
    span = int((b - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, n).astype("timedelta64[D]")) \
        .astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed):
    """Return {table: pyarrow.Table} for one seed."""
    n = ROWS
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rng = {t: np.random.Generator(np.random.PCG64(s))
           for t, s in zip(TABLES, streams)}
    cols = {}
    cols["region"] = [np.arange(5, dtype=np.int32), REGIONS]
    nk = np.arange(25, dtype=np.int32)
    cols["nation"] = [nk, [f"NATION_{i}" for i in nk], nk % 5]

    r, m = rng["customer"], n["customer"]
    ck = np.arange(m, dtype=np.int64)
    cols["customer"] = [ck, [f"Customer#{i:09d}" for i in ck],
                        r.integers(0, 25, m, dtype=np.int32),
                        _money(r, m, -999.99, 9999.99),
                        _pick(r, SEGMENTS, m)]

    r, m = rng["supplier"], n["supplier"]
    sk = np.arange(m, dtype=np.int64)
    cols["supplier"] = [sk, [f"Supplier#{i:09d}" for i in sk],
                        r.integers(0, 25, m, dtype=np.int32),
                        _money(r, m, -999.99, 9999.99)]

    r, m = rng["part"], n["part"]
    pk = np.arange(m, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    cols["part"] = [pk, _pick(r, names, m),
                    [f"Brand#{i}" for i in r.integers(1, 26, m)],
                    _pick(r, PTYPES, m),
                    r.integers(1, 51, m, dtype=np.int32),
                    np.round(900.0 + (pk % 1000) / 10.0, 1)]

    r, m = rng["orders"], n["orders"]
    cols["orders"] = [np.arange(m, dtype=np.int64),
                      r.integers(0, n["customer"], m, dtype=np.int64),
                      _pick(r, ["F", "O", "P"], m),
                      _money(r, m, 1000.0, 500000.0),
                      _uniform_day(r, m, "1995-01-01", "2001-08-01"),
                      _pick(r, PRIORITIES, m)]

    r, m = rng["lineitem"], n["lineitem"]
    cols["lineitem"] = [r.integers(0, n["orders"], m, dtype=np.int64),
                        r.integers(0, n["part"], m, dtype=np.int64),
                        r.integers(0, n["supplier"], m, dtype=np.int64),
                        r.integers(1, 8, m, dtype=np.int32),
                        r.integers(1, 51, m).astype(np.float64),
                        _money(r, m, 900.0, 105000.0),
                        r.integers(0, 11, m) / 100.0,
                        r.integers(0, 9, m) / 100.0,
                        _pick(r, ["A", "N", "R"], m),
                        _pick(r, ["F", "O"], m),
                        _uniform_day(r, m, "1995-01-02", "2001-11-04")]

    r, m = rng["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(r.integers(0, month_us, m)).astype("timedelta64[us]")
    cols["events"] = [np.arange(m, dtype=np.int64), ts,
                      r.integers(0, max(1, m * 15 // 1000), m,
                                 dtype=np.int64),
                      _pick(r, EVENT_TYPES, m),
                      np.round(r.exponential(50.0, m), 2),
                      [f'{{"k": {k}}}' for k in r.integers(0, 100, m)]]

    r, m = rng["documents"], n["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(m):
        if i > 0 and r.random() < 0.05:
            # near duplicate of an earlier document, tagged as in sf0.1
            toks = texts[r.integers(0, i)].split(" ")
            toks[r.integers(0, len(toks))] = words[r.integers(0, 30)]
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(words[r.integers(0, 30, r.integers(10, 101))]))
    cols["documents"] = [np.arange(m, dtype=np.int64), texts,
                         _pick(r, LANGS, m, p=LANG_P),
                         [f"src{i % 20}" for i in range(m)],
                         np.array([len(t) for t in texts], dtype=np.int64)]

    r, m = rng["embeddings"], n["embeddings"]
    v = r.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    cols["embeddings"] = [np.arange(m, dtype=np.int64), list(v),
                          r.integers(0, 10, m, dtype=np.int32)]

    return {t: pa.table([pa.array(c, type=ty) for c, (_, ty)
                         in zip(cols[t], SCHEMAS[t])],
                        schema=pa.schema(SCHEMAS[t])) for t in TABLES}


def generate(out, seed):
    """Write each table as `<out>/<table>.parquet`; returns the per-table
    row and byte counts."""
    os.makedirs(out, exist_ok=True)
    stats = {}
    for t, tab in build(seed).items():
        path = os.path.join(out, f"{t}.parquet")
        pq.write_table(tab, path)
        stats[t] = {"rows": tab.num_rows, "bytes": os.path.getsize(path)}
    return stats
