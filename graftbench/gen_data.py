#!/usr/bin/env python3
"""Synthetic TPC-H-ish tables for the graft benchmark.

Writes the ten tables every registry query reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the column names, types and
value domains the registry's queries and DuckDB oracles expect:

  * uniform keys and measures, money with two decimals;
  * orders/lineitem dates as TIMESTAMP(MICROS) at midnight;
  * events.ts as TIMESTAMP(NANOS), increasing with event_id;
  * documents drawn from a 31-word vocabulary, 5% of them a near
    duplicate (another document's text plus " dup") and a few exact
    copies, which is what the dedup family looks for;
  * embeddings as unit-length 64-dim float vectors with a 0..9 label.

Usage: gen_data.py <out_dir> <scale_factor> [data_seed]
The output depends only on the scale factor and the data seed.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ADJ = "small red blue hot old large new cold".split()
NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
US = 1_000_000


def _write(out, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=pa.schema(schema))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   version="2.6")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400 * US


def _pick(rng, values, n, p=None):
    return list(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)])


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))

    _write(out, "region",
           {"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    _write(out, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           [("n_nationkey", pa.int32()), ("n_name", pa.string()),
            ("n_regionkey", pa.int32())])

    _write(out, "customer",
           {"c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)},
           [("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string())])

    _write(out, "supplier",
           {"s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           [("s_suppkey", pa.int64()), ("s_name", pa.string()),
            ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])

    keys = np.arange(n_part)
    _write(out, "part",
           {"p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)},
           [("p_partkey", pa.int64()), ("p_name", pa.string()),
            ("p_brand", pa.string()), ("p_type", pa.string()),
            ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    _write(out, "orders",
           {"o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)},
           [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string())])

    _write(out, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)},
           [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us"))])

    # increasing timestamps over January 2024, nanosecond precision
    start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86_400 * 1_000_000_000
    gaps = rng.exponential(1.0, n_ev)
    ts = start + (np.cumsum(gaps) / gaps.sum() * span * 0.999).astype(np.int64)
    _write(out, "events",
           {"event_id": np.arange(n_ev),
            "ts": ts // 1000 * 1000,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 500, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           [("event_id", pa.int64()), ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string())])

    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n_docs)]
    order = rng.permutation(n_docs)
    n_near, n_exact = n_docs // 20, max(1, n_docs // 625)
    near, exact = order[:n_near], order[n_near:n_near + n_exact]
    originals = order[n_near + n_exact:]
    for i in near:
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    for i in exact:
        texts[i] = texts[originals[rng.integers(0, len(originals))]]
    _write(out, "documents",
           {"doc_id": np.arange(n_docs),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts]},
           [("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())])

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings",
           {"vec_id": np.arange(n_emb),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32())])


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
