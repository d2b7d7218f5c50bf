"""Output checks of the graft benchmark, run outside the timed region.

Registry rows are compared with DuckDB the way scripts/oracle_check.py
compares them: both sides as pandas frames, columns sorted by name, rows
sorted over all columns, then cell by cell on python-native values.
HTTP responses are parsed per format and compared, as a multiset of
rows, with the same SQL's DuckDB twin over the same parquet files.
"""
import glob
import hashlib
import json
import math
import os
import pickle
import re

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir, threads=2):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# --------------------------------------------------------------- registry

def _canon_df(df):
    df = df[sorted(df.columns)]
    if len(df.columns) > 0 and len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cell(v):
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except Exception:
            pass
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(df):
    return [tuple(_cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)]


# The all-pairs near-duplicate oracles (d03c, d04, d09c, d13) are
# quadratic joins in DuckDB: minutes at sf0.1. Their results are computed
# here instead, by an independent exact implementation of the same SQL
# semantics: identical normalization and distinct word 3-gram sets, with
# candidate pairs taken from a 3-gram inverted index (a pair with jaccard
# >= 0.5 shares at least one 3-gram, so no qualifying pair is missed).
NEAR_DUP_ROWS = ("d03c_ngram_jaccard_lsh", "d04_dedup_minhash",
                 "d09c_dedup_clusters_lsh", "d13_incremental_near_dedup")


def _grams(text):
    if text is None:
        return None
    norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
    toks = norm.split(" ") if norm else []
    if len(toks) < 3:
        return None
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))


def _near_pairs(docs, threshold=0.5):
    """{(a, b): jaccard} over a < b for every pair at or above threshold."""
    grams = {d: g for d, g in ((d, _grams(t)) for d, t in docs) if g}
    index = {}
    for d, g in grams.items():
        for w in g:
            index.setdefault(w, []).append(d)
    seen, out = set(), {}
    for ids in index.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                ga, gb = grams[a], grams[b]
                j = float(len(ga & gb)) / len(ga | gb)
                if j >= threshold:
                    out[(a, b)] = j
    return out


def _near_dup_expected(con, name):
    import pandas as pd
    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    if name in ("d03c_ngram_jaccard_lsh", "d09c_dedup_clusters_lsh"):
        docs = docs + [(d + 100000000, t) for d, t in docs if d < 100]
    pairs = _near_pairs(docs)

    def frame(**cols):
        return pd.DataFrame({k: pd.Series(v, dtype=t) for k, (v, t) in cols.items()})
    if name in ("d04_dedup_minhash", "d03c_ngram_jaccard_lsh"):
        rows = sorted((a, b, j) for (a, b), j in pairs.items())
        return frame(a=([r[0] for r in rows], "int64"), b=([r[1] for r in rows], "int64"),
                     jaccard=([r[2] for r in rows], "float64"))
    if name == "d09c_dedup_clusters_lsh":
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x
        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        ids = [d for d, _ in docs]
        return frame(doc_id=(ids, "int64"), cluster_id=([find(d) for d in ids], "int64"))
    # d13: increments are doc_id % 3; a doc is dropped when an earlier one
    # (lower increment, or same increment and lower id) is a near dup
    dropped = {b if (a % 3, a) < (b % 3, b) else a for a, b in pairs}
    return frame(doc_id=([d for d, _ in docs if d not in dropped], "int64"))


def expected(con, cache_dir, name, sql):
    """The oracle's result frame for one row, cached per (row, SQL text):
    the tables are fixed for a given scale, so a result computed once
    serves every later run on them.
    """
    key = hashlib.sha1(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = _near_dup_expected(con, name) if name in NEAR_DUP_ROWS else con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def compare_registry(con, results_dir, oracles, cache_dir, corrupt=False):
    """Returns [(row name, reason)] for every row that differs."""
    failures = []
    for i, (name, sql) in enumerate(sorted(oracles.items())):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            failures.append((name, "no engine output"))
            continue
        try:
            got = _canon_df(con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df())
            exp = _canon_df(expected(con, cache_dir, name, sql))
        except Exception as e:
            failures.append((name, f"compare raised {type(e).__name__}: {e}"))
            continue
        if list(got.columns) != list(exp.columns):
            failures.append((name, f"columns {list(got.columns)} vs oracle {list(exp.columns)}"))
            continue
        g, e = _rows(got), _rows(exp)
        if corrupt and i == 0:
            e = e + [("corrupted expected row",)]
        if len(g) != len(e):
            failures.append((name, f"{len(g)} rows vs oracle {len(e)}"))
        elif g != e:
            bad = next(j for j in range(len(g)) if g[j] != e[j])
            failures.append((name, f"row {bad}: engine {g[bad]} oracle {e[bad]}"))
    return failures


# -------------------------------------------------------------- http reads

def canon_value(v):
    if v is None or v == "\\N":
        return "NULL"
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, str):
        try:
            v = float(v) if any(c in v for c in ".eE") else int(v)
        except ValueError:
            return v
    if isinstance(v, float):
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 4))
    return str(v)


def parse_body(body, fmt):
    fmt = fmt.lower()
    if fmt == "jsoneachrow":
        rows = [list(json.loads(l).values()) for l in body.splitlines() if l.strip()]
    elif fmt == "json":
        obj = json.loads(body)
        rows = [list(r.values()) if isinstance(r, dict) else r for r in obj["data"]]
        if "totals" in obj:
            t = obj["totals"]
            rows.append(list(t.values()) if isinstance(t, dict) else t)
    else:
        rows = [l.split("\t") for l in body.splitlines() if l != ""]
    return sorted(tuple(canon_value(v) for v in r) for r in rows)


def twin_rows(con, sql):
    return sorted(tuple(canon_value(v) for v in r) for r in con.execute(sql).fetchall())
