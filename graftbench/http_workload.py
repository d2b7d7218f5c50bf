"""The http_mixed workload: tables, read templates, the writer's inserts.

Everything the run sends is drawn here from the seed: which template each
reader request uses (Zipf-skewed over a fixed popularity order, in
shuffled blocks whose template counts are fixed), its
parameters, and the writer's CSV blocks. The engine sees only the SQL
text, the `param_*` values and the CSV payloads. The generator also
computes, from what the writer sends, the totals the writer's tables must
hold at the end of the run.
"""
import random

INSERTS = 30          # fixed per run, so lineage growth repeats run to run
OPTIMIZE_EVERY = 10   # OPTIMIZE ... FINAL after every 10th insert
INSERT_ROWS = 400
WRITER_IDS = 4000     # id domain; ids repeat across inserts (Replacing)
KEYS = 16
READER_OPS = 4000     # per reader; a run stops on time, not on ops
BLOCK = 36            # one Zipf-weighted round of the 12 templates
REPLAY_SELECTS = 20   # per reader, for the traced in-process replay

DDL = """
CREATE TABLE orders (o_orderkey Int64, o_custkey Int64, o_orderstatus String,
  o_totalprice Float64, o_orderdate DateTime, o_orderpriority String)
  ENGINE = ReplacingMergeTree ORDER BY o_orderkey;
CREATE TABLE lineitem (l_orderkey Int64, l_partkey Int64, l_suppkey Int64,
  l_linenumber Int32, l_quantity Float64, l_returnflag String,
  l_shipdate DateTime) ENGINE = MergeTree ORDER BY (l_orderkey, l_linenumber);
CREATE TABLE customer (c_custkey Int64, c_nationkey Int32, c_acctbal Float64,
  c_mktsegment String) ENGINE = MergeTree ORDER BY c_custkey;
CREATE TABLE region (r_regionkey Int32, r_name String) ENGINE = Memory;
CREATE TABLE w_rep (id Int64, k String, v Int64)
  ENGINE = ReplacingMergeTree ORDER BY id;
CREATE TABLE w_null (k String, v Int64) ENGINE = Null;
CREATE TABLE w_sum (k String, n Int64, s Int64)
  ENGINE = SummingMergeTree ORDER BY k;
CREATE TABLE w_warm (id Int64, k String, v Int64)
  ENGINE = ReplacingMergeTree ORDER BY id;
CREATE MATERIALIZED VIEW w_mv1 TO w_null AS SELECT k, v FROM w_rep;
CREATE MATERIALIZED VIEW w_mv2 TO w_sum AS
  SELECT k, count() AS n, sum(v) AS s FROM w_null GROUP BY k;
"""

POST_LOAD_DDL = """
CREATE DICTIONARY region_dict (r_regionkey Int64, r_name String)
  PRIMARY KEY r_regionkey SOURCE(CLICKHOUSE(TABLE 'region'))
  LAYOUT(HASHED()) LIFETIME(300);
"""

LOADS = [
    ("orders", "orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                          "o_totalprice", "o_orderdate", "o_orderpriority"]),
    ("lineitem", "lineitem", ["l_orderkey", "l_partkey", "l_suppkey",
                              "l_linenumber", "l_quantity", "l_returnflag",
                              "l_shipdate"]),
    ("customer", "customer", ["c_custkey", "c_nationkey", "c_acctbal",
                              "c_mktsegment"]),
    ("region", "region", ["r_regionkey", "r_name"]),
]

FINAL_READ_SQL = "SELECT count() FROM w_rep FINAL"
PARTS_SQL = ("SELECT toInt64(count()) FROM system.parts "
             "WHERE table = 'w_rep' AND active = 1")
MV_ROWS_SQL = "SELECT toInt64(sum(n)) FROM w_sum"
CHECK_REP_SQL = ("SELECT count() AS n, sum(v) AS s FROM w_rep FINAL "
                 "FORMAT TabSeparated")
CHECK_SUM_SQL = ("SELECT k, n, s FROM w_sum FINAL ORDER BY k "
                 "FORMAT TabSeparated")


def _q(v):
    """A DuckDB literal for a parameter value."""
    return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else repr(v)


# (name, ClickHouse SQL with {p:Type} placeholders and FORMAT, DuckDB twin
# with {p} slots, parameter sampler). Listed in popularity order.
TEMPLATES = [
    ("prewhere",
     "SELECT o_orderpriority, count() AS n, "
     "sum(toInt64(round(o_totalprice * 100))) AS cents FROM orders "
     "PREWHERE o_orderstatus = {st:String} WHERE toYear(o_orderdate) = {y:UInt16} "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority FORMAT JSONEachRow",
     "SELECT o_orderpriority, count(*) AS n, "
     "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders "
     "WHERE o_orderstatus = {st} AND year(o_orderdate) = {y} "
     "GROUP BY o_orderpriority",
     lambda r, d: {"st": r.choice("FOP"), "y": r.randint(1995, 2001)}),
    ("point",
     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
     "WHERE o_orderkey = {k:Int64} FORMAT JSON",
     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
     "WHERE o_orderkey = {k}",
     lambda r, d: {"k": r.randrange(0, d["orders"], max(1, d["orders"] // 200))}),
    ("limit_by",
     "SELECT c_mktsegment, c_custkey, c_acctbal FROM customer "
     "WHERE c_nationkey = {n:Int32} ORDER BY c_acctbal DESC, c_custkey "
     "LIMIT 2 BY c_mktsegment FORMAT TabSeparated",
     "SELECT c_mktsegment, c_custkey, c_acctbal FROM (SELECT *, row_number() "
     "OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn "
     "FROM customer WHERE c_nationkey = {n}) WHERE rn <= 2",
     lambda r, d: {"n": r.randint(0, 24)}),
    ("dictget",
     "SELECT dictGet('region_dict', 'r_name', toInt64(c_nationkey % 5)) AS region, "
     "count() AS n FROM customer WHERE c_acctbal > {b:Float64} "
     "GROUP BY region ORDER BY region FORMAT JSONEachRow",
     "SELECT r_name AS region, count(*) AS n FROM customer "
     "JOIN region ON c_nationkey % 5 = r_regionkey WHERE c_acctbal > {b} "
     "GROUP BY r_name",
     lambda r, d: {"b": float(r.randint(0, 9) * 1000)}),
    ("final",
     "SELECT count() AS n, sum(toInt64(round(o_totalprice))) AS s "
     "FROM orders FINAL WHERE o_custkey % 50 = {m:Int64} FORMAT JSON",
     "SELECT count(*) AS n, sum(CAST(round(o_totalprice) AS BIGINT)) AS s "
     "FROM orders WHERE o_custkey % 50 = {m}",
     lambda r, d: {"m": r.randint(0, 49)}),
    ("with_totals",
     "SELECT l_returnflag, count() AS n, sum(toInt64(l_quantity)) AS q "
     "FROM lineitem WHERE l_suppkey = {s:Int64} GROUP BY l_returnflag "
     "WITH TOTALS ORDER BY l_returnflag FORMAT TabSeparated",
     "SELECT l_returnflag, count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS q "
     "FROM lineitem WHERE l_suppkey = {s} GROUP BY l_returnflag "
     "UNION ALL SELECT NULL AS l_returnflag, count(*) AS n, "
     "sum(CAST(l_quantity AS BIGINT)) AS q FROM lineitem WHERE l_suppkey = {s}",
     lambda r, d: {"s": r.randrange(d["supplier"])}),
    ("join",
     "SELECT c_mktsegment, count() AS n FROM orders INNER JOIN customer "
     "ON o_custkey = c_custkey WHERE o_orderstatus = {st:String} "
     "AND o_totalprice > {p:Float64} GROUP BY c_mktsegment "
     "ORDER BY c_mktsegment FORMAT JSONEachRow",
     "SELECT c_mktsegment, count(*) AS n FROM orders JOIN customer "
     "ON o_custkey = c_custkey WHERE o_orderstatus = {st} "
     "AND o_totalprice > {p} GROUP BY c_mktsegment",
     lambda r, d: {"st": r.choice("FOP"), "p": float(r.randint(0, 4) * 100000)}),
    ("array_join",
     "SELECT w, count() AS n FROM (SELECT o_orderpriority AS p FROM orders "
     "WHERE o_custkey % 100 = {c:Int64}) ARRAY JOIN splitByChar('-', p) AS w "
     "GROUP BY w ORDER BY w FORMAT TabSeparated",
     "SELECT w, count(*) AS n FROM (SELECT unnest(string_split("
     "o_orderpriority, '-')) AS w FROM orders WHERE o_custkey % 100 = {c}) "
     "GROUP BY w",
     lambda r, d: {"c": r.randint(0, 99)}),
    ("topk",
     "SELECT l_partkey, sum(toInt64(l_quantity)) AS q FROM lineitem "
     "WHERE toYear(l_shipdate) = {y:UInt16} GROUP BY l_partkey "
     "ORDER BY q DESC, l_partkey LIMIT 10 FORMAT TabSeparated",
     "SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS q FROM lineitem "
     "WHERE year(l_shipdate) = {y} GROUP BY l_partkey "
     "ORDER BY q DESC, l_partkey LIMIT 10",
     lambda r, d: {"y": r.randint(1995, 2001)}),
    ("uniq",
     "SELECT toYear(o_orderdate) AS y, uniqExact(o_custkey) AS u, "
     "sum(if(o_orderstatus = 'F', 1, 0)) AS f FROM orders "
     "WHERE o_orderpriority = {pr:String} GROUP BY y ORDER BY y "
     "FORMAT TabSeparated",
     "SELECT year(o_orderdate) AS y, count(DISTINCT o_custkey) AS u, "
     "count(*) FILTER (WHERE o_orderstatus = 'F') AS f FROM orders "
     "WHERE o_orderpriority = {pr} GROUP BY 1",
     lambda r, d: {"pr": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                   "4-NOT SPECIFIED", "5-LOW"])}),
    ("in_subquery",
     "SELECT l_suppkey, count() AS n FROM lineitem WHERE l_orderkey IN "
     "(SELECT o_orderkey FROM orders WHERE o_custkey = {c:Int64}) "
     "GROUP BY l_suppkey ORDER BY l_suppkey FORMAT JSON",
     "SELECT l_suppkey, count(*) AS n FROM lineitem WHERE l_orderkey IN "
     "(SELECT o_orderkey FROM orders WHERE o_custkey = {c}) GROUP BY l_suppkey",
     lambda r, d: {"c": r.randrange(0, d["customer"], max(1, d["customer"] // 40))}),
    ("big_scan",
     "SELECT l_orderkey, l_linenumber, toInt64(l_quantity) AS q FROM lineitem "
     "WHERE l_orderkey % {m:Int64} = {r:Int64} FORMAT JSONEachRow",
     "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS q "
     "FROM lineitem WHERE l_orderkey % {m} = {r}",
     lambda r, d: (lambda m: {"m": m, "r": r.randrange(m)})(r.choice([3, 4, 5]))),
]


def _format_of(sql):
    return sql.rsplit("FORMAT", 1)[1].split()[0]


def _select(rng, sizes, i):
    name, sql, _, sample = TEMPLATES[i]
    return {"kind": "select", "tpl": name, "sql": sql,
            "params": sample(rng, sizes), "format": _format_of(sql)}


def twin_sql(op):
    """The DuckDB statement whose result the response must equal."""
    twin = {t[0]: t[2] for t in TEMPLATES}[op["tpl"]]
    return twin.format(**{k: _q(v) for k, v in op["params"].items()})


def build(seed, sizes):
    """All operations of one run, from the seed. `sizes` holds the row
    counts of orders, customer and supplier, which bound the parameters.
    """
    rng = random.Random(seed)
    # every block holds each template a fixed number of times, Zipf over
    # its popularity rank (12, 6, 4, 3, 2, 2, 2, 1, 1, 1, 1, 1), so the
    # seed changes the order and the parameters but not the mix
    weights = [1.0 / (rank + 1) for rank in range(len(TEMPLATES))]
    counts = [max(1, round(BLOCK * w / sum(weights))) for w in weights]
    readers = []
    for _ in range(2):
        ops = []
        while len(ops) < READER_OPS:
            block = [i for i, c in enumerate(counts) for _ in range(c)]
            rng.shuffle(block)
            ops += [_select(rng, sizes, i) for i in block]
        readers.append(ops[:READER_OPS])
    writer, last_v, per_key = [], {}, {}
    for i in range(INSERTS):
        ids = rng.sample(range(WRITER_IDS), INSERT_ROWS)
        lines = []
        for id_ in ids:
            k, v = f"k{rng.randrange(KEYS):02d}", rng.randint(1, 1000)
            lines.append(f"{id_},{k},{v}")
            last_v[id_] = v
            n, s = per_key.get(k, (0, 0))
            per_key[k] = (n + 1, s + v)
        writer.append({"kind": "insert", "query": "INSERT INTO w_rep FORMAT CSV",
                       "body": "\n".join(lines) + "\n"})
        if (i + 1) % OPTIMIZE_EVERY == 0:
            writer.append({"kind": "optimize", "sql": "OPTIMIZE TABLE w_rep FINAL"})
    # replay: the readers' first requests, interleaved, with the writer's
    # operations spread evenly through them
    selects = [op for pair in zip(readers[0][:REPLAY_SELECTS],
                                  readers[1][:REPLAY_SELECTS]) for op in pair]
    replay, step = [], len(selects) / len(writer)
    for j, op in enumerate(writer):
        replay += selects[round(j * step):round((j + 1) * step)] + [op]
    # the set-up's warm-up of the server's HTTP path: each template once,
    # split over two connections, and one insert into a table outside the
    # checked cascade
    tpl_warmup = [{"kind": "select", "tpl": name, "sql": sql,
                   "params": sample(random.Random(0), sizes), "format": _format_of(sql)}
                  for name, sql, _, sample in TEMPLATES]
    warmup = [tpl_warmup[0::2], tpl_warmup[1::2],
              [{"kind": "insert", "query": "INSERT INTO w_warm FORMAT CSV",
                "body": "".join(f"{i},k{i % KEYS:02d},{i}\n" for i in range(INSERT_ROWS))}]]
    expected = {
        "rep": [[str(len(last_v)), str(sum(last_v.values()))]],
        "sum": [[k, str(n), str(s)] for k, (n, s) in sorted(per_key.items())],
    }
    return {
        "ddl": DDL, "post_load_ddl": POST_LOAD_DDL,
        "loads": [{"table": t, "source": s, "columns": c} for t, s, c in LOADS],
        "warmup": warmup, "readers": readers, "writer": writer,
        "replay": replay, "expected": expected,
        "final_read_sql": FINAL_READ_SQL, "parts_sql": PARTS_SQL,
        "mv_rows_sql": MV_ROWS_SQL, "check_rep_sql": CHECK_REP_SQL,
        "check_sum_sql": CHECK_SUM_SQL,
    }
