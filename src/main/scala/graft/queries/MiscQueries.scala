package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.tables.Tables
import graft.functions.ChFunctions._
import graft.functions.ChAggregates._
import graft.dictionaries.DictionaryRegistry

/** Remaining scalar/window/sampling surface from SURVEY.md §2.2-2.8. */
object MiscQueries {

  val all: Seq[Q] = Seq(

    // ---- SAMPLE BY key (lectures/lecture_08.md:41-50): key-consistent
    // sampling — all rows of a sampled key are kept, matching the
    // reference's hash(key)-prefix semantics.
    Q("q27_sample_by",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      Tables(s, dir).events
        .filter(pmod(col("user_id"), lit(10)) === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast(DoubleType).as("total_value"))
        .orderBy(col("event_type"))
    },

    // ---- JSONExtract* (clusters/ch_and_kafka/db/init.sql:59-62)
    Q("q28_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(sum(jsonExtractInt(col("props"), "k")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // ---- toStartOfMonth / toYYYYMM (lectures/lecture_12.md:16,
    // lectures/lecture_07.md:178)
    Q("q29_date_trunc",
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(strftime(o_orderdate, '%Y%m') AS INT) AS ym,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY month, ym ORDER BY month""") { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(toStartOfMonth(col("o_orderdate")).as("month"),
          toYYYYMM(col("o_orderdate")).as("ym"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy(col("month"))
    },

    // ---- INTERVAL arithmetic (homeworks/hw04.md:21)
    Q("q30_interval_arith",
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM orders
        |WHERE CAST(o_orderdate + INTERVAL 30 DAY AS DATE) >= DATE '1995-06-01'
        |  AND CAST(o_orderdate + INTERVAL 30 DAY AS DATE) <  DATE '1995-09-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val due = date_add(col("o_orderdate"), 30)
      Tables(s, dir).orders
        .filter(due >= lit("1995-06-01").cast(DateType) &&
          due < lit("1995-09-01").cast(DateType))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },

    // ---- string functions (lectures/lecture_12.md:84, lecture_08.md:387)
    Q("q31_string_funcs",
      """SELECT p_brand,
        |  COUNT(*) AS n,
        |  MIN(UPPER(p_name)) AS min_name,
        |  MAX(LENGTH(p_name)) AS max_len,
        |  COUNT(CASE WHEN p_type LIKE '%a%' THEN 1 END) AS n_like,
        |  COUNT(CASE WHEN regexp_matches(p_name, '[0-9]$') THEN 1 END) AS n_digit_end
        |FROM part GROUP BY p_brand ORDER BY p_brand""") { (s, dir) =>
      Tables(s, dir).part
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          min(upper(col("p_name"))).as("min_name"),
          max(length(col("p_name"))).as("max_len"),
          countIf(col("p_type").like("%a%")).as("n_like"),
          countIf(matchCh(col("p_name"), "[0-9]$")).as("n_digit_end"))
        .orderBy(col("p_brand"))
    },

    // ---- dictGet enrichment (lectures/lecture_11.md:20-40): nation and
    // region names attached to customers through registered dictionaries
    // (broadcast-join layout), then aggregated.
    Q("q32_dict_get",
      """SELECT n.n_name, r.r_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n.n_name, r.r_name ORDER BY n.n_name""") { (s, dir) =>
      val t = Tables(s, dir)
      val reg = DictionaryRegistry.global
      reg.register("nations", t.nation, "n_nationkey")
      reg.register("regions", t.region, "r_regionkey")
      val withNation = reg.enrich(t.customer, "nations", col("c_nationkey"),
        Seq("n_name", "n_regionkey"))
      val withRegion = reg.enrich(withNation, "regions", col("n_regionkey"),
        Seq("r_name"))
      withRegion
        .groupBy(col("n_name"), col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec2(col("c_acctbal"))).cast(DoubleType).as("total_bal"))
        .orderBy(col("n_name"))
    },

    // ---- CROSS JOIN (homeworks/hw06.md:154-165)
    Q("q33_cross_join",
      """SELECT r1.r_name AS a, r2.r_name AS b
        |FROM region r1 CROSS JOIN region r2
        |WHERE r1.r_name < r2.r_name
        |ORDER BY a, b""") { (s, dir) =>
      val t = Tables(s, dir)
      val r1 = t.region.select(col("r_name").as("a"))
      val r2 = t.region.select(col("r_name").as("b"))
      r1.crossJoin(r2).filter(col("a") < col("b")).orderBy(col("a"), col("b"))
    },

    // ---- HAVING (dashboard_export/charts/currency_pie_chart_1.yaml:20-23)
    Q("q34_having",
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15
        |ORDER BY o_custkey""") { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("spend"))
        .filter(col("n") > 15)
        .orderBy(col("o_custkey"))
    },

    // ---- IN (subquery) (homeworks/hw06.md:195-201)
    Q("q35_in_subquery",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .join(t.part.filter(col("p_size") > 40)
          .select(col("p_partkey").as("l_partkey")), Seq("l_partkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // ---- explicit window frames (lectures/lecture_11.md:420-433)
    Q("q36_window_frame",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov3
        |FROM orders ORDER BY o_custkey, o_orderkey""") { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("mov3"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- lead/lag (any aggregate as window fn, lectures/lecture_11.md:422)
    Q("q37_lead_lag",
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |       lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       o_orderdate) AS BIGINT) AS days_since_prev
        |FROM orders ORDER BY o_custkey, o_orderkey""") { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast(LongType).as("days_since_prev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- global aggregation without key (GROUP BY without_key,
    // lectures/lecture_13.md:295-297)
    Q("q38_global_agg",
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MIN(l_shipdate) AS DATE) AS min_ship,
        |  CAST(MAX(l_shipdate) AS DATE) AS max_ship
        |FROM lineitem""") { (s, dir) =>
      Tables(s, dir).lineitem
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          min(col("l_shipdate")).cast(DateType).as("min_ship"),
          max(col("l_shipdate")).cast(DateType).as("max_ship"))
    },

    // ---- LIMIT n OFFSET m (homeworks/hw02.md:110)
    Q("q39_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 20 OFFSET 40""") { (s, dir) =>
      Tables(s, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .offset(40).limit(20)
    },

    // ---- toStartOfInterval time-series rollup (lectures/lecture_20.md:216,
    // GraphiteMergeTree thinning analogue): 60-second grid, epoch-second
    // buckets (raw nanos timestamps never cross the oracle boundary)
    Q("q41_time_rollup",
      """SELECT (epoch_ns(ts) // 1000000000 // 60) * 60 AS bucket_s, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY bucket_s, event_type
        |ORDER BY bucket_s, event_type""") { (s, dir) =>
      Tables(s, dir).events
        .groupBy(((unix_timestamp(col("ts")) / 60).cast(LongType) * 60).as("bucket_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast(DoubleType).as("total"))
        .orderBy(col("bucket_s"), col("event_type"))
    },

    // ---- GROUP BY ALL (lectures/lecture_16.md:69, homeworks/hw11.md:52):
    // native in Spark 4 SQL — exercised through spark.sql to prove the
    // dialect surface, not just the DataFrame API
    Q("q42_group_by_all",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_gba")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem_gba GROUP BY ALL ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    // ---- event-time tumbling window (Structured Streaming's window() in
    // batch mode; aligns with epoch so the oracle is a floor)
    Q("q43_event_window",
      """SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_s, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY hour_s, event_type ORDER BY hour_s, event_type""") { (s, dir) =>
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("hour_s"), col("event_type"), col("n"))
        .orderBy(col("hour_s"), col("event_type"))
    },

    // ---- SQL lambda UDF (lectures/lecture_06.md:102-119): CREATE FUNCTION
    // as an inlined expression macro, used inside an aggregate
    Q("q44_sql_udf",
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice * 2 + 5 AS DECIMAL(18,2))) AS DOUBLE) AS adj_total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      // k=2 keeps the doubled price exactly representable (2 decimals), so
      // the decimal cast never lands on a rounding-mode boundary
      val udfs = new graft.functions.ChUdfs(s)
      udfs.createFunction("linearEquation", Seq("x", "k", "b"), "k * x + b",
        orReplace = true)
      Tables(s, dir).orders.createOrReplaceTempView("orders_udf")
      s.sql(
        """SELECT o_orderstatus,
          |  CAST(SUM(CAST(linearEquation(o_totalprice, 2, 5) AS DECIMAL(18,2))) AS DOUBLE) AS adj_total
          |FROM orders_udf GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // ---- multi-array ARRAY JOIN zip (lectures/lecture_06.md:29-41):
    // a value array zipped with its positions, exploded in lockstep
    Q("q45_array_join_zip",
      """SELECT pos, COUNT(*) AS n, MIN(word) AS min_word
        |FROM (SELECT unnest(string_split(p_type, ' ')) AS word,
        |             unnest(range(1, len(string_split(p_type, ' ')) + 1)) AS pos
        |      FROM part)
        |GROUP BY pos ORDER BY pos""") { (s, dir) =>
      Tables(s, dir).part
        .select(posexplode(split(col("p_type"), " ")).as(Seq("pos0", "word")))
        .select((col("pos0") + 1).as("pos"), col("word"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), min(col("word")).as("min_word"))
        .orderBy(col("pos"))
    },

    // ---- Map literal + subscript (lectures/lecture_20.md:546,635-636:
    // map('k', v) and ProfileEvents['UserTimeMicroseconds'])
    Q("q46_map_subscript",
      """SELECT MAP{'et': event_type}['et'][1] AS et, COUNT(*) AS n
        |FROM events GROUP BY et ORDER BY et""") { (s, dir) =>
      Tables(s, dir).events
        .select(map(lit("et"), col("event_type")).as("m"))
        .select(element_at(col("m"), "et").as("et"))
        .groupBy(col("et")).agg(count(lit(1)).as("n"))
        .orderBy(col("et"))
    },

    // ---- GROUP BY CUBE (lectures/lecture_06.md ROLLUP family)
    Q("q47_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, dir) =>
      // pre-aggregate by the grouping columns BEFORE the cube: CUBE plans
      // through Expand (4 copies of every input row at the partial agg);
      // SUM/COUNT distribute over the pre-aggregation, so expanding the
      // ~6-row (flag, status) table instead of the fact table computes
      // the identical result with one plain partial-agg pass over the
      // scan (decimal sums are exact at every level — same values, same
      // double cast at the end)
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__s"),
          count(lit(1)).as("__n"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__s")).cast(DoubleType).as("sum_qty"),
          sum(col("__n")).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // ---- GROUPING SETS with grouping() disambiguation
    Q("q48_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, dir) =>
      // pre-aggregated before the grouping-sets Expand, like q47/q12:
      // COUNT(*) over any grouping set = SUM of the per-(flag, status)
      // counts — the 3-way expansion then runs over ~6 rows
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"))
        .createOrReplaceTempView("__q48_pre")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  SUM(__n) AS n
          |FROM __q48_pre
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    // ---- quantile/quantiles (lectures/lecture_06.md): interpolated
    // quantiles of an integer-valued column are exactly representable
    // doubles (a + {0,.25,.5,.75}·(b-a)), so Spark percentile and DuckDB
    // quantile_cont agree bit-for-bit
    Q("q49_quantiles",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.50) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("q25"),
          percentile(col("l_quantity"), lit(0.50)).as("q50"),
          percentile(col("l_quantity"), lit(0.75)).as("q75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // ---- formatReadableQuantity (decimal-unit sibling of q40)
    Q("q50_format_readable_quantity",
      """SELECT o_orderkey,
        |  CASE WHEN q >= 1000000000000.0 THEN printf('%.2f trillion', q / 1000000000000.0)
        |       WHEN q >= 1000000000.0 THEN printf('%.2f billion', q / 1000000000.0)
        |       WHEN q >= 1000000.0 THEN printf('%.2f million', q / 1000000.0)
        |       WHEN q >= 1000.0 THEN printf('%.2f thousand', q / 1000.0)
        |       ELSE printf('%.2f', q) END AS readable
        |FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice) * 31337 AS DOUBLE) AS q FROM orders)
        |ORDER BY o_orderkey LIMIT 50""") { (s, dir) =>
      Tables(s, dir).orders
        .select(col("o_orderkey"),
          (floor(col("o_totalprice")) * 31337).cast(DoubleType).as("q"))
        .select(col("o_orderkey"), formatReadableQuantity(col("q")).as("readable"))
        .orderBy(col("o_orderkey")).limit(50)
    },

    // ---- join_use_nulls = 0 (ClickHouse default): unmatched right side
    // fills TYPE DEFAULTS, not nulls — customers with no orders read 0/0.0
    Q("q51_join_use_nulls_off",
      """WITH o AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |           FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey,
        |  COALESCE(o.n_orders, 0) AS n_orders,
        |  COALESCE(o.spend, 0.0) AS spend
        |FROM customer c LEFT JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey""") { (s, dir) =>
      val t = Tables(s, dir)
      val perCust = t.orders.groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("spend"))
      graft.operators.Joins.leftJoinDefaults(
          t.customer.select(col("c_custkey")), perCust, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },

    // ---- sessionization (batch twin of the flatMapGroupsWithState
    // streaming operator in streaming/Sessionize.scala): 30-min-gap user
    // sessions over the events table
    Q("q52_sessionize",
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |             CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |s AS (SELECT user_id, ts_s, v,
        |        CASE WHEN lag(ts_s) OVER w IS NULL
        |               OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)),
        |t AS (SELECT user_id, ts_s, v,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_s
        |                       ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end,
        |       COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total
        |FROM t GROUP BY user_id, sid
        |ORDER BY user_id, session_start""") { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("value").cast(DecimalType(18, 2)).as("v"))
      graft.streaming.Sessionize
        .sessionizeBatch(ev, "user_id", "ts_s", "v", gapSeconds = 1800)
        .withColumn("total", col("total").cast(DoubleType))
        .orderBy(col("user_id"), col("session_start"))
    },

    // ---- TPC-H Q5 shape: six-table join (region→nation→customer→orders→
    // lineitem + supplier) with local-supplier predicate — the join-planner
    // stress test. At 100 TB: region/nation/customer/supplier broadcast,
    // the orders⋈lineitem fact join is the single big shuffle.
    Q("q53_local_supplier_volume",
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM region r
        |JOIN nation n   ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o   ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name IN ('ASIA', 'EUROPE')
        |  AND o.o_orderdate >= DATE '1994-01-01'
        |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""") { (s, dir) =>
      val t = Tables(s, dir)
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 2))
      t.region.filter(col("r_name").isin("ASIA", "EUROPE"))
        .join(t.nation, col("n_regionkey") === col("r_regionkey"))
        .join(t.customer, col("c_nationkey") === col("n_nationkey"))
        .join(t.orders.filter(col("o_orderdate") >= lit("1994-01-01").cast(DateType)),
          col("o_custkey") === col("c_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(t.supplier,
          col("s_suppkey") === col("l_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- formatReadableSize (lectures/lecture_09.md:326)
    Q("q40_format_readable",
      """SELECT o_orderkey,
        |  CASE WHEN b >= 1099511627776 THEN printf('%.2f TiB', b / 1099511627776.0)
        |       WHEN b >= 1073741824 THEN printf('%.2f GiB', b / 1073741824.0)
        |       WHEN b >= 1048576 THEN printf('%.2f MiB', b / 1048576.0)
        |       WHEN b >= 1024 THEN printf('%.2f KiB', b / 1024.0)
        |       ELSE printf('%.2f B', CAST(b AS DOUBLE)) END AS readable
        |FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice * 1024) AS BIGINT) AS b FROM orders)
        |ORDER BY o_orderkey LIMIT 50""") { (s, dir) =>
      Tables(s, dir).orders
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 1024).cast(LongType).as("b"))
        .select(col("o_orderkey"), formatReadableSize(col("b")).as("readable"))
        .orderBy(col("o_orderkey")).limit(50)
    },

    // ---- binned range join: shipments falling inside 14-day windows
    // anchored at sampled order dates. Spark's native plan for a
    // point-in-interval join is BroadcastNestedLoopJoin (O(n·m)); the
    // binned form is one equi-shuffle on the bin key (see
    // Joins.rangeJoinBinned scaladoc; equivalence property-tested).
    Q("q60_range_join",
      """WITH iv AS (SELECT o_orderkey,
        |              CAST(epoch(o_orderdate) AS BIGINT) AS lo,
        |              CAST(epoch(o_orderdate) AS BIGINT) + 14*86400 AS hi
        |            FROM orders WHERE o_orderkey % 500 = 0),
        |p AS (SELECT CAST(epoch(l_shipdate) AS BIGINT) AS pt
        |      FROM lineitem WHERE l_orderkey % 7 = 0)
        |SELECT o_orderkey, count(*) AS n_pts
        |FROM iv JOIN p ON p.pt >= iv.lo AND p.pt <= iv.hi
        |GROUP BY o_orderkey ORDER BY o_orderkey""") { (s, dir) =>
      val t = Tables(s, dir)
      val intervals = t.orders.filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("lo"),
          (unix_timestamp(col("o_orderdate")) + 14L * 86400).as("hi"))
      val points = t.lineitem.filter(col("l_orderkey") % 7 === 0)
        .select(unix_timestamp(col("l_shipdate")).as("pt"))
      graft.operators.Joins.rangeJoinBinned(points, "pt",
          intervals, "lo", "hi", binWidth = 7L * 86400)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_pts"))
        .orderBy(col("o_orderkey"))
    },

    // ---- explicit skew-salting (r13, promoted from spec-only): the
    // fallback for when AQE's runtime skew split can't apply (e.g. the
    // skewed side feeds a co-partitioned downstream op). saltedJoin
    // splits each hot key across `salts` shuffle partitions by salting
    // the big side and replicating the small side; the oracle is the
    // PLAIN join — salting must be invisible in the result.
    Q("q130_salted_skew_join",
      """SELECT s.s_name AS sname, count(*) AS n,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY sname ORDER BY sname""") { (s, dir) =>
      val t = Tables(s, dir)
      val big = t.lineitem.select(col("l_suppkey").as("k"),
        col("l_extendedprice"))
      val small = t.supplier.select(col("s_suppkey").as("k"), col("s_name"))
      graft.operators.Joins.saltedJoin(big, small, Seq("k"), salts = 8)
        .groupBy(col("s_name").as("sname"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("rev"))
        .orderBy(col("sname"))
    },

    // ---- LIMIT n BY key (§2.6): group-wise truncation — the 3 priciest
    // orders per order priority, whole rows, no aggregation. CH:
    // `... ORDER BY o_totalprice DESC LIMIT 3 BY o_orderpriority`.
    Q("q61_limit_by",
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, o_totalprice FROM r
        |WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey""") { (s, dir) =>
      graft.operators.LimitBy.limitBy(
          Tables(s, dir).orders
            .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
          n = 3, keys = Seq(col("o_orderpriority")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // ---- window-function breadth (§2.5): ranking + distribution +
    // positional functions in one pass (ntile buckets, percent_rank,
    // cume_dist, first/nth value). Deterministic via unique sort key.
    Q("q63_window_breadth",
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key,
        |  dense_rank() OVER w AS dr
        |FROM orders
        |WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""") { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir).orders
        .filter(col("o_custkey") < 50)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("o_orderkey")).over(w).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"),
          dense_rank().over(w).as("dr"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // ---- string-function breadth (§2.8) through the CH-dialect SQL
    // names: base64, padding, trimming, replace, case, reverse — one
    // oracle row proves byte-parity across engines.
    Q("q64_string_breadth",
      """SELECT n_name,
        |  base64(CAST(n_name AS BLOB)) AS b64,
        |  hex(n_name) AS hx,
        |  lpad(n_name, 20, '.') AS lp,
        |  rpad(n_name, 20, '.') AS rp,
        |  trim('  ' || n_name || '  ') AS tb,
        |  replace(n_name, 'A', '@') AS rep,
        |  regexp_replace(n_name, '[AEIOU]', '_', 'g') AS rex,
        |  reverse(n_name) AS rev,
        |  lower(n_name) AS lo,
        |  substr(n_name, 2, 3) AS sub
        |FROM nation ORDER BY n_name""") { (s, dir) =>
      Tables(s, dir).nation.createOrReplaceTempView("q64_nation")
      s.sql(
        """SELECT n_name,
          |  base64Encode(n_name) AS b64,
          |  hex(n_name) AS hx,
          |  leftPad(n_name, 20, '.') AS lp,
          |  rightPad(n_name, 20, '.') AS rp,
          |  trimBoth(concat('  ', n_name, '  ')) AS tb,
          |  replaceAll(n_name, 'A', '@') AS rep,
          |  replaceRegexpAll(n_name, '[AEIOU]', '_') AS rex,
          |  reverse(n_name) AS rev,
          |  lowerUTF8(n_name) AS lo,
          |  substringUTF8(n_name, 2, 3) AS sub
          |FROM q64_nation ORDER BY n_name""".stripMargin)
    },

    // ---- sumMap parametric aggregate (§2.4, the SummingMergeTree map
    // fold): key-wise map-value sums per group, emitted as CH's
    // (sorted keys, values) pair.
    Q("q65_sum_map",
      """WITH e AS (SELECT user_id % 10 AS g, event_type AS k,
        |             event_id % 100 AS v FROM events),
        |s AS (SELECT g, k, sum(v) AS sv FROM e GROUP BY g, k)
        |SELECT g, string_agg(k, ',' ORDER BY k) AS keys,
        |  string_agg(CAST(CAST(sv AS BIGINT) AS VARCHAR), ',' ORDER BY k) AS values
        |FROM s GROUP BY g ORDER BY g""") { (s, dir) =>
      val ev = Tables(s, dir).events
        .select((col("user_id") % 10).as("g"),
          map(col("event_type"), col("event_id") % 100).as("m"))
      // driver compat: pandas sort can't handle array cells — serialize the
      // (sorted keys, values) pair; the map fold itself stays array-typed
      graft.functions.ChAggregates.sumMap(ev, Seq("g"), col("m"))
        .select(col("g"),
          concat_ws(",", col("keys")).as("keys"),
          concat_ws(",", col("values").cast("array<string>")).as("values"))
        .orderBy(col("g"))
    },

    // ---- date-function breadth (§2.8) through CH-dialect names:
    // calendar parts (ISO day-of-week), date arithmetic, dateDiff,
    // toMonday — one oracle row proves value parity across engines.
    Q("q66_date_breadth",
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |           FROM orders WHERE o_custkey < 50)
        |SELECT o_orderkey,
        |  CAST(isodow(d) AS INT) AS dow,
        |  CAST(day(d) AS INT) AS dom,
        |  CAST(dayofyear(d) AS INT) AS doy,
        |  CAST(month(d) AS INT) AS mon,
        |  CAST(year(d) AS INT) AS yr,
        |  CAST(quarter(d) AS INT) AS q,
        |  CAST(date_trunc('week', d) AS DATE) AS monday,
        |  d + 10 AS plus10,
        |  d - 3 AS minus3,
        |  CAST(d + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  date_diff('day', d, DATE '1998-12-31') AS to_end
        |FROM o ORDER BY o_orderkey""") { (s, dir) =>
      Tables(s, dir).orders.filter(col("o_custkey") < 50)
        .createOrReplaceTempView("q66_orders")
      s.sql(
        """SELECT o_orderkey,
          |  toDayOfWeek(o_orderdate) AS dow,
          |  toDayOfMonth(o_orderdate) AS dom,
          |  toDayOfYear(o_orderdate) AS doy,
          |  toMonth(o_orderdate) AS mon,
          |  toYear(o_orderdate) AS yr,
          |  toQuarter(o_orderdate) AS q,
          |  toMonday(o_orderdate) AS monday,
          |  addDays(o_orderdate, 10) AS plus10,
          |  subtractDays(o_orderdate, 3) AS minus3,
          |  addMonths(o_orderdate, 2) AS plus2m,
          |  datediff(DAY, o_orderdate, DATE '1998-12-31') AS to_end
          |FROM q66_orders ORDER BY o_orderkey""".stripMargin)
    },

    // ---- array-function breadth (§2.8, lecture_06's array family)
    // through CH-dialect names; order-unstable ops (intersect/distinct)
    // are sorted on both sides so the oracle compares sets, not layouts.
    Q("q67_array_breadth",
      """WITH t AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |u AS (SELECT k, [k % 5, k % 3, CAST(7 AS BIGINT)] AS a,
        |             [k % 3, CAST(2 AS BIGINT)] AS b FROM t),
        |v AS (SELECT k,
        |  list_sort(list_intersect(a, b)) AS ai,
        |  list_concat(a, b) AS ac,
        |  list_sort(a) AS asrt,
        |  list_reverse_sort(a) AS arsrt,
        |  list_reverse(a) AS arev,
        |  list_sort(list_distinct(a)) AS adis,
        |  flatten([a, b]) AS afl,
        |  list_append(a, CAST(9 AS BIGINT)) AS apb,
        |  list_prepend(CAST(9 AS BIGINT), a) AS apf,
        |  a[1:len(a)-1] AS apob,
        |  a[2:len(a)] AS apof,
        |  a[2:len(a)] AS asl,
        |  a[1:2] AS asl2,
        |  CAST(list_sum(a) AS DOUBLE) AS asum,
        |  CAST(list_aggregate(a, 'product') AS DOUBLE) AS aprod,
        |  CAST(list_avg(a) AS DOUBLE) AS aavg,
        |  list_min(a) AS amin, list_max(a) AS amax
        |FROM u)
        |SELECT k,
        |  coalesce(array_to_string(ai, ','), '') AS ai,
        |  coalesce(array_to_string(ac, ','), '') AS ac,
        |  coalesce(array_to_string(asrt, ','), '') AS asrt,
        |  coalesce(array_to_string(arsrt, ','), '') AS arsrt,
        |  coalesce(array_to_string(arev, ','), '') AS arev,
        |  coalesce(array_to_string(adis, ','), '') AS adis,
        |  coalesce(array_to_string(afl, ','), '') AS afl,
        |  coalesce(array_to_string(apb, ','), '') AS apb,
        |  coalesce(array_to_string(apf, ','), '') AS apf,
        |  coalesce(array_to_string(apob, ','), '') AS apob,
        |  coalesce(array_to_string(apof, ','), '') AS apof,
        |  coalesce(array_to_string(asl, ','), '') AS asl,
        |  coalesce(array_to_string(asl2, ','), '') AS asl2,
        |  asum, aprod, aavg, amin, amax
        |FROM v ORDER BY k""") { (s, dir) =>
      Tables(s, dir).nation
        .select(col("n_nationkey").cast(LongType).as("k"))
        .createOrReplaceTempView("q67_nation")
      s.sql(
        """WITH u AS (SELECT k,
          |    array(k % 5, k % 3, CAST(7 AS BIGINT)) AS a,
          |    array(k % 3, CAST(2 AS BIGINT)) AS b FROM q67_nation)
          |SELECT k,
          |  arraySort(arrayIntersect(a, b)) AS ai,
          |  arrayConcat(a, b) AS ac,
          |  arraySort(a) AS asrt,
          |  arrayReverseSort(a) AS arsrt,
          |  arrayReverse(a) AS arev,
          |  arraySort(arrayDistinct(a)) AS adis,
          |  arrayFlatten(array(a, b)) AS afl,
          |  arrayPushBack(a, CAST(9 AS BIGINT)) AS apb,
          |  arrayPushFront(a, CAST(9 AS BIGINT)) AS apf,
          |  arrayPopBack(a) AS apob,
          |  arrayPopFront(a) AS apof,
          |  arraySlice(a, 2) AS asl,
          |  arraySlice(a, 1, 2) AS asl2,
          |  arraySum(a) AS asum,
          |  arrayProduct(a) AS aprod,
          |  arrayAvg(a) AS aavg,
          |  arrayMin(a) AS amin, arrayMax(a) AS amax
          |FROM u ORDER BY k""".stripMargin)
        // driver compat: serialize array columns (see Q.scalarize)
        .transform(Q.scalarize)
    },

    // ---- SELECT * EXCEPT (cols) (§2.2, CH star modifier): drop named
    // columns from the star expansion — native in Spark 4's parser,
    // DuckDB spells it EXCLUDE.
    Q("q68_star_except",
      """SELECT * EXCLUDE (n_regionkey) FROM nation ORDER BY n_nationkey""") {
      (s, dir) =>
        Tables(s, dir).nation.createOrReplaceTempView("q68_nation")
        s.sql("SELECT * EXCEPT (n_regionkey) FROM q68_nation ORDER BY n_nationkey")
    },

    // ---- correlated EXISTS (TPC-H Q4 shape): counts orders with at
    // least one line shipped after the order date. Exercises Catalyst's
    // correlated-subquery rewrite (EXISTS -> left semi join on the
    // correlation key — no per-row subquery execution).
    Q("q59_exists_subquery",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      val t = Tables(s, dir)
      t.orders.createOrReplaceTempView("q59_orders")
      t.lineitem.createOrReplaceTempView("q59_lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM q59_orders
          |WHERE EXISTS (SELECT 1 FROM q59_lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    // ---- topK(N)(x) approximate most-frequent aggregate (SpaceSaving).
    // Oracle-checkable here because cap = 3×5 = 15 exceeds the 5 distinct
    // priorities — no eviction can occur, so the summary is exact and its
    // (count desc, value asc) order matches the window formulation;
    // approximation under pressure is spec-asserted (HeavyHittersSpec).
    Q("q58_topk_agg",
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |           FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, o_orderpriority,
        |        row_number() OVER (PARTITION BY o_orderstatus
        |                           ORDER BY cnt DESC, o_orderpriority) AS rn
        |      FROM c)
        |SELECT o_orderstatus,
        |  string_agg(o_orderpriority, ',' ORDER BY rn) AS top_priorities
        |FROM r WHERE rn <= 5 GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""") { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.HeavyHitters.topK(col("o_orderpriority"), n = 5)
          .as("tk"))
        // driver compat: pandas sort can't handle array cells — serialize
        .select(col("o_orderstatus"),
          concat_ws(",", col("tk")).as("top_priorities"))
        .orderBy(col("o_orderstatus"))
    },

    // ---- statistical aggregate family (SURVEY §2.4): corr / covar /
    // stddev / var natives, CH skewPop / kurtPop (population moments; CH
    // kurtPop is non-excess, Spark kurtosis is excess — the +3 delta is
    // in StatAggregates), and Shannon entropy (own Aggregator; DuckDB's
    // entropy() is the same base-2 definition). Everything rounds to 4 —
    // single-pass co-moment order differs between engines in the last
    // ulps (memory: log-based scores round both sides).
    Q("q70_stats_family",
      """WITH m AS (SELECT l_returnflag,
        |    avg(l_quantity) AS m1,
        |    avg(l_quantity*l_quantity) AS m2,
        |    avg(l_quantity*l_quantity*l_quantity) AS m3,
        |    avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4,
        |    round(corr(l_quantity, l_extendedprice), 4)       AS corr_qp,
        |    round(covar_pop(l_quantity, l_extendedprice), 4)  AS covp_qp,
        |    round(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
        |    round(stddev_pop(l_quantity), 4)                  AS sdp_q,
        |    round(stddev_samp(l_quantity), 4)                 AS sds_q,
        |    round(var_pop(l_quantity), 4)                     AS vp_q,
        |    round(var_samp(l_quantity), 4)                    AS vs_q,
        |    round(entropy(l_linestatus), 4)                   AS ent_ls
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, corr_qp, covp_qp, covs_qp, sdp_q, sds_q, vp_q, vs_q,
        |  round((m3 - 3*m1*m2 + 2*m1*m1*m1)
        |        / pow(m2 - m1*m1, 1.5), 4) + 0.0            AS skew_q,
        |  round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1)
        |        / pow(m2 - m1*m1, 2.0), 4)                  AS kurt_q,
        |  ent_ls
        |FROM m ORDER BY l_returnflag""") { (s, dir) =>
      // r13 optimization (guide §1.2 step 2 / §4): mixing one typed
      // Aggregator (entropy) into a 10-function aggregate forced the WHOLE
      // aggregate through interpreted ObjectHashAggregate — the 9 native
      // co-moment aggregates lost codegen and the pass ran ~3.5x slower
      // than the natives alone (measured 1.30s mixed vs 0.38s natives +
      // 0.28s entropy). Running entropy as its own aggregation keeps the
      // moment pass in codegen HashAggregate and joins the two 3-row
      // results (broadcast). Values are bit-identical: same aggregates,
      // same scan order, same partial/merge tree per function.
      val li = Tables(s, dir).lineitem
      val ent = li.groupBy(col("l_returnflag"))
        .agg(round(graft.functions.StatAggregates.entropy(col("l_linestatus")), 4)
          .as("ent_ls"))
      li.groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covp_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covs_qp"),
          round(stddev_pop(col("l_quantity")), 4).as("sdp_q"),
          round(stddev_samp(col("l_quantity")), 4).as("sds_q"),
          round(var_pop(col("l_quantity")), 4).as("vp_q"),
          round(var_samp(col("l_quantity")), 4).as("vs_q"),
          // + 0.0 canonicalizes the signed zero on BOTH engines (q93's
          // bounding_ratio precedent): at a degenerate tiny sample the
          // skew rounds to zero with an engine-dependent sign (-0.0 in
          // the DuckDB oracle at sf0.001, +0.0 here); adding +0.0 is a
          // bit-level no-op for every non-zero value
          (round(graft.functions.StatAggregates.skewPop(col("l_quantity")), 4)
            + lit(0.0)).as("skew_q"),
          round(graft.functions.StatAggregates.kurtPop(col("l_quantity")), 4).as("kurt_q"))
        .join(broadcast(ent), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },

    // ---- uniqUpTo(N)(x) (SURVEY §2.4 uniq family): exact while <= N,
    // else N+1, with O(N) state per group — the bounded-cardinality
    // "are there more than N distinct?" probe.
    Q("q71_uniq_up_to",
      """SELECT user_id,
        |  LEAST(COUNT(DISTINCT event_type), 4) AS types_up_to_3,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(
          graft.functions.StatAggregates.uniqUpTo(col("event_type"), 3)
            .as("types_up_to_3"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },

    // ---- bitmap family (SURVEY §2.4 groupBitmap/bitmapAnd/bitmapOr...):
    // per-audience bitmap states built once, then pairwise overlap by
    // bitmap algebra on the 5 tiny states — never re-joining fact rows.
    // The oracle recomputes every pair from DISTINCT fact rows.
    Q("q72_bitmap_overlap",
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
        |x AS (SELECT a.event_type AS ea, b.event_type AS eb, count(*) AS n_and
        |      FROM d a JOIN d b ON a.user_id = b.user_id
        |                       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT ca.event_type AS et_a, cb.event_type AS et_b,
        |  ca.n AS card_a, cb.n AS card_b,
        |  COALESCE(x.n_and, 0) AS card_and,
        |  ca.n + cb.n - COALESCE(x.n_and, 0) AS card_or,
        |  ca.n + cb.n - 2 * COALESCE(x.n_and, 0) AS card_xor,
        |  ca.n - COALESCE(x.n_and, 0) AS card_andnot
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN x ON x.ea = ca.event_type AND x.eb = cb.event_type
        |ORDER BY et_a, et_b""") { (s, dir) =>
      import graft.functions.BitmapAggregates._
      // no cache: the 5-row state table recomputes once per self-join
      // side, which is cheaper than pinning blocks for the rest of a
      // 100+-query session (cache() here has no unpersist point)
      val st = Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(groupBitmapState(col("user_id")).as("bm"),
          groupBitmap(col("user_id")).as("card"))
      val a = st.select(col("event_type").as("et_a"), col("bm").as("bma"),
        col("card").as("card_a"))
      val b = st.select(col("event_type").as("et_b"), col("bm").as("bmb"),
        col("card").as("card_b"))
      a.join(b, col("et_a") < col("et_b"))
        .select(col("et_a"), col("et_b"), col("card_a"), col("card_b"),
          bitmapAndCardinality(col("bma"), col("bmb")).as("card_and"),
          bitmapOrCardinality(col("bma"), col("bmb")).as("card_or"),
          bitmapXorCardinality(col("bma"), col("bmb")).as("card_xor"),
          bitmapAndnotCardinality(col("bma"), col("bmb")).as("card_andnot"))
        .orderBy(col("et_a"), col("et_b"))
    },

    // ---- bit / IPv4 / transform / roundToExp2 dialect family
    // (SURVEY §2.8): every name maps to a native expression tree
    // (ChRegistry), checked against DuckDB's native operators. The ip
    // column is a synthetic UInt32 derived from user_id.
    Q("q73_bit_ip_functions",
      """WITH u AS (SELECT DISTINCT user_id, event_type FROM events
        |           WHERE user_id < 40),
        |w AS (SELECT user_id, event_type,
        |        (user_id * 2654435761) % 4294967296 AS ip FROM u)
        |SELECT user_id, event_type, ip,
        |  ((ip >> 24) & 255) || '.' || ((ip >> 16) & 255) || '.' ||
        |    ((ip >> 8) & 255) || '.' || (ip & 255) AS ip_str,
        |  ip AS ip_back,
        |  CAST(1 AS INT) AS is4,
        |  ip & 65535 AS band,
        |  xor(ip, 12345) AS bxor,
        |  ~ip AS bnot,
        |  CAST(bit_count(ip) AS INT) AS bcnt,
        |  CAST((ip >> 7) & 1 AS INT) AS btest,
        |  user_id << 3 AS shl,
        |  ip >> 12 AS shr,
        |  CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
        |    ELSE '?' END AS tr,
        |  CASE WHEN user_id + 1 < 1 THEN CAST(0 AS BIGINT)
        |    ELSE (CAST(1 AS BIGINT) << CAST(floor(log2(user_id + 1)) AS INT))
        |    END AS r2
        |FROM w ORDER BY user_id, event_type""") { (s, dir) =>
      Tables(s, dir).events.filter(col("user_id") < 40)
        .select(col("user_id"), col("event_type")).distinct()
        .createOrReplaceTempView("q73_u")
      s.sql(
        """WITH w AS (SELECT user_id, event_type,
          |        pmod(user_id * 2654435761, 4294967296) AS ip FROM q73_u)
          |SELECT user_id, event_type, ip,
          |  IPv4NumToString(ip) AS ip_str,
          |  IPv4StringToNum(IPv4NumToString(ip)) AS ip_back,
          |  isIPv4String(IPv4NumToString(ip)) AS is4,
          |  bitAnd(ip, 65535) AS band,
          |  bitXor(ip, 12345) AS bxor,
          |  bitNot(ip) AS bnot,
          |  bitCount(ip) AS bcnt,
          |  bitTest(ip, 7) AS btest,
          |  bitShiftLeft(user_id, 3) AS shl,
          |  bitShiftRight(ip, 12) AS shr,
          |  transform(event_type, array('click', 'view'), array('c', 'v'), '?') AS tr,
          |  roundToExp2(user_id + 1) AS r2
          |FROM w ORDER BY user_id, event_type""".stripMargin)
    },

    // ---- -ForEach combinators (SURVEY §2.4): element-wise sum/mean
    // across the group's arrays — label centroids over the embeddings
    // table (the vector-accumulation shape an embedding pipeline needs).
    // O(dim) partial-aggregated state; oracle recomputes per-position
    // via unnest + subscripts.
    Q("q74_foreach_combinators",
      """WITH u AS (SELECT label, unnest(embedding) AS v,
        |                  generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |s AS (SELECT label, i,
        |        CAST(round(sum(v), 4) + 0.0 AS DECIMAL(18,4)) AS sv,
        |        CAST(round(avg(v), 4) + 0.0 AS DECIMAL(18,4)) AS av
        |      FROM u GROUP BY label, i),
        |l AS (SELECT label,
        |        string_agg(CAST(sv AS VARCHAR), ',' ORDER BY i) AS sum_fe,
        |        string_agg(CAST(av AS VARCHAR), ',' ORDER BY i) AS avg_fe
        |      FROM s GROUP BY label),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT label, n.n_vecs, l.sum_fe, l.avg_fe
        |FROM l JOIN n USING (label) ORDER BY label""") { (s, dir) =>
      import graft.functions.StatAggregates.{avgForEach, sumForEach}
      // driver compat: the board serializes the per-position vectors
      // (pandas sort can't handle array cells); DECIMAL(18,4) string form
      // is identical across engines ("0.1000"), unlike double→string
      def ser(c: Column) = concat_ws(",",
        transform(c, x => (round(x, 4) + lit(0.0))
          .cast("decimal(18,4)").cast(StringType)))
      Tables(s, dir).embeddings
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          // + 0.0 canonicalizes -0.0 (engines disagree on the signed
          // zero a rounded tiny-negative mean produces)
          ser(sumForEach(col("embedding"))).as("sum_fe"),
          ser(avgForEach(col("embedding"))).as("avg_fe"))
        .orderBy(col("label"))
    },

    // ---- geo family (SURVEY §2.8): haversine great-circle distance /
    // angle over synthetic supplier coordinates, checked against the
    // same spherical formula in DuckDB (pointInPolygon's ray casting is
    // spec-asserted — no portable SQL spelling). round(1): doubles agree
    // to ~1e-8 m, the boundary risk is nil.
    Q("q75_geo",
      """WITH s AS (SELECT s_suppkey,
        |    (s_suppkey * 7919) % 36000 / 100.0 - 180.0 AS lon,
        |    (s_suppkey * 104729) % 18000 / 100.0 - 90.0 AS lat
        |  FROM supplier)
        |SELECT s_suppkey, round(lon, 2) AS lon2, round(lat, 2) AS lat2,
        |  round(2 * 6371000.0 * asin(sqrt(pow(sin(radians(55.75 - lat) / 2), 2) +
        |    cos(radians(lat)) * cos(radians(55.75)) *
        |    pow(sin(radians(37.62 - lon) / 2), 2))), 1) AS dist_m,
        |  round(degrees(2 * asin(sqrt(pow(sin(radians(55.75 - lat) / 2), 2) +
        |    cos(radians(lat)) * cos(radians(55.75)) *
        |    pow(sin(radians(37.62 - lon) / 2), 2)))), 4) AS angle_deg
        |FROM s ORDER BY s_suppkey""") { (s, dir) =>
      Tables(s, dir).supplier.createOrReplaceTempView("q75_supplier")
      s.sql(
        """WITH s AS (SELECT s_suppkey,
          |    (s_suppkey * 7919) % 36000 / 100.0d - 180.0d AS lon,
          |    (s_suppkey * 104729) % 18000 / 100.0d - 90.0d AS lat
          |  FROM q75_supplier)
          |SELECT s_suppkey, round(lon, 2) AS lon2, round(lat, 2) AS lat2,
          |  round(greatCircleDistance(lon, lat, 37.62d, 55.75d), 1) AS dist_m,
          |  round(greatCircleAngle(lon, lat, 37.62d, 55.75d), 4) AS angle_deg
          |FROM s ORDER BY s_suppkey""".stripMargin)
    },

    // ---- two-sample t-tests (CH welchTTest / studentTTest): value
    // distributions of click vs view events per user-id bucket, both
    // tests composed from native conditional moments in one codegen'd
    // pass — no custom state. The oracle spells the identical formulas;
    // round(.,4) absorbs variance-algorithm ULP differences.
    Q("q84_t_tests",
      """WITH e AS (SELECT user_id % 10 AS bucket, value,
        |    event_type = 'click' AS g
        |  FROM events WHERE event_type IN ('click', 'view')),
        |m AS (SELECT bucket,
        |    CAST(count(CASE WHEN g THEN value END) AS DOUBLE) AS n1,
        |    CAST(count(CASE WHEN NOT g THEN value END) AS DOUBLE) AS n2,
        |    avg(CASE WHEN g THEN value END) AS m1,
        |    avg(CASE WHEN NOT g THEN value END) AS m2,
        |    var_samp(CASE WHEN g THEN value END) AS v1,
        |    var_samp(CASE WHEN NOT g THEN value END) AS v2
        |  FROM e GROUP BY bucket)
        |SELECT bucket,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_welch4,
        |  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
        |    (v1 / n1 * (v1 / n1) / (n1 - 1.0) + v2 / n2 * (v2 / n2) / (n2 - 1.0)), 4)
        |    AS df_welch4,
        |  round((m1 - m2) / sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0)
        |    * (1.0 / n1 + 1.0 / n2)), 4) AS t_student4,
        |  CAST(n1 + n2 - 2.0 AS BIGINT) AS df_student
        |FROM m ORDER BY bucket""") { (s, dir) =>
      import graft.functions.StatAggregates.{studentTTest, welchTTest}
      Tables(s, dir).events
        .filter(col("event_type").isin("click", "view"))
        .groupBy(pmod(col("user_id"), lit(10)).as("bucket"))
        .agg(welchTTest(col("value"), col("event_type") === "click").as("w"),
          studentTTest(col("value"), col("event_type") === "click").as("st"))
        .select(col("bucket"),
          round(col("w.t"), 4).as("t_welch4"),
          round(col("w.df"), 4).as("df_welch4"),
          round(col("st.t"), 4).as("t_student4"),
          col("st.df").cast(LongType).as("df_student"))
        .orderBy(col("bucket"))
    },

    // ---- mannWhitneyUTest (CH): rank-sum U with average ranks for
    // ties + tie-corrected z, click vs view values per user bucket. One
    // ordered window + one aggregation on the same key (single
    // shuffle). Rank arithmetic is exact in doubles (avg ranks are
    // halves, tie counts integers), so u1/u2 match unrounded.
    Q("q85_mann_whitney",
      """WITH e AS (SELECT user_id % 10 AS bucket, value,
        |    event_type = 'click' AS g
        |  FROM events WHERE event_type IN ('click', 'view')),
        |r AS (SELECT bucket, g,
        |    rank() OVER (PARTITION BY bucket ORDER BY value) AS rmin,
        |    CAST(count(*) OVER (PARTITION BY bucket, value) AS DOUBLE) AS t
        |  FROM e),
        |m AS (SELECT bucket,
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        |    CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        |    sum(CASE WHEN g THEN rmin + (t - 1.0) / 2.0 END) AS r1,
        |    sum(t * t - 1.0) AS ts
        |  FROM r GROUP BY bucket),
        |u AS (SELECT bucket, n1, n2, n1 + n2 AS n, ts,
        |    r1 - n1 * (n1 + 1.0) / 2.0 AS u1
        |  FROM m)
        |SELECT bucket, round(u1, 1) AS u1_1,
        |  round(n1 * n2 - u1, 1) AS u2_1,
        |  round((u1 - n1 * n2 / 2.0) /
        |    sqrt(n1 * n2 / 12.0 * ((n + 1.0) - ts / (n * (n - 1.0)))), 4) AS z4
        |FROM u ORDER BY bucket""") { (s, dir) =>
      import graft.functions.StatAggregates.mannWhitneyU
      val e = Tables(s, dir).events
        .filter(col("event_type").isin("click", "view"))
      mannWhitneyU(e, pmod(col("user_id"), lit(10)),
          col("value"), col("event_type") === "click")
        .select(col("key").as("bucket"),
          round(col("u1"), 1).as("u1_1"),
          round(col("u2"), 1).as("u2_1"),
          round(col("z"), 4).as("z4"))
        .orderBy(col("bucket"))
    },

    // ---- exponentialMovingAverage (CH): time-decayed mean of event
    // values per user with a 1-hour half-life. The t_max shift (same-key
    // partition window, one shuffle) keeps exponents <= 0; identical
    // formula both engines, round(.,4) absorbs pow/sum-order ULPs.
    Q("q87_exponential_moving_average",
      """WITH e AS (SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS DOUBLE) AS t FROM events),
        |m AS (SELECT user_id, value, t,
        |    pow(2.0, (t - max(t) OVER (PARTITION BY user_id)) / 3600.0) AS w
        |  FROM e)
        |SELECT user_id, round(sum(value * w) / sum(w), 4) AS ema4
        |FROM m GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      import graft.functions.StatAggregates.exponentialMovingAverage
      exponentialMovingAverage(Tables(s, dir).events, col("user_id"),
          col("value"), unix_timestamp(col("ts")), halfLife = 3600.0)
        .select(col("key").as("user_id"), round(col("ema"), 4).as("ema4"))
        .orderBy(col("user_id"))
    },

    // ---- kolmogorovSmirnovTest (CH): two-sample KS D — max ECDF gap
    // with ties evaluated at tie-group ends. Running counts are exact
    // integers, quotients divide exact doubles, so D matches unrounded;
    // window + both aggregations share one key prefix (single shuffle).
    Q("q86_kolmogorov_smirnov",
      """WITH e AS (SELECT user_id % 10 AS bucket, value,
        |    event_type = 'click' AS g
        |  FROM events WHERE event_type IN ('click', 'view')),
        |r AS (SELECT bucket, value,
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY bucket ORDER BY value ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY bucket ORDER BY value ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS c2
        |  FROM e),
        |v AS (SELECT bucket, value, max(c1) AS c1, max(c2) AS c2
        |  FROM r GROUP BY bucket, value),
        |w AS (SELECT bucket, c1, c2,
        |    max(c1) OVER (PARTITION BY bucket) AS n1,
        |    max(c2) OVER (PARTITION BY bucket) AS n2
        |  FROM v)
        |SELECT bucket, CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  round(max(abs(c1 / n1 - c2 / n2)), 4) AS d4
        |FROM w GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
      import graft.functions.StatAggregates.kolmogorovSmirnov
      val e = Tables(s, dir).events
        .filter(col("event_type").isin("click", "view"))
      kolmogorovSmirnov(e, pmod(col("user_id"), lit(10)),
          col("value"), col("event_type") === "click")
        .select(col("key").as("bucket"),
          col("n1").cast(LongType).as("n1"), col("n2").cast(LongType).as("n2"),
          round(col("d"), 4).as("d4"))
        .orderBy(col("bucket"))
    },

    // ---- regression aggregate family (CH simpleLinearRegression and
    // the SQL-standard regr_* it decomposes into — both engines carry
    // the natives; single-pass co-moment partial aggregation).
    // simpleLinearRegression(x, y) fits y = slope*x + intercept.
    Q("q76_regression_agg",
      """SELECT l_returnflag,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
          round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4).as("avg_x"),
          round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 4).as("avg_y"))
        .orderBy(col("l_returnflag"))
    },

    // ---- categorical association (CH cramersV / contingency): one
    // contingency-state aggregate; the oracle refolds chi-square from
    // the margins in SQL. State is bounded by category-pair cardinality.
    // ---- largestTriangleThreeBuckets (CH): LTTB downsampling of each
    // user's (ts, value) series to 10 visually-representative points.
    // Hash-checkable since r6: LTTB is a DETERMINISTIC greedy — only the
    // per-bucket argmax depends on the previous selection, so the oracle
    // precomputes buckets/centroids set-wise and walks the selection
    // chain with a recursive CTE (argmax via row_number in the recursive
    // term, ties to the lowest index like the engine's strict `>`).
    // Integer bucket edges use floor() — DuckDB CAST(x AS INT) rounds
    // where Scala .toInt truncates. Endpoint/monotonicity/subset/
    // spike-retention invariants stay spec-asserted (StatAggregatesSpec).
    // The per-key series rides a sorted collect_list — same
    // per-key-bounded contract as the funnel buffers; selection itself is
    // a cold-path scalar UDF over one already-aggregated array per key.
    Q("q89_lttb",
      """WITH RECURSIVE
        |raw AS (SELECT user_id, CAST(floor(epoch(ts)) AS DOUBLE) AS t, value AS v FROM events),
        |pts AS (SELECT user_id,
        |          row_number() OVER (PARTITION BY user_id ORDER BY t, v) - 1 AS idx,
        |          t, v, count(*) OVER (PARTITION BY user_id) AS m
        |        FROM raw),
        |params AS (SELECT DISTINCT user_id, m, (m - 2) / 8.0 AS every FROM pts WHERE m > 10),
        |buck AS (SELECT p.user_id, p.m, g.k,
        |           CAST(floor(g.k * p.every) AS INT) + 1 AS bstart,
        |           LEAST(CAST(floor((g.k + 1) * p.every) AS INT) + 1, p.m - 1) AS bend,
        |           LEAST(CAST(floor((g.k + 1) * p.every) AS INT) + 1, p.m - 1) AS cstart,
        |           LEAST(CAST(floor((g.k + 2) * p.every) AS INT) + 1, p.m) AS cend
        |         FROM params p, generate_series(0, 7) g(k)),
        |centroid AS (SELECT b.user_id, b.k,
        |               sum(p.t ORDER BY p.idx) / GREATEST(b.cend - b.cstart, 1) AS cx,
        |               sum(p.v ORDER BY p.idx) / GREATEST(b.cend - b.cstart, 1) AS cy
        |             FROM buck b JOIN pts p ON p.user_id = b.user_id
        |               AND p.idx >= b.cstart AND p.idx < b.cstart + GREATEST(b.cend - b.cstart, 1)
        |             GROUP BY b.user_id, b.k, b.cend, b.cstart),
        |cand AS (SELECT b.user_id, b.k, p.idx, p.t, p.v, ct.cx, ct.cy
        |         FROM buck b
        |         JOIN pts p ON p.user_id = b.user_id AND p.idx >= b.bstart AND p.idx < b.bend
        |         JOIN centroid ct ON ct.user_id = b.user_id AND ct.k = b.k),
        |rec AS (
        |  SELECT user_id, 0 AS k, 0 AS sel_idx, t AS sel_t, v AS sel_v
        |  FROM pts WHERE idx = 0 AND m > 10
        |  UNION ALL
        |  SELECT user_id, k + 1, idx, t, v FROM (
        |    SELECT c.user_id, r.k, c.idx, c.t, c.v,
        |      row_number() OVER (PARTITION BY c.user_id ORDER BY
        |        abs((r.sel_t - c.cx) * (c.v - r.sel_v) - (r.sel_t - c.t) * (c.cy - r.sel_v)) DESC,
        |        c.idx ASC) AS rn
        |    FROM rec r JOIN cand c ON c.user_id = r.user_id AND c.k = r.k
        |    WHERE r.k < 8
        |  ) WHERE rn = 1
        |),
        |selected AS (
        |  SELECT user_id, sel_idx AS idx, sel_t AS t, sel_v AS v FROM rec
        |  UNION ALL
        |  SELECT user_id, idx, t, v FROM pts WHERE m > 10 AND idx = m - 1
        |  UNION ALL
        |  SELECT user_id, idx, t, v FROM pts WHERE m <= 10
        |)
        |SELECT user_id, string_agg(printf('%.0f:%.4f', t, v), ',' ORDER BY idx) AS series10
        |FROM selected GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      val ser = udf((pts: Seq[org.apache.spark.sql.Row]) => {
        val series = pts.map(r => (r.getDouble(0), r.getDouble(1)))
        graft.functions.StatAggregates.lttb(series, 10)
          .map { case (x, y) => f"$x%.0f:$y%.4f" }.mkString(",")
      })
      Tables(s, dir).events
        .select(col("user_id"),
          unix_timestamp(col("ts")).cast(DoubleType).as("t"),
          col("value"))
        .groupBy(col("user_id"))
        .agg(ser(sort_array(collect_list(struct(col("t"), col("value")))))
          .as("series10"))
        .orderBy(col("user_id"))
    },

    // ---- sparkbar (CH): unicode sparkline of each event type's
    // hour-of-day activity — dense 24-slot grid (missing hours = 0),
    // level = floor(c·7/max) into the 8 block glyphs. All-integer level
    // arithmetic (exact products, identical floors), so the strings are
    // byte-identical across engines.
    Q("q90_sparkbar",
      """WITH c AS (SELECT event_type, CAST(date_part('hour', ts) AS INT) AS h,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT t.event_type, CAST(r.range AS INT) AS h,
        |             coalesce(c.c, 0) AS c
        |      FROM (SELECT DISTINCT event_type FROM events) t
        |      CROSS JOIN range(0, 24) r
        |      LEFT JOIN c ON c.event_type = t.event_type AND c.h = r.range),
        |m AS (SELECT event_type, h, c, max(c) OVER (PARTITION BY event_type) AS mx
        |      FROM g),
        |ch AS (SELECT event_type, h,
        |    ['▁','▂','▃','▄','▅','▆','▇','█'][CAST(floor(c * 7.0 / mx) AS INT) + 1] AS gl
        |  FROM m)
        |SELECT event_type, string_agg(gl, '' ORDER BY h) AS bar
        |FROM ch GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val blocks = array("▁▂▃▄▅▆▇█".toCharArray.map(ch => lit(ch.toString)): _*)
      val counts = Tables(s, dir).events
        .groupBy(col("event_type"), hour(col("ts")).cast(IntegerType).as("h"))
        .agg(count(lit(1)).as("c"))
      val grid = Tables(s, dir).events.select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0), lit(23))).as("h"))
      val w = Window.partitionBy(col("event_type"))
      grid.join(counts, Seq("event_type", "h"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("gl", element_at(blocks,
          floor(col("c") * 7.0 / max(col("c")).over(w)).cast(IntegerType) + 1))
        .groupBy(col("event_type"))
        .agg(concat_ws("", sort_array(collect_list(
          struct(col("h"), col("gl")))).getField("gl")).as("bar"))
        .orderBy(col("event_type"))
    },

    // ---- arrayCumSum / arrayDifference (CH): running transforms over
    // per-order sorted quantity arrays — native one-pass codegen
    // kernels (the higher-order slice-and-aggregate spelling is O(n²)
    // per row). Both engines scan the identical sorted sequence, so the
    // doubles match exactly; DECIMAL(18,4) strings for the driver.
    Q("q91_array_running",
      """WITH g AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_quantity AS DOUBLE))) AS qs
        |  FROM lineitem WHERE l_orderkey % 500 = 0 GROUP BY 1),
        |c AS (SELECT l_orderkey,
        |    [list_sum(qs[1:i]) for i in range(1, len(qs) + 1)] AS cs,
        |    [CASE WHEN i = 1 THEN 0.0 ELSE qs[i] - qs[i - 1] END
        |     for i in range(1, len(qs) + 1)] AS df
        |  FROM g)
        |SELECT l_orderkey,
        |  array_to_string(list_transform(cs,
        |    x -> CAST(CAST(round(x, 4) + 0.0 AS DECIMAL(18,4)) AS VARCHAR)), ',') AS cumsum,
        |  array_to_string(list_transform(df,
        |    x -> CAST(CAST(round(x, 4) + 0.0 AS DECIMAL(18,4)) AS VARCHAR)), ',') AS diffs
        |FROM c ORDER BY l_orderkey""") { (s, dir) =>
      def dec(c: Column) = concat_ws(",",
        transform(c, x => (round(x, 4) + lit(0.0))
          .cast("decimal(18,4)").cast(StringType)))
      Tables(s, dir).lineitem
        .filter(pmod(col("l_orderkey"), lit(500)) === 0)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast(DoubleType))).as("qs"))
        .select(col("l_orderkey"),
          dec(graft.plans.NativeFunctions.arrayCumSum(col("qs"))).as("cumsum"),
          dec(graft.plans.NativeFunctions.arrayDifference(col("qs"))).as("diffs"))
        .orderBy(col("l_orderkey"))
    },

    // ---- rankCorr (CH): Spearman rank correlation per bucket — Pearson
    // corr over average ranks (ties take their rank-range mean, CH's
    // convention). One shuffle on the bucket + two in-partition sorts;
    // average ranks are exact in doubles, round(4) absorbs the final
    // corr quotient's co-moment-association ULPs.
    Q("q92_rank_corr",
      """WITH e AS (SELECT user_id % 10 AS bucket, CAST(value AS DOUBLE) AS x,
        |    CAST(event_id % 1000 AS DOUBLE) AS y FROM events),
        |r AS (SELECT bucket,
        |    rank() OVER (PARTITION BY bucket ORDER BY x)
        |      + (CAST(count(*) OVER (PARTITION BY bucket, x) AS DOUBLE) - 1.0) / 2.0 AS rx,
        |    rank() OVER (PARTITION BY bucket ORDER BY y)
        |      + (CAST(count(*) OVER (PARTITION BY bucket, y) AS DOUBLE) - 1.0) / 2.0 AS ry
        |  FROM e)
        |SELECT bucket, round(corr(rx, ry), 4) AS rank_corr
        |FROM r GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
      import graft.functions.StatAggregates.rankCorr
      rankCorr(Tables(s, dir).events,
          pmod(col("user_id"), lit(10)), col("value"),
          pmod(col("event_id"), lit(1000)))
        .select(col("key").as("bucket"),
          round(col("rank_corr"), 4).as("rank_corr"))
        .orderBy(col("bucket"))
    },

    // ---- avgWeighted / boundingRatio / meanZTest (CH): weighted mean
    // over exact integer products, endpoint chord slope on a tie-free x
    // (event_id is unique — arg extremes are deterministic), and the
    // known-variance two-sample z. One codegen'd aggregation pass.
    Q("q93_weighted_moments",
      """WITH e AS (SELECT user_id % 5 AS bucket, event_id, value, event_type,
        |    CAST(event_id % 100 AS DOUBLE) AS wx,
        |    CAST(user_id % 7 + 1 AS DOUBLE) AS ww FROM events),
        |a AS (SELECT bucket,
        |    sum(wx * ww) / sum(ww) AS aw,
        |    (arg_max(value, event_id) - arg_min(value, event_id))
        |      / (CAST(max(event_id) AS DOUBLE) - min(event_id)) AS br,
        |    avg(CASE WHEN event_type = 'click' THEN value END) AS m1,
        |    avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
        |    count(CASE WHEN event_type = 'click' THEN value END) AS n1,
        |    count(CASE WHEN event_type = 'view' THEN value END) AS n2
        |  FROM e GROUP BY bucket)
        |SELECT bucket, round(aw, 4) AS avg_weighted,
        |  round(br, 4) + 0.0 AS bounding_ratio,
        |  round((m1 - m2) / sqrt(1.0 / n1 + 4.0 / n2), 4) AS z
        |FROM a ORDER BY bucket""") { (s, dir) =>
      import graft.functions.StatAggregates.{avgWeighted, boundingRatio, meanZTest}
      Tables(s, dir).events
        .select(pmod(col("user_id"), lit(5)).as("bucket"),
          col("event_id"), col("value"), col("event_type"),
          pmod(col("event_id"), lit(100)).cast(DoubleType).as("wx"),
          (pmod(col("user_id"), lit(7)) + 1).cast(DoubleType).as("ww"))
        .groupBy(col("bucket"))
        .agg(
          round(avgWeighted(col("wx"), col("ww")), 4).as("avg_weighted"),
          (round(boundingRatio(col("event_id"), col("value")), 4) + lit(0.0))
            .as("bounding_ratio"),
          round(meanZTest(
            when(col("event_type").isin("click", "view"), col("value")),
            col("event_type") === "click", 1.0, 4.0), 4).as("z"))
        .orderBy(col("bucket"))
    },

    // ---- minMap / maxMap (CH): key-wise map-value extremes per group,
    // q65's SummingMergeTree fold shape with min/max combiners; the two
    // folds join on the (10-row) group key, broadcast-sized.
    Q("q94_min_max_map",
      """WITH e AS (SELECT user_id % 10 AS g, event_type AS k,
        |             event_id % 100 AS v FROM events),
        |s AS (SELECT g, k, min(v) AS mn, max(v) AS mx FROM e GROUP BY g, k)
        |SELECT g, string_agg(k, ',' ORDER BY k) AS keys,
        |  string_agg(CAST(CAST(mn AS BIGINT) AS VARCHAR), ',' ORDER BY k) AS min_values,
        |  string_agg(CAST(CAST(mx AS BIGINT) AS VARCHAR), ',' ORDER BY k) AS max_values
        |FROM s GROUP BY g ORDER BY g""") { (s, dir) =>
      val ev = Tables(s, dir).events
        .select((col("user_id") % 10).as("g"),
          map(col("event_type"), col("event_id") % 100).as("m"))
      val mn = graft.functions.ChAggregates.minMap(ev, Seq("g"), col("m"))
        .select(col("g"), col("keys"),
          concat_ws(",", col("values").cast("array<string>")).as("min_values"))
      val mx = graft.functions.ChAggregates.maxMap(ev, Seq("g"), col("m"))
        .select(col("g"),
          concat_ws(",", col("values").cast("array<string>")).as("max_values"))
      mn.join(mx, "g")
        .select(col("g"), concat_ws(",", col("keys")).as("keys"),
          col("min_values"), col("max_values"))
        .orderBy(col("g"))
    },

    // ---- categoricalInformationValue (CH): per-category IV of a binary
    // tag, zero cells guarded to 0 identically on both sides (CH emits
    // non-finite there — uncomparable across engines). (cat) counts +
    // a broadcast of the two scalar totals: one data-sized shuffle.
    Q("q95_categorical_iv",
      """WITH c AS (SELECT event_type AS cat,
        |    sum(CASE WHEN event_id % length(event_type) = 0 THEN 1 ELSE 0 END) AS g,
        |    sum(CASE WHEN event_id % length(event_type) = 0 THEN 0 ELSE 1 END) AS b
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt FROM c)
        |SELECT cat, round(CASE WHEN c.g > 0 AND c.b > 0
        |    THEN (CAST(c.g AS DOUBLE) / t.gt - CAST(c.b AS DOUBLE) / t.bt)
        |      * ln((CAST(c.g AS DOUBLE) / t.gt) / (CAST(c.b AS DOUBLE) / t.bt))
        |    ELSE 0.0 END, 4) AS iv
        |FROM c CROSS JOIN t ORDER BY cat""") { (s, dir) =>
      import graft.functions.StatAggregates.categoricalInformationValue
      categoricalInformationValue(Tables(s, dir).events,
          col("event_type"),
          pmod(col("event_id"), length(col("event_type"))) === 0)
        .select(col("cat"), round(col("iv"), 4).as("iv"))
        .orderBy(col("cat"))
    },

    // ---- theilsU (CH): asymmetric uncertainty coefficient — how much
    // knowing one categorical column reduces the entropy of the other,
    // both directions. Same PairCounts state as the q77 chi-square
    // family; sorted-key finish keeps the double sums deterministic.
    Q("q88_theils_u",
      """WITH c AS (SELECT event_type AS a, CAST(user_id % 5 AS VARCHAR) AS b,
        |                  count(*) AS o
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT a, sum(o) AS na FROM c GROUP BY a),
        |k AS (SELECT b, sum(o) AS nb FROM c GROUP BY b),
        |t AS (SELECT sum(o) AS n FROM c),
        |ha AS (SELECT -sum((na / t.n) * ln(na / t.n)) AS h FROM r CROSS JOIN t),
        |hb AS (SELECT -sum((nb / t.n) * ln(nb / t.n)) AS h FROM k CROSS JOIN t),
        |hab AS (SELECT -sum((c.o / t.n) * ln(c.o / k.nb)) AS h
        |        FROM c JOIN k USING (b) CROSS JOIN t),
        |hba AS (SELECT -sum((c.o / t.n) * ln(c.o / r.na)) AS h
        |        FROM c JOIN r USING (a) CROSS JOIN t)
        |SELECT round((ha.h - hab.h) / ha.h, 4) AS u_a_b,
        |       round((hb.h - hba.h) / hb.h, 4) AS u_b_a
        |FROM ha CROSS JOIN hb CROSS JOIN hab CROSS JOIN hba""") { (s, dir) =>
      import graft.functions.StatAggregates.theilsU
      Tables(s, dir).events
        .select(col("event_type").as("a"),
          pmod(col("user_id"), lit(5)).cast(StringType).as("b"))
        .agg(round(theilsU(col("a"), col("b")), 4).as("u_a_b"),
          round(theilsU(col("b"), col("a")), 4).as("u_b_a"))
    },

    Q("q77_association",
      """WITH c AS (SELECT event_type AS a, CAST(user_id % 5 AS VARCHAR) AS b,
        |                  count(*) AS o
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT a, sum(o) AS ra FROM c GROUP BY a),
        |k AS (SELECT b, sum(o) AS cb FROM c GROUP BY b),
        |t AS (SELECT sum(o) AS n FROM c),
        |x0 AS (SELECT sum(pow(c.o - r.ra * k.cb / t.n, 2)
        |                  / (r.ra * k.cb / t.n)) AS chi2o,
        |              sum(r.ra * k.cb / t.n) AS eo
        |       FROM c JOIN r USING (a) JOIN k USING (b) CROSS JOIN t),
        |x AS (SELECT x0.chi2o + (t.n - x0.eo) AS chi2 FROM x0 CROSS JOIN t),
        |d AS (SELECT (SELECT count(*) FROM r) AS nr,
        |             (SELECT count(*) FROM k) AS nc)
        |SELECT round(sqrt(x.chi2 / t.n / (least(d.nr, d.nc) - 1)), 4) AS cramers_v,
        |       round(sqrt(x.chi2 / (x.chi2 + t.n)), 4) AS contingency_c
        |FROM x CROSS JOIN t CROSS JOIN d""") { (s, dir) =>
      import graft.functions.StatAggregates.{contingency, cramersV}
      Tables(s, dir).events
        .select(col("event_type"),
          pmod(col("user_id"), lit(5)).cast(StringType).as("b"))
        .agg(
          round(cramersV(col("event_type"), col("b")), 4).as("cramers_v"),
          round(contingency(col("event_type"), col("b")), 4).as("contingency_c"))
    },

    // ---- deltaSum (CH): sum of positive increments along the ordered
    // series — counter-reset-tolerant rate accumulation. Spark spelling:
    // lag window per key; the order is explicit (CH's depends on
    // insertion order, which MergeTree sorting pins the same way).
    Q("q78_delta_sum",
      """WITH o AS (SELECT user_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events),
        |d AS (SELECT user_id,
        |    CASE WHEN pv IS NULL OR value <= pv THEN 0.0 ELSE value - pv END AS inc
        |  FROM o)
        |SELECT user_id, round(CAST(sum(inc) AS DOUBLE), 4) AS delta_sum
        |FROM d GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("inc",
          when(col("pv").isNull || col("value") <= col("pv"), lit(0.0))
            .otherwise(col("value") - col("pv")))
        .groupBy(col("user_id"))
        .agg(round(sum(col("inc")).cast(DoubleType), 4).as("delta_sum"))
        .orderBy(col("user_id"))
    },

    // ---- groupArrayMovingSum / groupArrayMovingAvg (CH): per-key array
    // of 3-row moving aggregates along the ordered series, serialized
    // with the q74 DECIMAL(18,4) pattern (identical string form across
    // engines, -0.0 canonicalized). The window itself is a plain Spark
    // ROWS frame — one pass, no per-key state beyond the frame.
    Q("q82_moving_aggregates",
      """WITH o AS (SELECT user_id, value, ts, event_id,
        |    sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms,
        |    avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id,
        |    CAST(round(ms, 4) + 0.0 AS DECIMAL(18,4)) AS ms4,
        |    CAST(round(ma, 4) + 0.0 AS DECIMAL(18,4)) AS ma4
        |  FROM o)
        |SELECT user_id,
        |  string_agg(CAST(ms4 AS VARCHAR), ',' ORDER BY ts, event_id) AS moving_sums,
        |  string_agg(CAST(ma4 AS VARCHAR), ',' ORDER BY ts, event_id) AS moving_avgs
        |FROM s GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      import graft.functions.ChFunctions.{movingAvg, movingSum}
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      def dec(c: Column) =
        (round(c, 4) + lit(0.0)).cast("decimal(18,4)").cast(StringType)
      Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          dec(movingSum(col("value"), 3, w)).as("ms4"),
          dec(movingAvg(col("value"), 3, w)).as("ma4"))
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("ms4")))).getField("ms4"))
            .as("moving_sums"),
          concat_ws(",", sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("ma4")))).getField("ma4"))
            .as("moving_avgs"))
        .orderBy(col("user_id"))
    },

    // ---- maxIntersections (CH): the maximum number of concurrently
    // open intervals — a ±1 sweep with a running sum (ends at tick t
    // close BEFORE starts at t open, CH's half-open convention). Session
    // concurrency over synthetic [ts, ts+300s) windows per event.
    Q("q79_max_intersections",
      """WITH iv AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        |  FROM events),
        |pts AS (SELECT event_type, s AS t, 1 AS d FROM iv
        |        UNION ALL SELECT event_type, e AS t, -1 AS d FROM iv),
        |r AS (SELECT event_type,
        |    sum(d) OVER (PARTITION BY event_type ORDER BY t, d
        |                 ROWS UNBOUNDED PRECEDING) AS open
        |  FROM pts)
        |SELECT event_type, CAST(max(open) AS BIGINT) AS max_concurrent
        |FROM r GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val iv = Tables(s, dir).events
        .select(col("event_type"),
          unix_timestamp(col("ts")).as("st"),
          (unix_timestamp(col("ts")) + 300).as("en"))
      val pts = iv.select(col("event_type"), col("st").as("t"), lit(1).as("d"))
        .unionByName(iv.select(col("event_type"), col("en").as("t"),
          lit(-1).as("d")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("open", sum(col("d")).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("open")).cast(LongType).as("max_concurrent"))
        .orderBy(col("event_type"))
    },

    // ---- histogram: deterministic width_bucket spelling (CH's
    // histogram(N) is adaptive — engine-internal bin centers — and is
    // spec-only; the fixed-width bucketing is the oracle-able twin).
    Q("q80_width_bucket_histogram",
      """SELECT l_returnflag,
        |  CAST(CASE WHEN l_quantity < 0 THEN 0
        |            WHEN l_quantity >= 50 THEN 11
        |            ELSE floor(l_quantity / 5) + 1 END AS INT) AS bucket,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, bucket""") { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"),
          width_bucket(col("l_quantity"), lit(0.0), lit(50.0), lit(10))
            .cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("bucket"))
    },

    // ---- intervalLengthSum (CH): total length covered by the UNION of
    // intervals — overlaps merged by the gaps-and-islands pattern
    // (island break when start clears every earlier end), per key.
    Q("q81_interval_length_sum",
      """WITH iv AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        |  FROM events),
        |ivd AS (SELECT DISTINCT event_type, s, e FROM iv),
        |w AS (SELECT event_type, s, e,
        |    max(e) OVER (PARTITION BY event_type ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pmax FROM ivd),
        |g AS (SELECT event_type, s, e,
        |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk FROM w),
        |i AS (SELECT event_type, s, e,
        |    sum(brk) OVER (PARTITION BY event_type ORDER BY s, e
        |                   ROWS UNBOUNDED PRECEDING) AS island FROM g),
        |m AS (SELECT event_type, island, max(e) - min(s) AS len
        |      FROM i GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(len) AS BIGINT) AS covered_seconds,
        |  CAST(count(*) AS BIGINT) AS n_islands
        |FROM m GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // duplicate intervals are redundant for union coverage AND make
      // ROWS-frame windows tie-order-sensitive (observed nondeterminism
      // in DuckDB's parallel windows at sf1) — dedup BOTH sides first
      val iv = Tables(s, dir).events
        .select(col("event_type"),
          unix_timestamp(col("ts")).as("st"),
          (unix_timestamp(col("ts")) + 300).as("en"))
        .distinct()
      val byKey = Window.partitionBy(col("event_type")).orderBy(col("st"), col("en"))
      val prevMax = byKey.rowsBetween(Window.unboundedPreceding, -1)
      val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("pmax", max(col("en")).over(prevMax))
        .withColumn("brk",
          when(col("pmax").isNull || col("st") > col("pmax"), 1).otherwise(0))
        .withColumn("island", sum(col("brk")).over(run))
        .groupBy(col("event_type"), col("island"))
        .agg((max(col("en")) - min(col("st"))).as("len"))
        .groupBy(col("event_type"))
        .agg(sum(col("len")).cast(LongType).as("covered_seconds"),
          count(lit(1)).cast(LongType).as("n_islands"))
        .orderBy(col("event_type"))
    }
  )
}
