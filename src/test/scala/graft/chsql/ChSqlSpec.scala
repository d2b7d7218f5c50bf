package graft.chsql

import graft.SparkSpec
import org.apache.spark.sql.Row

/** The ClickHouse-SQL layer, exercised with the reference repo's own
  * statements: lecture_07's MergeTree-family demos (expected outputs
  * transcribed from the lecture's result blocks), hw02's DDL, and the
  * ch_and_kafka init.sql MV cascade.
  */
class ChSqlSpec extends SparkSpec {

  private def ch = new ChSession(spark)

  // --------------------------------------------------------- lexer

  test("lexer: statements split on ; outside strings, comments stripped") {
    val stmts = ChLexer.statements(
      "SELECT 'a;b' AS x; -- c1 ; SELECT nope\n" +
        "/* multi ;\n line */ SELECT 2;;")
    assert(stmts == Seq("SELECT 'a;b' AS x", "SELECT 2"))
  }

  test("lexer: qualified identifiers glue into one token") {
    val toks = ChLexer.tokenize("SELECT a FROM raw.sensor_data_raw")
    assert(toks.map(_.text).contains("raw.sensor_data_raw"))
  }

  test("lexer: qualified stars glue into one token (r12 advisor: the " +
    "operator-run lexing left the t.* select-item branch dead)") {
    assert(ChLexer.tokenize("SELECT t.* FROM t").map(_.text)
      .contains("t.*"))
    assert(ChLexer.tokenize("SELECT db.t.* FROM db.t").map(_.text)
      .contains("db.t.*"))
    assert(ChLexer.tokenize("SELECT `g`.* FROM t g").map(_.text)
      .contains("`g`.*"))
    // multiplication never glues: `a.b*c` is a qualified ref times c
    assert(ChLexer.tokenize("SELECT a.b*c FROM t").map(_.text) ==
      Vector("SELECT", "a.b", "*", "c", "FROM", "t"))
    assert(ChLexer.tokenize("SELECT 2.*3").map(_.text) ==
      Vector("SELECT", "2.", "*", "3"))
  }

  test("lexer: \\G and smart quotes never touch string literal bodies") {
    // \G inside a literal must NOT split the statement
    val stmts = ChLexer.statements("SELECT 'C:\\Games' AS p\\G SELECT 2;")
    assert(stmts == Seq("SELECT 'C:\\Games' AS p", "SELECT 2"))
    // a typographic apostrophe INSIDE a plain-quoted literal survives
    val apos = ChLexer.statements("SELECT 'don’t' AS q;")
    assert(apos == Seq("SELECT 'don’t' AS q"))
    // smart-quoted DELIMITERS normalize (slide-deck SQL), ’…’ included
    assert(ChLexer.statements("SELECT ‘a‘’b’ AS x;").head.contains("'"))
    assert(ChLexer.statements("SELECT ’2024-01-01’ AS d;") ==
      Seq("SELECT '2024-01-01' AS d"))
    // tokenize keeps the normalized literal as ONE string token
    val t = ChLexer.tokenize("SELECT ‘v 1’ AS x")
    assert(t.exists(tok => tok.isString && tok.text == "'v 1'"))
    // an interior PLAIN quote inside smart delimiters leaves as the ''
    // escape — the emitted plain-quoted literal must not close early
    assert(ChLexer.statements("SELECT ‘l'été’ AS s; SELECT 2;") ==
      Seq("SELECT 'l''été' AS s", "SELECT 2"))
  }

  test("lexer: double-quoted strings protect ';' — inline JSONEachRow " +
    "payloads with a semicolon in a value stay one statement") {
    val stmts = ChLexer.statements(
      "INSERT INTO t FORMAT JSONEachRow\n{\"msg\": \"a;b\"};SELECT 1;")
    assert(stmts == Seq(
      "INSERT INTO t FORMAT JSONEachRow\n{\"msg\": \"a;b\"}", "SELECT 1"))
  }

  test("lexer: an unbalanced '\"' cannot swallow the rest of the script") {
    // a stray double quote in one statement (pasted prose / broken CSV
    // payload) must not merge every following statement into it — the
    // quote region bails at the newline
    val stmts = ChLexer.statements(
      "SELECT 'a' AS x -- note: \"unclosed\nSELECT 2;\nSELECT 3;")
    assert(stmts.length >= 2 && stmts.last == "SELECT 3")
    val dq = ChLexer.statements("SELECT \"col AS x\n;SELECT 2;")
    assert(dq.exists(_.startsWith("SELECT 2")))
  }

  test("lexer: a bare closing smart quote normalizes without opening a " +
    "string region") {
    // pasted prose: '”' with no opener must not swallow '--' or ';'
    val stmts = ChLexer.statements(
      "SELECT 1 AS a; -- as they say ”quoted\nSELECT 2;")
    assert(stmts == Seq("SELECT 1 AS a", "SELECT 2"))
    // a balanced “…” pair still protects its body from the comment pass
    assert(ChLexer.statements("SELECT “a -- b” AS x;") ==
      Seq("SELECT \"a -- b\" AS x"))
  }

  test("lexer: ClickHouse doubled-\" identifier escape in type context") {
    val parts = ChTypes.splitTopLevel("\"a\"\"b\", c", ',')
    assert(parts == Seq("\"a\"\"b\"", "c"))
  }

  test("lexer: privilege lists and FROM-position identifiers are not " +
    "butted-statement cuts") {
    // GRANT ALTER names a PRIVILEGE, not a new statement
    assert(ChLexer.statements("GRANT ALTER ON db1.* TO u1") ==
      Seq("GRANT ALTER ON db1.* TO u1"))
    assert(ChLexer.statements("GRANT SELECT, ALTER ON db1.* TO u1") ==
      Seq("GRANT SELECT, ALTER ON db1.* TO u1"))
    // an identifier named like a cut keyword after FROM stays in place
    assert(ChLexer.statements("SELECT * FROM show") ==
      Seq("SELECT * FROM show"))
    // the GRANT statement executes as the documented no-op
    ch.execute("GRANT SELECT, ALTER ON db1.* TO u1")
    // ...while genuinely butted statements still split
    assert(ChLexer.statements(
      "SELECT count() FROM t GROUP BY id OPTIMIZE TABLE t FINAL").size == 2)
  }

  test("lexer: smart double quotes protect their body from the comment " +
    "stripper") {
    val stmts = ChLexer.statements("SELECT “a -- b” AS x;")
    assert(stmts == Seq("SELECT \"a -- b\" AS x"))
  }

  test("param binding: SET values unescape; explicit bindings keep " +
    "genuine apostrophes; params are per-call, not leaked") {
    val s = ch
    s.execute("SET param_who = 'O''Hara'")
    assert(s.sql("SELECT {who:String} AS w").collect().head.getString(0)
      == "O'Hara")
    // a value that genuinely starts/ends with an apostrophe survives
    assert(s.sql("SELECT {v:String} AS w", Map("v" -> "'quoted'"))
      .collect().head.getString(0) == "'quoted'")
    // per-call bindings do not persist: the session has no param_v
    val err = intercept[Exception](s.sql("SELECT {v:String} AS w"))
    assert(err.getMessage.contains("no bound value"))
  }

  test("a '_part' inside a string literal does not attach virtual columns") {
    val s = ch
    s.execute("CREATE TABLE vt (id UInt64, name String) " +
      "ENGINE = MergeTree ORDER BY id")
    s.execute("INSERT INTO vt VALUES (1, 'x_part_y'), (2, 'plain')")
    val df = s.sql("SELECT * FROM vt WHERE name LIKE '%_part%'")
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 1)
    // referencing the virtual column as an identifier still attaches it
    assert(s.sql("SELECT _part FROM vt").columns.toSeq == Seq("_part"))
  }

  test("merge('system', regex) unions synthesized system tables; " +
    "trace_log carries hw14's monitoring columns; predicate UDFs " +
    "compose numerically") {
    val s = ch
    // lecture_20.md's metric-history aggregate resolves and runs
    // (honestly empty — no background collector thread here)
    val ml = s.sql("SELECT count() AS n FROM merge(system, '^metric_log')")
    assert(ml.collect().head.getLong(0) == 0L)
    // hw14.md's MemoryPeak shape: event_date + max(size) resolve
    assert(s.sql("select max(size) AS m from system.trace_log " +
      "where trace_type = 'MemoryPeak' and event_date >= toDate(now())")
      .collect().length == 1)
    // hw04.md:98-102 — a predicate-bodied CREATE FUNCTION composes
    // numerically (`cls(...) > 0`), as ClickHouse's UInt8 comparisons
    // do (BoolNumericCoercion), and still filters as a bare boolean
    s.execute("CREATE FUNCTION cls AS (q, p) -> q * p > 0.01")
    val r = s.sql("SELECT cls(1, 2) AS hit, cls(0, 0) AS miss " +
      "FROM numbers(1) WHERE cls(1, 2) > 0").collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(s.sql("SELECT count() AS n FROM numbers(5) WHERE cls(1, 2)")
      .collect().head.getLong(0) == 5L)
  }

  test("RESTORE rebuilds the table without re-firing its MVs") {
    val s = ch
    s.execute(
      """CREATE TABLE evts (id UInt64) ENGINE = MergeTree ORDER BY id;
        |CREATE TABLE evt_counts (n UInt64) ENGINE = Memory;
        |CREATE MATERIALIZED VIEW evt_mv TO evt_counts AS
        |  SELECT count() AS n FROM evts;
        |INSERT INTO evts VALUES (1), (2), (3)""".stripMargin)
    assert(s.sql("SELECT sum(n) AS t FROM evt_counts").collect()
      .head.getLong(0) == 3L)
    s.execute("BACKUP TABLE evts TO Disk('backups', 'evts_')")
    // drop and restore UNDER THE SAME NAME: the MV bound to `evts`
    // survives the drop, so a restore that fired MVs would double-count
    s.execute("DROP TABLE evts")
    s.execute("RESTORE TABLE evts FROM Disk('backups', 'evts_')")
    assert(s.sql("SELECT count() AS c FROM evts").collect()
      .head.getLong(0) == 3L)
    assert(s.sql("SELECT sum(n) AS t FROM evt_counts").collect()
      .head.getLong(0) == 3L)
    // MVs still fire on ordinary inserts after the restore
    s.execute("INSERT INTO evts VALUES (4)")
    assert(s.sql("SELECT sum(n) AS t FROM evt_counts").collect()
      .head.getLong(0) == 4L)
  }

  // --------------------------------------------------------- types

  test("ChTypes: the hw02 column palette") {
    import org.apache.spark.sql.types._
    assert(ChTypes.parse("UInt32").dataType == LongType)
    assert(ChTypes.parse("DateTime").dataType == TimestampType)
    assert(ChTypes.parse("Nullable(Float64)") ==
      ChTypes.Parsed(DoubleType, nullable = true))
    assert(ChTypes.parse("UInt8").dataType == IntegerType)
    assert(ChTypes.parse("Float32").dataType == FloatType)
    assert(ChTypes.parse("Enum('CSH' = 1, 'CRE' = 2)").dataType == StringType)
    assert(ChTypes.parse("LowCardinality(String)").dataType == StringType)
    assert(ChTypes.parse("DateTime64(3)").dataType == TimestampType)
    assert(ChTypes.parse("Array(Nullable(String))") ==
      ChTypes.Parsed(ArrayType(StringType, containsNull = true), nullable = false))
    assert(ChTypes.parse("Decimal(18, 4)").dataType == DecimalType(18, 4))
    assert(ChTypes.parse("Map(String, UInt64)").dataType ==
      MapType(StringType, LongType, valueContainsNull = false))
  }

  // --------------------------------------------------------- rewriter

  private val noTables = ChSqlRewrite.NoTables

  test("rewrite: PREWHERE merges into WHERE") {
    val r = ChSqlRewrite.rewrite(
      "SELECT a FROM t PREWHERE b > 1 WHERE c < 2 ORDER BY a", noTables)
    assert(r.sql.contains("WHERE (b > 1) AND (c < 2)"))
    assert(!r.sql.toUpperCase.contains("PREWHERE"))
  }

  test("rewrite: bare PREWHERE becomes WHERE") {
    val r = ChSqlRewrite.rewrite("SELECT a FROM t PREWHERE b = 1", noTables)
    assert(r.sql.matches("(?i).*WHERE b = 1.*"))
  }

  test("rewrite: FORMAT / SETTINGS / \\G tails are dropped") {
    val r = ChSqlRewrite.rewrite(
      "SELECT a FROM t SETTINGS max_threads = 4 FORMAT JSONEachRow", noTables)
    assert(!r.sql.toUpperCase.contains("SETTINGS"))
    assert(!r.sql.toUpperCase.contains("FORMAT"))
  }

  test("rewrite: numbers(N) becomes a range subquery") {
    val r = ChSqlRewrite.rewrite(
      "SELECT number FROM numbers(10)", noTables)
    val df = spark.sql(r.sql)
    assert(df.count() == 10)
    assert(df.columns.toSeq == Seq("number"))
  }

  test("rewrite: LIMIT n BY keys is extracted with the final LIMIT") {
    val r = ChSqlRewrite.rewrite(
      "SELECT a, b FROM t ORDER BY b DESC LIMIT 2 BY a LIMIT 3", noTables)
    assert(r.limitBy.contains(ChSqlRewrite.LimitByOp(2, 0, Seq("a"),
      Some("b DESC"))))
    assert(r.finalLimit.contains((0L, 3L)))
    assert(!r.sql.toUpperCase.contains("LIMIT"))
  }

  test("rewrite: GLOBAL is dropped, IN table wraps known tables") {
    val resolver = new ChSqlRewrite.Resolver {
      def resolve(id: String) =
        if (id == "st") Some(ChSqlRewrite.ResolvedTable("v_st")) else None
    }
    val r = ChSqlRewrite.rewrite(
      "SELECT a FROM x WHERE a GLOBAL IN st", resolver)
    assert(r.sql.contains("IN (SELECT * FROM v_st)"))
    assert(!r.sql.toUpperCase.contains("GLOBAL"))
  }

  // --------------------------------------------------------- lecture_07

  test("lecture_07 SummingMergeTree: per-part sums, FINAL merges parts") {
    val s = ch
    s.execute(
      """CREATE TABLE summing_tbl (id UInt32, val UInt32, val2 UInt32)
        |ENGINE = SummingMergeTree(val) ORDER BY (id);
        |INSERT INTO summing_tbl SELECT 1, (number + 1) * 10, number from numbers(10);
        |INSERT INTO summing_tbl SELECT 1, 100, 5;""".stripMargin)
    // lecture_07.md:452-464: two parts → (1,550,0) and (1,100,5)
    val noFinal = s.sql("SELECT * FROM summing_tbl ORDER BY val")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(noFinal.toSet == Set((1L, 100L, 5L), (1L, 550L, 0L)))
    // lecture_07.md:465-478: FINAL → (1,650,0)
    val fin = s.sql("SELECT * FROM summing_tbl FINAL")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fin.toSeq == Seq((1L, 650L, 0L)))
  }

  test("lecture_07 ReplacingMergeTree: last-in-block wins, FINAL dedups") {
    val s = ch
    s.execute(
      """CREATE TABLE replacing_tbl (id UInt32, val UInt32)
        |ENGINE = ReplacingMergeTree ORDER BY (id);
        |INSERT INTO replacing_tbl SELECT 1, (number + 1) * 10 from numbers(3);
        |INSERT INTO replacing_tbl SELECT 2, (number + 1) * 100 from numbers(3);
        |INSERT INTO replacing_tbl SELECT 1, 100;
        |INSERT INTO replacing_tbl SELECT 2, 100;""".stripMargin)
    // per-block fold keeps the last row of each inserted block → 4 rows
    assert(s.sql("SELECT count() AS c FROM replacing_tbl").collect()
      .head.getLong(0) == 4L)
    // FINAL: latest part wins per id
    val fin = s.sql("SELECT * FROM replacing_tbl FINAL ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fin.toSeq == Seq((1L, 100L), (2L, 100L)))
  }

  test("lecture_07 ReplacingMergeTree(version): highest version survives") {
    val s = ch
    s.execute(
      """CREATE TABLE replacing_mt_v (id UInt32, val UInt32, version Int32)
        |ENGINE = ReplacingMergeTree(version) ORDER BY (id);
        |INSERT INTO replacing_mt_v SELECT 1, (number + 1) * 10, number * (-1) from numbers(3);
        |INSERT INTO replacing_mt_v SELECT 1, 100, 1;""".stripMargin)
    // within the first block version 0 (row 1, val 10) is the max
    val fin = s.sql("SELECT * FROM replacing_mt_v FINAL")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(fin.toSeq == Seq((1L, 100L, 1)))
  }

  test("lecture_07 CollapsingMergeTree: sign pairs cancel under FINAL") {
    val s = ch
    s.execute(
      """CREATE TABLE table_collapsing (id UInt32, amount UInt32, sign Int8)
        |ENGINE = CollapsingMergeTree(sign) ORDER BY id;
        |INSERT INTO table_collapsing VALUES (1, 10, 1);
        |INSERT INTO table_collapsing VALUES (1, 10, -1), (1, 20, 1);
        |INSERT INTO table_collapsing VALUES (2, 30, 1);""".stripMargin)
    val fin = s.sql("SELECT id, amount FROM table_collapsing FINAL ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fin.toSeq == Seq((1L, 20L), (2L, 30L)))
  }

  test("ANY LEFT JOIN ... USING picks one right-side row per key") {
    val s = ch
    s.execute(
      """CREATE TABLE main_data (desc_id UInt32, v UInt32) ENGINE = Memory;
        |CREATE TABLE desc_data (desc_id UInt32, d String) ENGINE = Memory;
        |INSERT INTO main_data VALUES (1, 10), (2, 20);
        |INSERT INTO desc_data VALUES (1, 'a'), (1, 'b'), (2, 'c');""".stripMargin)
    val out = s.sql(
      "SELECT * FROM main_data ANY LEFT JOIN desc_data USING (desc_id) ORDER BY desc_id")
    assert(out.count() == 2) // not 3: the duplicate desc_id=1 row is deduped
    // reproducibility: ClickHouse ANY keeps "some" row; our rewrite must
    // keep the SAME row on every run (stable-hash dedup order). Replaying
    // the script with the duplicate-key rows inserted in the OPPOSITE
    // order must still produce byte-identical output.
    val s2 = ch
    s2.execute(
      """CREATE TABLE main_data (desc_id UInt32, v UInt32) ENGINE = Memory;
        |CREATE TABLE desc_data (desc_id UInt32, d String) ENGINE = Memory;
        |INSERT INTO main_data VALUES (1, 10), (2, 20);
        |INSERT INTO desc_data VALUES (2, 'c'), (1, 'b'), (1, 'a');""".stripMargin)
    def render(sess: ChSession): String = sess.sql(
      "SELECT * FROM main_data ANY LEFT JOIN desc_data USING (desc_id) ORDER BY desc_id")
      .collect().map(_.toString).mkString("\n")
    assert(render(s) == render(s2), "ANY JOIN survivor depends on insert order")
    assert((1 to 3).map(_ => render(s)).distinct.size == 1)
  }

  test("SAMPLE uses the declared sample key deterministically") {
    val s = ch
    s.execute(
      """CREATE TABLE ev (event_id UInt64, v UInt64)
        |ENGINE = MergeTree ORDER BY event_id SAMPLE BY event_id;""".stripMargin)
    s.ingest("ev", spark.range(1000).selectExpr("id AS event_id", "id AS v"))
    val a = s.sql("SELECT count() AS c FROM ev SAMPLE 0.1").collect().head.getLong(0)
    val b = s.sql("SELECT count() AS c FROM ev SAMPLE 1/10").collect().head.getLong(0)
    assert(a == b) // same fraction, same key → same deterministic subset
    assert(a > 0 && a < 500)
    // the replica-splitting idiom: SAMPLE 1/N OFFSET k/N slices are
    // disjoint and together cover the table exactly once
    val slices = (0 until 4).map(k =>
      s.sql(s"SELECT count() AS c FROM ev SAMPLE 1/4 OFFSET $k/4")
        .collect().head.getLong(0))
    assert(slices.sum == 1000L)
    assert(slices.forall(_ > 0))
  }

  test("LIMIT n BY key end-to-end (group-wise truncation)") {
    val s = ch
    s.execute(
      """CREATE TABLE lb (k UInt32, v UInt32) ENGINE = Memory;
        |INSERT INTO lb VALUES (1,5),(1,4),(1,3),(2,9),(2,8);""".stripMargin)
    val out = s.sql("SELECT k, v FROM lb ORDER BY v DESC LIMIT 2 BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 5L), (1L, 4L), (2L, 9L), (2L, 8L)))
  }

  test("lecture_07 AggregatingMergeTree: -State inserts through TEXT, " +
      "-Merge / finalizeAggregation reads (lecture_07.md:495-546)") {
    val s = ch
    // the lecture's aggr_tbl DDL verbatim
    s.execute("""CREATE TABLE aggr_tbl
      |(
      |    id UInt64,
      |    val_uniq AggregateFunction(uniq, UInt64),
      |    val_max AggregateFunction(maxIf, String, UInt8),
      |    val_avg AggregateFunction(avg, UInt64)
      |)
      |ENGINE=AggregatingMergeTree
      |ORDER BY id""".stripMargin)
    // the lecture inserts rand()-derived values; a deterministic range
    // makes the merged reads exactly checkable: rnd = 0..9
    s.execute("""INSERT INTO aggr_tbl
      |SELECT 1,
      |uniqState(toUInt64(rnd)),
      |maxIfState(toString(rnd), rnd % 2 = 0),
      |avgState(toUInt64(rnd))
      |FROM (SELECT number as rnd from numbers(10))""".stripMargin)
    // states stored as-is: one part row, binary state columns
    val raw = s.sql("select * from aggr_tbl").collect()
    assert(raw.length == 1 && raw.head.get(1).isInstanceOf[Array[Byte]])
    // finalizeAggregation: the per-part state, runtime-dispatched
    val fin = s.sql("""select
      |    finalizeAggregation(val_uniq) AS u,
      |    finalizeAggregation(val_avg) AS a,
      |    finalizeAggregation(val_max) AS m
      |from aggr_tbl""".stripMargin).collect().head
    assert(fin.getString(0) == "10")
    assert(fin.getString(1) == "4.5")
    assert(fin.getString(2) == "8") // max over even rnd strings 0,2,4,6,8
    // second part with a shifted range: merge folds ACROSS parts
    s.execute("""INSERT INTO aggr_tbl
      |SELECT 1,
      |uniqState(toUInt64(rnd)),
      |maxIfState(toString(rnd), rnd % 2 = 0),
      |avgState(toUInt64(rnd))
      |FROM (SELECT number + 5 as rnd from numbers(10))""".stripMargin)
    val merged = s.sql("""select
      |uniqMerge(val_uniq) AS u,
      |avgMerge(val_avg) AS a,
      |maxIfMerge(val_max) AS m
      |from aggr_tbl""".stripMargin).collect().head
    assert(merged.getLong(0) == 15L) // 0..14 distinct across both parts
    assert(merged.getDouble(1) == 7.0) // mean of 0..9 and 5..14 together
    assert(merged.getString(2) == "8") // "8" still the string max
  }

  test("lecture_13 MV with uniqState into AggregatingMergeTree target " +
      "(lecture_13.md:55-90)") {
    val s = ch
    s.execute("create table t1 (a String, b String) Engine=MergeTree order by a")
    // the type-discovery probe executes (CH prints AggregateFunction(...))
    assert(s.sql("select toTypeName(uniqState(a)) from t1").columns.length == 1)
    s.execute("create table t2 (a String, b AggregateFunction(uniq, String)) " +
      "Engine=AggregatingMergeTree order by a")
    s.execute("create materialized view t1_to_t2 TO t2 as " +
      "select a, uniqState(b) from t1 group by a")
    s.execute("insert into t1 values ('project1', 'user1')")
    s.execute("insert into t1 values ('project1', 'user2')")
    s.execute("insert into t1 values ('project1', 'user3')")
    assert(s.sql("select * from t1").count() == 3)
    // three per-block states in t2, merged on read: 3 distinct users
    val out = s.sql("select a, uniqMerge(b) AS u from t2 group by a")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("project1", 3L)))
  }

  test("lecture_07 virtual columns: _part/_partition_id drive the manual " +
      "ReplacingMT dedup idiom (lecture_07.md:581-609)") {
    val s = ch
    s.execute("CREATE TABLE replacing_tbl (id UInt32, val String) " +
      "ENGINE=ReplacingMergeTree ORDER BY id")
    s.execute("INSERT INTO replacing_tbl VALUES (1, 'v1'), (2, 'x')")
    s.execute("INSERT INTO replacing_tbl VALUES (1, 'v2')")
    // the lecture's manual-dedup spelling, verbatim shape
    val out = s.sql("select * from ( SELECT id, val, _part, _partition_id, " +
      "row_number() over (partition by id order by _partition_id desc, " +
      "_part desc) as lvl FROM replacing_tbl order by lvl asc ) T " +
      "WHERE T.lvl = 1 ORDER BY id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "v2", "all_1_1_0"), (2L, "x", "all_0_0_0")))
    // `*` does NOT leak the virtual columns when none are referenced
    assert(s.sql("select * from replacing_tbl").columns.toSeq ==
      Seq("id", "val"))
  }

  test("lecture_09 MV read: SELECT from a TO-target MV reads the target " +
      "(lecture_09.md:747-763)") {
    val s = ch
    s.execute("CREATE TABLE source_tbl (num UInt64) ENGINE=MergeTree ORDER BY num")
    s.execute("CREATE TABLE mem_target (num UInt64, fld UInt64) " +
      "ENGINE = SummingMergeTree ORDER BY (num)")
    s.execute("CREATE MATERIALIZED VIEW my_mv TO mem_target AS " +
      "SELECT num, num + 10 as fld FROM source_tbl")
    assert(s.sql("SELECT * FROM my_mv").count() == 0) // lecture: 0 rows
    s.execute("INSERT INTO source_tbl SELECT intDiv(number,2) FROM numbers(10)")
    // lecture: 5 rows (the inserted block folds by num at part write)
    val rows = s.sql("SELECT * FROM my_mv ORDER BY num")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((0L, 20L), (1L, 22L), (2L, 24L), (3L, 26L),
      (4L, 28L)))
  }

  test("USE system: unqualified introspection reads (lecture_12 idiom)") {
    val s = ch
    s.execute("USE system")
    assert(s.sql("SELECT name, value FROM merge_tree_settings").count() > 0)
    // `settings` here is a TABLE, not a statement tail
    assert(s.sql("select * from settings").columns.contains("value"))
    s.execute("USE default")
  }

  test("lecture_08 skip indexes through TEXT: ADD/MATERIALIZE/DROP INDEX, " +
      "system.data_skipping_indices, DDL round-trip") {
    val s = ch
    s.execute("create table t1 (dspId UInt64, data String) " +
      "ENGINE=MergeTree ORDER BY dspId")
    // lecture_08.md:127 and :118/:124/:159, verbatim shapes
    s.execute("alter table t1 add index minmaxDsp modulo(dspId,30) TYPE minmax")
    s.execute("alter table t1 materialize index minmaxDsp")
    s.execute("alter table t1 add index idxtoken data " +
      "TYPE tokenbf_v1(1024, 12, 5472725000237720429)")
    val idx = s.sql("select name, type_full, expr, granularity " +
      "from system.data_skipping_indices where table = 't1' order by name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(idx.toSeq == Seq(
      ("idxtoken", "tokenbf_v1(1024, 12, 5472725000237720429)", "data"),
      ("minmaxDsp", "minmax", "modulo(dspId, 30)")))
    // the mutation row the lecture inspects (lecture_08.md:131-136)
    val muts = s.sql("select command, table, is_done from system.mutations " +
      "where table = 't1'").collect()
    assert(muts.exists(_.getString(0).toUpperCase.contains("MATERIALIZE INDEX")))
    // SHOW CREATE TABLE carries the index (lecture_08.md:225)
    val ddl = s.execute("SHOW CREATE TABLE t1").head.collect().head.getString(0)
    assert(ddl.contains("INDEX minmaxDsp") && ddl.contains("TYPE minmax"))
    s.execute("alter table t1 drop index idxtoken")
    assert(s.sql("select * from system.data_skipping_indices " +
      "where table = 't1'").count() == 1)
  }

  test("hw04 CREATE FUNCTION through TEXT: SQL lambda UDFs, " +
      "system.functions origin") {
    val s = ch
    // hw04.md:78-103's shape
    s.execute("CREATE FUNCTION linearEquation AS (x, k, b) -> k*x + b")
    assert(s.sql("SELECT linearEquation(2, 3, 4) AS y").collect()
      .head.get(0).toString.toDouble == 10.0)
    val fns = s.sql("select name, description from system.functions " +
      "where origin = 'SQLUserDefined'").collect()
    assert(fns.exists(_.getString(0) == "linearEquation"))
    // builtins list as System and the table is large
    assert(s.sql("select count() AS n from system.functions " +
      "where origin = 'System'").collect().head.getLong(0) > 100)
    s.execute("DROP FUNCTION linearEquation")
    assert(s.sql("select * from system.functions " +
      "where origin = 'SQLUserDefined'").count() == 0)
  }

  test("lecture_16: CREATE TABLE ... AS system.x clones the schema into " +
      "a user table in the system db (lecture_16.md:230-254)") {
    val s = ch
    s.execute("CREATE TABLE system.tmp_asynchronous_metric_log as " +
      "system.asynchronous_metric_log")
    assert(s.sql("select count() AS n from system.tmp_asynchronous_metric_log")
      .collect().head.getLong(0) == 0L)
    // and the real metrics table carries live values
    val mem = s.sql("select metric, value from system.asynchronous_metrics " +
      "where metric ilike '%memo%'").collect()
    assert(mem.nonEmpty && mem.forall(_.getDouble(1) >= 0.0))
  }

  test("system.tables/parts breadth: primary_key, bytes, part_type " +
      "(lecture_08.md:84, hw08, hw11 probes)") {
    val s = ch
    s.execute("create table t2 (a UInt64, b String) ENGINE=MergeTree ORDER BY (a, b)")
    s.execute("insert into t2 values (1, 'x'), (2, 'y')")
    val row = s.sql("SELECT primary_key FROM system.tables WHERE table = 't2'")
      .collect()
    assert(row.map(_.getString(0)).toSeq == Seq("a, b"))
    val tb = s.sql("select name, total_rows, total_bytes, has_own_data " +
      "from system.tables where name = 't2'").collect().head
    assert(tb.getLong(1) == 2L && tb.getLong(2) > 0L && tb.getInt(3) == 1)
    val part = s.sql("select name, part_type, removal_state from system.parts " +
      "where table = 't2'").collect().head
    assert(part.getString(0) == "all_0_0_0" && part.getString(1) == "Wide")
    // part_log recorded the NewPart event
    val pl = s.sql("select event_type, part_name from system.part_log " +
      "where table = 't2'").collect()
    assert(pl.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("NewPart", "all_0_0_0")))
  }

  test("hw13 BACKUP/RESTORE through TEXT: Disk snapshot round-trip, " +
      "system.backups rows") {
    val s = ch
    s.execute("CREATE TABLE test (id UInt64, v String) ENGINE=MergeTree ORDER BY id")
    s.execute("INSERT INTO test VALUES (1, 'a'), (2, 'b')")
    // hw13.md:44/:63, verbatim shapes
    s.execute("BACKUP TABLE test TO Disk('s3', 'test_new_')")
    s.execute("INSERT INTO test VALUES (3, 'c')") // post-backup drift
    s.execute("RESTORE TABLE test AS test_restored FROM Disk('s3', 'test_new_')")
    val out = s.sql("select * from test_restored order by id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b")))
    val st = s.sql("select name, status from system.backups order by status")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(st.toSeq == Seq(("test_new_", "BACKUP_CREATED"),
      ("test_new_", "RESTORED")))
    // the S3(...) destination is honestly refused (no endpoint here)
    val err = intercept[Exception](s.execute(
      "BACKUP TABLE test TO S3('http://minio:9000/b/', 'k', 's')"))
    assert(err.getMessage.contains("object-store"))
  }

  test("misc dialect closures: generateRandom(), row_number OVER (), " +
      "trace_log introspection display fns") {
    val s = ch
    // lecture_08.md:120
    val g = s.sql("select * from generateRandom('a UInt64') limit 1").collect()
    assert(g.length == 1 && g.head.getLong(0) >= 0L)
    // hw07's rn idiom: ranking window without ORDER BY
    val rn = s.sql("SELECT number, row_number() OVER () AS rn " +
      "FROM numbers(3)").collect()
    assert(rn.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
    // lecture_21.md:344-348 over the (empty) trace log
    assert(s.sql("select arrayStringConcat(arrayMap(x -> " +
      "demangle(addressToSymbol(x)), trace), '\\n') " +
      "from system.trace_log limit 1").count() == 0)
  }

  test("COLUMNS('regex') dynamic projection expands against the FROM " +
      "target (lecture_04/lecture_08 idiom)") {
    val s = ch
    s.execute("create table ct (path_a String, path_b String, other UInt64) " +
      "ENGINE=Memory")
    s.execute("insert into ct values ('x', 'y', 1)")
    val out = s.sql("SELECT COLUMNS('path') FROM ct")
    assert(out.columns.toSeq == Seq("path_a", "path_b"))
    assert(out.collect().head.toSeq == Seq("x", "y"))
    // the lecture_04 spelling over system.parts
    assert(s.sql("SELECT COLUMNS('path') FROM system.parts " +
      "where `table` = 'ct'").columns.toSeq == Seq("path"))
  }

  // --------------------------------------------------------- hw02 DDL

  test("hw02.sql: the trips DDL parses and accepts inserts") {
    val s = ch
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Path.of("/root/reference/homeworks/scripts/hw02.sql"))
    // first two statements: DROP + CREATE (the INSERT needs egress → skip)
    ChLexer.statements(ddl).take(2).foreach(st => s.execute(st))
    s.execute("INSERT INTO trips (trip_id, pickup_datetime, passenger_count, " +
      "total_amount, payment_type, pickup_ntaname) VALUES " +
      "(1, '2024-01-01 10:00:00', 2, 15.5, 'CSH', 'Midtown'), " +
      "(2, '2024-01-01 11:00:00', 1, 8.25, 'CRE', 'Harlem')")
    val out = s.sql(
      "SELECT payment_type, count() AS n, round(avg(total_amount), 2) AS avg_amt " +
        "FROM trips GROUP BY payment_type ORDER BY payment_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("CRE", 1L, 8.25), ("CSH", 1L, 15.5)))
    // missing columns took ClickHouse type-zero defaults
    val zeroed = s.sql("SELECT sum(trip_distance) AS d FROM trips")
      .collect().head.getDouble(0)
    assert(zeroed == 0.0)
  }

  // --------------------------------------------------------- init.sql

  test("ch_and_kafka init.sql: the full MV cascade runs on ingest") {
    val s = ch
    val script = java.nio.file.Files.readString(
      java.nio.file.Path.of("/root/reference/clusters/ch_and_kafka/db/init.sql"))
    s.execute(script)
    // simulate the Kafka consumer delivering one batch into streams.sensor_data
    import spark.implicits._
    val batch = Seq(
      ("""{"sensor_id": 7, "temperature": 21.5, "humidity": 40.25, "timestamp": 1700000000}""",
        "sensor_data", 0L, new java.sql.Timestamp(1700000000000L), 0),
      ("""{"sensor_id": 8, "temperature": -3.0, "humidity": 80.5, "timestamp": 1700000001}""",
        "sensor_data", 1L, new java.sql.Timestamp(1700000001000L), 0))
      .toDF("message", "_topic", "_offset", "_timestamp_ms", "_partition")
    s.ingest("streams.sensor_data", batch)
    // raw MV captured the block with its metadata
    assert(s.sql("SELECT count() AS c FROM raw.sensor_data_raw")
      .collect().head.getLong(0) == 2L)
    // parsed MV extracted typed fields via JSONExtract*
    val parsed = s.sql(
      "SELECT sensor_id, temperature, humidity, timestamp FROM parsed.sensor_data ORDER BY sensor_id")
      .collect().map(r => (r.getLong(0), r.getFloat(1), r.getFloat(2), r.getLong(3)))
    assert(parsed.toSeq == Seq(
      (7L, 21.5f, 40.25f, 1700000000L),
      (8L, -3.0f, 80.5f, 1700000001L)))
  }

  // --------------------------------------------------------- misc ops

  test("OPTIMIZE FINAL materializes the fold; ALTER DELETE/UPDATE mutate") {
    val s = ch
    s.execute(
      """CREATE TABLE m (id UInt32, v UInt32)
        |ENGINE = ReplacingMergeTree ORDER BY id;
        |INSERT INTO m VALUES (1, 10);
        |INSERT INTO m VALUES (1, 20), (2, 5);
        |OPTIMIZE TABLE m FINAL;""".stripMargin)
    assert(s.sql("SELECT count() AS c FROM m").collect().head.getLong(0) == 2L)
    s.execute("ALTER TABLE m UPDATE v = v + 1 WHERE id = 2")
    s.execute("ALTER TABLE m DELETE WHERE id = 1")
    val out = s.sql("SELECT id, v FROM m").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 6L)))
  }

  test("CREATE DICTIONARY + dictGet enriches rows (lecture_12's MV idiom)") {
    val s = ch
    s.execute(
      """CREATE TABLE users (id UInt64, username String) ENGINE = Memory;
        |INSERT INTO users VALUES (1, 'alice'), (2, 'bob');
        |CREATE DICTIONARY users_dict (id UInt64, username String)
        |  PRIMARY KEY id
        |  SOURCE(CLICKHOUSE(HOST 'localhost' PORT 9000 USER 'default'
        |    TABLE 'users' PASSWORD '' DB 'default'))
        |  LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 10);
        |CREATE TABLE posts (post_id UInt64, owner UInt64) ENGINE = Memory;
        |INSERT INTO posts VALUES (10, 2), (11, 1), (12, 9);""".stripMargin)
    val out = s.sql(
      """SELECT post_id, dictGet('users_dict', 'username', owner) AS author,
        |  dictGetOrDefault('users_dict', 'username', owner, 'unknown') AS author_d
        |FROM posts ORDER BY post_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((10L, "bob", "bob"), (11L, "alice", "alice"),
      (12L, null, "unknown")))
  }

  test("joinGet reads an ENGINE=Join table by its key") {
    val s = ch
    s.execute(
      """CREATE TABLE jt (k UInt64, v String) ENGINE = Join(ANY, LEFT, k);
        |INSERT INTO jt VALUES (1, 'one'), (2, 'two');
        |CREATE TABLE f (k UInt64) ENGINE = Memory;
        |INSERT INTO f VALUES (1), (2), (3);""".stripMargin)
    val out = s.sql("SELECT k, joinGet('jt', 'v', k) AS v FROM f ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "one"), (2L, "two"), (3L, null)))
  }

  test("arrayJoin function and ARRAY JOIN clause explode rows") {
    val s = ch
    s.execute(
      """CREATE TABLE av (id UInt32, xs Array(UInt32)) ENGINE = Memory;
        |INSERT INTO av VALUES (1, array(10, 20)), (2, array(30));""".stripMargin)
    val fn = s.sql("SELECT id, arrayJoin(xs) AS x FROM av ORDER BY id, x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fn.toSeq == Seq((1L, 10L), (1L, 20L), (2L, 30L)))
    val clause = s.sql("SELECT id, x FROM av ARRAY JOIN xs AS x ORDER BY id, x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clause.toSeq == fn.toSeq)
  }

  test("ORDER BY ... WITH FILL STEP densifies the axis (hw14 idiom)") {
    val s = ch
    s.execute(
      """CREATE TABLE met (t UInt64, v UInt64) ENGINE = Memory;
        |INSERT INTO met VALUES (1, 5), (4, 7);""".stripMargin)
    val out = s.sql("SELECT t, sum(v) AS sv FROM met GROUP BY t ORDER BY t WITH FILL STEP 1")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 5L), (2L, 0L), (3L, 0L), (4L, 7L)))
  }

  test("WITH FILL FROM/TO bounds (FROM inclusive, TO exclusive)") {
    val s = ch
    s.execute(
      """CREATE TABLE met2 (t UInt64, v UInt64) ENGINE = Memory;
        |INSERT INTO met2 VALUES (3, 5), (5, 7);""".stripMargin)
    val out = s.sql(
      "SELECT t, sum(v) AS sv FROM met2 GROUP BY t ORDER BY t WITH FILL FROM 1 TO 7 STEP 2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // axis 1,3,5 (7 excluded); data points at 3 and 5 survive
    assert(out.toSeq == Seq((1L, 0L), (3L, 5L), (5L, 7L)))
  }

  test("dictGet lowers to a join, not a per-row lookup (plan audit)") {
    val s = ch
    s.execute(
      """CREATE TABLE dusers (id UInt64, name String) ENGINE = Memory;
        |INSERT INTO dusers VALUES (1, 'a');
        |CREATE DICTIONARY dd (id UInt64, name String) PRIMARY KEY id
        |  SOURCE(CLICKHOUSE(TABLE 'dusers')) LAYOUT(FLAT()) LIFETIME(1);
        |CREATE TABLE dfacts (fid UInt64, uid UInt64) ENGINE = Memory;
        |INSERT INTO dfacts VALUES (10, 1);""".stripMargin)
    val df = s.sql("SELECT fid, dictGet('dd', 'name', uid) AS n FROM dfacts")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Join"),
      s"expected the scalar subquery rewritten into a join:\n$plan")
    assert(df.collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("system.tables / system.parts / system.databases introspection") {
    val s = ch
    s.execute(
      """CREATE DATABASE mydb;
        |CREATE TABLE mydb.mt (id UInt32) ENGINE = ReplacingMergeTree ORDER BY id;
        |INSERT INTO mydb.mt VALUES (1);
        |INSERT INTO mydb.mt VALUES (2);""".stripMargin)
    val t = s.sql("SELECT database, name, engine, total_rows FROM system.tables " +
      "WHERE database = 'mydb'").collect()
    assert(t.length == 1 &&
      t.head.getString(2) == "ReplacingMergeTree" && t.head.getLong(3) == 2L)
    // one part per inserted block, like the lectures' part inspection
    val parts = s.sql("SELECT name, table, rows FROM system.parts " +
      "WHERE table = 'mt' ORDER BY name").collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("all_0_0_0", "all_1_1_0"))
    assert(parts.map(_.getLong(2)).sum == 2L)
    assert(s.sql("SELECT count() AS c FROM system.databases WHERE name = 'mydb'")
      .collect().head.getLong(0) == 1L)
  }

  test("hw02's INSERT ... SELECT FROM s3(url, TSVWithNames) over real HTTP") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val files = Map(
      "/trips_0.tsv" -> "trip_id\ttotal_amount\n1\t10.5\n2\t4.25\n",
      "/trips_1.tsv" -> "trip_id\ttotal_amount\n3\t7.0\n")
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    files.foreach { case (p, body) =>
      server.createContext(p, new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          val b = body.getBytes("UTF-8")
          x.sendResponseHeaders(200, b.length)
          x.getResponseBody.write(b)
          x.close()
        }
      })
    }
    server.start()
    try {
      val port = server.getAddress.getPort
      val s = ch
      s.execute(
        """CREATE TABLE trips2 (trip_id UInt32, total_amount Float32)
          |ENGINE = MergeTree ORDER BY trip_id""".stripMargin)
      // the hw02.sql ingest shape with the dataset URL swapped for loopback
      s.execute(
        s"""INSERT INTO trips2 SELECT trip_id, total_amount FROM s3(
           |  'http://127.0.0.1:$port/trips_{0..1}.tsv',
           |  'TabSeparatedWithNames',
           |  'trip_id UInt32, total_amount Float32')""".stripMargin)
      val out = s.sql(
        "SELECT count() AS n, round(sum(total_amount), 2) AS total FROM trips2")
        .collect().head
      assert(out.getLong(0) == 3L && out.getDouble(1) == 21.75)
    } finally server.stop(0)
  }

  test("attachStream: a real micro-batch stream drives the MV cascade") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val s = ch
    s.execute(
      """CREATE TABLE raw_in (k UInt64, v UInt64) ENGINE = Null;
        |CREATE TABLE agg_out (k UInt64, v UInt64)
        |  ENGINE = SummingMergeTree ORDER BY k;
        |CREATE MATERIALIZED VIEW dmv TO agg_out AS
        |  SELECT k, v * 2 AS v FROM raw_in;""".stripMargin)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("chs_stream").toString
    val q = s.attachStream("raw_in",
      mem.toDF.select(col("_1").as("k"), col("_2").as("v")), ckpt)
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      mem.addData((1L, 5L))
      q.processAllAvailable()
      // two micro-batches → two parts; FINAL folds to the running totals
      val got = s.sql("SELECT k, v FROM agg_out FINAL ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((1L, 30L), (2L, 40L)))
    } finally q.stop()
  }

  test("merge(db, regex) unions matching tables with _table (lecture_08)") {
    val s = ch
    s.execute(
      """CREATE TABLE log_a (v UInt32) ENGINE = Memory;
        |CREATE TABLE log_b (v UInt32) ENGINE = Memory;
        |CREATE TABLE other (v UInt32) ENGINE = Memory;
        |INSERT INTO log_a VALUES (1);
        |INSERT INTO log_b VALUES (2), (3);
        |INSERT INTO other VALUES (99);""".stripMargin)
    val out = s.sql(
      "SELECT _table, sum(v) AS sv FROM merge(default, '^log_') " +
        "GROUP BY _table ORDER BY _table")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("log_a", 1L), ("log_b", 5L)))
  }

  test("Enum8 columns compare as their underlying numbers while " +
    "selecting as the label (lecture_20.md:620, lecture_17's level enum)") {
    val s = ch
    s.execute("CREATE TABLE en_t (id UInt8, level Enum8('Fatal' = 1, " +
      "'Critical' = 2, 'Error' = 3)) ENGINE = Memory; " +
      "INSERT INTO en_t VALUES (1, 'Fatal'), (2, 'Critical'), (3, 'Error')")
    assert(s.sql("SELECT id FROM en_t WHERE level = 2")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(s.sql("SELECT id FROM en_t WHERE level IN (1, 3) ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // the label still selects/compares as a string
    assert(s.sql("SELECT id FROM en_t WHERE level = 'Error'")
      .collect().head.getInt(0) == 3)
    assert(s.sql("SELECT level FROM en_t WHERE id = 1")
      .collect().head.getString(0) == "Fatal")
    // NOT IN maps through the same table (a string-vs-int comparison
    // would silently return EMPTY here, not the complement)
    assert(s.sql("SELECT id FROM en_t WHERE level NOT IN (1, 3)")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // non-enum integer comparisons are untouched
    assert(s.sql("SELECT count() AS c FROM en_t WHERE id = 2")
      .collect().head.getLong(0) == 1L)
    // the lecture_20 monitoring idiom over system.query_log's type enum
    // resolves and runs (honestly empty of exception events)
    assert(s.sql("select * from system.query_log where type in (3, 4)")
      .collect().length >= 0)
  }

  test("Enum numeric comparisons: review-pass regressions (subquery IN " +
    "untouched, ==/reversed operands, overflow literal, comma cross-join, " +
    "ALTER DELETE maps and keeps NULL-predicate rows)") {
    val s = ch
    s.execute("CREATE TABLE en_r (id UInt8, level Enum8('Fatal' = 1, " +
      "'Critical' = 2, 'Error' = 3)) ENGINE = Memory; " +
      "CREATE TABLE en_codes (lvl UInt8, flag UInt8) ENGINE = Memory; " +
      "INSERT INTO en_r VALUES (1, 'Fatal'), (2, 'Critical'), (3, 'Error'); " +
      "INSERT INTO en_codes VALUES (1, 1), (2, 0)")
    // == and the reversed literal both map
    assert(s.sql("SELECT id FROM en_r WHERE level == 2")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(s.sql("SELECT id FROM en_r WHERE 3 = level")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    // an IN subquery must NOT have its interior integers rewritten —
    // 'flag = 1' stays numeric (it would become flag = 'Fatal')
    assert(s.sql("SELECT id FROM en_r WHERE CAST(id AS String) IN " +
      "(SELECT CAST(lvl AS String) FROM en_codes WHERE flag = 1)")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    // out-of-Int-range literal: not silently mis-mapped — it surfaces as
    // an error, like ClickHouse's "unknown element" for an enum value
    // that doesn't exist (ANSI cast of the unmapped label fails)
    intercept[Exception] {
      s.sql("SELECT id FROM en_r WHERE level = 99999999999").collect()
    }
    // comma cross-join: two targets, so the mapping conservatively
    // stands down — en_codes.lvl = 2 stays a numeric comparison
    assert(s.sql("SELECT en_r.id AS i FROM en_r, en_codes " +
      "WHERE en_codes.lvl = 2 AND en_r.id = 1")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    // the mutation path maps enum numbers AND keeps NULL-predicate rows
    s.execute("ALTER TABLE en_r DELETE WHERE level = 2")
    assert(s.sql("SELECT id FROM en_r ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    s.execute("CREATE TABLE en_n (id UInt8, v Nullable(UInt8)) " +
      "ENGINE = Memory; " +
      "INSERT INTO en_n VALUES (1, 5), (2, NULL), (3, 7)")
    s.execute("ALTER TABLE en_n DELETE WHERE v = 5")
    // row 2's predicate is NULL -> ClickHouse keeps it (NOT() would wipe)
    assert(s.sql("SELECT id FROM en_n ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("SELECT ... INTO OUTFILE writes the file (refusing to overwrite) " +
    "with extension-inferred or declared FORMAT") {
    val s = ch
    s.execute("CREATE TABLE of_t (a UInt8, b String) ENGINE = Memory; " +
      "INSERT INTO of_t VALUES (1, 'x'), (2, 'y')")
    val dir = java.nio.file.Files.createTempDirectory("graft_outfile")
    val csv = s"$dir/out.csv"
    s.sql(s"SELECT a, b FROM of_t ORDER BY a INTO OUTFILE '$csv'").collect()
    assert(java.nio.file.Files.readString(java.nio.file.Path.of(csv))
      == "1,x\n2,y\n")
    // declared FORMAT wins over the extension
    val named = s"$dir/out.dat"
    s.sql(s"SELECT a, b FROM of_t ORDER BY a INTO OUTFILE '$named' " +
      "FORMAT CSVWithNames").collect()
    assert(java.nio.file.Files.readString(java.nio.file.Path.of(named))
      .startsWith("a,b\n1,x"))
    // existing file refuses, exactly ClickHouse's contract
    val err = intercept[IllegalArgumentException] {
      s.sql(s"SELECT a FROM of_t INTO OUTFILE '$csv'").collect()
    }
    assert(err.getMessage.contains("already exists"))
    // the declared FORMAT survives a trailing SETTINGS tail, and the
    // statement returns NO rows to the caller (the client-summary
    // contract — the file write already ran the job once)
    val st = s"$dir/out3.dat"
    val res = s.sql(s"SELECT a, b FROM of_t ORDER BY a INTO OUTFILE '$st' " +
      "FORMAT CSVWithNames SETTINGS max_threads = 1").collect()
    assert(res.isEmpty)
    assert(java.nio.file.Files.readString(java.nio.file.Path.of(st))
      .startsWith("a,b\n1,x"))
  }

  test("a column named format in INSERT…SELECT never flips the lexer " +
    "into verbatim payload copy (and a stray ')' cannot disable the " +
    "';' terminator)") {
    val s = ch
    s.execute(
      "CREATE TABLE fmt_src (format String, x UInt8) ENGINE = Memory; " +
        "INSERT INTO fmt_src VALUES ('csv', 1), ('tsv', 2); " +
        "CREATE TABLE fmt_dst (format String, x UInt8) ENGINE = Memory")
    // one SCRIPT: the subquery's trailing ')' would push a mis-armed
    // payload copier's depth negative, swallowing the ';' and the whole
    // rest of the script (comment unstripped) — so the follow-up SELECT
    // only runs if the trigger stayed off
    val res = s.execute(
      "INSERT INTO fmt_dst SELECT format, x FROM " +
        "(SELECT format, x FROM fmt_src); " +
        "-- a comment the cleaner must strip\n" +
        "SELECT count() AS c FROM fmt_dst;")
    assert(res.last.collect().head.getLong(0) == 2L)
  }

  test("whitespace-only inline TSV payload raises the dialect error, " +
    "not NoSuchElementException") {
    val s = ch
    s.execute("CREATE TABLE tsv_empty (a UInt8) ENGINE = Memory")
    val err = intercept[IllegalArgumentException] {
      s.execute("INSERT INTO tsv_empty FORMAT TSVWithNames\n   \n  ")
    }
    assert(err.getMessage.toLowerCase.contains("data"),
      s"wanted the dialect's no-data message, got: ${err.getMessage}")
  }

  test("now() ± N means N SECONDS; toStartOfInterval takes INTERVAL " +
    "literals (lecture_20/hw14 monitoring windows)") {
    val s = ch
    assert(s.sql("SELECT toDate(now() - 86400) <= toDate(now()) AS ok")
      .collect().head.getBoolean(0))
    assert(s.sql("SELECT now() + 3600 > now() AS ok")
      .collect().head.getBoolean(0))
    s.execute(
      """CREATE TABLE iv_t (ts DateTime, v UInt32) ENGINE = Memory;
        |INSERT INTO iv_t VALUES ('2024-01-01 00:00:30', 1),
        |  ('2024-01-01 00:00:40', 2), ('2024-01-01 00:01:10', 4)""".stripMargin)
    val r = s.sql(
      "SELECT toStartOfInterval(ts, INTERVAL 1 MINUTE)::INT AS t, " +
        "sum(v) AS sv FROM iv_t GROUP BY t ORDER BY t")
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    assert(r.length == 2 && r(0)._2 == 3L && r(1)._2 == 4L)
    assert(r(1)._1 - r(0)._1 == 60)
  }

  test("merge over heterogeneous schemas takes the FIRST table's " +
    "structure (ClickHouse Merge semantics); merge(system, 'log') runs") {
    val s = ch
    s.execute(
      """CREATE TABLE het_a (v UInt32, only_a String) ENGINE = Memory;
        |CREATE TABLE het_b (v UInt32, only_b UInt32) ENGINE = Memory;
        |INSERT INTO het_a VALUES (1, 'x');
        |INSERT INTO het_b VALUES (2, 7);""".stripMargin)
    val df = s.sql("SELECT * FROM merge(default, '^het_') ORDER BY v")
    // first match's columns (+ _table); het_b's only_a is NULL
    assert(df.columns.toSeq == Seq("v", "only_a", "_table"))
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(1).isNullAt(1))
    // the broad regex over system tables (query_log/part_log/trace_log
    // have different schemas) no longer throws AnalysisException
    assert(s.sql("SELECT count() AS n FROM merge(system, 'log')")
      .collect().length == 1)
  }

  test("SHOW CREATE TABLE round-trips through the DDL parser") {
    val s = ch
    s.execute("CREATE TABLE sct (id UInt64, v Nullable(Float64), " +
      "s String DEFAULT 'x') ENGINE = ReplacingMergeTree ORDER BY id")
    val ddl = s.execute("SHOW CREATE TABLE sct").head
      .collect().head.getString(0)
    assert(ddl.contains("ReplacingMergeTree") && ddl.contains("Nullable(Float64)")
      && ddl.contains("DEFAULT 'x'"))
    // the emitted DDL is itself valid input
    val s2 = ch
    s2.execute(ddl.replace("default.sct", "default.sct2"))
    s2.execute("INSERT INTO sct2 (id) VALUES (1)")
    val row = s2.sql("SELECT id, v, s FROM sct2").collect().head
    assert(row.getLong(0) == 1L && row.isNullAt(1) && row.getString(2) == "x")
  }

  test("EXPLAIN returns the physical plan") {
    val s = ch
    s.execute("CREATE TABLE ex (v UInt32) ENGINE = Memory; " +
      "INSERT INTO ex VALUES (1)")
    val res = s.execute("EXPLAIN SELECT v FROM ex WHERE v > 0")
    assert(res.nonEmpty && res.head.collect().nonEmpty)
  }

  test("parquet storage mode: blocks land as appended parts on disk") {
    val dir = java.nio.file.Files.createTempDirectory("chs_store").toString
    val s = new ChSession(spark, storageDir = Some(dir))
    s.execute(
      """CREATE TABLE st (id UInt32, v UInt32)
        |ENGINE = SummingMergeTree ORDER BY id;
        |INSERT INTO st VALUES (1, 10), (1, 5);
        |INSERT INTO st VALUES (1, 7), (2, 2);""".stripMargin)
    // the table IS a parquet directory now
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(dir, "default", "st")))
    // two parts (per-block folded at insert), FINAL folds across them
    val parts = s.sql("SELECT rows FROM system.parts WHERE table = 'st'")
      .collect().map(_.getLong(0)).sorted
    assert(parts.toSeq == Seq(1L, 2L))
    val fin = s.sql("SELECT id, v FROM st FINAL ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fin.toSeq == Seq((1L, 22L), (2L, 2L)))
    // OPTIMIZE FINAL compacts the directory to the folded contents
    s.execute("OPTIMIZE TABLE st FINAL")
    assert(s.sql("SELECT count() AS c FROM st").collect().head.getLong(0) == 2L)
    s.execute("ALTER TABLE st DELETE WHERE id = 1")
    assert(s.sql("SELECT count() AS c FROM st").collect().head.getLong(0) == 1L)
  }

  test("lecture_09 Join-engine demo verbatim: ANY INNER JOIN + joinGet") {
    val s = ch
    // lectures/lecture_09.md:237-271, statements run as written (minus the
    // deliberately-erroring ANY LEFT JOIN the lecture shows failing)
    s.execute(
      """drop table if exists main_data;
        |drop table if exists desc_data;
        |CREATE TABLE main_data
        |(
        |    id UInt32,
        |    desc_id UInt32
        |)
        |ENGINE = TinyLog;
        |CREATE TABLE desc_data (
        |    desc_id UInt32,
        |    desc String
        |)
        |engine = Join(ANY, INNER , desc_id);
        |INSERT INTO main_data VALUES (1,10), (2,20), (3,30);
        |INSERT INTO desc_data VALUES (10, 'mysql'),(20, 'pg'),(30, 'ch');""".stripMargin)
    val j = s.sql("SELECT * FROM main_data ANY INNER JOIN desc_data USING (desc_id)")
    assert(j.count() == 3)
    val jg = s.sql(
      """SELECT id, joinGet(desc_data, 'desc', toUInt32(desc_id)) as description
        |FROM main_data""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(jg.toSeq == Seq((1L, "mysql"), (2L, "pg"), (3L, "ch")))
  }

  test("lecture_09 Set-engine demo: val IN SX prefilters the fact scan") {
    val s = ch
    // lectures/lecture_09.md:445-480 with numbers(30M) scaled 10x down —
    // the expected count is unchanged (val = number*10 < 30000 → 3000)
    s.execute(
      """drop table if exists SX;
        |drop table if exists MX;
        |drop table if exists HL;
        |CREATE TABLE SX ( hbx UInt32 ) ENGINE = Set SETTINGS persistent=1;
        |CREATE TABLE MX ( hbx UInt32 ) ENGINE = Memory;
        |INSERT INTO MX SELECT number from numbers(30000);
        |INSERT INTO SX SELECT number from numbers(30000);
        |CREATE TABLE HL (id UInt32, val UInt32)
        |ENGINE = MergeTree ORDER BY (val);
        |INSERT INTO HL SELECT number, number * 10 from numbers(3000000);""".stripMargin)
    assert(s.sql("SELECT COUNT(*) AS c FROM MX").collect().head.getLong(0) == 30000L)
    val c = s.sql("SELECT count(*) AS c FROM HL WHERE val IN SX")
      .collect().head.getLong(0)
    assert(c == 3000L) // the lecture's captured output (lecture_09.md:474)
  }

  test("attach: a new session re-opens the catalog and keeps appending") {
    val dir = java.nio.file.Files.createTempDirectory("chs_attach").toString
    val s1 = new ChSession(spark, storageDir = Some(dir))
    s1.execute(
      """CREATE DATABASE metrics;
        |CREATE TABLE metrics.raw (k UInt32, v UInt32) ENGINE = Null;
        |CREATE TABLE metrics.agg (k UInt32, v UInt32)
        |  ENGINE = SummingMergeTree ORDER BY k;
        |CREATE MATERIALIZED VIEW metrics.mv TO metrics.agg AS
        |  SELECT k, v FROM metrics.raw;
        |INSERT INTO metrics.raw VALUES (1, 10), (2, 20);""".stripMargin)
    // a SECOND session attaches to the same directory: catalog replayed,
    // data visible, MV still fires, part numbering resumes
    val s2 = ChSession.attach(spark, dir)
    assert(s2.sql("SELECT count() AS c FROM metrics.agg")
      .collect().head.getLong(0) == 2L)
    s2.execute("INSERT INTO metrics.raw VALUES (1, 5)")
    val out = s2.sql("SELECT k, v FROM metrics.agg FINAL ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 15L), (2L, 20L)))
    // parts: one per insert, numbered across sessions
    val parts = s2.sql(
      "SELECT name FROM system.parts WHERE table = 'agg' ORDER BY name")
      .collect().map(_.getString(0))
    assert(parts.toSeq == Seq("all_0_0_0", "all_1_1_0"))
  }

  test("attach: implicit-inner MVs and plain views replay from the journal") {
    val dir = java.nio.file.Files.createTempDirectory("chs_attach2").toString
    val s1 = new ChSession(spark, storageDir = Some(dir))
    s1.execute(
      """CREATE TABLE base (k UInt32, v UInt32) ENGINE = MergeTree ORDER BY k;
        |CREATE MATERIALIZED VIEW sums ENGINE = SummingMergeTree ORDER BY k
        |  AS SELECT k, v FROM base;
        |CREATE VIEW doubled AS SELECT k, v * 2 AS v2 FROM base;
        |INSERT INTO base VALUES (1, 10), (1, 5), (2, 7);""".stripMargin)
    // a second session must replay: the MV's implicit inner table (journal
    // emits CREATE TABLE sums + CREATE MV sums TO sums), and the plain view
    val s2 = ChSession.attach(spark, dir)
    s2.execute("INSERT INTO base VALUES (2, 3)")
    val mvOut = s2.sql("SELECT k, sum(v) AS s FROM sums GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mvOut.toSeq == Seq((1L, 15L), (2L, 10L))) // MV still fires post-attach
    val viewOut = s2.sql("SELECT sum(v2) AS s FROM doubled")
      .collect().head.getLong(0)
    assert(viewOut == 50L) // (10+5+7+3)*2 — the view survived the attach
  }

  test("attach: torn catalog journal is refused; a crash-orphaned tmp " +
    "recovers (r11 atomicity hardening)") {
    val dir = java.nio.file.Files.createTempDirectory("chs_torn").toString
    val s1 = new ChSession(spark, storageDir = Some(dir))
    s1.execute(
      """CREATE TABLE t1 (k UInt32) ENGINE = MergeTree ORDER BY k;
        |CREATE TABLE t2 (k UInt32) ENGINE = MergeTree ORDER BY k;
        |INSERT INTO t1 VALUES (1);""".stripMargin)
    val journal = java.nio.file.Paths.get(dir, "_catalog.sql")
    // the test edits the journal OUT OF BAND (simulating a torn write),
    // so Hadoop LocalFileSystem's checksum sidecars must go too
    def dropCrc(): Unit = Seq("._catalog.sql.crc", "._catalog.sql.tmp.crc")
      .foreach(n => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, n)))
    val full = java.nio.file.Files.readString(journal)
    assert(full.contains("graft:catalog:end"),
      "journal must end with the terminator marker")
    // clean replay first
    assert(ChSession.attach(spark, dir)
      .sql("SELECT count() AS c FROM t1").collect().head.getLong(0) == 1L)
    // tear the journal (drop the tail including the terminator): attach
    // must REFUSE rather than silently resurrect only t1
    assert(full.indexOf("t2") > 0, s"journal spelling changed?\n$full")
    java.nio.file.Files.writeString(journal,
      full.substring(0, full.indexOf("t2")))
    dropCrc()
    val err = intercept[IllegalStateException] {
      ChSession.attach(spark, dir)
    }
    assert(err.getMessage.contains("torn"), err.getMessage)
    // crash between delete and rename: only a COMPLETE tmp remains —
    // attach recovers it into place and replays normally
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_catalog.sql.tmp"), full)
    java.nio.file.Files.delete(journal)
    dropCrc()
    val s3 = ChSession.attach(spark, dir)
    assert(s3.sql("SELECT count() AS c FROM t1").collect().head.getLong(0) == 1L)
    assert(java.nio.file.Files.exists(journal),
      "recovery must move the tmp into place")
    // garbage APPENDED after the terminator is also torn — the marker
    // must be the journal's final content, not merely present somewhere
    java.nio.file.Files.writeString(journal,
      full + "CREATE TABLE t3 (k UInt32) ENGINE = Memory;\n")
    dropCrc()
    val err2 = intercept[IllegalStateException] {
      ChSession.attach(spark, dir)
    }
    assert(err2.getMessage.contains("torn"), err2.getMessage)
    // the refusal tells the operator HOW to recover a journal they KNOW
    // is complete (r12, advisor find: pre-terminator deployments)
    assert(err2.getMessage.contains("append"), err2.getMessage)
  }

  test("attach: a pre-terminator legacy journal (complete, ';'-ended) " +
    "replays and is upgraded with the marker (r12, advisor find)") {
    val dir = java.nio.file.Files.createTempDirectory("chs_legacy").toString
    val s1 = new ChSession(spark, storageDir = Some(dir))
    s1.execute(
      """CREATE TABLE lt1 (k UInt32) ENGINE = MergeTree ORDER BY k;
        |CREATE TABLE lt2 (k UInt32) ENGINE = MergeTree ORDER BY k;
        |INSERT INTO lt1 VALUES (1);""".stripMargin)
    val journal = java.nio.file.Paths.get(dir, "_catalog.sql")
    def dropCrc(): Unit = Seq("._catalog.sql.crc", "._catalog.sql.tmp.crc")
      .foreach(n => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, n)))
    // simulate a journal written BEFORE the terminator existed: drop the
    // marker line — the content still ends at a ';' statement boundary,
    // which is what every writer version has ever emitted
    val full = java.nio.file.Files.readString(journal)
    val legacy = full.linesIterator
      .filterNot(_.trim == "-- graft:catalog:end").mkString("\n") + "\n"
    assert(legacy.trim.endsWith(";"), legacy)
    java.nio.file.Files.writeString(journal, legacy)
    dropCrc()
    val s2 = ChSession.attach(spark, dir)
    assert(s2.sql("SELECT count() AS c FROM lt1")
      .collect().head.getLong(0) == 1L)
    assert(s2.sql("SELECT count() AS c FROM lt2")
      .collect().head.getLong(0) == 0L)
    // one-time upgrade: the accepted legacy journal is rewritten WITH
    // the marker, so subsequent attaches take the strict path
    val upgraded = java.nio.file.Files.readString(journal)
    assert(upgraded.linesIterator.toSeq.last.trim == "-- graft:catalog:end",
      upgraded)
    // a ';'-ended file that contains the marker MID-file is appended
    // garbage on a terminator-era journal, NOT legacy — still refused
    java.nio.file.Files.writeString(journal,
      upgraded + "CREATE TABLE lt3 (k UInt32) ENGINE = Memory;\n")
    dropCrc()
    val err = intercept[IllegalStateException](ChSession.attach(spark, dir))
    assert(err.getMessage.contains("torn"), err.getMessage)
  }

  test("CTAS with explicit schema lands selected data positionally") {
    val s = ch
    s.execute(
      """CREATE TABLE pos (a UInt32, b String) ENGINE = Memory
        |  AS SELECT number, concat('r', toString(number)) FROM numbers(3);""".stripMargin)
    val out = s.sql("SELECT a, b FROM pos ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // the selected columns (named `number`, `concat(...)`) must fill a and
    // b by POSITION — not silently turn into DEFAULT zeros
    assert(out.toSeq == Seq((0L, "r0"), (1L, "r1"), (2L, "r2")))
  }

  test("hw03's CLI load replays: INSERT ... FORMAT CSVWithNames from a file") {
    val s = ch
    // the hw03 dish DDL verbatim (homeworks/hw03.md:42-53)
    s.execute(
      """CREATE TABLE dish
        |(
        |    id UInt32,
        |    name String,
        |    description String,
        |    menus_appeared UInt32,
        |    times_appeared Int32,
        |    first_appeared UInt16,
        |    last_appeared UInt16,
        |    lowest_price Decimal64(3),
        |    highest_price Decimal64(3)
        |) ENGINE = MergeTree ORDER BY id;""".stripMargin)
    // a Dish.csv-shaped file; header order deliberately differs from the
    // DDL to prove *WithNames aligns by NAME, not position
    val dir = java.nio.file.Files.createTempDirectory("chs_infile")
    val csv = dir.resolve("Dish.csv")
    java.nio.file.Files.writeString(csv,
      """name,id,description,menus_appeared,times_appeared,first_appeared,last_appeared,lowest_price,highest_price
        |Consomme printaniere royal,1,,8,8,1897,1927,0.2,0.4
        |Chicken gumbo,2,,111,117,1895,1960,0.1,0.8
        |Tomato aux croutons,3,,14,14,1893,1917,0.25,0.4
        |""".stripMargin)
    s.insertFromFile("dish", csv.toString, "CSVWithNames")
    val out = s.sql("SELECT id, name, lowest_price FROM dish ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDecimal(2).toPlainString))
    assert(out.toSeq == Seq(
      (1L, "Consomme printaniere royal", "0.200"),
      (2L, "Chicken gumbo", "0.100"),
      (3L, "Tomato aux croutons", "0.250")))
    // the SQL spelling lands through the same path and appends a new part
    val csv2 = dir.resolve("Dish2.csv")
    java.nio.file.Files.writeString(csv2,
      """id,name,description,menus_appeared,times_appeared,first_appeared,last_appeared,lowest_price,highest_price
        |4,Clam broth (cup),7,7,7,1896,1903,0.1,0.35
        |""".stripMargin)
    s.execute(s"INSERT INTO dish FROM INFILE '$csv2' FORMAT CSVWithNames")
    assert(s.sql("SELECT count() AS c FROM dish").collect().head.getLong(0) == 4L)
  }

  test("INSERT ... FORMAT with an inline payload: Values, CSV[WithNames], JSONEachRow") {
    val s = ch
    s.execute(
      """CREATE TABLE ev (id UInt32, name String, score Float64)
        |ENGINE = MergeTree ORDER BY id""".stripMargin)
    // client inline-data idiom (lecture_03.md:196-203)
    s.execute("INSERT INTO ev FORMAT Values (1, 'a', 1.5), (2, 'b', 2.5)")
    // headerless CSV aligns by POSITION onto the declared columns
    s.execute(
      """INSERT INTO ev FORMAT CSV
        |3,c,3.5
        |4,d,4.5""".stripMargin)
    // *WithNames aligns by NAME — header order differs from the DDL
    s.execute(
      """INSERT INTO ev FORMAT CSVWithNames
        |name,score,id
        |e,5.5,5""".stripMargin)
    // JSONEachRow aligns by name too; missing cols take the type zero
    s.execute(
      """INSERT INTO ev FORMAT JSONEachRow
        |{"id": 6, "name": "f", "score": 6.5}
        |{"id": 7, "name": "g"}""".stripMargin)
    val out = s.sql("SELECT id, name, score FROM ev ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5),
      (4L, "d", 4.5), (5L, "e", 5.5), (6L, "f", 6.5), (7L, "g", 0.0)))
    // a column list narrows the positional target set
    s.execute(
      """INSERT INTO ev (id, name) FORMAT CSV
        |8,h""".stripMargin)
    assert(s.sql("SELECT score FROM ev WHERE id = 8").collect()
      .head.getDouble(0) == 0.0)
    // the payload lands as a BLOCK: attached MVs fire on it
    s.execute(
      """CREATE TABLE ev_sum (name String, total Float64)
        |ENGINE = SummingMergeTree ORDER BY name;
        |CREATE MATERIALIZED VIEW ev_mv TO ev_sum AS
        |  SELECT name, sum(score) AS total FROM ev GROUP BY name;
        |INSERT INTO ev FORMAT Values (9, 'z', 1.0), (10, 'z', 2.0)""".stripMargin)
    assert(s.sql("SELECT total FROM ev_sum WHERE name = 'z'").collect()
      .head.getDouble(0) == 3.0)
  }

  test("parameterized queries: {name:Type} binds from params / SET param_") {
    val s = ch
    s.execute(
      """CREATE TABLE pq (id UInt32, name String) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO pq VALUES (1, 'a'), (2, 'b'), (3, 'it''s')""".stripMargin)
    // explicit params (the CLI --param_id surface, lecture_03.md:265-307)
    assert(s.sql("SELECT name FROM pq WHERE id = {id:UInt8}",
      Map("id" -> "2")).collect().head.getString(0) == "b")
    // typed: a UInt8 param compares numerically, a String param as text
    assert(s.sql("SELECT count() AS c FROM pq WHERE id > {id:UInt8}",
      Map("id" -> "1")).collect().head.getLong(0) == 2L)
    assert(s.sql("SELECT id FROM pq WHERE name = {n:String}",
      Map("n" -> "it's")).collect().head.getLong(0) == 3L)
    // session bindings via SET param_x; explicit params win
    s.execute("SET param_id = 3")
    assert(s.sql("SELECT name FROM pq WHERE id = {id:UInt8}")
      .collect().head.getString(0) == "it's")
    assert(s.sql("SELECT name FROM pq WHERE id = {id:UInt8}",
      Map("id" -> "1")).collect().head.getString(0) == "a")
    // Identifier splices a name; statements without a binding fail loudly
    assert(s.sql("SELECT max({c:Identifier}) AS m FROM pq",
      Map("c" -> "id")).collect().head.getLong(0) == 3L)
    val err = intercept[IllegalArgumentException] {
      s.sql("SELECT {missing:UInt8}")
    }
    assert(err.getMessage.contains("missing"))
    // literal-protected: {} inside strings (DDL macros, format strings)
    // are NOT parameters
    assert(s.sql("SELECT '{not:AParam}' AS x").collect()
      .head.getString(0) == "{not:AParam}")
  }

  test("PARTITION BY: per-partition parts, partition-scoped FINAL, DROP/DETACH/ATTACH") {
    val s = ch
    s.execute(
      """CREATE TABLE pt (id UInt32, d Date, v UInt32)
        |ENGINE = ReplacingMergeTree ORDER BY id
        |PARTITION BY toYYYYMM(d);
        |INSERT INTO pt VALUES (1, '2024-05-10', 10), (1, '2024-06-10', 20), (2, '2024-06-11', 30)""".stripMargin)
    // one inserted block splits into one part per partition value
    val parts = s.sql(
      """SELECT partition, rows FROM system.parts
        |WHERE table = 'pt' ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts.toSeq == Seq(("202405", 1L), ("202406", 2L)))
    // FINAL folds per PARTITION: id=1 exists in both months and survives
    // twice (parts of different partitions never merge)
    assert(s.sql("SELECT count() AS c FROM pt FINAL").collect()
      .head.getLong(0) == 3L)
    // the same key twice in ONE partition folds to the later row
    s.execute("INSERT INTO pt VALUES (2, '2024-06-12', 99)")
    val v2 = s.sql(
      "SELECT v FROM pt FINAL WHERE id = 2 ORDER BY v").collect()
    assert(v2.map(_.getLong(0)).toSeq == Seq(99L))
    // DETACH parks a partition; ATTACH brings it back; DROP discards
    s.execute("ALTER TABLE pt DETACH PARTITION 202405")
    assert(s.sql("SELECT count() AS c FROM pt").collect()
      .head.getLong(0) == 3L)
    s.execute("ALTER TABLE pt ATTACH PARTITION 202405")
    assert(s.sql("SELECT count() AS c FROM pt").collect()
      .head.getLong(0) == 4L)
    s.execute("ALTER TABLE pt DROP PARTITION 202406")
    val left = s.sql("SELECT id, v FROM pt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(left.toSeq == Seq((1L, 10L)))
    // partition ops appear in the mutation log
    assert(s.sql(
      """SELECT count() AS c FROM system.mutations
        |WHERE command LIKE '%PARTITION%'""".stripMargin)
      .collect().head.getLong(0) >= 3L)
  }

  test("PARTITION BY parquet-backed: hive layout, directory-delete DROP, journal replay") {
    val dir = java.nio.file.Files.createTempDirectory("chs_part").toString
    val s = new ChSession(spark, Some(dir))
    s.execute(
      """CREATE TABLE pt (id UInt32, m UInt32, v UInt32)
        |ENGINE = MergeTree ORDER BY id PARTITION BY m;
        |INSERT INTO pt VALUES (1, 1, 10), (2, 1, 20), (3, 2, 30);
        |INSERT INTO pt VALUES (4, 2, 40)""".stripMargin)
    // hive-style partition directories on disk
    val root = new java.io.File(s"$dir/default/pt")
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("__graft_partition=1", "__graft_partition=2"))
    // three parts: each insert splits per partition value it touches
    assert(s.sql("SELECT count() AS c FROM system.parts WHERE table = 'pt'")
      .collect().head.getLong(0) == 3L)
    // DROP PARTITION deletes the directory (cheap bulk delete)
    s.execute("ALTER TABLE pt DROP PARTITION 2")
    assert(!new java.io.File(root, "__graft_partition=2").exists())
    assert(s.sql("SELECT count() AS c FROM pt").collect()
      .head.getLong(0) == 2L)
    // the journal carries PARTITION BY: a new session re-attaches with
    // partition ops still working
    val s2 = ChSession.attach(spark, dir)
    s2.execute("INSERT INTO pt VALUES (5, 3, 50)")
    assert(s2.sql("SELECT count() AS c FROM pt").collect()
      .head.getLong(0) == 3L)
    s2.execute("ALTER TABLE pt DROP PARTITION 1")
    assert(s2.sql("SELECT sum(v) AS sv FROM pt").collect()
      .head.getLong(0) == 50L)
  }

  test("review regressions: WITH via execute, CLEAR PROJECTION, composite/last partitions, ALTER keeps TTL, guarded payloads") {
    val s = ch
    // WITH-headed statements must NOT split at their main SELECT
    val cte = s.execute(
      "WITH x AS (SELECT 42 AS v) SELECT v FROM x")
    assert(cte.map(_.collect().head.getInt(0)).toSeq == Seq(42))
    // ClickHouse scalar WITH binds a constant (hw11.md:38) — each use
    // inlines; the JSON-dictionary idiom runs verbatim
    assert(s.sql("WITH 10 AS n SELECT n + 1 AS m").collect()
      .head.getInt(0) == 11)
    assert(s.sql(
      """WITH '{"1": "login", "2": "logout"}' AS activity_type_cte
        |SELECT JSONExtractString(activity_type_cte, '2') AS t""".stripMargin)
      .collect().head.getString(0) == "logout")
    // composite PARTITION BY tuple: ALTER value text matches the stamp
    s.execute(
      """CREATE TABLE cp (a UInt32, b String, v UInt32)
        |ENGINE = MergeTree ORDER BY a PARTITION BY (a, b);
        |INSERT INTO cp VALUES (1, 'x', 10), (1, 'y', 20), (2, 'x', 30)""".stripMargin)
    s.execute("ALTER TABLE cp DROP PARTITION (1, 'x')")
    assert(s.sql("SELECT sum(v) AS sv FROM cp").collect().head.getLong(0) == 50L)
    // dropping the LAST partition leaves a readable empty table
    // (parquet-backed: the root dir must not survive with no data files)
    val dir = java.nio.file.Files.createTempDirectory("chs_lastpart").toString
    val sp = new ChSession(spark, Some(dir))
    sp.execute(
      """CREATE TABLE lp (id UInt32, m UInt32) ENGINE = MergeTree
        |ORDER BY id PARTITION BY m;
        |INSERT INTO lp VALUES (1, 7)""".stripMargin)
    sp.execute("ALTER TABLE lp DROP PARTITION 7")
    assert(sp.sql("SELECT count() AS c FROM lp").collect().head.getLong(0) == 0L)
    // ALTER ADD COLUMN keeps the table TTL (and SHOW CREATE still shows it)
    s.execute(
      """CREATE TABLE keep (id UInt32, d Date) ENGINE = MergeTree ORDER BY id
        |TTL d + INTERVAL 7 DAY;
        |ALTER TABLE keep ADD COLUMN note String""".stripMargin)
    assert(s.execute("SHOW CREATE TABLE keep").head.collect().head
      .getString(0).contains("TTL d + INTERVAL 7 DAY"))
    // JSON payload strings with '--' and statement keywords survive
    s.execute(
      """CREATE TABLE jp (id UInt32, note String) ENGINE = Memory;
        |INSERT INTO jp FORMAT JSONEachRow
        |{"id": 1, "note": "please ALTER this -- not a comment"}""".stripMargin)
    assert(s.sql("SELECT note FROM jp").collect().head.getString(0)
      == "please ALTER this -- not a comment")
  }

  test("CLEAR PROJECTION keeps the definition; MATERIALIZE rebuilds it") {
    val dir = java.nio.file.Files.createTempDirectory("chs_clearproj").toString
    val s = new ChSession(spark, Some(dir))
    graft.plans.ProjectionRouting.clear()
    s.execute(
      """CREATE TABLE cpj (k UInt32, v UInt32) ENGINE = MergeTree ORDER BY k;
        |INSERT INTO cpj VALUES (1, 10), (1, 20), (2, 30);
        |ALTER TABLE cpj ADD PROJECTION pj (SELECT k, sum(v) GROUP BY k);
        |ALTER TABLE cpj MATERIALIZE PROJECTION pj;
        |ALTER TABLE cpj CLEAR PROJECTION pj""".stripMargin)
    // cleared: files gone, def kept — MATERIALIZE rebuilds
    assert(s.sql("SELECT count() AS c FROM system.projection_parts")
      .collect().head.getLong(0) == 0L)
    s.execute("ALTER TABLE cpj MATERIALIZE PROJECTION pj")
    val routed = s.sql("SELECT k, sum(v) AS sv FROM cpj GROUP BY k ORDER BY k")
    assert(routed.queryExecution.executedPlan.toString.contains("__proj_"))
    assert(routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 30L), (2L, 30L)))
  }

  test("an aggregate over a Nullable column still routes to its projection") {
    val dir = java.nio.file.Files.createTempDirectory("chs_nullproj").toString
    val s = new ChSession(spark, Some(dir))
    graft.plans.ProjectionRouting.clear()
    s.execute(
      """CREATE TABLE npj (k UInt32, v Nullable(UInt32)) ENGINE = MergeTree
        |  ORDER BY k;
        |INSERT INTO npj VALUES (1, 10), (1, 20), (2, 30), (2, NULL);
        |ALTER TABLE npj ADD PROJECTION pj (SELECT k, sum(v) GROUP BY k);
        |ALTER TABLE npj MATERIALIZE PROJECTION pj""".stripMargin)
    val routed = s.sql("SELECT k, sum(v) AS sv FROM npj GROUP BY k ORDER BY k")
    assert(routed.queryExecution.executedPlan.toString.contains("__proj_"))
    assert(routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 30L), (2L, 30L)))
  }

  test("EXPLAIN tolerates CH kinds and options (indexes = 1, SYNTAX)") {
    val s = ch
    s.execute(
      """CREATE TABLE ex (id UInt32) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO ex VALUES (1), (2)""".stripMargin)
    // lecture_07.md:198-230 runs `explain indexes = 1 select ...`
    val out = s.execute("EXPLAIN indexes = 1 SELECT id FROM ex WHERE id = 1")
    assert(out.head.collect().nonEmpty)
    val syn = s.execute("EXPLAIN SYNTAX SELECT count() FROM ex")
    assert(syn.head.collect().nonEmpty)
  }

  test("table TTL: declared or MODIFYed, shown by SHOW CREATE, enforced at merge") {
    val s = ch
    // declared at CREATE (the hw09 shape: keep the last 7 days)
    s.execute(
      """CREATE TABLE tt (id UInt32, created_at Date)
        |ENGINE = MergeTree ORDER BY id
        |TTL created_at + INTERVAL 7 DAY;
        |INSERT INTO tt VALUES (1, '2000-01-01');
        |INSERT INTO tt VALUES (2, today())""".stripMargin)
    // SHOW CREATE TABLE carries the TTL (hw09's deliverable)
    val ddl = s.execute("SHOW CREATE TABLE tt").head.collect().head.getString(0)
    assert(ddl.contains("TTL created_at + INTERVAL 7 DAY"))
    // rows survive until a merge — then the expired one drops
    assert(s.sql("SELECT count() AS c FROM tt").collect().head.getLong(0) == 2L)
    s.execute("OPTIMIZE TABLE tt FINAL")
    val left = s.sql("SELECT id FROM tt").collect().map(_.getLong(0))
    assert(left.toSeq == Seq(2L))
    // MODIFY TTL + MATERIALIZE TTL (hw11.md:197): tighten and apply now
    s.execute("INSERT INTO tt VALUES (3, '2001-01-01')")
    s.execute("ALTER TABLE tt MODIFY TTL created_at + INTERVAL 1 DAY")
    s.execute("ALTER TABLE tt MATERIALIZE TTL")
    assert(s.sql("SELECT id FROM tt").collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    assert(s.execute("SHOW CREATE TABLE tt").head.collect().head.getString(0)
      .contains("TTL created_at + INTERVAL 1 DAY"))
  }

  test("projections through CH text: hw08 flow, transparent routing, insert maintenance") {
    val dir = java.nio.file.Files.createTempDirectory("chs_proj").toString
    val s = new ChSession(spark, Some(dir))
    graft.plans.ProjectionRouting.clear()
    // hw08.md:40-48 shape with deterministic data
    s.execute(
      """CREATE TABLE sales (id UInt32, product_id UInt32, quantity UInt32,
        |  price Float64) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO sales SELECT number AS id, number % 3 AS product_id,
        |  1 + number % 4 AS quantity, 2.0 AS price FROM numbers(100);
        |ALTER TABLE sales DROP PROJECTION IF EXISTS sales_product_agg_proj;
        |ALTER TABLE sales ADD PROJECTION sales_product_agg_proj (
        |  SELECT product_id, sum(quantity), sum(quantity * price)
        |  GROUP BY product_id);
        |ALTER TABLE sales MATERIALIZE PROJECTION sales_product_agg_proj""".stripMargin)
    // the projection pre-aggregate exists and is introspectable
    val pp = s.sql(
      "SELECT name, rows FROM system.projection_parts WHERE table = 'sales'")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pp.toSeq == Seq(("sales_product_agg_proj", 3L)))
    // a covered aggregate ROUTES: the physical plan reads the projection
    // parquet, not the fact table
    val routed = s.sql(
      """SELECT product_id, sum(quantity) AS tq,
        |  sum(quantity * price) AS ts
        |FROM sales GROUP BY product_id ORDER BY product_id""".stripMargin)
    assert(routed.queryExecution.executedPlan.toString.contains("__proj_"))
    val got = routed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent recompute: ids 0..99, product = id % 3, qty = 1 + id % 4
    val expect = (0 until 100).map(i => (i % 3, 1 + i % 4))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, xs) =>
        (p.toLong, xs.map(_._2).sum.toLong, xs.map(_._2 * 2.0).sum) }
    assert(got.toSeq == expect)
    // insert maintenance: new rows reflected through the routed path
    s.execute("INSERT INTO sales VALUES (100, 0, 10, 2.0)")
    assert(s.sql(
      "SELECT sum(quantity) AS tq FROM sales WHERE product_id = 0 GROUP BY product_id")
      .collect().head.getLong(0) == expect.head._2 + 10L)
    // DROP PROJECTION disarms routing
    s.execute("ALTER TABLE sales DROP PROJECTION sales_product_agg_proj")
    val unrouted = s.sql(
      "SELECT product_id, sum(quantity) AS tq FROM sales GROUP BY product_id")
    assert(!unrouted.queryExecution.executedPlan.toString.contains("__proj_"))
    // stale-routing regression: re-arm, DROP TABLE, recreate at the same
    // path with different data — the fresh table must NOT route to the
    // old pre-aggregate
    s.execute(
      """ALTER TABLE sales ADD PROJECTION sales_product_agg_proj (
        |  SELECT product_id, sum(quantity) GROUP BY product_id);
        |ALTER TABLE sales MATERIALIZE PROJECTION sales_product_agg_proj;
        |DROP TABLE sales;
        |CREATE TABLE sales (id UInt32, product_id UInt32, quantity UInt32,
        |  price Float64) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO sales VALUES (0, 7, 5, 1.0)""".stripMargin)
    val fresh = s.sql(
      "SELECT product_id, sum(quantity) AS tq FROM sales GROUP BY product_id")
    assert(!fresh.queryExecution.executedPlan.toString.contains("__proj_"))
    assert(fresh.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((7L, 5L)))
  }

  test("monitoring surface: query_log, metrics, events (lecture_20 shapes)") {
    val s = ch
    s.execute(
      """CREATE TABLE m (id UInt32) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO m VALUES (1), (2), (3);
        |SELECT count() FROM m""".stripMargin)
    intercept[Exception] { s.sql("SELECT boom FROM no_such_table") }
    // the 10-slowest-queries idiom (lecture_20.md:629-654) runs verbatim:
    // duration measured, ProfileEvents subscripted, memory formatted
    val slow = s.sql(
      """SELECT type, event_time, query_duration_ms,
        |  formatReadableSize(memory_usage) AS memory,
        |  ProfileEvents['UserTimeMicroseconds'] AS userCPU
        |FROM system.query_log
        |ORDER BY query_duration_ms DESC LIMIT 10""".stripMargin).collect()
    assert(slow.nonEmpty && slow.length <= 10)
    // exception queries are typed and carry the message
    val errs = s.sql(
      """SELECT query, exception FROM system.query_log
        |WHERE type = 'ExceptionWhileProcessing'""".stripMargin).collect()
    assert(errs.exists(_.getString(0).contains("no_such_table")))
    // durations are measured (the INSERT did real work), queries recorded
    val q = s.sql(
      "SELECT count() AS n FROM system.query_log WHERE query LIKE 'INSERT%'")
      .collect().head.getLong(0)
    assert(q == 1L)
    // events counters move with the dispatch mix
    val ev = s.sql(
      "SELECT event, value FROM system.events").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ev("InsertQuery") == 1L && ev("SelectQuery") >= 2L &&
      ev("FailedQuery") >= 1L)
    // metrics: active parts reflect the session catalog
    val parts = s.sql(
      "SELECT value FROM system.metrics WHERE metric = 'PartsActive'")
      .collect().head.getLong(0)
    assert(parts >= 1L)
    // merges/processes resolve with their schemas (synchronous engine:
    // both empty)
    assert(s.sql("SELECT count() AS c FROM system.merges")
      .collect().head.getLong(0) == 0L)
    assert(s.sql("SELECT count() AS c FROM system.processes")
      .collect().head.getLong(0) == 0L)
    // replication infra tables resolve with the reference's columns and
    // are empty (single-engine deployment); lecture_20's queries run
    assert(s.sql(
      """SELECT table, replica_name, node_name, merge_type
        |FROM system.replication_queue
        |WHERE last_exception is not null
        |  and last_attempt_time > now() - interval 1 hour""".stripMargin)
      .collect().isEmpty)
    assert(s.sql("SELECT count() AS c FROM system.replicas")
      .collect().head.getLong(0) == 0L)
    assert(s.sql("SELECT cluster, host_name FROM system.clusters")
      .collect().head.getString(0) == "default")
    assert(s.sql("SELECT substitution FROM system.macros WHERE macro = 'replica'")
      .collect().head.getString(0) == "replica_1")
  }

  test("system breadth: mutations, settings, disks, richer tables/parts") {
    val s = ch
    s.execute(
      """CREATE TABLE mt (id UInt32, v UInt32) ENGINE = MergeTree ORDER BY id;
        |INSERT INTO mt VALUES (1, 10), (2, 20), (3, 30);
        |ALTER TABLE mt UPDATE v = 99 WHERE id = 2;
        |ALTER TABLE mt DELETE WHERE id = 3;
        |SET max_threads = 4;""".stripMargin)
    // mutations: the two ALTERs logged, both done
    val muts = s.sql(
      "SELECT table, command, is_done FROM system.mutations ORDER BY mutation_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(muts.length == 2 && muts.forall(_._3 == 1))
    assert(muts(0)._2.toUpperCase.startsWith("UPDATE"))
    assert(muts(1)._2.toUpperCase.startsWith("DELETE"))
    // settings: the SET overlays the default and flags changed=1
    val mt = s.sql(
      "SELECT value, changed FROM system.settings WHERE name = 'max_threads'")
      .collect().head
    assert(mt.getString(0) == "4" && mt.getInt(1) == 1)
    assert(s.sql("SELECT name, value FROM system.merge_tree_settings " +
      "WHERE name LIKE '%insert%'").count() >= 2) // the lecture_20 probe
    // disks: one local default disk with real capacity numbers
    val disk = s.sql("SELECT name, free_space, total_space FROM system.disks")
      .collect().head
    assert(disk.getString(0) == "default" && disk.getLong(2) > 0)
    // tables: uuid is stable, create_table_query round-trips
    val tbl = s.sql("SELECT uuid, create_table_query FROM system.tables " +
      "WHERE name = 'mt'").collect().head
    assert(tbl.getString(0).matches("[0-9a-f-]{36}"))
    assert(tbl.getString(1).startsWith("CREATE TABLE"))
    // parts: bytes_on_disk positive, marks granule-derived
    val part = s.sql("SELECT bytes_on_disk, marks FROM system.parts " +
      "WHERE table = 'mt'").collect().head
    assert(part.getLong(0) > 0 && part.getLong(1) >= 1)
  }

  test("Null engine discards rows but fires MVs") {
    val s = ch
    s.execute(
      """CREATE TABLE src (v UInt32) ENGINE = Null;
        |CREATE TABLE agg (v UInt32) ENGINE = Memory;
        |CREATE MATERIALIZED VIEW mv1 TO agg AS SELECT v * 2 AS v FROM src;
        |INSERT INTO src VALUES (1), (2), (3);""".stripMargin)
    assert(s.sql("SELECT count() AS c FROM src").collect().head.getLong(0) == 0L)
    assert(s.sql("SELECT sum(v) AS s FROM agg").collect().head.getLong(0) == 12L)
  }

  // ---- round-8 review fixes ----

  test("ANY RIGHT JOIN ... ON keeps every right row, dedups LEFT matches") {
    val s = ch
    s.execute(
      """CREATE TABLE arl (k UInt32, lv String) ENGINE = Memory;
        |CREATE TABLE arr (k UInt32, rv String) ENGINE = Memory;
        |INSERT INTO arl VALUES (1, 'a1'), (1, 'a2'), (2, 'b');
        |INSERT INTO arr VALUES (1, 'x'), (1, 'y'), (3, 'z');""".stripMargin)
    val rows = s.sql(
      "SELECT rv, lv FROM arl ANY RIGHT JOIN arr ON arl.k = arr.k ORDER BY rv")
      .collect()
    // all 3 right rows survive (the pre-fix right-side dedup dropped
    // duplicate-key right rows); each gets at most ONE left match
    assert(rows.length == 3, s"expected 3 right rows, got ${rows.length}")
    val byRv = rows.map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // join_use_nulls = 0 (the default): the unmatched left side reads
    // its String type default '', not NULL — the unqualified `lv` is
    // resolved to the defaultable side since the r10 ownership pass
    assert(byRv("z").contains(""),
      "unmatched right row must fill the left side's type default")
    assert(byRv("x").nonEmpty && byRv("x") == byRv("y"),
      "both k=1 right rows must see the SAME single left pick")
  }

  test("ANY RIGHT JOIN with a composite (two-table) left side dedups the " +
    "whole left tree; unmatched right rows fill left-tree type defaults") {
    val s = ch
    s.execute(
      """CREATE TABLE cta (k UInt32, x String) ENGINE = Memory;
        |CREATE TABLE ctb (k UInt32, y String) ENGINE = Memory;
        |CREATE TABLE ctc (k UInt32, z String) ENGINE = Memory;
        |INSERT INTO cta VALUES (1, 'x1'), (1, 'x1b'), (2, 'x2');
        |INSERT INTO ctb VALUES (1, 'y1'), (2, 'y2');
        |INSERT INTO ctc VALUES (1, 'z1'), (3, 'z3');""".stripMargin)
    val q = """SELECT a.x, b.y, c.z FROM cta a JOIN ctb b USING (k)
              |ANY RIGHT JOIN ctc c ON a.k = c.k ORDER BY c.z""".stripMargin
    val rows = s.sql(q).collect()
    // every right row survives EXACTLY once: the pre-r10 throw is gone,
    // and the tree's duplicate k=1 match is deduped to one pick
    assert(rows.length == 2, s"expected 2 right rows, got ${rows.length}")
    assert(rows(0).getString(2) == "z1" && rows(1).getString(2) == "z3")
    // the matched row picked ONE tree row (k=1): x ∈ {x1, x1b}, y = y1
    assert(Set("x1", "x1b")(rows(0).getString(0)) &&
      rows(0).getString(1) == "y1")
    // join_use_nulls = 0 (default): the unmatched z3 row reads the left
    // TREE components' type defaults, not NULLs
    assert(rows(1).getString(0) == "" && rows(1).getString(1) == "",
      s"unmatched composite left tree must fill defaults: ${rows(1)}")
    // the pick is xxhash-stable: a second run returns the same row
    assert(s.sql(q).collect()(0).getString(0) == rows(0).getString(0))
    // SETTINGS join_use_nulls = 1 restores SQL NULLs on the miss
    val nu = s.sql(q.replace("ORDER BY c.z",
      "ORDER BY c.z SETTINGS join_use_nulls = 1")).collect()
    assert(nu(1).isNullAt(0) && nu(1).isNullAt(1),
      "join_use_nulls = 1 must surface NULLs on the composite miss")
  }

  test("ASOF JOIN in SQL text: all four inequality modes, inner + LEFT, " +
    "ON and USING forms, against a brute-force model") {
    val s = ch
    s.execute(
      """CREATE TABLE aql (k UInt32, t UInt32, a String) ENGINE = Memory;
        |CREATE TABLE aqr (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO aql VALUES (1, 10, 'a10'), (1, 20, 'a20'), (2, 10, 'b10'), (3, 15, 'c15');
        |INSERT INTO aqr VALUES (1, 5, 'r5'), (1, 20, 'r20'), (2, 25, 'r25'), (4, 1, 'r1');""".stripMargin)
    val lRows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 15L))
    val rRows = Seq((1L, 5L, "r5"), (1L, 20L, "r20"), (2L, 25L, "r25"), (4L, 1L, "r1"))
    def model(op: String): Map[(Long, Long), Option[String]] =
      lRows.map { case (k, t) =>
        val cand = rRows.filter(_._1 == k).filter { r =>
          op match {
            case ">=" => r._2 <= t
            case ">" => r._2 < t
            case "<=" => r._2 >= t
            case "<" => r._2 > t
          }
        }
        val pick =
          if (cand.isEmpty) None
          else Some((op match {
            case ">=" | ">" => cand.maxBy(_._2)
            case _ => cand.minBy(_._2)
          })._3)
        (k, t) -> pick
      }.toMap
    Seq(">=", ">", "<=", "<").foreach { op =>
      // LEFT: every left row survives; a miss fills the String type
      // default '' under join_use_nulls = 0 (the dialect default)
      val left = s.sql(
        s"""SELECT l.k AS k, l.t AS t, l.a AS a, r.v AS v
           |FROM aql l ASOF LEFT JOIN aqr r ON l.k = r.k AND l.t $op r.t
           |ORDER BY k, t""".stripMargin).collect()
      assert(left.length == 4, s"op $op: ASOF LEFT keeps all left rows")
      left.foreach { row =>
        val key = (row.getLong(0), row.getLong(1))
        val expect = model(op)(key).getOrElse("")
        assert(row.getString(3) == expect,
          s"op $op $key: got ${row.getString(3)}, expected $expect")
      }
      // inner: only matched left rows survive
      val inner = s.sql(
        s"""SELECT l.k AS k, l.t AS t, r.v AS v
           |FROM aql l ASOF JOIN aqr r ON l.k = r.k AND l.t $op r.t
           |ORDER BY k, t""".stripMargin).collect()
      val expInner = lRows.flatMap { case (k, t) =>
        model(op)((k, t)).map(v => (k, t, v)) }
      assert(inner.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq == expInner, s"op $op: inner ASOF mismatch")
    }
    // USING form: the LAST column is the time, inclusive-backward;
    // unqualified k/t resolve to the kept left values
    val us = s.sql(
      """SELECT k, t, a, v FROM aql ASOF LEFT JOIN aqr USING (k, t)
        |ORDER BY k, t""".stripMargin).collect()
    assert(us.length == 4)
    us.foreach { row =>
      val expect = model(">=")((row.getLong(0), row.getLong(1))).getOrElse("")
      assert(row.getString(3) == expect, s"USING ${row.getLong(0)}: $row")
    }
    // join_use_nulls = 1: the ASOF miss surfaces NULL instead of ''
    val nu = s.sql(
      """SELECT l.k AS k, r.v AS v
        |FROM aql l ASOF LEFT JOIN aqr r ON l.k = r.k AND l.t >= r.t
        |ORDER BY k, l.t SETTINGS join_use_nulls = 1""".stripMargin).collect()
    assert(nu.exists(_.isNullAt(1)),
      "join_use_nulls = 1 must surface NULL on the k=3 ASOF miss")
    // bare `*` over USING reads each key once, the left side's
    val star = s.sql("SELECT * FROM aql ASOF LEFT JOIN aqr USING (k, t)")
    assert(star.columns.toSeq == Seq("k", "t", "a", "v"), star.columns.toSeq)
    assert(star.collect().length == 4)
    // two ASOF joins in one SELECT: the latest event at or before each
    // left row and the first at or after it
    val two = s.sql(
      """SELECT l.k AS k, l.t AS t, b.v AS before, f.v AS after
        |FROM aql l ASOF LEFT JOIN aqr b ON l.k = b.k AND l.t >= b.t
        |ASOF LEFT JOIN aqr f ON l.k = f.k AND l.t <= f.t
        |ORDER BY k, t""".stripMargin).collect()
    assert(two.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getString(3))).toSeq == lRows.map { case (k, t) =>
        (k, t, model(">=")((k, t)).getOrElse(""),
          model("<=")((k, t)).getOrElse(""))
      }, two.toSeq)
    // the ON form runs on the native operator
    val onPlan = s.sql("SELECT l.a, r.v FROM aql l ASOF LEFT JOIN aqr r " +
      "ON l.k = r.k AND l.t >= r.t").queryExecution.optimizedPlan
    assert(onPlan.collectFirst { case p: graft.plans.AsOfJoinPlan => p }
      .nonEmpty, onPlan.treeString)
    // a NULL key or time matches nothing, not another NULL: '' under
    // LEFT, no row under INNER
    s.execute(
      """CREATE TABLE asnl (k Nullable(UInt32), t Nullable(UInt32), a String) ENGINE = Memory;
        |CREATE TABLE asnr (k Nullable(UInt32), t Nullable(UInt32), v String) ENGINE = Memory;
        |INSERT INTO asnl VALUES (NULL, 10, 'ln'), (2, NULL, 'tn'), (1, 10, 'l1');
        |INSERT INTO asnr VALUES (NULL, 5, 'rn'), (2, NULL, 'sn'), (1, 5, 'r1');""".stripMargin)
    Seq("ASOF LEFT JOIN" -> Seq(("l1", "r1"), ("ln", ""), ("tn", "")),
      "ASOF JOIN" -> Seq(("l1", "r1"))).foreach { case (kind, expect) =>
      val got = s.sql(s"SELECT l.a, r.v FROM asnl l $kind asnr r " +
        "ON l.k = r.k AND l.t >= r.t ORDER BY l.a").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == expect, s"$kind over NULL keys and times: $got")
    }
  }

  test("ANY LEFT JOIN ... ON accepts an unqualified right column (hw06 idiom)") {
    val s = ch
    s.execute(
      """CREATE TABLE mv2 (id UInt32, title String) ENGINE = Memory;
        |CREATE TABLE ge2 (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO mv2 VALUES (1, 't1'), (2, 't2');
        |INSERT INTO ge2 VALUES (1, 'x'), (1, 'y'), (2, 'z');""".stripMargin)
    val out = s.sql(
      "SELECT title, genre FROM mv2 AS mm ANY LEFT JOIN ge2 ON mm.id = movie_id ORDER BY title")
      .collect()
    assert(out.length == 2, "one row per left row")
    assert(out.map(_.getString(0)).toSeq == Seq("t1", "t2"))
  }

  test("ANY LEFT JOIN ... ON tolerates a left-only filter conjunct") {
    val s = ch
    s.execute(
      """CREATE TABLE mv3 (id UInt32, title String) ENGINE = Memory;
        |CREATE TABLE ge3 (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO mv3 VALUES (1, 't1'), (2, 't2');
        |INSERT INTO ge3 VALUES (1, 'x'), (1, 'y'), (2, 'z');""".stripMargin)
    val rows = s.sql(
      """SELECT title, genre FROM mv3 AS mm ANY LEFT JOIN ge3 AS gg
        |ON mm.id = gg.movie_id AND mm.id = 1 ORDER BY title""".stripMargin)
      .collect()
    // the filter conjunct references no right column: it gates WHICH
    // left rows match, not which right row is picked — pre-fix it threw
    assert(rows.length == 2)
    // join_use_nulls = 0: t2's miss fills the String default '' (the
    // unqualified `genre` resolves to the right side since r10)
    assert(rows(1).getString(1) == "", "mm.id=1 disables t2's match")
    assert(rows(0).getString(1).nonEmpty)
  }

  test("any() the aggregate does not mask a later ANY JOIN") {
    val s = ch
    s.execute(
      """CREATE TABLE mv4 (id UInt32, title String) ENGINE = Memory;
        |CREATE TABLE ge4 (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO mv4 VALUES (1, 't1'), (2, 't2');
        |INSERT INTO ge4 VALUES (1, 'x'), (1, 'y'), (2, 'z');""".stripMargin)
    val n = s.sql(
      "SELECT any(title) AS t0, count() AS n FROM mv4 ANY LEFT JOIN ge4 ON mv4.id = ge4.movie_id")
      .collect().head.getLong(1)
    // pre-fix the scan stopped at the aggregate and the ANY JOIN token
    // reached Spark verbatim (parse error); with the dedup applied the
    // duplicate movie_id=1 genre cannot inflate the count
    assert(n == 2L, s"expected 2 joined rows, got $n")
  }

  test("ANY LEFT JOIN t FINAL folds FINAL inside the dedup wrap") {
    val s = ch
    s.execute(
      """CREATE TABLE afl (k UInt32, lv String) ENGINE = Memory;
        |CREATE TABLE afr (k UInt32, v UInt32) ENGINE = ReplacingMergeTree ORDER BY k;
        |INSERT INTO afl VALUES (1, 'a'), (2, 'b');
        |INSERT INTO afr VALUES (1, 10);
        |INSERT INTO afr VALUES (1, 11);""".stripMargin)
    val rows = s.sql(
      "SELECT lv, v FROM afl ANY LEFT JOIN afr FINAL ON afl.k = afr.k ORDER BY lv")
      .collect()
    assert(rows.length == 2)
    // FINAL keeps the LAST inserted version; pre-fix FINAL was mistaken
    // for the right table's alias and the rewrite threw
    assert(rows(0).getLong(1) == 11L)
  }

  test("countState counts non-null values of ANY type, not just numerics") {
    val s = ch
    s.execute(
      """CREATE TABLE cst (grp UInt8, s Nullable(String)) ENGINE = Memory;
        |INSERT INTO cst VALUES (1, 'red'), (1, NULL), (2, 'blue');""".stripMargin)
    val n = s.sql(
      "SELECT countMerge(c) AS n FROM (SELECT grp, countState(s) AS c FROM cst GROUP BY grp)")
      .collect().head.getLong(0)
    // pre-fix the BIGINT arg cast nulled every string and counted 0
    assert(n == 2L, s"countState over strings: expected 2, got $n")
  }

  test("ANTI JOIN right-side columns read as type defaults (hw06 idiom)") {
    val s = ch
    s.execute(
      """CREATE TABLE mvx (id UInt32, name String, year UInt16) ENGINE = Memory;
        |CREATE TABLE gex (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO mvx VALUES (1, 'm1', 2001), (2, 'm2', 2002), (3, 'm3', 2003);
        |INSERT INTO gex VALUES (1, 'drama'), (1, 'short');""".stripMargin)
    // hw06.md:137-149: selecting g.genre alongside the anti join renders
    // the String default '' for every (by definition unmatched) row
    val rows = s.sql(
      """SELECT m.name, m.year, g.genre
        |FROM mvx m LEFT ANTI JOIN gex g ON m.id = g.movie_id
        |ORDER BY m.name""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("m2", "m3"))
    assert(rows.forall(_.getString(2) == ""), "right column must read ''")
    assert(rows.head.schema.fieldNames.toSeq == Seq("name", "year", "genre"),
      "the substituted literal keeps the column's name")
    // an unqualified right column resolves and reads the default too
    val uq = s.sql(
      """SELECT name, genre FROM mvx m LEFT ANTI JOIN gex g ON m.id = g.movie_id
        |ORDER BY name""".stripMargin).collect()
    assert(uq.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("m2", ""), ("m3", "")), "unqualified genre must read ''")
    // `g.*` over a subquery side expands to its columns' defaults
    val sub = s.sql(
      """SELECT m.name, g.* FROM mvx m
        |LEFT ANTI JOIN (SELECT movie_id, genre FROM gex) g ON m.id = g.movie_id
        |ORDER BY m.name""".stripMargin).collect()
    assert(sub.head.schema.fieldNames.toSeq == Seq("name", "movie_id", "genre"))
    assert(sub.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("m2", 0L, ""), ("m3", 0L, "")), "g.* must read 0 and ''")
    // a bare `*` under USING reads the merged key, the left and the
    // right columns, the right ones as defaults
    s.execute(
      """CREATE TABLE ul (k UInt32, a String) ENGINE = Memory;
        |CREATE TABLE ur (k UInt32, b String) ENGINE = Memory;
        |INSERT INTO ul VALUES (1, 'x'), (2, 'y');
        |INSERT INTO ur VALUES (1, 'q');""".stripMargin)
    val us = s.sql("SELECT * FROM ul l LEFT ANTI JOIN ur r USING (k)").collect()
    assert(us.head.schema.fieldNames.toSeq == Seq("k", "a", "b"))
    assert(us.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((2L, "y", "")), "USING star must read b = ''")
    // an unqualified name both sides have stays the left side's (in the
    // select list, WHERE and ORDER BY); qualified, the right one reads 0
    val sh = s.sql(
      """SELECT k, r.k AS rk FROM ul l LEFT ANTI JOIN ur r ON l.k = r.k
        |WHERE k > 0 ORDER BY k""".stripMargin).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 0L)),
      "unqualified k must read the left side")
    val self = s.sql(
      "SELECT k FROM ul x LEFT ANTI JOIN ul y ON x.k = y.k + 1 ORDER BY k")
      .collect()
    assert(self.map(_.getLong(0)).toSeq == Seq(1L), "self-anti k is x.k")
    // a query that never reads the right side stays on the native path:
    // its optimized plan is Spark's anti join, never a LEFT join
    val cnt = s.sql(
      "SELECT count() AS c FROM mvx m LEFT ANTI JOIN gex g ON m.id = g.movie_id")
    assert(cnt.collect().head.getLong(0) == 2L)
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = cnt.queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    assert(joins.contains(LeftAnti) && !joins.contains(LeftOuter), joins)
    // a numeric right column reads 0, inside an expression too
    val v = s.sql(
      """SELECT m.name, g.movie_id + 100 AS shifted
        |FROM mvx m LEFT ANTI JOIN gex g ON m.id = g.movie_id
        |ORDER BY m.name LIMIT 1""".stripMargin).collect().head
    assert(v.getLong(1) == 100L, "numeric default is 0 inside expressions")
    // a backtick-quoted qualifier (`g`.genre) is the same reference and
    // substitutes the same default
    val bq = s.sql(
      """SELECT m.name, `g`.genre
        |FROM mvx m LEFT ANTI JOIN gex g ON m.id = g.movie_id
        |ORDER BY m.name""".stripMargin).collect()
    assert(bq.forall(_.getString(1) == ""),
      "backtick-qualified right column must read '' too")
    // RIGHT ANTI keeps the right side's REAL values — the default
    // substitution applies only to LEFT/bare ANTI (rewrite-level check:
    // the qualified reference must survive untouched)
    val alwaysEmpty = new graft.chsql.ChSqlRewrite.Resolver {
      import org.apache.spark.sql.types._
      def resolve(ident: String) =
        if (ident == "gex") Some(ChSqlRewrite.ResolvedTable("gex")) else None
      override def describe(viewName: String) =
        Some(StructType(Seq(StructField("genre", StringType))))
    }
    val r = graft.chsql.ChSqlRewrite.rewrite(
      "SELECT g.genre FROM mvx m RIGHT ANTI JOIN gex g ON m.id = g.movie_id",
      alwaysEmpty)
    assert(r.sql.contains("g.genre"),
      s"RIGHT ANTI must not substitute the kept side's columns: ${r.sql}")
  }

  test("join_use_nulls = 0 (ClickHouse default): unmatched LEFT JOIN " +
    "right columns read type defaults; SET join_use_nulls = 1 restores NULLs") {
    val s = ch
    s.execute(
      """CREATE TABLE mvj (id UInt32, name String) ENGINE = Memory;
        |CREATE TABLE gj (movie_id UInt32, genre String,
        |  score Nullable(Int32)) ENGINE = Memory;
        |INSERT INTO mvj VALUES (1, 'm1'), (2, 'm2');
        |INSERT INTO gj VALUES (1, 'drama', 5);""".stripMargin)
    val q = """SELECT m.id, g.genre, g.movie_id, g.score
              |FROM mvj m LEFT JOIN gj g ON m.id = g.movie_id
              |ORDER BY m.id""".stripMargin
    val rows = s.sql(q).collect()
    // matched row keeps its real values
    assert(rows(0).getString(1) == "drama" && rows(0).getLong(2) == 1L &&
      rows(0).getInt(3) == 5)
    // unmatched: String '' and UInt32 0 (lecture_10's join_use_nulls
    // demo); a Nullable(Int32) column's ClickHouse default IS NULL
    assert(rows(1).getString(1) == "", "unmatched String must read ''")
    assert(rows(1).getLong(2) == 0L, "unmatched UInt32 must read 0")
    assert(rows(1).isNullAt(3), "unmatched Nullable must stay NULL")
    // RIGHT JOIN: the unmatched LEFT side defaults (single-table left)
    s.execute("INSERT INTO gj VALUES (9, 'scifi', 1)")
    val rj = s.sql(
      """SELECT m.name, g.genre FROM mvj m RIGHT JOIN gj g
        |ON m.id = g.movie_id ORDER BY g.movie_id""".stripMargin).collect()
    assert(rj(1).getString(0) == "", "RIGHT JOIN unmatched left String = ''")
    assert(rj(1).getString(1) == "scifi")
    // FULL JOIN: both sides default on their unmatched rows
    val fj = s.sql(
      """SELECT m.name, g.genre FROM mvj m FULL JOIN gj g
        |ON m.id = g.movie_id ORDER BY m.id, g.movie_id""".stripMargin)
      .collect()
    assert(fj.exists(r => r.getString(0) == "" && r.getString(1) == "scifi"),
      "FULL JOIN unmatched left side must default")
    assert(fj.exists(r => r.getString(0) == "m2" && r.getString(1) == ""),
      "FULL JOIN unmatched right side must default")
    // LEFT ANY JOIN keeps the wrap (the defaults pass runs before the
    // ANY rewrite turns the right side into a dedup subquery)
    val aj = s.sql(
      """SELECT m.id, g.genre FROM mvj m LEFT ANY JOIN gj g
        |ON m.id = g.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(aj(1).getString(1) == "", "ANY LEFT JOIN unmatched must default")
    // a FINAL modifier on the right table must not be mistaken for its
    // alias (gj is ENGINE=Memory; FINAL is a no-op read modifier)
    val fin = s.sql(
      """SELECT m.id, gj.genre FROM mvj m LEFT JOIN gj FINAL
        |ON m.id = gj.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(fin(1).getString(1) == "",
      "FINAL after the table must not eat the alias derivation")
    // a CREATE VIEW side keeps its columns' declared nullability: a
    // Nullable(Int32) miss reads NULL, a String miss ''
    s.execute("CREATE VIEW gjv AS SELECT movie_id, genre, score FROM gj")
    val vw = s.sql(
      """SELECT m.id, v.genre, v.score FROM mvj m LEFT JOIN gjv v
        |ON m.id = v.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(vw(1).getString(1) == "" && vw(1).isNullAt(2),
      s"view side: String '' and Nullable NULL on the miss: ${vw(1)}")
    // `r.*` over a subquery side fills each of its columns
    val star = s.sql(
      """SELECT m.id, r.* FROM mvj m
        |LEFT JOIN (SELECT movie_id, genre FROM gj) r
        |ON m.id = r.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(star(1).getLong(1) == 0L && star(1).getString(2) == "",
      s"r.* over a subquery must fill 0 and '': ${star(1)}")
    // per-query SETTINGS tail overrides the session default
    val perQ = s.sql(q + " SETTINGS join_use_nulls = 1").collect()
    assert(perQ(1).isNullAt(1) && perQ(1).isNullAt(2),
      "per-query SETTINGS join_use_nulls = 1 must surface SQL NULLs")
    // the =1 mode disables the wrap per ClickHouse; Bool spellings too
    s.execute("SET join_use_nulls = true")
    val nulled = s.sql(q).collect()
    assert(nulled(1).isNullAt(1) && nulled(1).isNullAt(2),
      "join_use_nulls = true must surface SQL NULLs")
  }

  test("INSERT with a column list: omitted Map and Tuple columns read " +
    "their ClickHouse defaults ({} and per-element zeros), not NULL") {
    val s = ch
    s.execute(
      """CREATE TABLE omt (id UInt32, g String, sc UInt32,
        |  m Map(String, UInt32), tp Tuple(UInt8, String),
        |  tn Tuple(a UInt8, b String)) ENGINE = Memory;
        |INSERT INTO omt (id, g, sc) VALUES (1, 'a', 2);""".stripMargin)
    val r = s.sql("SELECT m, tp, tn FROM omt").collect().head
    assert(!r.isNullAt(0) && r.getMap[String, Long](0).isEmpty,
      s"omitted Map must read {}: $r")
    assert(!r.isNullAt(1) && r.getStruct(1).getInt(0) == 0 &&
      r.getStruct(1).getString(1) == "", s"omitted Tuple must read (0, ''): $r")
    // a NAMED Tuple keeps its element names through the DDL
    assert(!r.isNullAt(2) && r.getStruct(2).getInt(0) == 0 &&
      r.getStruct(2).getString(1) == "" &&
      r.getStruct(2).schema.fieldNames.toSeq == Seq("a", "b"),
      s"omitted named Tuple must read (0, ''): $r")
  }

  test("ANTI right columns follow the SESSION join_use_nulls: SET = 1 " +
    "surfaces typed NULLs (the r10 fuzzer find, session-scope twin)") {
    val s = ch
    s.execute(
      """CREATE TABLE av1 (id UInt32, name String) ENGINE = Memory;
        |CREATE TABLE ag1 (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO av1 VALUES (1, 'm1'), (2, 'm2');
        |INSERT INTO ag1 VALUES (1, 'x');""".stripMargin)
    val q = "SELECT m.id AS id, g.genre AS genre FROM av1 m " +
      "LEFT ANTI JOIN ag1 g ON m.id = g.movie_id ORDER BY id"
    // default (= 0): the unmatched right column reads the type default
    val def0 = s.sql(q).collect()
    assert(def0.length == 1 && def0.head.getString(1) == "")
    s.execute("SET join_use_nulls = 1")
    val rows = s.sql(q).collect()
    assert(rows.length == 1 && rows.head.get(0).toString == "2")
    assert(rows.head.isNullAt(1),
      "session join_use_nulls = 1 must surface NULL ANTI right columns")
  }

  test("join_use_nulls = 0 residue: unqualified refs, composite RIGHT-join " +
    "left sides, ASOF LEFT — all fill; shadowed/ambiguous names skip") {
    // the shapes of the former rewrite-level placement checks, run
    // through a real session (the fill is a plan transform now)
    val s = ch
    s.execute(
      """CREATE TABLE rsmv (id UInt32, name String) ENGINE = Memory;
        |CREATE TABLE rsge (movie_id UInt32, genre String) ENGINE = Memory;
        |CREATE TABLE amb1 (id UInt32, genre String) ENGINE = Memory;
        |CREATE TABLE amb2 (movie_id UInt32, genre String) ENGINE = Memory;
        |CREATE TABLE rsta (k UInt32, x String) ENGINE = Memory;
        |CREATE TABLE rstb (k UInt32, y String) ENGINE = Memory;
        |CREATE TABLE rstc (k UInt32, z String) ENGINE = Memory;
        |CREATE TABLE rslt (k UInt32, t UInt32, a String) ENGINE = Memory;
        |CREATE TABLE rsrt (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO rsmv VALUES (1, 'm1'), (2, 'm2');
        |INSERT INTO rsge VALUES (1, 'drama');
        |INSERT INTO amb1 VALUES (1, 'a1'), (2, 'a2');
        |INSERT INTO amb2 VALUES (1, 'b1');
        |INSERT INTO rsta VALUES (1, 'x1'), (2, 'x2');
        |INSERT INTO rstb VALUES (1, 'y1'), (2, 'y2');
        |INSERT INTO rstc VALUES (1, 'z1'), (3, 'z3');
        |INSERT INTO rslt VALUES (1, 10, 'a10'), (2, 10, 'b10');
        |INSERT INTO rsrt VALUES (1, 5, 'r5');""".stripMargin)
    // 1. unqualified right-side column fills (ClickHouse resolves
    //    `genre` to the only table having it); the kept side keeps its
    //    values
    val un = s.sql("SELECT name, genre FROM rsmv m LEFT JOIN rsge g " +
      "ON m.id = g.movie_id ORDER BY name").collect()
    assert(un.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("m1", "drama"), ("m2", "")),
      s"unqualified right col must fill: ${un.toSeq}")
    assert(un.head.schema.fieldNames.toSeq == Seq("name", "genre"))
    // 2. a SELECT-list alias shadows a same-named right column
    val sh = s.sql("SELECT m.name AS genre FROM rsmv m LEFT JOIN rsge g " +
      "ON m.id = g.movie_id ORDER BY genre").collect()
    assert(sh.map(_.getString(0)).toSeq == Seq("m1", "m2"),
      s"shadowed alias must read the left column: ${sh.toSeq}")
    // 3. a name owned by BOTH sides is ambiguous — never silently filled
    val am = intercept[Exception](s.sql(
      "SELECT genre FROM amb1 a LEFT JOIN amb2 b ON a.id = b.movie_id")
      .collect())
    assert(am.getMessage.toUpperCase.contains("AMBIGUOUS"),
      s"ambiguous name must fail to resolve: ${am.getMessage}")
    // 4. composite RIGHT-join left side: every component defaults on
    //    the miss; the inner join's own matches and the kept right side
    //    keep their values
    val co = s.sql("SELECT a.x, b.y, c.z FROM rsta a JOIN rstb b " +
      "ON a.k = b.k RIGHT JOIN rstc c ON a.k = c.k ORDER BY c.z").collect()
    assert(co.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq == Seq(("x1", "y1", "z1"), ("", "", "z3")),
      s"composite left side must fill both components: ${co.toSeq}")
    // 5. ASOF LEFT JOIN fills its misses like plain LEFT JOIN, through
    //    the same outer-join fill
    val as = s.sql("SELECT l.a, r.v FROM rslt l ASOF LEFT JOIN rsrt r " +
      "ON l.k = r.k AND l.t >= r.t ORDER BY l.a").collect()
    assert(as.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a10", "r5"), ("b10", "")),
      s"ASOF LEFT miss must fill '': ${as.toSeq}")
    // 6. `SETTINGS join_use_nulls = 1` disables every fill too
    val off = s.sql("SELECT name, genre FROM rsmv m LEFT JOIN rsge g " +
      "ON m.id = g.movie_id ORDER BY name SETTINGS join_use_nulls = 1")
      .collect()
    assert(off(1).isNullAt(1), s"=1 must keep NULL: ${off.toSeq}")

    // runtime, through a real session: unqualified + composite fills
    s.execute(
      """CREATE TABLE jm2 (id UInt32, title String) ENGINE = Memory;
        |CREATE TABLE jg2 (movie_id UInt32, genre String) ENGINE = Memory;
        |INSERT INTO jm2 VALUES (1, 'm1'), (2, 'm2');
        |INSERT INTO jg2 VALUES (1, 'drama');""".stripMargin)
    val un2 = s.sql(
      """SELECT id, genre FROM jm2 m LEFT JOIN jg2 g
        |ON m.id = g.movie_id ORDER BY id""".stripMargin).collect()
    assert(un2(1).getString(1) == "",
      "unqualified right column must read '' on a miss")
    // post-join WHERE over the filled value selects the unmatched rows
    val wh = s.sql(
      """SELECT count() AS c FROM jm2 m LEFT JOIN jg2 g
        |ON m.id = g.movie_id WHERE genre = ''""".stripMargin).collect()
    assert(wh.head.getLong(0) == 1L,
      "WHERE over the filled default must see the miss rows")
    // composite RIGHT-join left side at runtime
    s.execute(
      """CREATE TABLE jc2 (movie_id UInt32, country String) ENGINE = Memory;
        |INSERT INTO jc2 VALUES (1, 'fr'), (9, 'de');""".stripMargin)
    val co2 = s.sql(
      """SELECT m.title, g.genre, c.country
        |FROM jm2 m JOIN jg2 g ON m.id = g.movie_id
        |RIGHT JOIN jc2 c ON m.id = c.movie_id
        |ORDER BY c.movie_id""".stripMargin).collect()
    assert(co2(1).getString(0) == "" && co2(1).getString(1) == "",
      "unmatched composite left side must fill BOTH components' defaults")
    assert(co2(1).getString(2) == "de")
  }

  test("a column named `format` in an INSERT column list is not an inline payload") {
    val stmts = graft.chsql.ChLexer.statements(
      "INSERT INTO fdst (format, x) SELECT format, x FROM fsrc; SELECT 1 -- c")
    // pre-fix the word `format` inside the parens armed the payload
    // trigger and the rest of the script was swallowed verbatim
    assert(stmts.size == 2, s"expected 2 statements, got ${stmts.size}: $stmts")
    assert(stmts(1) == "SELECT 1")
    val s = ch
    s.execute(
      """CREATE TABLE fsrc (format String, x UInt32) ENGINE = Memory;
        |CREATE TABLE fdst (format String, x UInt32) ENGINE = Memory;
        |INSERT INTO fsrc VALUES ('csv', 1), ('tsv', 2);
        |INSERT INTO fdst (format, x) SELECT format, x FROM fsrc;""".stripMargin)
    assert(s.sql("SELECT count() AS c FROM fdst").collect().head.getLong(0) == 2L)
  }

  // ------------------------------------------- r11 join-dialect edges

  test("bare USING list without parentheses parses in plain, ANY and ASOF joins") {
    val s = ch
    s.execute(
      """CREATE TABLE bul (k UInt32, t UInt32, a String) ENGINE = Memory;
        |CREATE TABLE bur (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO bul VALUES (1, 10, 'a10'), (2, 10, 'b10');
        |INSERT INTO bur VALUES (1, 5, 'r5'), (1, 7, 'r7');""".stripMargin)
    // ASOF bare USING k, t — pre-fix the slice was empty and threw
    val asof = s.sql(
      """SELECT k, t, a, v FROM bul ASOF LEFT JOIN bur USING k, t
        |ORDER BY k""".stripMargin).collect()
    assert(asof.length == 2)
    assert(asof(0).getString(3) == "r7" && asof(1).getString(3) == "")
    // plain join, bare single-column USING (Spark's own parser needs
    // the parens — normalizeBareUsing adds them)
    s.execute(
      """CREATE TABLE anl (k UInt32, s String) ENGINE = Memory;
        |CREATE TABLE anr (k UInt32, v String) ENGINE = Memory;
        |INSERT INTO anl VALUES (1, 'l1'), (2, 'l2'), (3, 'l3');
        |INSERT INTO anr VALUES (1, 'x1'), (1, 'x1b'), (2, 'y2'), (2, 'y2b');""".stripMargin)
    val plain = s.sql(
      "SELECT k, s, v FROM anl JOIN anr USING k ORDER BY k, v").collect()
    assert(plain.length == 4, s"bare USING on a plain join: $plain")
    // ANY bare USING must dedup PER KEY — the pre-fix empty key list
    // silently partitioned by NOTHING and picked one GLOBAL right row
    val any = s.sql(
      "SELECT k, s, v FROM anl ANY LEFT JOIN anr USING k ORDER BY k").collect()
    assert(any.length == 3)
    assert(Set("x1", "x1b")(any(0).getString(2)),
      s"k=1 must pick among ITS OWN rows: ${any(0)}")
    assert(Set("y2", "y2b")(any(1).getString(2)),
      s"k=2 must pick among ITS OWN rows: ${any(1)}")
    assert(any(2).getString(2) == "", s"k=3 miss fills the type default")
  }

  test("ASOF time axis stays lossless: Int64 above 2^53 and Date axes") {
    val s = ch
    s.execute(
      """CREATE TABLE nsl (k UInt32, t UInt64) ENGINE = Memory;
        |CREATE TABLE nsr (k UInt32, t UInt64, v String) ENGINE = Memory;
        |INSERT INTO nsl VALUES (1, 9007199254740993);
        |INSERT INTO nsr VALUES (1, 9007199254740992, 'lo'), (1, 9007199254740993, 'eq'), (1, 9007199254740994, 'hi');""".stripMargin)
    // 2^53 = 9007199254740992: the three right times are DISTINCT longs
    // but collapse under a DOUBLE cast (the pre-fix lowering's sort key)
    val strict = s.sql(
      """SELECT l.k AS k, r.v AS v FROM nsl l ASOF JOIN nsr r
        |ON l.k = r.k AND l.t > r.t""".stripMargin).collect()
    assert(strict.length == 1 && strict.head.getString(1) == "lo",
      s"strict > above 2^53 must pick the true predecessor: ${strict.toSeq}")
    val incl = s.sql(
      """SELECT l.k AS k, r.v AS v FROM nsl l ASOF JOIN nsr r
        |ON l.k = r.k AND l.t >= r.t""".stripMargin).collect()
    assert(incl.head.getString(1) == "eq",
      s"inclusive >= must pick the exact-time row: ${incl.toSeq}")
    // a Date-typed ASOF axis (pre-fix: CAST(date AS DOUBLE) fails
    // analysis outright)
    s.execute(
      """CREATE TABLE dtl (k UInt32, d Date) ENGINE = Memory;
        |CREATE TABLE dtr (k UInt32, d Date, v String) ENGINE = Memory;
        |INSERT INTO dtl VALUES (1, '2024-01-10');
        |INSERT INTO dtr VALUES (1, '2024-01-05', 'early'), (1, '2024-01-12', 'late');""".stripMargin)
    val dts = s.sql(
      """SELECT l.k AS k, r.v AS v FROM dtl l ASOF LEFT JOIN dtr r
        |ON l.k = r.k AND l.d >= r.d""".stripMargin).collect()
    assert(dts.head.getString(1) == "early", s"date axis: ${dts.toSeq}")
  }

  test("ASOF JOIN reads user columns named like internal helper names") {
    val s = ch
    s.execute(
      """CREATE TABLE hcl (k UInt32, __t UInt32) ENGINE = Memory;
        |CREATE TABLE hcr (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO hcl VALUES (1, 10);
        |INSERT INTO hcr VALUES (1, 5, 'r5'), (1, 20, 'r20');""".stripMargin)
    // the latest right row at or before __t = 10 is t = 5
    val rows = s.sql(
      """SELECT l.k AS k, r.v AS v FROM hcl l ASOF JOIN hcr r
        |ON l.k = r.k AND l.__t >= r.t""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "r5")), rows.toSeq)
  }

  test("left()/any() calls inside ON conditions are not join keywords") {
    val s = ch
    s.execute(
      """CREATE TABLE fca (k UInt32, x String) ENGINE = Memory;
        |CREATE TABLE fcb (kb UInt32, y String) ENGINE = Memory;
        |CREATE TABLE fcc (k UInt32, z String) ENGINE = Memory;
        |INSERT INTO fca VALUES (1, 'x1'), (2, 'x2');
        |INSERT INTO fcb VALUES (1, 'yes'), (2, 'no');
        |INSERT INTO fcc VALUES (1, 'z1'), (3, 'z3');""".stripMargin)
    // composite ANY RIGHT left tree whose INNER ON calls left(...) —
    // pre-fix the tree walk took `left` for a join keyword, misparsed
    // the component list and threw 'requires an alias'
    val rows = s.sql(
      """SELECT a.x, c.z FROM fca a
        |JOIN fcb b ON a.k = b.kb AND left(b.y, 1) = 'y'
        |ANY RIGHT JOIN fcc c ON a.k = c.k ORDER BY c.z""".stripMargin)
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "x1" && rows(0).getString(1) == "z1")
    assert(rows(1).getString(0) == "" && rows(1).getString(1) == "z3")
    // a LEFT JOIN whose ON tail calls left(...): the defaults scanner's
    // condition-end scan must not stop at the call (it would then wrap
    // references INSIDE the remaining condition)
    val lj = s.sql(
      """SELECT a.x, b.y FROM fca a
        |LEFT JOIN fcb b ON a.k = b.kb AND left(b.y, 1) = 'y'
        |ORDER BY a.k""".stripMargin).collect()
    assert(lj(0).getString(1) == "yes" && lj(1).getString(1) == "",
      s"left() in the ON tail: ${lj.toSeq}")
  }

  test("ASOF JOIN in SQL text accepts subquery sides (r11): all four modes " +
    "against the brute-force model over the filtered inputs") {
    val s = ch
    s.execute(
      """CREATE TABLE sql_l (k UInt32, t UInt32, a String) ENGINE = Memory;
        |CREATE TABLE sql_r (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO sql_l VALUES (1, 10, 'a10'), (1, 20, 'a20'), (2, 10, 'b10'), (3, 15, 'c15'), (1, 99, 'cut');
        |INSERT INTO sql_r VALUES (1, 5, 'r5'), (1, 20, 'r20'), (2, 25, 'r25'), (4, 1, 'r1'), (1, 98, 'rcut');""".stripMargin)
    // the subqueries FILTER both sides: the lowering must take the
    // column lists (and the rows) from the subquery, not the catalog
    val lRows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 15L))
    val rRows = Seq((1L, 5L, "r5"), (1L, 20L, "r20"), (2L, 25L, "r25"),
      (4L, 1L, "r1"))
    def model(op: String): Map[(Long, Long), Option[String]] =
      lRows.map { case (k, t) =>
        val cand = rRows.filter(_._1 == k).filter { r =>
          op match {
            case ">=" => r._2 <= t
            case ">" => r._2 < t
            case "<=" => r._2 >= t
            case _ => r._2 > t
          }
        }
        val pick =
          if (cand.isEmpty) None
          else Some((op match {
            case ">=" | ">" => cand.maxBy(_._2)
            case _ => cand.minBy(_._2)
          })._3)
        (k, t) -> pick
      }.toMap
    Seq(">=", ">", "<=", "<").foreach { op =>
      val left = s.sql(
        s"""SELECT l.k AS k, l.t AS t, r.v AS v
           |FROM (SELECT k, t, a FROM sql_l WHERE t < 90) l
           |ASOF LEFT JOIN (SELECT k, t, v FROM sql_r WHERE t < 90) r
           |ON l.k = r.k AND l.t $op r.t ORDER BY k, t""".stripMargin)
        .collect()
      assert(left.length == 4, s"op $op: subquery ASOF LEFT keeps " +
        s"all 4 filtered left rows, got ${left.length}")
      left.foreach { row =>
        val key = (row.getLong(0), row.getLong(1))
        val expect = model(op)(key).getOrElse("")
        assert(row.getString(2) == expect,
          s"op $op $key: got ${row.getString(2)}, expected $expect")
      }
    }
    // mixed: subquery left side, catalog-table right side, inner mode
    val mixed = s.sql(
      """SELECT l.k AS k, l.t AS t, r.v AS v
        |FROM (SELECT k, t FROM sql_l WHERE t < 90) l
        |ASOF JOIN sql_r r ON l.k = r.k AND l.t >= r.t
        |ORDER BY k, t""".stripMargin).collect()
    // matches: (1,10)→r5, (1,20)→r20; (2,10) and (3,15) have no right
    // row at or before their t → dropped by the inner mode
    assert(mixed.length == 2 && mixed.forall(_.getString(2).nonEmpty),
      s"mixed sides inner: ${mixed.toSeq}")
    // a subquery side without an alias runs; its unqualified names are
    // the left side's
    val unaliased = s.sql(
      """SELECT k, t, r.v AS v FROM (SELECT k, t FROM sql_l)
        |ASOF JOIN sql_r r ON k = r.k AND t >= r.t
        |ORDER BY k, t""".stripMargin).collect()
    assert(unaliased.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1L, 10L, "r5"), (1L, 20L, "r20"), (1L, 99L, "rcut")),
      unaliased.toSeq)
  }

  test("ASOF JOIN in SQL text accepts a composite left join TREE (r11)") {
    val s = ch
    s.execute(
      """CREATE TABLE trl (k UInt32, t UInt32) ENGINE = Memory;
        |CREATE TABLE trm (k2 UInt32, label String) ENGINE = Memory;
        |CREATE TABLE trr (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO trl VALUES (1, 10), (1, 20), (2, 15);
        |INSERT INTO trm VALUES (1, 'one'), (2, 'two');
        |INSERT INTO trr VALUES (1, 5, 'r5'), (1, 12, 'r12'), (2, 99, 'late');""".stripMargin)
    // tree = trl JOIN trm; the ASOF right picks the latest r at or
    // before each tree row's t — the ON reads the tree's components
    // by their own aliases
    val rows = s.sql(
      """SELECT a.k AS k, a.t AS t, m.label AS label, r.v AS v
        |FROM trl a JOIN trm m ON a.k = m.k2
        |ASOF LEFT JOIN trr r ON a.k = r.k AND a.t >= r.t
        |ORDER BY k, t""".stripMargin).collect()
    assert(rows.length == 3, s"tree rows: ${rows.toSeq}")
    assert(rows(0).getString(2) == "one" && rows(0).getString(3) == "r5")
    assert(rows(1).getString(2) == "one" && rows(1).getString(3) == "r12")
    // k=2 t=15: the only r for k=2 is at t=99 (future) → miss fills ''
    assert(rows(2).getString(2) == "two" && rows(2).getString(3) == "")
  }

  test("LEFT JOIN subquery side under join_use_nulls = 0 fills the " +
    "subquery's result-type defaults (r11, was the documented partial)") {
    val s = ch
    s.execute(
      """CREATE TABLE jm (id UInt32, title String) ENGINE = Memory;
        |CREATE TABLE jg (movie_id UInt32, genre String, score UInt32, note Nullable(String)) ENGINE = Memory;
        |INSERT INTO jm VALUES (1, 'm1'), (9, 'm9');
        |INSERT INTO jg VALUES (1, 'drama', 7, 'good');""".stripMargin)
    // subquery right side: a declared String passthrough ('' default),
    // a declared UInt32 passthrough (0), a COMPUTED column (result-type
    // zero default), and a declared Nullable(String) (stays NULL)
    val rows = s.sql(
      """SELECT m.title AS title, g.genre AS genre, g.score2 AS score2,
        |       g.note AS note
        |FROM jm m LEFT JOIN
        |  (SELECT movie_id, genre, score * 2 AS score2, note FROM jg) g
        |ON m.id = g.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "drama" && rows(0).getLong(2) == 14L)
    assert(rows(1).getString(1) == "", s"String passthrough default: ${rows(1)}")
    assert(!rows(1).isNullAt(2) && rows(1).getLong(2) == 0L,
      s"computed-column zero default: ${rows(1)}")
    assert(rows(1).isNullAt(3),
      s"declared Nullable keeps NULL on the miss: ${rows(1)}")
    // RIGHT JOIN with a subquery LEFT side: the left components fill
    val rj = s.sql(
      """SELECT t.title AS title, c.movie_id AS movie_id
        |FROM (SELECT id, title FROM jm WHERE id < 5) t
        |RIGHT JOIN jg c ON t.id = c.movie_id
        |UNION ALL
        |SELECT t.title, c2.movie_id FROM (SELECT id, title FROM jm WHERE id < 5) t
        |RIGHT JOIN (SELECT 42 AS movie_id) c2 ON t.id = c2.movie_id
        |ORDER BY movie_id""".stripMargin).collect()
    assert(rj.length == 2)
    assert(rj(0).getString(0) == "m1")
    assert(rj(1).getString(0) == "", s"subquery left side fills '': ${rj(1)}")
    // and SETTINGS join_use_nulls = 1 keeps SQL NULLs
    val nu = s.sql(
      """SELECT m.title AS title, g.genre AS genre
        |FROM jm m LEFT JOIN (SELECT movie_id, genre FROM jg) g
        |ON m.id = g.movie_id ORDER BY m.id
        |SETTINGS join_use_nulls = 1""".stripMargin).collect()
    assert(nu(1).isNullAt(1), s"= 1 keeps NULL: ${nu(1)}")
  }

  test("bare USING list stops at a comma-joined catalog table " +
    "(`USING k, t3` — r12, advisor find)") {
    val s = ch
    s.execute(
      """CREATE TABLE cu1 (k UInt32, a String) ENGINE = Memory;
        |CREATE TABLE cu2 (k UInt32, b String) ENGINE = Memory;
        |CREATE TABLE cu3 (c UInt32) ENGINE = Memory;
        |INSERT INTO cu1 VALUES (1, 'a1');
        |INSERT INTO cu2 VALUES (1, 'b1');
        |INSERT INTO cu3 VALUES (7), (8);""".stripMargin)
    // pre-fix the bare-list scan swallowed cu3 as a second join key and
    // the comma-joined table silently vanished from the FROM
    val rows = s.sql(
      "SELECT a, b, c FROM cu1 JOIN cu2 USING k, cu3 ORDER BY c")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a1", "b1", 7L), ("a1", "b1", 8L)))
    // a two-column bare list still parses greedily when the second name
    // is NOT a catalog table
    s.execute(
      """CREATE TABLE cu4 (k UInt32, k2 UInt32, x String) ENGINE = Memory;
        |CREATE TABLE cu5 (k UInt32, k2 UInt32, y String) ENGINE = Memory;
        |INSERT INTO cu4 VALUES (1, 10, 'x1'), (1, 11, 'x2');
        |INSERT INTO cu5 VALUES (1, 10, 'y1');""".stripMargin)
    val two = s.sql("SELECT x, y FROM cu4 JOIN cu5 USING k, k2 ORDER BY x")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(two.toSeq == Seq(("x1", "y1")))
    // a USING column COLLIDING with a table name keeps column precedence
    // in the backtick-quoted spelling (documented on usingList)
    s.execute("CREATE TABLE k2 (z UInt32) ENGINE = Memory")
    val quoted = s.sql(
      "SELECT x, y FROM cu4 JOIN cu5 USING k, `k2` ORDER BY x")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(quoted.toSeq == Seq(("x1", "y1")))
  }

  test("subquery defaults: computed columns never inherit a declared " +
    "default by name coincidence; CTE names don't pollute the declared " +
    "map (r12, advisor find)") {
    val s = ch
    s.execute(
      """CREATE TABLE jq (movie_id UInt32, genre String, note Nullable(String)) ENGINE = Memory;
        |CREATE TABLE jqm (id UInt32, title String) ENGINE = Memory;
        |INSERT INTO jq VALUES (1, 'drama', 'good');
        |INSERT INTO jqm VALUES (1, 'm1'), (9, 'm9');""".stripMargin)
    // `concat(...) AS note` is COMPUTED: its result type is plain String
    // → the join miss fills '' (pre-fix the bare name+type match let it
    // inherit the declared Nullable(String) `note`'s NULL default)
    val rows = s.sql(
      """SELECT m.title AS title, g.note AS note, g.genre AS genre
        |FROM jqm m LEFT JOIN
        |  (SELECT movie_id, concat(genre, '!') AS note, genre FROM jq) g
        |ON m.id = g.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(rows(0).getString(1) == "drama!" && rows(0).getString(2) == "drama")
    assert(!rows(1).isNullAt(1) && rows(1).getString(1) == "",
      s"computed column named like a declared Nullable must fill '': ${rows(1)}")
    assert(rows(1).getString(2) == "", rows(1).toString)
    // a CTE named like a catalog table: its bare outputs take the
    // RESULT-type default, not the same-named catalog table's declared one
    s.execute(
      """CREATE TABLE cte_tbl (v Nullable(String)) ENGINE = Memory;
        |INSERT INTO cte_tbl VALUES ('zzz');""".stripMargin)
    val c = s.sql(
      """SELECT m.title AS title, g.v AS v
        |FROM jqm m LEFT JOIN
        |  (WITH cte_tbl AS (SELECT 1 AS movie_id, 'x' AS v)
        |   SELECT movie_id, v FROM cte_tbl) g
        |ON m.id = g.movie_id ORDER BY m.id""".stripMargin).collect()
    assert(c(0).getString(1) == "x")
    assert(!c(1).isNullAt(1) && c(1).getString(1) == "",
      "CTE output takes the result-type '' default, not the catalog " +
        s"table's declared NULL: ${c(1)}")
    // CTE shadowing is SCOPED: a nested subquery's CTE must not block
    // catalog resolution of the same name at the OUTER level
    val scoped = s.sql(
      """SELECT o.v AS ov, t.w AS tw
        |FROM cte_tbl o JOIN
        |  (WITH cte_tbl AS (SELECT 'inner' AS w) SELECT w FROM cte_tbl) t
        |ON 1 = 1""".stripMargin).collect()
    assert(scoped.length == 1 && scoped(0).getString(0) == "zzz" &&
      scoped(0).getString(1) == "inner", scoped.toSeq.toString)
    // and a CTE's OWN body reads the catalog table, not itself
    // (non-recursive, the ClickHouse rule)
    val selfRef = s.sql(
      """WITH cte_tbl AS (SELECT concat(v, '!') AS v FROM cte_tbl)
        |SELECT v FROM cte_tbl""".stripMargin).collect()
    assert(selfRef.length == 1 && selfRef(0).getString(0) == "zzz!",
      selfRef.toSeq.toString)
  }

  test("CTE join sides cannot recurse the default-fill probes (r12: " +
    "self-reference reads the catalog table; crafted cycles hit the " +
    "depth guard and error instead of hanging)") {
    val s = ch
    s.execute(
      """CREATE TABLE prl (k UInt32, a String) ENGINE = Memory;
        |CREATE TABLE prx (k UInt32, v String) ENGINE = Memory;
        |INSERT INTO prl VALUES (1, 'a1'), (9, 'a9');
        |INSERT INTO prx VALUES (1, 'x1'), (1, 'x2'), (2, 'x2');""".stripMargin)
    // a CTE named like catalog table prx whose body JOINS prx: the
    // body's refs read the TABLE (scope rule — no probe of itself), the
    // outer side reads the CTE, and join_use_nulls = 0 fills '' on the
    // miss
    val rows = s.sql(
      """WITH prx AS (
        |  SELECT m.k AS k, n.v AS v FROM prx m LEFT JOIN prx n
        |  ON m.k = n.k AND m.v = n.v WHERE m.v = 'x1')
        |SELECT l.a AS a, r.v AS v FROM prl l LEFT JOIN prx r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    assert(rows.length == 2 && rows(0).getString(1) == "x1", rows.toSeq)
    assert(rows(1).getString(1) == "",
      s"CTE-side miss fills the result-type default: ${rows(1)}")
    // a mutually-referencing CTE pair is invalid SQL (forward
    // reference) — the probe depth guard must surface Spark's analysis
    // error promptly, not recurse runSelect unboundedly
    val t0 = System.nanoTime()
    val err = intercept[Exception] {
      s.sql(
        """WITH ca AS (SELECT l.k AS k FROM prl l LEFT JOIN cb r ON l.k = r.k),
          |     cb AS (SELECT l.k AS k FROM prl l LEFT JOIN ca r ON l.k = r.k)
          |SELECT ca.k AS k FROM ca LEFT JOIN cb ON ca.k = cb.k""".stripMargin)
        .collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, f"cycle must fail fast, took $secs%.1fs")
    assert(err != null)
  }

  test("CTE / derived / star-EXCEPT sides resolve defaults through their " +
    "OWN select lists (r12 review finds: the SELECT*-form probe leaked " +
    "declared defaults onto computed columns)") {
    val s = ch
    s.execute(
      """CREATE TABLE pw (k UInt32, v Nullable(String), x UInt32) ENGINE = Memory;
        |CREATE TABLE pwl (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO pw VALUES (1, 'p1', 7);
        |INSERT INTO pwl VALUES (1, 'a1'), (9, 'a9');""".stripMargin)
    // a CTE whose COMPUTED column shares the declared Nullable v's name:
    // the probe is the CTE's BODY, so the passthrough sees the computed
    // item — the miss fills the result-type '', never the declared NULL
    val comp = s.sql(
      """WITH pc AS (SELECT k, concat(v, '!') AS v FROM pw)
        |SELECT l.a AS a, r.v AS v FROM pwl l LEFT JOIN pc r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    assert(comp(0).getString(1) == "p1!", comp.toSeq)
    assert(!comp(1).isNullAt(1) && comp(1).getString(1) == "",
      s"computed CTE column fills '' on the miss: ${comp(1)}")
    // a star over a DERIVED table with a computed column: same rule,
    // one level down
    val deep = s.sql(
      """SELECT l.a AS a, r.v AS v
        |FROM pwl l LEFT JOIN
        |  (SELECT * FROM (SELECT k, concat(v, '?') AS v FROM pw) i) r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(deep(0).getString(1) == "p1?", deep.toSeq)
    assert(!deep(1).isNullAt(1) && deep(1).getString(1) == "",
      s"derived computed column fills '' through the star: ${deep(1)}")
    // `* EXCEPT (x)` is a column-exclusion modifier, not a set op: the
    // plainly-passed-through declared Nullable v keeps its NULL default
    val exc = s.sql(
      """SELECT l.a AS a, r.v AS v
        |FROM pwl l LEFT JOIN (SELECT * EXCEPT (x) FROM pw) r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(exc(0).getString(1) == "p1", exc.toSeq)
    assert(exc(1).isNullAt(1),
      s"declared Nullable passthrough survives * EXCEPT: ${exc(1)}")
    // an UNALIASED CTE ANTI side: the CTE name is the qualifier, and
    // the right-column read substitutes its literal (review find: the
    // alias fallback was lost for table-less sides)
    s.execute("CREATE TABLE pnt (k UInt32, w String) ENGINE = Memory;" +
      "INSERT INTO pnt VALUES (1, 'w1');")
    val anti = s.sql(
      """WITH pnt2 AS (SELECT k, w FROM pnt)
        |SELECT l.a AS a, pnt2.w AS w
        |FROM pwl l LEFT ANTI JOIN pnt2 ON l.k = pnt2.k
        |ORDER BY l.a""".stripMargin).collect()
    assert(anti.length == 1 && anti(0).getString(0) == "a9" &&
      anti(0).getString(1) == "", anti.toSeq.toString)
    // a two-CTE chain: the declared Nullable v passes through the
    // earlier CTE, so the ANTI read and the ASOF LEFT miss read NULL,
    // as the LEFT JOIN miss does
    val chain = "WITH c1 AS (SELECT k, v, x FROM pw), " +
      "c2 AS (SELECT k, v, x FROM c1) "
    val chainAnti = s.sql(chain +
      """SELECT l.a AS a, r.v AS v
        |FROM pwl l LEFT ANTI JOIN c2 r ON l.k = r.k
        |ORDER BY l.a""".stripMargin).collect()
    assert(chainAnti.length == 1 && chainAnti(0).getString(0) == "a9" &&
      chainAnti(0).isNullAt(1), chainAnti.toSeq.toString)
    s.execute("CREATE TABLE pwt (k UInt32, a String, t UInt32) ENGINE = Memory;" +
      "INSERT INTO pwt VALUES (1, 'a1', 9), (9, 'a9', 9);")
    val chainAsof = s.sql(chain +
      """SELECT l.a AS a, r.v AS v
        |FROM pwt l ASOF LEFT JOIN c2 r ON l.k = r.k AND l.t >= r.x
        |ORDER BY l.a""".stripMargin).collect()
    assert(chainAsof.length == 2 && chainAsof(0).getString(1) == "p1" &&
      chainAsof(1).getString(0) == "a9" && chainAsof(1).isNullAt(1),
      chainAsof.toSeq.toString)
  }

  test("qualified star `g.*` sides resolve defaults through the " +
    "passthrough (r12 advisor: the branch was dead under the old " +
    "lexing) and db-qualified stars re-anchor on the table alias") {
    val s = ch
    s.execute(
      """CREATE TABLE qs (k UInt32, v Nullable(String), w String) ENGINE = Memory;
        |CREATE TABLE qsl (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO qs VALUES (1, 'v1', 'w1');
        |INSERT INTO qsl VALUES (1, 'a1'), (9, 'a9');""".stripMargin)
    // `SELECT g.*` subquery side: the declared Nullable v keeps NULL on
    // the miss, the declared plain String w fills ''
    val rows = s.sql(
      """SELECT l.a AS a, r.v AS v, r.w AS w
        |FROM qsl l LEFT JOIN (SELECT g.* FROM qs g) r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    assert(rows(0).getString(1) == "v1" && rows(0).getString(2) == "w1")
    assert(rows(1).isNullAt(1),
      s"declared Nullable passthrough survives g.*: ${rows(1)}")
    assert(rows(1).getString(2) == "",
      s"declared String fills '' through g.*: ${rows(1)}")
    // `g.* EXCEPT (w)`: still the column-exclusion modifier
    val exc = s.sql(
      """SELECT l.a AS a, r.v AS v
        |FROM qsl l LEFT JOIN (SELECT g.* EXCEPT (w) FROM qs g) r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(exc(1).isNullAt(1),
      s"declared Nullable passthrough survives g.* EXCEPT: ${exc(1)}")
    // db-qualified star: `default.qs.*` re-anchors onto the alias the
    // FROM rewrite gave the renamed view
    val dbq = s.sql("SELECT default.qs.* FROM default.qs ORDER BY k")
      .collect()
    assert(dbq.length == 1 && dbq(0).getString(1) == "v1", dbq.toSeq)
  }

  test("TOP-LEVEL `d.*` over a defaultable join side expands and fills " +
    "declared defaults (r13: a star token is unwrappable, so pre-fix " +
    "the side kept Spark's NULLs); ANTI right stars substitute too") {
    val s = ch
    s.execute(
      """CREATE TABLE tse (k UInt32, v Nullable(String), w String) ENGINE = Memory;
        |CREATE TABLE tsl (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO tse VALUES (1, 'v1', 'w1');
        |INSERT INTO tsl VALUES (1, 'a1'), (9, 'a9');""".stripMargin)
    // LEFT JOIN, join_use_nulls = 0: the miss row reads w='' (plain
    // String), v=NULL (declared Nullable), k=0 (plain UInt32)
    val rows = s.sql(
      """SELECT l.a AS a, r.* FROM tsl l LEFT JOIN tse r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getString(2) == "v1" && rows(0).getString(3) == "w1")
    val miss = rows(1)
    val sch = miss.schema.fieldNames.toSeq
    assert(sch == Seq("a", "k", "v", "w"), sch.toString)
    assert(miss.getLong(1) == 0L, s"plain UInt32 fills 0: $miss")
    assert(miss.isNullAt(2), s"declared Nullable keeps NULL: $miss")
    assert(miss.getString(3) == "", s"plain String fills '': $miss")
    // `r.* EXCEPT (w)` drops w but keeps the fills
    val exc = s.sql(
      """SELECT l.a AS a, r.* EXCEPT (w) FROM tsl l LEFT JOIN tse r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(exc(1).schema.fieldNames.toSeq == Seq("a", "k", "v"))
    assert(exc(1).getLong(1) == 0L && exc(1).isNullAt(2), exc(1).toString)
    // join_use_nulls = 1 keeps SQL NULLs through the expansion
    val nu = s.sql(
      """SELECT l.a AS a, r.* FROM tsl l LEFT JOIN tse r ON l.k = r.k
        |ORDER BY l.k SETTINGS join_use_nulls = 1""".stripMargin).collect()
    assert(nu(1).isNullAt(1) && nu(1).isNullAt(2) && nu(1).isNullAt(3),
      nu(1).toString)
    // ANTI right star: every surviving row is unmatched, so the right
    // columns read as typed defaults — pre-fix Spark could not even
    // resolve r.* after an anti join
    val anti = s.sql(
      """SELECT l.a AS a, r.* FROM tsl l LEFT ANTI JOIN tse r ON l.k = r.k
        |ORDER BY l.a""".stripMargin).collect()
    assert(anti.length == 1 && anti(0).getString(0) == "a9")
    assert(anti(0).getLong(1) == 0L && anti(0).isNullAt(2) &&
      anti(0).getString(3) == "", anti(0).toString)
    // RIGHT JOIN: the LEFT side's star fills on right-only rows
    s.execute("INSERT INTO tse VALUES (7, 'v7', 'w7');")
    val rj = s.sql(
      """SELECT l.*, r.w AS w FROM tsl l RIGHT JOIN tse r ON l.k = r.k
        |ORDER BY w""".stripMargin).collect()
    assert(rj.length == 2)
    assert(rj(1).getString(rj(1).schema.fieldIndex("w")) == "w7")
    assert(rj(1).getLong(0) == 0L &&
      rj(1).getString(1) == "", s"left star fills on the miss: ${rj(1)}")
    // count(r.*) stays ONE argument (no top-level expansion inside a
    // call) — Spark resolves it as count of the struct
    val cnt = s.sql(
      "SELECT l.a AS a, count(r.k) AS n FROM tsl l LEFT JOIN tse r " +
        "ON l.k = r.k GROUP BY l.a ORDER BY l.a").collect()
    assert(cnt.length == 2, cnt.toSeq)
  }

  test("LEFT SEMI JOIN right-column reads lower to ANY INNER (r13, " +
    "ClickHouse returns the first match's values); no-right-ref " +
    "statements keep Spark's native semi join") {
    val s = ch
    s.execute(
      """CREATE TABLE smr (k UInt32, rv String) ENGINE = Memory;
        |CREATE TABLE sml (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO smr VALUES (1, 'r1'), (2, 'r2'), (2, 'r2');
        |INSERT INTO sml VALUES (1, 'a1'), (1, 'a1b'), (2, 'a2'), (9, 'a9');""".stripMargin)
    // qualified right read: matched left rows once each (duplicates
    // preserved), right value from the one picked match
    val q = s.sql(
      """SELECT l.a AS a, r.rv AS rv FROM sml l LEFT SEMI JOIN smr r
        |ON l.k = r.k ORDER BY a""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("a1", "r1"), ("a1b", "r1"), ("a2", "r2")), q.toSeq)
    // unqualified right read resolves through the right schema
    val uq = s.sql(
      """SELECT a, rv FROM sml LEFT SEMI JOIN smr ON sml.k = smr.k
        |ORDER BY a""".stripMargin).collect().map(_.getString(1))
    assert(uq.toSeq == Seq("r1", "r1", "r2"), uq.toSeq)
    // bare star: both sides' columns, ClickHouse's semi shape
    val st = s.sql(
      "SELECT * FROM sml l LEFT SEMI JOIN smr r ON l.k = r.k ORDER BY l.a")
      .collect()
    assert(st.length == 3 && st(0).length == 4, st.toSeq)
    // no right refs: the plan keeps Spark's native LeftSemi (the scale
    // fast path — right values never materialize)
    val plan = s.sql(
      "SELECT a FROM sml l LEFT SEMI JOIN smr r ON l.k = r.k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(400))
  }

  test("BARE `SELECT *` over an ON-joined outer block expands per " +
    "component and fills declared defaults (r13); USING / subquery / " +
    "INNER-only blocks keep Spark's native star") {
    val s = ch
    s.execute(
      """CREATE TABLE bse (k UInt32, v Nullable(String), w String) ENGINE = Memory;
        |CREATE TABLE bsl (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO bse VALUES (1, 'v1', 'w1');
        |INSERT INTO bsl VALUES (1, 'a1'), (9, 'a9');""".stripMargin)
    val rows = s.sql(
      """SELECT * FROM bsl l LEFT JOIN bse r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    // star shape: left columns then right columns, both k's present
    assert(rows(0).schema.fieldNames.toSeq ==
      Seq("k", "a", "k", "v", "w"), rows(0).schema.fieldNames.toSeq)
    val miss = rows(1)
    assert(miss.getLong(0) == 9L && miss.getString(1) == "a9")
    assert(miss.getLong(2) == 0L, s"right k fills 0: $miss")
    assert(miss.isNullAt(3), s"declared Nullable keeps NULL: $miss")
    assert(miss.getString(4) == "", s"plain String fills '': $miss")
    // `* EXCEPT (w)` composes with the expansion
    val exc = s.sql(
      """SELECT * EXCEPT (w) FROM bsl l LEFT JOIN bse r ON l.k = r.k
        |ORDER BY l.k""".stripMargin).collect()
    assert(exc(0).schema.fieldNames.toSeq == Seq("k", "a", "k", "v"))
    assert(exc(1).getLong(2) == 0L && exc(1).isNullAt(3), exc(1).toString)
    // USING block: Spark's native star (key once); fills stay out of
    // scope there, conservative
    val us = s.sql(
      """SELECT * FROM bsl LEFT JOIN bse USING (k) ORDER BY k""".stripMargin)
      .collect()
    assert(us(0).schema.fieldNames.toSeq == Seq("k", "a", "v", "w"),
      us(0).schema.fieldNames.toSeq)
    // INNER-only block: no expansion needed, no misses to fill
    val in = s.sql(
      "SELECT * FROM bsl l INNER JOIN bse r ON l.k = r.k").collect()
    assert(in.length == 1 && in(0).length == 5)
    // join_use_nulls = 1 keeps SQL NULLs through the expansion
    val nu = s.sql(
      """SELECT * FROM bsl l LEFT JOIN bse r ON l.k = r.k
        |ORDER BY l.k SETTINGS join_use_nulls = 1""".stripMargin).collect()
    assert(nu(1).isNullAt(2) && nu(1).isNullAt(3) && nu(1).isNullAt(4),
      nu(1).toString)
  }

  test("multi-item ARRAY JOIN zips the arrays (lecture_06's corrected " +
    "shoe-size example) — positions align, no cartesian blowup") {
    val s = ch
    // the lecture_06.md:30-41 demo, with the slide's typo corrected
    // (missing comma, 'centimitres'):
    val out = s.sql(
      """SELECT size, centimetre FROM
        |( SELECT array('37', '38', '39') AS sizes,
        |         array('23', '24', '25') AS centimetres )
        |ARRAY JOIN sizes AS size, centimetres AS centimetre
        |ORDER BY size""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("37", "23"), ("38", "24"), ("39", "25")),
      out.toSeq)
    // three arrays, WHERE on a zipped alias, expression items
    s.execute(
      """CREATE TABLE zj (id UInt32, xs Array(UInt32), ys Array(String)) ENGINE = Memory;
        |INSERT INTO zj VALUES (1, array(10, 20), array('a', 'b')), (2, array(30), array('c'));""".stripMargin)
    val flt = s.sql(
      """SELECT id, x, y FROM zj ARRAY JOIN xs AS x, ys AS y
        |WHERE x > 15 ORDER BY id, x""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(flt.toSeq == Seq((1L, 20L, "b"), (2L, 30L, "c")), flt.toSeq)
    // the zipped alias survives in GROUP BY/aggregates
    val agg = s.sql(
      """SELECT y, count() AS n FROM zj ARRAY JOIN xs AS x, ys AS y
        |GROUP BY y ORDER BY y""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(agg.toSeq == Seq(("a", 1L), ("b", 1L), ("c", 1L)), agg.toSeq)
  }

  test("bare ARRAY JOIN col (no AS) unnests in place under its own " +
    "name, and its column never enters the defaults ownership space " +
    "as a table (r12 advisor find on topFromComponents)") {
    val s = ch
    s.execute(
      """CREATE TABLE baj (id UInt32, xs Array(UInt32)) ENGINE = Memory;
        |INSERT INTO baj VALUES (1, array(10, 20)), (2, array(30)), (3, array());""".stripMargin)
    val out = s.sql("SELECT id, xs FROM baj ARRAY JOIN xs ORDER BY id, xs")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L), (1L, 20L), (2L, 30L)))
    // WHERE on the unnested element; empty arrays drop (inner form)
    val flt = s.sql(
      "SELECT id FROM baj ARRAY JOIN xs WHERE xs > 15 ORDER BY id, xs")
      .collect().map(_.getLong(0))
    assert(flt.toSeq == Seq(1L, 2L))
    // the advisor's collision: the unnested column names a CATALOG
    // TABLE with a same-named declared column of a DIFFERENT
    // nullability — the join-miss default must come from the real
    // component (Nullable v → NULL), not go ambiguous through the
    // phantom `tags` table ('' fallback)
    s.execute(
      """CREATE TABLE tags (v String) ENGINE = Memory;
        |CREATE TABLE ajo (k UInt32, v Nullable(String), tags Array(UInt32)) ENGINE = Memory;
        |CREATE TABLE ajl (k UInt32, a String) ENGINE = Memory;
        |INSERT INTO ajo VALUES (1, 'v1', array(7));
        |INSERT INTO ajl VALUES (1, 'a1'), (9, 'a9');""".stripMargin)
    val mj = s.sql(
      """SELECT l.a AS a, r.v AS v
        |FROM ajl l LEFT JOIN (SELECT k, v FROM ajo ARRAY JOIN tags) r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(mj(0).getString(1) == "v1", mj.toSeq)
    assert(mj(1).isNullAt(1),
      s"declared Nullable default survives the ARRAY JOIN collision: ${mj(1)}")
    // PREWHERE ends the FROM region for the component scan: the
    // filtered column never reads as a component either
    val pw = s.sql(
      """SELECT l.a AS a, r.v AS v
        |FROM ajl l LEFT JOIN (SELECT k, v FROM ajo PREWHERE k > 0) r
        |ON l.k = r.k ORDER BY l.k""".stripMargin).collect()
    assert(pw(1).isNullAt(1),
      s"declared Nullable default survives PREWHERE: ${pw(1)}")
  }

  test("computed interval magnitudes: DAY keeps Date, HOUR promotes to " +
    "DateTime (r11, the hw08/hw11 insert idiom)") {
    val s = ch
    s.execute(
      """CREATE TABLE civ (n UInt32) ENGINE = Memory;
        |INSERT INTO civ VALUES (2);""".stripMargin)
    // CH: Date + N days = Date — the lowering must use make_interval's
    // days slot (make_dt_interval would promote to TIMESTAMP)
    val d = s.sql(
      "SELECT toDate('2024-01-01') + interval (n) days AS d FROM civ")
      .collect().head
    assert(d.get(0).isInstanceOf[java.sql.Date] &&
      d.get(0).toString == "2024-01-03", s"got ${d.get(0)}")
    // CH: Date + N hours = DateTime — sub-day units promote
    val t = s.sql(
      "SELECT toDate('2024-01-01') + interval (n) hours AS t FROM civ")
      .collect().head
    assert(t.get(0).isInstanceOf[java.sql.Timestamp], s"got ${t.get(0)}")
    assert(t.get(0).toString.startsWith("2024-01-01 02:00:00"))
  }

  test("ANTI right-side Map column under join_use_nulls = 1 is a typed NULL") {
    val s = ch
    s.execute(
      """CREATE TABLE amk (k UInt32) ENGINE = Memory;
        |CREATE TABLE amg (k UInt32, m Map(String, UInt64)) ENGINE = Memory;
        |INSERT INTO amk VALUES (1), (2);""".stripMargin)
    // pre-fix the substitution spelled nullif(CAST(map() AS ...), ...)
    // and Spark rejected the map equality at analysis
    val nu = s.sql(
      """SELECT l.k AS k, g.m AS m FROM amk l ANTI JOIN amg g
        |ON l.k = g.k ORDER BY k SETTINGS join_use_nulls = 1""".stripMargin)
      .collect()
    assert(nu.length == 2 && nu.forall(_.isNullAt(1)),
      s"join_use_nulls = 1 ANTI map fill must be NULL: ${nu.toSeq}")
    // the default setting keeps the {} type default
    val d = s.sql(
      """SELECT l.k AS k, g.m AS m FROM amk l ANTI JOIN amg g
        |ON l.k = g.k ORDER BY k""".stripMargin).collect()
    assert(d.length == 2 && d.forall(r => !r.isNullAt(1) &&
      r.getMap[String, Long](1).isEmpty),
      s"join_use_nulls = 0 ANTI map fill must be {}: ${d.toSeq}")
  }

  test("GROUP BY ... WITH TOTALS: per-group rows plus one NULL-keyed " +
    "grand-total row, single aggregation pass") {
    val s = ch
    s.execute(
      """CREATE TABLE tot (k UInt32, v UInt32) ENGINE = Memory;
        |INSERT INTO tot SELECT number % 3, number FROM numbers(9);""".stripMargin)
    val r = s.sql(
      """SELECT k, sum(v) AS sv, count() AS c FROM tot
        |GROUP BY k WITH TOTALS ORDER BY k""".stripMargin).collect()
    // 3 groups + the totals row; NULLS FIRST under Spark's ASC default
    assert(r.length == 4, s"expected 3 groups + totals: ${r.toSeq}")
    val totals = r.filter(_.isNullAt(0))
    assert(totals.length == 1 &&
      totals.head.getLong(1) == 36L && totals.head.getLong(2) == 9L,
      s"totals row must aggregate ALL rows: ${r.toSeq}")
    assert(r.filterNot(_.isNullAt(0)).map(_.getLong(1)).sorted.toSeq ==
      Seq(9L, 12L, 15L))
    // multi-key list + a subquery block: rewrite applies at depth
    val sub = s.sql(
      """SELECT count() AS n FROM
        |  (SELECT k, v % 2 AS p, sum(v) AS sv FROM tot
        |   GROUP BY k, v % 2 WITH TOTALS)""".stripMargin).collect()
    assert(sub.head.getLong(0) == 7L, // 6 (k,p) groups + 1 totals
      s"multi-key TOTALS in a subquery: ${sub.toSeq}")
  }

  test("WITH TOTALS + HAVING: the guard keeps the totals row and filters " +
    "only per-group rows (totals_mode = before_having spelling)") {
    val s = ch
    s.execute(
      """CREATE TABLE toth (k UInt32, v UInt32) ENGINE = Memory;
        |INSERT INTO toth SELECT number % 3, number FROM numbers(9);""".stripMargin)
    val r = s.sql(
      """SELECT k, sum(v) AS sv FROM toth
        |GROUP BY k WITH TOTALS HAVING sum(v) > 10 ORDER BY k""".stripMargin)
      .collect()
    // groups 1 (sv=12) and 2 (sv=15) pass; group 0 (sv=9) filtered;
    // the totals row (36, over ALL rows) always survives
    assert(r.length == 3, s"2 passing groups + totals: ${r.toSeq}")
    assert(r.filter(_.isNullAt(0)).map(_.getLong(1)).toSeq == Seq(36L))
    assert(r.filterNot(_.isNullAt(0)).map(_.getLong(1)).sorted.toSeq ==
      Seq(12L, 15L))
  }

  test("postfix cast ::Type: identifier, call and chained operands, CH " +
    "type names lowered (hw14.md:38)") {
    val s = ch
    s.execute(
      """CREATE TABLE pfx (v UInt32, s String) ENGINE = Memory;
        |INSERT INTO pfx VALUES (7, '11'), (9, '13');""".stripMargin)
    val r = s.sql(
      """SELECT v::Float64 AS vf, s::UInt32 AS si,
        |  (v + 1)::String AS vs, toString(v)::UInt64::Float64 AS chained
        |FROM pfx ORDER BY v""".stripMargin).collect()
    assert(r.head.getDouble(0) == 7.0)
    assert(r.head.getLong(1) == 11L)
    assert(r.head.getString(2) == "8")
    assert(r.head.getDouble(3) == 7.0)
    assert(r.map(_.getLong(1)).toSeq == Seq(11L, 13L))
  }

  test("ADD COLUMN FIRST / AFTER order the declared schema; DateTime " +
    "arithmetic takes expression operands (hw03.md:41,205)") {
    val s = ch
    s.execute(
      """CREATE TABLE posn (a UInt32, b UInt32) ENGINE = Memory;
        |INSERT INTO posn VALUES (1, 2);
        |ALTER TABLE posn ADD COLUMN z UInt32 DEFAULT 9 FIRST;
        |ALTER TABLE posn ADD COLUMN m UInt32 DEFAULT 5 AFTER a;""".stripMargin)
    val df = s.sql("SELECT * FROM posn")
    assert(df.columns.toSeq == Seq("z", "a", "m", "b"))
    assert(df.collect().head.toSeq == Seq(9L, 1L, 5L, 2L))
    // toDateTime(..) ± expr: seconds arithmetic over a computed operand,
    // and the subtraction spelling
    val t = s.sql(
      """SELECT toDateTime('2023-10-01 00:00:00') + number * 3600 AS up,
        |       toDateTime('2023-10-01 12:00:00') - number * 1800 AS down
        |FROM numbers(2) ORDER BY up""".stripMargin).collect()
    assert(t(1).getTimestamp(0).toString.startsWith("2023-10-01 01:00:00"))
    assert(t(1).getTimestamp(1).toString.startsWith("2023-10-01 11:30:00"))
  }

  test("WITH TOTALS in a set-op chain: a later block's HAVING is NOT " +
    "guarded (the guard scan stops at INTERSECT/EXCEPT, not just UNION)") {
    val s = ch
    s.execute(
      """CREATE TABLE tots (k UInt32, v UInt32) ENGINE = Memory;
        |INSERT INTO tots SELECT number % 3, number FROM numbers(9);""".stripMargin)
    // The first block has TOTALS but no HAVING; the second block's HAVING
    // belongs to a plain GROUP BY — guarding it with grouping_id() would
    // be an analysis error there (no grouping sets in that block).
    val r = s.sql(
      """SELECT k, sum(v) AS sv FROM tots GROUP BY k WITH TOTALS
        |INTERSECT
        |SELECT k, sum(v) AS sv FROM tots GROUP BY k HAVING sum(v) > 10""".stripMargin)
      .collect()
    // left: groups (9,12,15) + totals(36); right: (12,15) → intersect {12,15}
    assert(r.map(_.getLong(1)).sorted.toSeq == Seq(12L, 15L),
      s"INTERSECT chain: ${r.toSeq}")
    val e = s.sql(
      """SELECT k, sum(v) AS sv FROM tots GROUP BY k WITH TOTALS
        |EXCEPT
        |SELECT k, sum(v) AS sv FROM tots GROUP BY k HAVING sum(v) > 10""".stripMargin)
      .collect()
    // left minus right = group 0 (sv=9) + the NULL-keyed totals row (36)
    assert(e.length == 2 && e.map(_.getLong(1)).sorted.toSeq == Seq(9L, 36L),
      s"EXCEPT chain: ${e.toSeq}")
  }

}
