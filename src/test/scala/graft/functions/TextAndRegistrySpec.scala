package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAndRegistrySpec extends SparkSpec {
  import spark.implicits._

  test("normalize/tokens/ngrams behave on edge cases") {
    val df = Seq("Hello, World! 123", "", "  a  b ", "ab").toDF("t")
      .select(TextFunctions.normalizeText($"t").as("n"),
        TextFunctions.tokenCount($"t").as("c"),
        TextFunctions.wordNgrams($"t", 3).as("g3"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "hello world 123")
    assert(rows(0).getInt(1) == 3)
    assert(rows(1).getInt(1) == 0)                       // empty → 0 tokens
    assert(rows(2).getInt(1) == 2)                       // collapsed spaces
    assert(rows(3).getSeq[String](2).isEmpty)            // short doc → no 3-grams
    assert(rows(0).getSeq[String](2) == Seq("hello world 123"))
  }

  test("langId votes by marker tokens with deterministic ties") {
    val df = Seq(
      "the cat and the dog is here",      // en
      "el perro de la casa y los gatos",  // es
      "xyzzy qwerty plugh").toDF("t")     // no markers → und
      .select(TextFunctions.langId($"t").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "und"))
  }

  test("normText/normTokens kernels match the regex definition on corpus + edges") {
    val edges = Seq("Hello, World! 123", "", "  a  b ", "ab", "A-B_C.9",
      "...", "x" * 5000).toDF("text")
    val docs = graft.tables.Tables(spark, sfDir).documents.select("text")
    Seq(edges, docs).foreach { df =>
      val cmp = df.select(
        TextFunctions.normalizeText($"text").as("re_norm"),
        graft.plans.NativeFunctions.normText($"text").as("k_norm"),
        TextFunctions.tokenCount($"text").as("re_cnt"),
        org.apache.spark.sql.functions.size(
          graft.plans.NativeFunctions.normTokens($"text")).as("k_cnt"))
      assert(cmp.filter($"re_norm" =!= $"k_norm" || $"re_cnt" =!= $"k_cnt").count() == 0)
    }
  }

  test("native langId kernel matches the composed-functions definition") {
    val docs = graft.tables.Tables(spark, sfDir).documents
    val both = docs.select(
      TextFunctions.langId($"text").as("composed"),
      graft.plans.NativeFunctions.langId(TextFunctions.tokens($"text")).as("kernel"))
    assert(both.filter($"composed" =!= $"kernel").count() == 0)
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq("Hello  World!", "hello world").toDF("t")
      .select(TextFunctions.fingerprintMd5($"t").as("f"))
    val fps = df.as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("ClickHouse-dialect SQL names run through the registry") {
    val out = spark.sql(
      """SELECT toYYYYMM(TIMESTAMP '2024-03-15 10:00:00') AS ym,
        |       multiIf(1 < 2, 'yes', 'no') AS mi,
        |       toUInt64('42') AS u,
        |       JSONExtractInt('{"k": 7}', 'k') AS k
        |""".stripMargin).collect().head
    assert(out.getInt(0) == 202403)
    assert(out.getString(1) == "yes")
    assert(out.getLong(2) == 42L)
    assert(out.getLong(3) == 7L)
  }

  test("dialect names: any/anyLast, groupBit*, empty/position scalars") {
    val agg = spark.sql(
      """SELECT any(x) AS a, anyLast(x) AS l,
        |       groupBitAnd(x) AS ba, groupBitOr(x) AS bo, groupBitXor(x) AS bx
        |FROM VALUES (6), (3), (7) AS t(x)""".stripMargin).collect().head
    assert(Set(6, 3, 7).contains(agg.getInt(0)))
    assert(Set(6, 3, 7).contains(agg.getInt(1)))
    assert(agg.getInt(2) == (6 & 3 & 7))
    assert(agg.getInt(3) == (6 | 3 | 7))
    assert(agg.getInt(4) == (6 ^ 3 ^ 7))
    val s = spark.sql(
      """SELECT empty('') AS e, notEmpty('x') AS ne,
        |       lengthUTF8('héllo') AS n, position('hello world', 'world') AS p
        |""".stripMargin).collect().head
    assert(s.getBoolean(0) && s.getBoolean(1))
    assert(s.getInt(2) == 5)
    assert(s.getInt(3) == 7)
    // CH accepts arrays/maps in empty()/notEmpty(), and position takes an
    // optional 1-based start offset
    val s2 = spark.sql(
      """SELECT empty(array()) AS ea, notEmpty(array(1, 2)) AS na,
        |       empty(map()) AS em, position('ababab', 'ab', 3) AS p3
        |""".stripMargin).collect().head
    assert(s2.getBoolean(0) && s2.getBoolean(1) && s2.getBoolean(2))
    assert(s2.getInt(3) == 3)
    // higher-order array names, CH argument order (lambda first)
    val a = spark.sql(
      """SELECT arrayMap(x -> x * 2, array(1, 2, 3)) AS m,
        |       arrayFilter(x -> x > 1, array(1, 2, 3)) AS f,
        |       arrayExists(x -> x = 2, array(1, 2, 3)) AS ex,
        |       arrayEnumerate(array('a', 'b', 'c')) AS en,
        |       indexOf(array(10, 20, 30), 20) AS io
        |""".stripMargin).collect().head
    assert(a.getSeq[Int](0) == Seq(2, 4, 6))
    assert(a.getSeq[Int](1) == Seq(2, 3))
    assert(a.getBoolean(2))
    assert(a.getSeq[Int](3) == Seq(1, 2, 3))
    assert(a.getLong(4) == 2L)
    // CH's enumerate of [] is [] — unguarded sequence(1, 0) would run
    // DESCENDING and yield [1, 0]
    val en = spark.sql(
      "SELECT arrayEnumerate(array_remove(array(1), 1)) AS e").collect().head
    assert(en.getSeq[Int](0) == Seq.empty)
    val enF = spark.range(1)
      .select(graft.functions.ChFunctions.arrayEnumerate(
        array_remove(array(lit(1)), 1)).as("e")).collect().head
    assert(enF.getSeq[Int](0) == Seq.empty)
    // running array transforms: native one-pass kernels behind CH names
    val run = spark.sql(
      """SELECT arrayCumSum(array(1, 2, 3)) AS cs,
        |       arrayDifference(array(5.0, 2.0, 7.0)) AS df,
        |       arrayCumSum(array()) AS e
        |""".stripMargin).collect().head
    assert(run.getSeq[Double](0) == Seq(1.0, 3.0, 6.0))
    assert(run.getSeq[Double](1) == Seq(0.0, -3.0, 5.0))
    assert(run.getSeq[Double](2) == Seq.empty)
  }

  test("shingleHashes + jaccardSorted match the string-set jaccard exactly") {
    import graft.plans.NativeFunctions
    val rnd = new scala.util.Random(7)
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(40))(s"w${rnd.nextInt(30)}").mkString(" "))
    }.toDF("id", "text")
    for (n <- Seq(1, 3)) {
      val toks = NativeFunctions.normTokens($"text")
      val g = docs.select($"id",
        NativeFunctions.shingleHashes(toks, n).as("gh"),
        array_distinct(NativeFunctions.shingles(toks, n)).as("gs"))
      val pairs = g.as("x").crossJoin(g.as("y"))
        .filter($"x.id" < $"y.id")
        .select(
          NativeFunctions.jaccardSorted($"x.gh", $"y.gh").as("fast"),
          (size(array_intersect($"x.gs", $"y.gs")).cast("double") /
            size(array_union($"x.gs", $"y.gs")).cast("double")).as("ref"))
        .collect()
      assert(pairs.nonEmpty)
      pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
        s"n=$n fast=${r.getDouble(0)} ref=${r.getDouble(1)}"))
      // sorted-distinct invariant the merge relies on
      val hs = g.select($"gh").as[Seq[Long]].collect()
      hs.foreach(a => assert(a == a.distinct.sorted))
    }
  }

  test("extractHtmlText strips markup, decodes entities, collapses space") {
    def x(s: String): String =
      Seq(s).toDF("h").select(TextFunctions.extractHtmlText($"h"))
        .as[String].collect().head
    assert(x("<p>Hello <b>world</b></p>") == "Hello world")
    // script/style bodies vanish entirely, case-insensitively, multiline
    assert(x("<SCRIPT>\nvar a = 1 < 2;\n</SCRIPT>ok<style>b{}</style>") == "ok")
    // comments go; entities decode; &amp;lt; yields the LITERAL "&lt;"
    assert(x("<!-- no -->a &lt;tag&gt; &amp; b &amp;lt; c") == "a <tag> & b &lt; c")
    assert(x("a&nbsp;b&quot;c&#39;d") == "a b\"c'd")
    // whitespace collapses and trims
    assert(x("  <div>\n a \n\t b </div> ") == "a b")
    assert(x("plain text, no markup") == "plain text, no markup")
    assert(x("") == "")
  }

  test("UrlFunctions: parts, cuts, canonicalization") {
    import graft.functions.UrlFunctions._
    val u = "HTTPS://User@Sub.ExAmple.COM:8443/a/b/?z=1&utm_source=x&a=2#frag"
    def one(c: org.apache.spark.sql.Column): String =
      Seq(u).toDF("u").select(c.cast("string")).as[String].collect().head
    assert(one(protocol($"u")) == "https")
    assert(one(domain($"u")) == "sub.example.com")
    assert(one(path($"u")) == "/a/b/")
    assert(one(queryString($"u")) == "z=1&utm_source=x&a=2")
    assert(one(fragment($"u")) == "frag")
    assert(one(cutFragment($"u")) == u.takeWhile(_ != '#'))
    assert(one(cutQueryString($"u")) ==
      "HTTPS://User@Sub.ExAmple.COM:8443/a/b/#frag")
    assert(one(extractURLParameter($"u", "a")) == "2")
    assert(one(extractURLParameter($"u", "nope")) == "")
    assert(one(canonicalizeUrl($"u")) == "https://sub.example.com/a/b?a=2&z=1")
    // no scheme -> opaque passthrough; no query/path -> bare host
    assert(one(canonicalizeUrl(lit(" relative/path "))) == "relative/path")
    assert(one(canonicalizeUrl(lit("http://A.com/"))) == "http://a.com")
    // the equivalence canonicalization exists for
    val variants = Seq(
      "HTTP://Site.com:80/a/?utm_source=x&b=1&a=2#top",
      "http://site.com/a?a=2&b=1",
      "http://USER@site.com/a/?b=1&a=2&gclid=42")
    val canon = variants.toDF("u")
      .select(canonicalizeUrl($"u")).as[String].collect().toSet
    assert(canon == Set("http://site.com/a?a=2&b=1"))
  }

  test("dialect names: CH URL family matches the Column API") {
    val r = spark.sql(
      """SELECT protocol('HTTP://X.com/p') AS pr,
        |       domain('https://u@A.B.com:443/x?q=1') AS d,
        |       path('http://a.com/x/y?q=1') AS p,
        |       queryString('http://a.com/x?q=1&r=2#f') AS qs,
        |       fragment('http://a.com/x#sec') AS fr,
        |       cutQueryString('http://a.com/x?q=1#f') AS cq,
        |       cutFragment('http://a.com/x?q=1#f') AS cf,
        |       extractURLParameter('http://a.com/x?q=1&r=2', 'r') AS ep
        |""".stripMargin).collect().head
    assert(r.getString(0) == "http")
    assert(r.getString(1) == "a.b.com")
    assert(r.getString(2) == "/x/y")
    assert(r.getString(3) == "q=1&r=2")
    assert(r.getString(4) == "sec")
    assert(r.getString(5) == "http://a.com/x#f")
    assert(r.getString(6) == "http://a.com/x?q=1")
    assert(r.getString(7) == "2")
  }

  test("dialect names: CH string family") {
    val r = spark.sql(
      """SELECT base64Encode('hi') AS b64, base64Decode('aGk=') AS bd,
        |       leftPad('x', 4, '.') AS lp, rightPad('x', 4) AS rp,
        |       trimBoth('  a  ') AS tb, trimLeft('  a  ') AS tl, trimRight('  a  ') AS tr,
        |       substringUTF8('héllo', 2, 3) AS su, substringUTF8('hello', 3) AS su2,
        |       lowerUTF8('ÀBC') AS lo, upperUTF8('àbc') AS up,
        |       replaceAll('aaa', 'a', 'b') AS ra,
        |       replaceRegexpAll('a1b2', '[0-9]', '#') AS rr,
        |       multiSearchAny('haystack', array('zz', 'stack')) AS ms,
        |       multiSearchAny('haystack', array('zz')) AS ms2,
        |       splitByString('ab', '1ab2ab3') AS sp
        |""".stripMargin).collect().head
    assert(r.getString(0) == "aGk=" && r.getString(1) == "hi")
    assert(r.getString(2) == "...x" && r.getString(3) == "x   ")
    assert(r.getString(4) == "a" && r.getString(5) == "a  " && r.getString(6) == "  a")
    assert(r.getString(7) == "éll" && r.getString(8) == "llo")
    assert(r.getString(9) == "àbc" && r.getString(10) == "ÀBC")
    assert(r.getString(11) == "bbb" && r.getString(12) == "a#b#")
    assert(r.getBoolean(13) && !r.getBoolean(14))
    assert(r.getSeq[String](15) == Seq("1", "2", "3"))
  }

  test("dialect names: arithmetic, tuple, introspection, now/today") {
    val r = spark.sql(
      """SELECT plus(2, 3) AS p, minus(10, 4) AS m, multiply(6, 7) AS mu,
        |       divide(7, 2) AS d, negate(5) AS n, tuple(1, 'a') AS t,
        |       toTypeName(CAST(1 AS BIGINT)) AS tn
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 5 && r.getInt(1) == 6 && r.getInt(2) == 42)
    assert(r.getDouble(3) == 3.5)
    assert(r.getInt(4) == -5)
    assert(r.getStruct(5).getInt(0) == 1 && r.getStruct(5).getString(1) == "a")
    assert(r.getString(6) == "bigint")
    val ident = spark.sql(
      "SELECT currentDatabase() AS db, version() AS v, hostName() AS h")
      .collect().head
    assert(ident.getString(0).nonEmpty)
    assert(ident.getString(1).startsWith("4."))
    assert(ident.getString(2).nonEmpty)
    // now/today/yesterday evaluate to the session clock
    val clock = spark.sql(
      "SELECT now() AS n, today() AS t, yesterday() AS y").collect().head
    assert(clock.getTimestamp(0) != null)
    assert(clock.getDate(1).toLocalDate.minusDays(1) == clock.getDate(2).toLocalDate)
  }

  test("dialect names: CH date family") {
    val r = spark.sql(
      """SELECT toDayOfWeek(DATE '2024-03-15') AS dow,  -- a Friday
        |       toDayOfMonth(DATE '2024-03-15') AS dom,
        |       toQuarter(DATE '2024-03-15') AS q,
        |       toMonday(DATE '2024-03-15') AS mon,
        |       addDays(DATE '2024-03-15', 20) AS ad,
        |       subtractMonths(DATE '2024-03-15', 3) AS sm,
        |       addHours(TIMESTAMP '2024-03-15 22:30:00', 3) AS ah,
        |       datediff(DATE '2024-03-20', DATE '2024-03-15') AS dd2,
        |       toUnixTimestamp(TIMESTAMP '1970-01-01 00:01:00') AS ux,
        |       fromUnixTimestamp(60) AS fx
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 5 && r.getInt(1) == 15 && r.getInt(2) == 1)
    assert(r.getDate(3).toString == "2024-03-11")
    assert(r.getDate(4).toString == "2024-04-04")
    assert(r.getDate(5).toString == "2023-12-15")
    assert(r.getTimestamp(6).toString == "2024-03-16 01:30:00.0")
    assert(r.getInt(7) == 5)
    assert(r.getLong(8) == 60L)
    assert(r.getTimestamp(9).toInstant.getEpochSecond == 60L)
  }

  test("dialect macros: parseDateTimeBestEffort family") {
    val r = spark.sql(
      """SELECT parseDateTimeBestEffort('2024-03-15 10:00:00') AS iso,
        |       parseDateTimeBestEffort('2024-03-15T10:00:00') AS isot,
        |       parseDateTimeBestEffort('2024-03-15') AS d,
        |       parseDateTimeBestEffortOrZero('not a date') AS z,
        |       parseDateTimeBestEffortUSOrZero('03/15/2024 10:00:00') AS us
        |""".stripMargin).collect().head
    assert(r.getTimestamp(0).toString == "2024-03-15 10:00:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-15 10:00:00.0")
    assert(r.getTimestamp(2).toString == "2024-03-15 00:00:00.0")
    assert(r.getTimestamp(3).toInstant.getEpochSecond == 0L)
    assert(r.getTimestamp(4).toString == "2024-03-15 10:00:00.0")
  }

  test("dialect macros: arrayJoin / toStartOfInterval / formatReadableSize") {
    val r = spark.sql(
      """SELECT arrayJoin(array(1, 2, 3)) AS x""").as[Int].collect().toSeq
    assert(r == Seq(1, 2, 3))
    val t = spark.sql(
      """SELECT toStartOfInterval(TIMESTAMP '2024-01-01 10:07:43', 60) AS b"""
    ).collect().head.getTimestamp(0).toString
    assert(t == "2024-01-01 10:07:00.0")
    val fs = spark.sql("SELECT formatReadableSize(1536) AS s, formatReadableSize(123) AS t")
      .collect().head
    assert(fs.getString(0) == "1.50 KiB" && fs.getString(1) == "123.00 B")
    // macro output matches the Column-API implementation
    val both = Seq(999L, 1536L, 1048576L * 3 + 12345).toDF("b")
      .select(TextRegParityHelper.viaColumns($"b").as("c"),
        org.apache.spark.sql.functions.call_function("formatReadableSize", $"b").as("m"))
    assert(both.filter($"c" =!= $"m").count() == 0)
    // printf parity (RoundHalfEvenExact): round the EXACT binary value,
    // ties half-even — what C-family printf / a DuckDB oracle does, and
    // what Java's %.2f (shortest-repr, half-up) does NOT:
    //  · 3125/1000 = 3.125 exactly → tie → "3.12" (Java alone: "3.13")
    //  · 3135/1000 stores as 3.13499… → "3.13" (Java alone: "3.14" —
    //    its shortest repr is "3.135")
    //  · 2675/1000 stores as 2.67499… → "2.67" (Java alone: "2.68")
    val q = Seq(3125L, 3135L, 2675L).toDF("x")
      .select(ChFunctions.formatReadableQuantity($"x").as("s"))
      .as[String].collect().toSeq
    assert(q == Seq("3.12 thousand", "3.13 thousand", "2.67 thousand"), q)
    // binary-unit sibling: 1152/1024 = 1.125 KiB exactly → tie → "1.12 KiB"
    val sz = Seq(1152L).toDF("x")
      .select(ChFunctions.formatReadableSize($"x").as("s")).as[String].head()
    assert(sz == "1.12 KiB", sz)
  }

  test("winnowing fingerprint: shared long runs share a print; short/empty docs behave") {
    // winnowing guarantee: a shared run of >= w+k-1 = 6 tokens must yield
    // at least one common fingerprint
    val shared = "the quick brown fox jumps over"
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared nine ten"),
      (3L, "completely different words here entirely"),
      (4L, "tiny doc"),   // < k tokens → no k-grams → empty fingerprint
      (5L, "")).toDF("id", "text")
    val fps = df.select($"id",
        TextFunctions.winnowingFingerprint($"text", k = 3, w = 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty, "shared 6-token run must share a print")
    assert((fps(3) intersect fps(1)).isEmpty)
    assert(fps(4).isEmpty && fps(5).isEmpty)
    // compression: far fewer prints than 3-grams for a long doc
    val doc = (1 to 200).map(i => s"w${i % 97}").mkString(" ")
    val one = Seq((1L, doc)).toDF("id", "text")
    val nFp = one.select(TextFunctions.winnowingFingerprint($"text").as("f"))
      .select(org.apache.spark.sql.functions.size($"f")).as[Int].head()
    assert(nFp > 0 && nFp < 198, s"expected winnowed set < #3-grams, got $nFp")
  }

  test("CH aggregate names: uniq / uniqExact / argMax / groupArray") {
    Seq((1, "a", 10), (1, "b", 20), (2, "c", 5)).toDF("g", "s", "v")
      .createOrReplaceTempView("t_reg")
    val r = spark.sql(
      """SELECT g, uniqExact(s) AS ue, argMax(s, v) AS am
        |FROM t_reg GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r(0).getLong(1) == 2L && r(0).getString(2) == "b")
    assert(r(1).getLong(1) == 1L && r(1).getString(2) == "c")
  }

  test("CH dialect: sumIf/avgIf/minIf/maxIf, median/quantile") {
    Seq((1, 10, true), (1, 20, false), (1, 30, true), (2, 7, true))
      .toDF("g", "v", "ok").createOrReplaceTempView("t_if")
    val r = spark.sql(
      """SELECT g, sumIf(v, ok) AS s, avgIf(v, ok) AS a,
        |       minIf(v, ok) AS mn, maxIf(v, ok) AS mx,
        |       median(v) AS md, quantile(v, 0.5) AS q50
        |FROM t_if GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r(0).getLong(1) == 40L && r(0).getDouble(2) == 20.0)
    assert(r(0).getInt(3) == 10 && r(0).getInt(4) == 30)
    assert(r(0).getDouble(5) == 20.0 && r(0).getDouble(6) == 20.0)
    assert(r(1).getLong(1) == 7L)
  }

  test("WITH TOTALS: per-group rows plus one grand-total row, single pass") {
    val df = Seq(("x", 1), ("x", 2), ("y", 10)).toDF("g", "v")
    val out = ChAggregates.withTotals(df, Seq("g"),
      Seq(org.apache.spark.sql.functions.sum($"v").as("s"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n")))
    val rows = out.collect().map(r =>
      (Option(r.get(0)).map(_.toString), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(
      (Some("x"), 3L, 2L), (Some("y"), 10L, 1L), (None, 13L, 3L)))
    // one aggregation over an Expand — not two scans unioned
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Expand") && !plan.contains("Union"), plan.take(800))
  }
}

object TextRegParityHelper {
  def viaColumns(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ChFunctions.formatReadableSize(b)
}
