package graft.chsql

import graft.SparkSpec

/** Corpus sweep: every SELECT statement inside a ```sql fence across the
  * reference's lectures and homeworks goes through the dialect rewriter
  * and Spark's SQL parser (syntax only — most statements reference demo
  * tables that exist only inside their lecture's session). The assertion
  * pins a floor on dialect acceptance so regressions in the rewriter
  * surface immediately.
  */
class ChSqlSweepSpec extends SparkSpec {

  private def sqlBlocks(text: String): Seq[String] = {
    val fence = "(?s)```sql(.*?)```".r
    fence.findAllMatchIn(text).map(_.group(1)).toSeq
  }

  test("reference corpus sweep: SELECT dialect acceptance") {
    val root = java.nio.file.Path.of("/root/reference")
    val mds = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".md") || p.toString.endsWith(".sql"))
      .toSeq
    val statements = mds.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      val blocks =
        if (p.toString.endsWith(".sql")) Seq(text) else sqlBlocks(text)
      blocks.flatMap(b => scala.util.Try(ChLexer.statements(b))
        .getOrElse(Nil))
    }.filter { st =>
      val up = st.trim.toUpperCase
      (up.startsWith("SELECT") || up.startsWith("WITH ")) &&
        // dbt/Jinja template text ({{ref(...)}}, {% if %}) from the
        // orchestration lectures is not ClickHouse SQL until dbt renders
        // it — out of the dialect's scope (SURVEY §2.14)
        !st.contains("{{") && !st.contains("{%")
    }.distinct
    assert(statements.size > 150, s"sweep found only ${statements.size} statements")

    val resolver = new ChSqlRewrite.Resolver {
      // every referenced name resolves — the sweep tests SYNTAX, not catalogs
      def resolve(id: String) =
        Some(ChSqlRewrite.ResolvedTable("sweep_t", Some("sweep_t"), Some("k")))
      override def resolveDict(name: String) = Some(("sweep_t", "k"))
      // remote()/cluster()/s3()/url()/... lower to a resolved view, the
      // same shape ChSession.materializeTableFunction produces
      override def resolveTableFunction(fn: String, args: Seq[String]) =
        Some("sweep_t")
    }
    val parser = spark.sessionState.sqlParser
    // parameterized {name:Type} forms (round 6: in scope — ChParams)
    // sweep with a synthetic binding per declared type
    def sweepValue(chType: String): String = {
      val lower = chType.toLowerCase
      if (lower == "identifier") "sweep_t"
      else if (lower.startsWith("array(")) "[1]"
      else if (lower.contains("date")) "2024-01-01"
      else if (lower.contains("string") || lower.contains("uuid")) "x"
      else "1"
    }
    val results = statements.map { st =>
      val ok = scala.util.Try {
        val bound = ChParams.placeholders(st) match {
          case ps if ps.nonEmpty => ChParams.substitute(st,
            ps.map(p => p.name -> sweepValue(p.chType)).toMap)
          case _ => st
        }
        val rw = ChSqlRewrite.rewrite(bound, resolver)
        parser.parsePlan(rw.sql)
      }.isSuccess
      (st, ok)
    }
    val pass = results.count(_._2)
    val rate = pass.toDouble / results.size
    info(f"dialect sweep: $pass/${results.size} (${rate * 100}%.1f%%) " +
      "reference SELECT statements rewrite to parseable Spark SQL")
    results.filterNot(_._2).take(5).foreach { case (st, _) =>
      info("MISS: " + st.replaceAll("\\s+", " ").take(120))
    }
    assert(rate >= 0.95, f"dialect acceptance regressed: ${rate * 100}%.1f%%")

    // EXECUTED subset: the parse sweep proves syntax; this REPLAYS each
    // reference file as a script — a fresh session per file, statements
    // executed in order, so each lecture's own CREATE/INSERT fixtures
    // build the state its SELECTs read. Counted: SELECTs that produce
    // output end-to-end. Skipped up front: network table functions (no
    // egress), parameterized {p:T} forms (out of scope). 7-digit-row
    // numbers() perf fixtures are DOWNSCALED 1000x (downscaleNumbers)
    // rather than skipped, so lecture_10's
    // 2billion/2million join demos and hw14's numbers() join execute at
    // a bounded size with the same shape. SELECTs over infra this
    // sandbox lacks (system.replicas, cluster state) fail resolution and
    // don't count. remote()/cluster()/clusterAllReplicas() are NOT
    // skipped: one engine here, so they resolve to the local table
    // (clickhouse-local semantics) and the lecture_20/hw09 cluster
    // SELECTs execute
    val external = "(?i)\\b(url|s3|postgresql|jdbc|odbc|mysql|file)\\s*\\(".r
    // a 7+-digit count in ANY argument position: numbers(2000000000)
    // AND numbers(1, 2000000000[, step]) (r12 — the start-offset form
    // escaped the first-arg-only detection and lecture_10's RIGHT join
    // sorted 2 BILLION rows: memory pressure -> multi-minute GC pauses
    // -> heartbeat kill, the exit-56 suite deaths)
    val bigNumbers = "(?i)numbers(_mt)?\\s*\\([^()]*\\d{7,}".r
    var executedSelects = 0
    var totalSelects = 0
    mds.foreach { p =>
      val text = java.nio.file.Files.readString(p)
      val blocks =
        if (p.toString.endsWith(".sql")) Seq(text) else sqlBlocks(text)
      val stmts = blocks.flatMap(b => scala.util.Try(ChLexer.statements(b))
        .getOrElse(Nil))
      if (stmts.nonEmpty) {
        val session = new ChSession(spark)
        stmts.foreach { st0 =>
          val st =
            if (bigNumbers.findFirstIn(st0).isDefined)
              downscaleNumbers(st0)
            else st0
          val up = st.trim.toUpperCase
          val skip = up.contains("{") || external.findFirstIn(st).isDefined
          if (!skip) {
            if (up.startsWith("SELECT") || up.startsWith("WITH ")) {
              totalSelects += 1
              if (scala.util.Try(session.sql(st).limit(10).collect()).isSuccess)
                executedSelects += 1
            } else scala.util.Try(
              session.execute(st).foreach(_.limit(1).collect()))
          }
        }
      }
    }
    info(s"executed subset: $executedSelects/$totalSelects corpus SELECTs " +
      "ran end-to-end against their own files' fixtures")
    // floor == actual (round 8: 246/269 — the 1000x numbers() downscale
    // put lecture_10's five 2billion/2million join demos and hw14's
    // numbers() join into the executed set (with digit-leading
    // identifiers and the numbers(start, count) count-vs-end fix), and
    // ANTI JOIN right-side columns reading as type defaults closed the
    // former hw06 semantic-delta row; round 7 was 239/268). Every
    // remaining miss is pinned to a category in docs/sweep_residue.md
    // (external data/infra, slide typos/placeholders).
    assert(executedSelects >= 246, s"executed subset shrank: $executedSelects")
  }

  /** The corpus's join/perf demos build ≥1e7-row `numbers()` fixtures
    * (lecture_10.md:44 inserts 2e9 rows). Executing those verbatim is
    * pure CI time, but skipping them left their five join SELECTs
    * unexecuted. Scaling every ≥7-digit `numbers()` argument down 1000x
    * keeps each demo's SHAPE — the 2billion:2million row ratio, the
    * sparse-step table, the join directions — at a bounded size, so the
    * demos execute in the sweep proper.
    */
  private def downscaleNumbers(st: String): String = {
    val call = "(?i)numbers(_mt)?\\s*\\([^()]*\\)".r
    call.replaceAllIn(st, m => java.util.regex.Matcher.quoteReplacement(
      "\\d{7,}".r.replaceAllIn(m.matched,
        d => (d.matched.toLong / 1000L).toString)))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
