package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The SQL `-State`/`-Merge` surface (StateSqlRegistry): the
  * AggregatingMergeTree contract is that states written part-by-part in
  * ANY grouping merge to the same answer as a direct aggregate — checked
  * over seeded random data and random part splits, plus the tag-safety
  * and finalize-dispatch contracts.
  */
class StateSqlRegistrySpec extends SparkSpec {
  import spark.implicits._

  test("uniq/avg/sum/maxIf: part-split states merge to the direct answer " +
      "for any split") {
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val xs = Seq.fill(n)(rnd.nextInt(50).toLong)
      val parts = Seq.fill(n)(rnd.nextInt(5))
      parts.zip(xs).toDF("p", "x").createOrReplaceTempView("st_in")
      val merged = spark.sql(
        """SELECT uniqMerge(us) AS u, avgMerge(as_) AS a, sumMerge(ss) AS s,
          |       maxIfMerge(ms) AS m
          |FROM (SELECT p, uniqState(CAST(x AS STRING)) AS us,
          |             avgState(CAST(x AS DOUBLE)) AS as_,
          |             sumState(x) AS ss,
          |             maxIfState(CAST(x AS STRING), x % 2 = 0) AS ms
          |      FROM st_in GROUP BY p)""".stripMargin).collect().head
      assert(merged.getLong(0) == xs.distinct.length.toLong)
      assert(math.abs(merged.getDouble(1) -
        xs.map(_.toDouble).sum / xs.length) < 1e-6)
      assert(merged.getLong(2) == xs.sum)
      val evens = xs.filter(_ % 2 == 0).map(_.toString)
      assert(Option(merged.getString(3)) ==
        (if (evens.isEmpty) None else Some(evens.max)))
    }
  }

  test("state aggregators partial-aggregate: the plan carries a map-side " +
      "(partial) and a final aggregate — the part-merge contract") {
    Seq((1, 5L), (1, 6L), (2, 7L)).toDF("p", "x")
      .createOrReplaceTempView("pa_in")
    val plan = spark.sql(
      "SELECT p, uniqState(CAST(x AS STRING)) FROM pa_in GROUP BY p")
      .queryExecution.executedPlan.toString()
    val aggNodes = "(?i)(ObjectHashAggregate|SortAggregate|HashAggregate)".r
      .findAllIn(plan).length
    assert(aggNodes >= 2, s"expected partial+final aggregate nodes:\n$plan")
  }

  test("finalizeAggregation dispatches on the blob tag; API blobs are " +
      "refused loudly") {
    Seq(1L, 2L, 2L, 3L).toDF("x").createOrReplaceTempView("fa_in")
    val fin = spark.sql(
      """SELECT finalizeAggregation(uniqState(CAST(x AS STRING))) AS u,
        |       finalizeAggregation(sumState(x)) AS s
        |FROM fa_in""".stripMargin).collect().head
    assert(fin.getString(0) == "3" && fin.getString(1) == "8")
    // an untagged (engine-API) blob fails the tag check instead of
    // silently mis-merging
    val err = intercept[Exception] {
      Seq(1L, 2L).toDF("x")
        .agg(StateSketches.uniqState(col("x").cast("string")).as("raw"))
        .createOrReplaceTempView("fa_raw")
      spark.sql("SELECT uniqMerge(raw) FROM fa_raw").collect()
    }
    assert(err.getMessage != null)
  }

  test("uniqExactState past the state-size cap fails with an actionable " +
    "error pointing at uniqState, not an executor OOM") {
    // exact distinct is linear state BY CONTRACT (the ClickHouse
    // uniqExact semantics): the serialized blob is the full per-group
    // value set on one reducer. The cap converts the would-be OOM on a
    // huge-cardinality group into a dialect error naming the HLL
    // alternative.
    System.setProperty("graft.uniq_exact_state.max_size", "1000")
    try {
      val err = intercept[Exception] {
        spark.range(5000).selectExpr("CAST(id AS STRING) AS s")
          .selectExpr("uniqExactState(s) AS st").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(err).mkString(" | ")
      assert(all.contains("uniqExactState") && all.contains("uniqState"),
        s"error must name the cap and the HLL alternative: $all")
      // under the cap the routine still answers exactly
      val ok = spark.range(500).selectExpr("CAST(id AS STRING) AS s")
        .selectExpr("uniqExactState(s) AS st")
        .selectExpr("finalizeAggregation(st) AS n")
        .collect().head.getString(0)
      assert(ok == "500")
    } finally {
      System.clearProperty("graft.uniq_exact_state.max_size"); ()
    }
  }
}
