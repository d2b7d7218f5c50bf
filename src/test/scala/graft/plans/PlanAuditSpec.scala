package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec
import graft.queries.Registry

/** Executable plan audits: the scale properties the engine claims
  * (pushdown, pruning, broadcast dims, single fact shuffle, AQE) asserted
  * against the actual physical plans, not eyeballed from explain dumps.
  * These are the properties that decide whether the same plan survives a
  * 100 TB input — a regression here is a scale bug even while row counts
  * stay correct at test SF.
  */
class PlanAuditSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    Registry.byName(name).fn(spark, sfDir)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q02: predicates are pushed to the parquet scan") {
    val plan = formatted(q("q02_filter_pushdown"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"),
      "no filters reached the scan:\n" + plan)
  }

  test("q01: scan is column-pruned to the aggregated columns") {
    val plan = formatted(q("q01_pricing_summary"))
    // 11-column lineitem, 7-column aggregate — unused columns must not
    // appear in the scan's ReadSchema
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.nonEmpty, plan)
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"),
      "scan reads columns the query never touches: " + read)
  }

  test("q03: dimension joins broadcast; at most one shuffled fact join") {
    val plan = formatted(q("q03_join_revenue_by_nation"))
    assert(count(plan, "BroadcastHashJoin") >= 2, plan)
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") <= 1,
      "more than one shuffled join in a dims+fact query:\n" + plan)
  }

  test("q53: six-table join plans broadcast dims, no cartesian product") {
    val plan = formatted(q("q53_local_supplier_volume"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(count(plan, "BroadcastHashJoin") >= 3, plan)
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") <= 1,
      "fact side should shuffle at most once:\n" + plan)
  }

  test("d03c candidates: the signature+window exchange computes once and " +
    "is REUSED for both self-join sides (the spelling minhashCandidatePairs " +
    "keeps a window for)") {
    val docs = graft.tables.Tables(spark, sfDir).documents
    val sigs = graft.operators.Dedup.minhashSignatures(
      docs, "doc_id", "text", 3, 64)
    // the pre-checkpoint candidate plan (the registry row checkpoints it,
    // which would hide the join's input subplans). Two forcings: the
    // reuse only materializes in the EXECUTED plan (AQE), and at test SF
    // the self-join would broadcast one side (no exchange to reuse) —
    // at scale it shuffles both, the case the reuse claim is about
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Dedup.minhashCandidatePairs(
        sigs, "doc_id", 64, 16)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        "the a/b self-join sides must share one signature+window exchange:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE with skew-join handling is active and finalizes the plan") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val df = q("q03_join_revenue_by_nation")
    df.collect()
    val ex = df.queryExecution.executedPlan.toString
    assert(ex.contains("AdaptiveSparkPlan isFinalPlan=true"), ex)
    // the finalized plan runs inside whole-stage codegen spans ("*(n)")
    assert(ex.contains("*("), ex)
  }

  test("t14: the global shuffle rank plans NO un-partitioned window") {
    val plan = formatted(q("t14_det_shuffle"))
    // every Window in the plan must be partitioned (on __pid); a global
    // row_number would read "Window [...], [sort...]" with no partition
    // spec and funnel the corpus through one reducer
    val windows = plan.linesIterator.filter(_.contains("Arguments: [row_number"))
      .mkString("\n")
    assert(windows.nonEmpty, plan)
    assert(windows.contains("__pid"),
      "rank window is not partition-bounded:\n" + windows)
  }

  test("d11: keep-first window partitions on the segment hash (full-cardinality key)") {
    val plan = formatted(q("d11_segment_dedup"))
    val rn = plan.linesIterator.filter(_.contains("Arguments: [row_number"))
      .mkString("\n")
    assert(rn.contains("__h"), "keep-first not keyed on segment hash:\n" + rn)
  }

  test("q54: the funnel aggregate partial-aggregates (map-side combine)") {
    val plan = formatted(q("q54_window_funnel"))
    // ObjectHashAggregate appears twice per agg: partial before the
    // exchange, final after — proving the buffer merges map-side
    assert(count(plan, "ObjectHashAggregate") >= 2, plan)
  }

  test("q58: the SpaceSaving topK aggregate partial-aggregates") {
    val plan = formatted(q("q58_topk_agg"))
    assert(count(plan, "ObjectHashAggregate") >= 2,
      "topK buffers must merge map-side:\n" + plan)
  }

  test("t15: single fused gram pass, one gram shuffle; island window is per-document") {
    val plan = formatted(q("t15_dup_spans"))
    // the gram-md5 kernel must run ONCE — the groupBy + semi-join-back
    // shape recomputed the whole gram table for the join side
    assert(count(plan, "graft_gram_md5") == 1, plan)
    // duplicate detection is a count window partitioned by the gram hash
    // (one shuffle), never a re-join of the gram table
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // the span merge windows must be partitioned by doc_id — a global
    // window here would funnel every duplicated position into one reducer
    val windows = plan.linesIterator
      .filter(l => l.contains("Arguments: [sum") || l.contains("Arguments: [lag"))
      .mkString("\n")
    assert(windows.nonEmpty, plan)
    assert(windows.contains("doc_id"),
      "island-merge window not partitioned by doc_id:\n" + windows)
  }

  test("t23: perplexity scoring is a map-only pass (model broadcast, no join/agg/shuffle)") {
    val plan = formatted(q("t23_perplexity"))
    // the model collect happens at build time against the bounded gram
    // vocabulary; the SCORING plan must be scan → mapPartitions → sort,
    // with no join and no aggregate — every former gram-stream shuffle
    // is gone
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("MapPartitions"), plan)
  }

  test("q59: correlated EXISTS rewrites to one semi join, no per-row subquery") {
    val plan = formatted(q("q59_exists_subquery"))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("InSubquery") && !plan.contains("exists#"),
      "EXISTS survived as a subquery instead of a join:\n" + plan)
  }

  test("t08: decontamination joins BROADCAST eval fingerprints against the corpus") {
    val plan = formatted(q("t08_decontaminate"))
    // the eval set is small by definition and explicitly broadcast — the
    // corpus-side fingerprints must never shuffle for the overlap join
    assert(count(plan, "BroadcastHashJoin") >= 1, plan)
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
      "corpus fingerprints shuffled for the eval join:\n" + plan)
    // shared-fingerprint counting partial-aggregates
    assert(count(plan, "HashAggregate") >= 2, plan)
  }

  test("d12: IVF-PQ scores against a broadcast LUT join, no shuffled join") {
    val plan = formatted(q("d12_ann_ivfpq"))
    assert(count(plan, "BroadcastHashJoin") >= 1, plan)
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
      "PQ scoring must join broadcast probe LUTs, never shuffle the codes:\n" + plan)
    // the final per-query top-k partial-aggregates (bounded-heap state)
    assert(count(plan, "ObjectHashAggregate") >= 2, plan)
  }

  test("t19: quota-sample cutoffs partial-aggregate and broadcast back") {
    val plan = formatted(q("t19_quota_sample"))
    // min-k buffers merge map-side (partial ObjectHashAggregate before
    // the exchange), and the per-stratum cutoffs come back broadcast —
    // the corpus side never shuffles for the filter
    assert(count(plan, "ObjectHashAggregate") >= 2, plan)
    assert(count(plan, "BroadcastHashJoin") >= 1, plan)
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
      "quota filter must broadcast cutoffs, not shuffle the corpus:\n" + plan)
  }

  test("t22: overlapping chunking is one shuffle-free corpus pass") {
    val plan = formatted(
      graft.operators.Packing.chunkByTokens(
        graft.tables.Tables(spark, sfDir).documents,
        "doc_id", "text", maxTokens = 48, overlap = 8))
    assert(!plan.contains("Exchange"),
      "chunking must not shuffle:\n" + plan)
  }

  test("t18: stratified rate sampling pushes nothing to a shuffle") {
    val plan = formatted(q("t18_stratified_sample"))
    // the only allowed exchange is the final orderBy's range partitioning
    // ("Exchange (" matches tree lines only, not the detail section)
    assert(count(plan, "Exchange (") <= 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"),
      "rate sampling is a pure map-side filter:\n" + plan)
  }

  test("bloom routing: might_contain filters the anti-join input map-side") {
    import org.apache.spark.sql.functions.md5
    import spark.implicits._
    // parquet-backed inputs — a local Seq would let Catalyst constant-fold
    // the filter away and hide the routing shape
    val docs = graft.tables.Tables(spark, sfDir).documents
      .select($"doc_id", md5($"text").as("__fp"))
    val history = docs.filter($"doc_id" < 300).select("__fp")
    val inc = docs.filter($"doc_id" >= 200)
    val bits = graft.operators.BloomPrune.optimalNumBits(1000, 0.01)
    val blob = graft.operators.BloomPrune.build(history, $"__fp", 1000, bits)
    val might = graft.operators.BloomPrune.mightContain(blob, $"__fp")
    val routed = inc.filter(might).join(history, Seq("__fp"), "left_anti")
      .unionByName(inc.filter(!might))
    val plan = formatted(routed)
    // the probe sits in a map-side Filter on the scan side of the join
    assert(plan.contains("might_contain"), plan)
    // routing adds no extra join: one anti-join total, one branch join-free
    assert(count(plan, "Join") == count(formatted(
      inc.join(history, Seq("__fp"), "left_anti")), "Join"), plan)
  }

  test("q84-q87 statistical tests: windows and aggregations share one key shuffle") {
    // each row claims a single hash shuffle — every window/groupBy keys
    // on the same prefix, so only the final orderBy adds a (range)
    // exchange on top of it
    for (name <- Seq("q84_t_tests", "q85_mann_whitney",
        "q86_kolmogorov_smirnov", "q87_exponential_moving_average")) {
      val plan = formatted(q(name))
      assert(count(plan, "Exchange (") <= 2,
        s"$name should shuffle once (plus the output sort):\n$plan")
      assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
        s"$name must not join:\n$plan")
    }
  }

  test("t35: exactly two store round-trips (one per increment) plus one bloom blob") {
    // t35's cost is DESIGNED to be the two parquet store writes — the
    // store IS the memory of the corpus. Pin that shape: after a full
    // run the store holds exactly increment=b1, increment=b2 and the
    // blob; nothing writes twice, nothing else lands.
    q("t35_incremental_dedup").collect()
    val store = new java.io.File(System.getProperty("java.io.tmpdir") +
      "/graft_incr_" + Integer.toHexString(sfDir.hashCode))
    val entries = store.listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    assert(entries.toSeq == Seq("increment=b1", "increment=b2"),
      s"unexpected store layout: ${store.listFiles().map(_.getName).toSeq}")
    assert(new java.io.File(store, "_bloom.bin").exists(),
      "bloom blob missing from the store")
    // and each increment partition committed cleanly (no abandoned
    // _temporary attempt dirs — i.e. one successful write per increment)
    for (inc <- entries) {
      val files = new java.io.File(store, inc).listFiles().map(_.getName)
      assert(!files.contains("_temporary"), s"uncommitted attempt dir in $inc")
      assert(files.contains("_SUCCESS"), s"no commit marker in $inc")
    }
  }

  test("t33 retrieval: corpus rows never shuffle before the chunk-level tf aggregation") {
    val plan = formatted(q("t33_retrieval_pipeline"))
    // query-term hits are filtered inside the token array pre-explode,
    // df joins back by broadcast — no shuffled join anywhere
    assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
      s"df join must broadcast:\n$plan")
    assert(count(plan, "BroadcastHashJoin") >= 1, plan)
    // top-k is a TakeOrderedAndProject, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("t28b/t29b fixed-artifact transforms are map-only: no join, no " +
    "aggregate shuffle, only the output-order exchange") {
    for (name <- Seq("t28b_fixed_weight_score", "t29b_fixed_centroid_assign")) {
      val plan = formatted(q(name))
      assert(count(plan, "Join") == 0, s"$name must not join:\n$plan")
      // the only exchange is the final orderBy's range partitioning
      assert(count(plan, "Exchange (") <= 1,
        s"$name should be map-only plus the output sort:\n$plan")
    }
  }

  test("d10b/d12b fixed-artifact ANN probes: the corpus side never " +
    "shuffles — probe LUTs broadcast, top-k partial-aggregates") {
    for (name <- Seq("d10b_ann_ivf_fixed", "d12b_ann_ivfpq_fixed",
        "d08b_ann_lsh_fixed")) {
      val plan = formatted(q(name))
      assert(count(plan, "SortMergeJoin") + count(plan, "ShuffledHashJoin") == 0,
        s"$name: the probe join must broadcast:\n$plan")
      assert(count(plan, "BroadcastHashJoin") >= 1, s"$name:\n$plan")
    }
  }

  test("ASOF SQL runs on the native AsOfJoinExec: no candidate " +
    "explosion") {
    // a range-join-then-pick-max formulation would show a join operator
    // and blow up with match density at 100 TB; the merge-scan keeps
    // one row per left row
    val s = new graft.chsql.ChSession(spark)
    s.execute(
      """CREATE TABLE pal (k UInt32, t UInt32, a String) ENGINE = Memory;
        |CREATE TABLE par (k UInt32, t UInt32, v String) ENGINE = Memory;
        |INSERT INTO pal VALUES (1, 10, 'a');
        |INSERT INTO par VALUES (1, 5, 'r');""".stripMargin)
    val df = s.sql("SELECT l.a, r.v FROM pal l ASOF LEFT JOIN par r " +
      "ON l.k = r.k AND l.t >= r.t")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
      "Union").foreach(op => assert(!plan.contains(op), s"$op in:\n$plan"))
  }

  test("ReplacingMergeTree FINAL plans a max_by aggregate with MAP-SIDE " +
    "partial combine, not a sort window (r13): cross-part duplicates " +
    "collapse before the exchange whenever a task reads several parts — " +
    "the window shuffled every duplicate row unconditionally") {
    val s = new graft.chsql.ChSession(spark)
    s.execute(
      """CREATE TABLE rfp (k UInt32, v String) ENGINE = ReplacingMergeTree ORDER BY k;
        |INSERT INTO rfp VALUES (1, 'a'), (2, 'b');
        |INSERT INTO rfp VALUES (1, 'a2');""".stripMargin)
    val df = s.sql("SELECT k, v FROM rfp FINAL")
    val plan = formatted(df)
    assert(plan.contains("partial_max_by"),
      "no map-side partial aggregate:\n" + plan)
    assert(!plan.contains("Window"),
      "FINAL must not plan a window:\n" + plan)
    val out = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a2"), (2L, "b")), out.toSeq)
  }
}
