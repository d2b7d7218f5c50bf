package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tables.Tables

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("TopK.perGroup equals the row_number window formulation") {
    val emb = Tables(spark, sfDir).embeddings
    val queries = emb.filter($"vec_id" < 7)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        SimilaritySearch.cosine($"embedding", $"qv").as("cosine"))
      .cache()

    val viaAgg = TopK.perGroup(scored, Seq("query_id"), "vec_id", "cosine", 8)
      .select($"query_id", $"rank", $"vec_id", $"cosine")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 8)
      .select($"query_id", $"rank".cast("long"), $"vec_id", $"cosine")

    assert(viaAgg.count() == 7 * 8)
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
    scored.unpersist()
  }

  test("TopK.perGroup plan partial-aggregates (no per-group window reducer)") {
    val emb = Tables(spark, sfDir).embeddings
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val res = SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qv", k = 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-query window should be gone")
    // typed Aggregator goes through ObjectHashAggregate with a partial pass
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_topkaggregator") ||
      plan.toLowerCase.contains("partial"), "expected a partial aggregation stage")
  }

  test("ties break by smaller id, buffers merge across partitions") {
    // 1000 rows over 2 groups with heavy score ties, spread over many
    // partitions so merge() is exercised.
    val df = spark.range(1000).repartition(8)
      .select(($"id" % 2).as("g"), $"id".as("nid"), ($"id" % 5).cast("double").as("s"))
    val res = TopK.perGroup(df.toDF(), Seq("g"), "nid", "s", 3)
      .orderBy($"g", $"rank")
      .select($"g", $"nid", $"s").as[(Long, Long, Double)].collect()
    // group 0: even ids, score id%5 → best score 4.0 at ids 4,14,24 (asc)
    assert(res.filter(_._1 == 0L).map(_._2).toSeq == Seq(4L, 14L, 24L))
    // group 1: odd ids, score 4.0 at ids 9,19,29
    assert(res.filter(_._1 == 1L).map(_._2).toSeq == Seq(9L, 19L, 29L))
  }
}
