package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse join forms Spark lacks as native keywords (SURVEY.md §2.3),
  * built by composing shuffle-efficient primitives.
  */
object Joins {

  /** LEFT ANY JOIN (lectures/lecture_10.md:12-13, homeworks/hw06.md:167-185):
    * at most one right-side match per left row — no fanout.
    *
    * The right side is reduced to one deterministic row per key (smallest by
    * `order`) before an ordinary left join, so Catalyst still gets to pick
    * broadcast vs shuffle for the join itself. The reduction is a single
    * partial-aggregatable window; for an already-unique right side it's a
    * no-op shuffle that AQE can elide.
    */
  def leftAny(left: DataFrame, right: DataFrame, keys: Seq[String],
              order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val firstMatch = right
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    left.join(firstMatch, keys, "left")
  }

  def innerAny(left: DataFrame, right: DataFrame, keys: Seq[String],
               order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val firstMatch = right
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    left.join(firstMatch, keys, "inner")
  }

  /** ASOF LEFT JOIN (lectures/lecture_10.md:14): for each left row attach
    * the most recent right row with rightTime <= leftTime in the same key
    * group.
    *
    * Implementation is the union-and-carry-forward pattern: tag both sides,
    * union, one shuffle on the key, one sort on (time, side), then
    * `last(value, ignoreNulls)` carries the latest right payload forward to
    * each left row. No row explosion (the naive range-join then pick-max
    * approach is O(matches)); wall-clock is one shuffle + sort regardless of
    * match density, which is what survives a 100x scale-up.
    *
    * Right rows sort before left rows at equal timestamps, so the match is
    * inclusive (rightTime == leftTime matches). If the right side can hold
    * several rows with the same (key, time), dedupe it first — ClickHouse's
    * ASOF has the same ambiguity.
    */
  def asofLeft(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val lv = struct(left.columns.map(col).toSeq: _*)
    val rv = struct(rightCols.map(col): _*)
    val lvType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val rvType = org.apache.spark.sql.types.StructType(rightCols.map(right.schema.apply))
    val lTagged = left.select(
      col(key).as("__k"), col(leftTime).cast("double").as("__t"),
      lit(1).as("__side"), lv.as("__lv"), lit(null).cast(rvType).as("__rv"))
    val rTagged = right.select(
      col(key).as("__k"), col(rightTime).cast("double").as("__t"),
      lit(0).as("__side"), lit(null).cast(lvType).as("__lv"), rv.as("__rv"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rTagged.unionByName(lTagged)
      .withColumn("__carried", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val leftOut = left.columns.map(c => col("__lv").getField(c).as(c))
    val rightOut = rightCols.map(c => col("__carried").getField(c).as(prefix + c))
    carried.select(leftOut.toSeq ++ rightOut: _*)
  }

  /** `join_use_nulls = 0` — ClickHouse's DEFAULT outer-join behavior:
    * unmatched side columns surface as TYPE DEFAULTS (0, '', false, epoch)
    * instead of SQL NULLs (lectures/lecture_10.md). The same plan fill
    * the dialect runs ([[graft.plans.ChJoinDefaults]]) over a plain left
    * join — pure column work after the join, no extra shuffle.
    */
  def leftJoinDefaults(left: DataFrame, right: DataFrame,
                       keys: Seq[String]): DataFrame =
    graft.plans.ChJoinDefaults(left.join(right, keys, "left"))

  /** ASOF LEFT JOIN through the native operator
    * ([[graft.plans.AsOfJoinPlan]] → [[graft.plans.AsOfJoinExec]], planned
    * by the strategy [[graft.plans.GraftExtensions]] registers): one
    * shuffle + sort per side, then a per-partition merge-scan with O(1)
    * carried state — no union row-doubling and no null-carry columns,
    * which [[asofLeft]]'s window formulation pays for. Semantics match
    * [[asofLeft]] exactly (inclusive rightTime <= leftTime, latest wins).
    */
  def asofLeftNative(left: DataFrame, right: DataFrame, key: String,
                     leftTime: String, rightTime: String,
                     rightCols: Seq[String], prefix: String = "asof_"): DataFrame =
    asofLeftNativeMulti(left, right, Seq(key), leftTime, rightTime, rightCols, prefix)

  /** Multi-equi-key form (`ASOF JOIN ... ON a.k1=b.k1 AND a.k2=b.k2 AND
    * a.t >= b.t` — ClickHouse allows any number of equality clauses before
    * the one inequality).
    */
  def asofLeftNativeMulti(left: DataFrame, right: DataFrame, keys: Seq[String],
                          leftTime: String, rightTime: String,
                          rightCols: Seq[String],
                          prefix: String = "asof_"): DataFrame =
    asofNativeMulti(left, right, keys, leftTime, rightTime, rightCols, prefix,
      leftOuter = true)

  /** `leftOuter = false` is ASOF INNER — ClickHouse's default ASOF JOIN:
    * unmatched left rows DROP instead of padding nulls.
    *
    * `forward`/`strict` select the ASOF inequality (the reference accepts
    * all four in the ON clause): backward non-strict = `l.t >= r.t`
    * (default, latest earlier-or-equal right), backward strict = `>`,
    * forward non-strict = `l.t <= r.t` (earliest later-or-equal right),
    * forward strict = `<`.
    */
  def asofNativeMulti(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String,
                      rightCols: Seq[String], prefix: String = "asof_",
                      leftOuter: Boolean = true,
                      forward: Boolean = false,
                      strict: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val rsel = right.select((keys ++ Seq(rightTime) ++ rightCols).distinct.map(col): _*)
    val renamed = rsel.columns.foldLeft(rsel)((acc, c) =>
      acc.withColumnRenamed(c, "__r_" + c))
    val lplan = left.queryExecution.analyzed
    val rplan = renamed.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    val lks = keys.map(attr(lplan, _))
    val rks = keys.map(k => attr(rplan, "__r_" + k))
    val (lt, rt) = (attr(lplan, leftTime), attr(rplan, "__r_" + rightTime))
    lks.zip(rks).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"key types differ: ${lk.dataType} vs ${rk.dataType}")
    }
    require(lt.dataType == rt.dataType, s"time types differ: ${lt.dataType} vs ${rt.dataType}")
    val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lplan, rplan, lks, rks, lt, rt,
        isLeftOuter = leftOuter, forward = forward, strict = strict))
    joined.select(left.columns.map(col).toSeq ++
      rightCols.map(c => col("__r_" + c).as(prefix + c)): _*)
  }

  /** Salted equi-join for skewed keys — the explicit fallback when AQE's
    * skew-join split cannot apply (shuffle-hash joins, or a skewed
    * aggregation feeding the join). Each left row gets one of `salts`
    * deterministic salt values (a content hash, so identical keys with
    * differing payloads spread across reducers); the right side is
    * replicated once per salt value; the join runs on (keys, salt), so a
    * hot key's rows land on `salts` reducers instead of one.
    *
    * Cost model: right side inflates `salts`×, so use a salts value that
    * splits the hot key below partition-size targets without blowing up
    * the small side — the standard trade. Supported join types: inner,
    * left (outer), left_semi, left_anti — each left row carries exactly
    * one salt, so no duplicate or lost matches. For a skewed RIGHT side,
    * swap the arguments.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    val allowed = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(allowed.contains(joinType.toLowerCase),
      s"saltedJoin supports $allowed, not $joinType (swap sides for right skew)")
    val l = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(salts.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** PASTE JOIN (lectures/lecture_10.md:15): positional zip of two result
    * sets. Suited to ranked/aggregated inputs (the reference uses it that
    * way); ordering must be total for determinism.
    *
    * The global row_number forces each side to one partition, which is fine
    * for result-shaped inputs. For zipping two LARGE datasets use
    * [[pasteLarge]], which zips partition-wise with no global sort.
    */
  def paste(a: DataFrame, aOrder: Seq[Column], b: DataFrame,
            bOrder: Seq[Column]): DataFrame = {
    val ra = a.withColumn("paste_rn", row_number().over(Window.orderBy(aOrder: _*)))
    val rb = b.withColumn("paste_rn", row_number().over(Window.orderBy(bOrder: _*)))
    ra.join(rb, "paste_rn")
  }

  /** Point-in-interval RANGE JOIN by binning — the shape Spark's planner
    * can only express as BroadcastNestedLoopJoin (O(|points|·|intervals|)
    * comparisons; with a large interval side, a non-starter at scale).
    *
    * Binning turns it into ONE equi-shuffle: each point hashes to its
    * single bin `floor(pt/binWidth)`, each interval explodes to the bins
    * it covers (`(hi-lo)/binWidth + 1` rows — bounded when callers pick
    * `binWidth` near the typical interval length), the bin equi-join
    * co-locates candidates, and the exact `lo <= pt <= hi` filter runs
    * within buckets. A (point, interval) pair can meet in only the
    * point's own bin, so no post-join dedup is needed. Both columns must
    * be numeric (cast timestamps to epoch units first).
    */
  def rangeJoinBinned(points: DataFrame, ptCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val p = points.withColumn("__bin",
      floor(col(ptCol) / binWidth).cast("long"))
    val iv = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    p.join(iv, Seq("__bin"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Distributed positional zip: RDD zipWithIndex (one lightweight count
    * job, no global sort) then co-grouped by index.
    */
  def pasteLarge(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    val aIdx = spark.createDataFrame(
      a.rdd.zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      a.schema.add("__rn", "long"))
    val bIdx = spark.createDataFrame(
      b.rdd.zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      b.schema.add("__rn", "long"))
    aIdx.join(bIdx, "__rn").drop("__rn")
  }
}
