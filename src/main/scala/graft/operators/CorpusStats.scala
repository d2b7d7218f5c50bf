package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Corpus-level term statistics for training-data curation: TF-IDF (the
  * classic tf·ln(N/df) weighting) over any tokenized text column.
  *
  * Scale shape: one explode (map-side), a (doc, term) partial+final
  * hash aggregation, a term-keyed aggregation for document frequency,
  * and a broadcast of the single-row corpus count — no driver-side
  * corpus state, nothing keyed on a low-cardinality column. Both big
  * joins are keyed on `term` / `idCol` with full key cardinality.
  */
object CorpusStats {

  /** Per-(doc, term) counts + TF-IDF. `toksCol` is any array<string>
    * expression (e.g. `NativeFunctions.normTokens(col("text"))`).
    * Output: idCol, term, tf_count, doc_len, df, n_docs, tfidf.
    *
    * EAGER: the call runs one corpus pass up front (the (doc, term) count
    * table is materialized via localCheckpoint so its three consumers —
    * doc_len, df, n_docs — don't each re-run the scan+explode), and the
    * pinned blocks live in executor storage until the returned frame (and
    * everything derived from it) becomes unreachable, at which point the
    * ContextCleaner drops them. Callers composing many tfidf results in
    * one session should release their references between calls.
    *
    * Null ids are excluded up front: a null-id doc can contribute rows to
    * no equi-join group, and countDistinct-style n_docs semantics ignore
    * it — the filter keeps n_docs consistent with that contract (and is
    * folded away by the optimizer when idCol is non-nullable).
    */
  def tfidf(docs: DataFrame, idCol: String, toksCol: Column): DataFrame = {
    val terms = docs.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(toksCol).as("term"))
    // Everything downstream derives from the (doc, term) counts:
    // doc_len = Σ tf_count per doc, df = rows per term, n_docs = rows of
    // doc_len (a doc appears iff it had ≥ 1 term) — all identical to
    // aggregating the raw term stream, but over the ALREADY-AGGREGATED
    // tf table. The former shape re-ran the explode (a full corpus
    // pass) once per aggregate — four corpus scans per action, since
    // the identical subtrees only differ downstream and defeat reuse.
    // tf is PINNED (materialized once): its three consumers otherwise
    // re-run the scan+explode+aggregate chain — exchange reuse does not
    // fire across these subtrees in practice.
    val tf = org.apache.spark.sql.graftinternal.Rematerialize(
      terms.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf_count")))
    // doc_len rides a WINDOW over the doc key instead of a groupBy +
    // join-back: one tf-table exchange instead of two (aggregate + join
    // probe side), same long sums. Scale-safe: the per-doc partition
    // fan-in is the doc's distinct-term count, bounded by doc length —
    // unlike a per-TERM window, which would funnel stop words. df stays
    // a groupBy + equi-join (partial-aggregatable, no hot reducer).
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = tf.select(col(idCol)).distinct().select(count(lit(1)).as("n_docs"))
    tf.withColumn("doc_len",
        sum(col("tf_count")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf_count").cast(DoubleType) / col("doc_len").cast(DoubleType)) *
          log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
  }

  /** Char-n-gram LM quality scoring — the CCNet-style perplexity filter:
    * train add-one-smoothed n-gram counts on the corpus, then score every
    * document by its average negative log-likelihood under that model
    * (high = unusual character statistics = likely junk).
    *
    * The model is BOUNDED BY CONSTRUCTION: normalized text draws from a
    * 37-symbol alphabet ([a-z0-9 ]), so the count table holds at most
    * 37^n grams (~50k for n=3) regardless of corpus size — it broadcasts
    * at 100 TB exactly as it does at test scale. One shuffle to count,
    * one broadcast join to score, one doc-keyed aggregate.
    *
    * `nll` is rounded to 4 decimals: the per-doc mean sums doubles whose
    * addition order differs across engines/partitionings (same dodge as
    * [[tfidf]]'s oracle).
    */
  def perplexityScore(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 4,
      s"model vocabulary is alphabet-bounded (<= 37^n) only for n <= 4, got $n")
    val spark = docs.sparkSession
    val norm = graft.plans.NativeFunctions.normText(col(textCol))
    // model: ONE pass building per-partition count maps bounded by the
    // alphabet, not the corpus (normText emits [a-z0-9 ] → <= 37^n grams,
    // 50k for n=3) — one hash update per gram instead of an exploded row
    // per gram through the agg pipeline — then a tiny (parts × vocab)
    // shuffle and a bounded collect+broadcast, which is what makes
    // CCNet-style models broadcastable at any corpus size.
    val normed = docs.select(norm.as("__norm"))
      .filter(length(col("__norm")) >= n)
    val countSchema = StructType(Seq(
      StructField("__g", org.apache.spark.sql.types.StringType, false),
      StructField("__c", LongType, false)))
    val counts = normed.mapPartitions { rows =>
      val m = new java.util.HashMap[String, Array[Long]]()
      rows.foreach { r =>
        val nm = r.getString(0)
        val g = nm.length - (n - 1)
        var i = 0
        while (i < g) {
          val key = nm.substring(i, i + n)
          val slot = m.get(key)
          if (slot == null) m.put(key, Array(1L)) else slot(0) += 1L
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => Row(e.getKey, e.getValue()(0)))
    }(Encoders.row(countSchema))
      .groupBy(col("__g")).agg(sum(col("__c")).as("__c"))
      .collect()
    var total = 0L
    val model = new java.util.HashMap[String, java.lang.Long](counts.length * 2)
    counts.foreach { r =>
      val c = r.getLong(1); total += c; model.put(r.getString(0), c)
    }
    val denom = (total + counts.length).toDouble
    // score: map-ONLY second pass against the model — no second gram
    // stream, no join, no checkpoint, no shuffle (the former
    // rematerialize+join+groupBy plan shuffled every gram row; this
    // recomputes the normalize in-kernel and scores per doc in place).
    // The model ships via CLOSURE capture, not sc.broadcast: Spark's
    // task-binary broadcast distributes it once per stage anyway, and
    // its lifetime then tracks the query plan (an explicit broadcast has
    // no destroy point from a lazily-returned DataFrame and accumulates
    // across calls).
    val in = docs.select(col(idCol), col(textCol))
    val outSchema = StructType(Seq(in.schema.head,
      StructField("n_grams", LongType, nullable = false),
      StructField("nll", DoubleType, nullable = true)))
    in.mapPartitions { rows =>
      val m = model
      rows.flatMap { r =>
        val txt = if (r.isNullAt(1)) null else r.getString(1)
        val nm =
          if (txt == null) ""
          else graft.plans.VecKernels.normText(
            org.apache.spark.unsafe.types.UTF8String.fromString(txt)).toString
        if (nm.length < n) Iterator.empty
        else {
          val g = nm.length - (n - 1)
          var s = 0.0
          var i = 0
          while (i < g) {
            val c = m.getOrDefault(nm.substring(i, i + n), 0L)
            s += -math.log((c + 1).toDouble / denom)
            i += 1
          }
          // same rounding path as Spark's round(): shortest-repr
          // BigDecimal, HALF_UP
          val nll = BigDecimal(s / g)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single(Row(r.get(0), g.toLong, nll))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Corpus vocabulary report: per-term document frequency, collection
    * frequency, and IDF — the side table a curation pipeline keeps for
    * stopword mining and rare-term filtering.
    */
  def vocabulary(docs: DataFrame, idCol: String, toksCol: Column): DataFrame = {
    // Same single-pass shape as [[tfidf]]: everything derives from the
    // pinned (doc, term) count table — df = non-null-id rows per term
    // (tf already holds one row per distinct (id, term)), cf = Σ counts,
    // n_docs = distinct non-null ids — so the corpus explodes ONCE where
    // the former shape ran the scan+explode twice per action (the n_docs
    // subtree and the per-term aggregate defeat reuse). Null-id handling
    // is bit-identical to the countDistinct original: null-id docs count
    // toward cf but never df or n_docs.
    val tf = org.apache.spark.sql.graftinternal.Rematerialize(
      docs.select(col(idCol), explode(toksCol).as("term"))
        .groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("__c")))
    val nDocs = tf.where(col(idCol).isNotNull)
      .select(countDistinct(col(idCol)).as("n_docs"))
    tf.groupBy(col("term"))
      .agg(count(col(idCol)).as("df"), sum(col("__c")).as("cf"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
      .drop("n_docs")
  }
}
