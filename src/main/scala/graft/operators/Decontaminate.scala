package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination for training corpora: detect training
  * documents that overlap an evaluation/benchmark set, by winnowing
  * fingerprint containment (the MOSS scheme reused from the t04
  * fingerprint operator — any shared run of ≥ w+k-1 tokens between a
  * corpus doc and an eval doc shares a fingerprint).
  *
  * Scale shape: the eval set is the SMALL side by construction (benchmarks
  * are thousands of rows, the corpus is the 100 TB side), so its exploded
  * fingerprint table is broadcast — the corpus side is one map-side
  * winnow + explode with NO shuffle of corpus data; only matching
  * (corpus_id, eval_id, fp) tuples reach the final bounded groupBy.
  */
object Decontaminate {

  /** Per (corpus doc, eval doc) overlap report: number of shared
    * winnowing fingerprints, the eval doc's fingerprint count, and their
    * ratio (`containment4` — 1.0 means every eval fingerprint occurs in
    * the corpus doc). Pairs sharing fewer than `minShared` fingerprints
    * are dropped (one shared fingerprint ≈ one w+k-1-token run — usually
    * a common phrase, not contamination).
    */
  def overlapReport(corpus: DataFrame, corpusId: String, corpusText: String,
                    evalSet: DataFrame, evalId: String, evalText: String,
                    k: Int = 3, w: Int = 4, minShared: Int = 2): DataFrame = {
    val cF = corpus.select(col(corpusId),
      explode(TextFunctions.winnowingFingerprint(col(corpusText), k, w)).as("fp"))
    val eF = evalSet
      .select(col(evalId).as("eval_id"),
        TextFunctions.winnowingFingerprint(col(evalText), k, w).as("fps"))
      .select(col("eval_id"), size(col("fps")).as("eval_fps"),
        explode(col("fps")).as("fp"))
    cF.join(broadcast(eF), Seq("fp"))
      .groupBy(col(corpusId), col("eval_id"), col("eval_fps"))
      .agg(count(lit(1)).as("shared_fps")) // fps are distinct per doc
      .filter(col("shared_fps") >= minShared)
      .select(col(corpusId), col("eval_id"), col("shared_fps"), col("eval_fps"),
        round(col("shared_fps") / col("eval_fps"), 4).as("containment4"))
  }

  /** Drop every corpus document contaminated by any eval document (the
    * action a pipeline takes on the report).
    */
  def dropContaminated(corpus: DataFrame, corpusId: String, corpusText: String,
                       evalSet: DataFrame, evalId: String, evalText: String,
                       k: Int = 3, w: Int = 4, minShared: Int = 2): DataFrame = {
    val bad = overlapReport(corpus, corpusId, corpusText,
        evalSet, evalId, evalText, k, w, minShared)
      .select(col(corpusId)).distinct()
    corpus.join(bad, Seq(corpusId), "left_anti")
  }

  /** Embedding-space decontamination: flag every corpus row whose
    * embedding is within `minCosine` of ANY eval row's — the semantic
    * overlap the n-gram winnowing report cannot see (paraphrased or
    * translated benchmark items). One row per flagged corpus doc with
    * its CLOSEST eval item (ties break to the smallest eval id).
    *
    * Scale shape mirrors [[overlapReport]]: benchmarks are the small
    * side by construction, so the eval vectors broadcast and the corpus
    * side is a single map-side scored pass plus a partial-aggregated
    * per-doc argmax — corpus vectors never shuffle. For eval sets too
    * large to broadcast, route through
    * [[Dedup.embeddingNearDupPairsLsh]]-style bucketing instead.
    */
  def embeddingOverlapReport(corpus: DataFrame, corpusId: String,
                             corpusVec: String, evalSet: DataFrame,
                             evalId: String, evalVec: String,
                             minCosine: Double): DataFrame = {
    val scored = corpus.select(col(corpusId), col(corpusVec))
      .crossJoin(broadcast(evalSet.select(col(evalId).as("eval_id"),
        col(evalVec).as("__ev"))))
      .select(col(corpusId), col("eval_id"),
        graft.plans.NativeFunctions.cosine(col(corpusVec), col("__ev"))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
    // struct-max argmax: deterministic on cosine ties via smallest id
    scored
      .groupBy(col(corpusId))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_id"))).as("m"))
      .select(col(corpusId), (-col("m.neg_id")).as("eval_id"),
        col("m.cosine").as("cosine"))
  }
}
