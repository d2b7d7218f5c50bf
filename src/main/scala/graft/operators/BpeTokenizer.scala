package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Real byte-pair-encoding tokenizer (Sennrich et al. 2016, word-level
  * form): `fit` learns the merge table from a BOUNDED corpus sample on
  * the driver — the same sampled-fit shape as the IVF k-means — and
  * `encode` applies the broadcast merge ranks distributively, one greedy
  * lowest-rank-pair loop per word. This replaces the "BPE-ish regex
  * estimate" with an actual learned subword vocabulary while keeping
  * the 100 TB shape: training state is bounded by (sample × vocab cap),
  * encoding is a map-only pass with a small broadcast table.
  *
  * Determinism: the sample is hash-ordered (md5 of the id — same family
  * as t09/t18), pair ties break lexicographically, so the merge list is
  * a pure function of (corpus, params). No end-of-word marker: merges
  * never cross word boundaries and decode is plain concatenation
  * (spec-asserted).
  */
object BpeTokenizer {

  type Merge = (String, String)

  /** Learn `numMerges` merges from the `sampleN` hash-first documents
    * (word frequencies capped at `maxWords` distinct words).
    */
  def fit(docs: DataFrame, idCol: String, textCol: String, numMerges: Int,
          sampleN: Int = 2000, maxWords: Int = 50000,
          salt: String = "bpe"): Seq[Merge] = {
    require(numMerges >= 0 && sampleN > 0 && maxWords > 0, "bad fit params")
    val sampled = Sampling.stratifiedExactN(
      docs.select(col(idCol), col(textCol)), lit(1), col(idCol),
      n = sampleN, salt = salt)
    val wordFreq = sampled
      .select(explode(graft.plans.NativeFunctions.normTokens(col(textCol)))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("w"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val merges = mutable.ArrayBuffer.empty[Merge]
    var step = 0
    while (step < numMerges) {
      val counts = mutable.HashMap.empty[Merge, Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) step = numMerges
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, f) => (applyMerge(syms, best), f) }
        step += 1
      }
    }
    merges.toSeq
  }

  private def applyMerge(syms: Array[String], m: Merge): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += (m._1 + m._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Greedy BPE encode of one word against rank map: repeatedly merge
    * the lowest-rank adjacent pair (the standard encode loop).
    */
  def encodeWord(w: String, ranks: Map[Merge, Int]): Seq[String] = {
    var syms = w.map(_.toString).toArray
    var go = syms.length > 1
    while (go) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) go = false
      else {
        syms = applyMerge(syms, (syms(bestAt), syms(bestAt + 1)))
        if (syms.length < 2) go = false
      }
    }
    syms.toSeq
  }

  /** Column: normalized words → flat BPE token array (broadcast ranks,
    * map-only).
    */
  def encodeColumn(textCol: Column, merges: Seq[Merge]): Column = {
    val ranks = merges.zipWithIndex.toMap
    val enc = udf { (toks: Seq[String]) =>
      if (toks == null) Seq.empty[String]
      else toks.flatMap(w => encodeWord(w, ranks))
    }
    enc(graft.plans.NativeFunctions.normTokens(textCol))
  }

  /** Per-document BPE stats: learned-subword token count next to the
    * whitespace word count (the compression a tokenizer report shows).
    */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[Merge]): DataFrame = {
    docs.select(col(idCol),
      size(graft.plans.NativeFunctions.normTokens(col(textCol)))
        .cast("long").as("n_words"),
      size(encodeColumn(col(textCol), merges)).cast("long").as("n_bpe_tokens"))
  }
}
