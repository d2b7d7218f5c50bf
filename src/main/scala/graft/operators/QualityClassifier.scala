package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Model-based quality filtering (the CCNet/fastText-classifier stage of
  * a training-data pipeline): a logistic regression over md5-portable
  * hashing-trick features, fit on a BOUNDED labeled sample on the driver
  * (state = sampleN × dim, the same sampled-fit shape as IVF/BPE) and
  * scored distributively with the weights shipped by closure — a
  * map-only pass, no shuffle.
  *
  * The standard use distills an expensive or heuristic quality signal
  * (perplexity gates, human labels, lang+heuristic composites) into a
  * cheap model applied to the full corpus; the spec plants junk against
  * clean text and asserts ranking quality via the rank-sum AUC kernel.
  */
object QualityClassifier {

  final case class Model(weights: Array[Double], bias: Double, dim: Int) {
    def score(toks: Iterator[String]): Double = {
      val tf = graft.plans.VecKernels.hashingTfStrings(toks, dim)
      var total = 0L
      var i = 0
      while (i < dim) { total += tf(i); i += 1 }
      val norm = math.max(total, 1L).toDouble
      var z = bias
      i = 0
      while (i < dim) { z += weights(i) * (tf(i) / norm); i += 1 }
      1.0 / (1.0 + math.exp(-z))
    }
  }

  /** Fit by full-batch gradient descent on a deterministic hash-first
    * sample (L1-normalized term frequencies; `labelCol` must be 0/1).
    */
  def fit(docs: DataFrame, idCol: String, textCol: String, labelCol: Column,
          dim: Int = 256, sampleN: Int = 1000, epochs: Int = 300,
          lr: Double = 2.0, salt: String = "qc"): Model = {
    require(dim > 0 && sampleN > 0 && epochs >= 0, "bad fit params")
    val sampled = Sampling.stratifiedExactN(
      docs.select(col(idCol), col(textCol), labelCol.cast(DoubleType).as("__y")),
      lit(1), col(idCol), n = sampleN, salt = salt)
    // collect ORDER is partition-dependent and double sums are not
    // associative — sort by id so the fit is a pure function of the data
    val rows = sampled.select(col(idCol).cast("string").as("__id"),
      graft.plans.NativeFunctions.hashingTf(
        graft.plans.NativeFunctions.normTokens(col(textCol)), dim).as("__tf"),
      col("__y")).collect()
      .sortBy(_.getString(0))
    val xs = rows.map { r =>
      val tf = r.getSeq[Long](1)
      val total = math.max(tf.sum, 1L).toDouble
      tf.map(_ / total).toArray
    }
    val ys = rows.map(_.getDouble(2))
    val w = new Array[Double](dim)
    var b = 0.0
    val n = xs.length
    var e = 0
    while (e < epochs && n > 0) {
      val gw = new Array[Double](dim)
      var gb = 0.0
      var i = 0
      while (i < n) {
        var z = b
        var j = 0
        while (j < dim) { z += w(j) * xs(i)(j); j += 1 }
        val err = 1.0 / (1.0 + math.exp(-z)) - ys(i)
        j = 0
        while (j < dim) { gw(j) += err * xs(i)(j); j += 1 }
        gb += err
        i += 1
      }
      var j = 0
      while (j < dim) { w(j) -= lr * gw(j) / n; j += 1 }
      b -= lr * gb / n
      e += 1
    }
    Model(w, b, dim)
  }

  /** Sigmoid quality score column (weights by closure, map-only). */
  def scoreColumn(textCol: Column, model: Model): Column = {
    val f = udf { (toks: Seq[String]) =>
      if (toks == null) 0.0 else model.score(toks.iterator)
    }
    f(graft.plans.NativeFunctions.normTokens(textCol))
  }
}
