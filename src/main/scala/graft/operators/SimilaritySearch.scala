package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.NativeFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForceTopK]]: exact baseline. Queries are broadcast (they're
  *    the small side by construction), so the corpus is scanned once with
  *    no shuffle of the vectors; only (query, id, score) tuples — not
  *    vectors — move in the final per-query top-k.
  *  - [[lshTopK]]: the scale path. Hyperplane-LSH bucket as blocking key;
  *    only same-bucket candidates are scored. Multi-probe (flipping one
  *    signature bit) recovers most boundary misses at ~bits× candidate
  *    cost.
  *  - [[ivfTopK]] / [[ivfWrite]]+[[ivfProbe]]: IVF — k-means cells fit on
  *    a bounded sample, cell assignment in one codegen'd pass; the
  *    persisted form partitions the corpus by cell so probes prune
  *    partitions at the scan.
  *
  * All variants finish with [[TopK.perGroup]] — a partial-aggregatable
  * bounded-heap aggregator (O(k) state per query on every map side), not a
  * `row_number` window that would funnel every candidate for a query into
  * a single reducer.
  */
object SimilaritySearch {

  def cosine(a: Column, b: Column): Column = NativeFunctions.cosine(a, b)

  private def topK(scored: DataFrame, qIdCol: String, idCol: String,
                   k: Int): DataFrame =
    TopK.perGroup(scored, Seq(qIdCol), idCol, "cosine", k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cosine"))

  /** Exact top-k neighbors for each query vector (self-matches excluded
    * when ids collide). Output: (query id, rank, neighbor id, cosine).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int): DataFrame = {
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(queries.select(col(qIdCol), col(qVecCol))))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.cosine(col(vecCol), col(qVecCol)).as("cosine"))
    topK(scored, qIdCol, idCol, k)
  }

  // ---------------------------------------------------------------- IVF

  /** Deterministic driver-side Lloyd k-means (spread init over the
    * training order, empty clusters keep their previous center). The
    * training set is ALWAYS a bounded sample (`maxTrain` rows), so the
    * fit is O(bounded) driver work — no per-iteration Spark jobs. At
    * sf0.1 this is the difference between a ~7 s and a ~2 s IVF build:
    * an iterative ML fit over a tiny sample costs ~10 job submissions
    * per iteration, all overhead.
    */
  private[operators] def lloyd(train: Array[Array[Float]], k: Int,
                               iters: Int = 15): Array[Array[Float]] = {
    require(train.nonEmpty, "lloyd: empty training set")
    val n = train.length
    val dim = train.head.length
    val centers = Array.tabulate(k) { c =>
      train(((c.toLong * n) / k).toInt.min(n - 1)).clone()
    }
    val assign = new Array[Int](n)
    var iter = 0
    var done = false
    while (iter < iters && !done) {
      var moved = false
      var i = 0
      while (i < n) {
        val v = train(i)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var t = 0
          val ctr = centers(c)
          while (t < dim) {
            val diff = v(t) - ctr(t)
            d += diff * diff
            t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best || iter == 0) { assign(i) = best; moved = true }
        i += 1
      }
      if (!moved) done = true
      else {
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Int](k)
        i = 0
        while (i < n) {
          val s = sums(assign(i))
          val v = train(i)
          var t = 0
          while (t < dim) { s(t) += v(t); t += 1 }
          counts(assign(i)) += 1
          i += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var t = 0
            while (t < dim) {
              centers(c)(t) = (sums(c)(t) / counts(c)).toFloat
              t += 1
            }
          } // empty cluster: keep the previous center
          c += 1
        }
        iter += 1
      }
    }
    centers
  }

  private def collectVecs(df: DataFrame): Array[Array[Float]] =
    df.collect().map(_.getAs[scala.collection.Seq[Float]](0).toArray)

  /** Bounded, seeded training sample: one sampling scan of the corpus,
    * never an iterative full-corpus pass. Small corpora (below `8 × k`
    * sampled rows) fall back to a `limit(maxTrain)` slice so tests and
    * small tables still get stable centers.
    */
  private def trainSample(corpus: DataFrame, vecCol: String, k: Int,
                          trainFraction: Double,
                          maxTrain: Int): Array[Array[Float]] = {
    val sampled = collectVecs(corpus.select(col(vecCol))
      .sample(withReplacement = false, trainFraction, seed = 42L)
      .limit(maxTrain))
    if (sampled.length >= 8 * k) sampled
    else collectVecs(corpus.select(col(vecCol)).limit(maxTrain))
  }

  /** Topic/cluster bucketing of an embedding corpus (the data-mixing and
    * analysis sibling of the IVF index): centroids fit with the SAME
    * bounded seeded Lloyd sample as IVF, then every vector assigned
    * map-side to its best-cosine centroid — one pass, broadcast-sized
    * centroid literals, no shuffle. Output: input columns + `cluster`
    * (1-based) + `cos_to_center`.
    */
  def embeddingClusters(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, maxTrain: Int = 20000): DataFrame = {
    // partition-INDEPENDENT training sample (hash-first ids, id-ordered):
    // cluster ids must be a pure function of the data, unlike IVF's cell
    // ids where df.sample's per-partition seeding is fine (cells are
    // internal to the index)
    val train = collectVecs(Sampling.stratifiedExactN(
        corpus.select(col(idCol), col(vecCol)), lit(1), col(idCol),
        n = maxTrain, salt = "emc")
      .orderBy(col(idCol)).select(col(vecCol)))
    assignToCentroids(corpus, vecCol, lloyd(train, k))
  }

  /** The APPLY half of [[embeddingClusters]], public so the assignment
    * is testable (and oracle-able) under FIXED centroids apart from the
    * k-means fit: each row gets `cluster` = the 1-based index of its
    * best-cosine centroid (ties break on the lower index — the stable
    * sort order) and `cos_to_center`. Map-only, centroid literals by
    * closure, no shuffle.
    */
  def assignToCentroids(corpus: DataFrame, vecCol: String,
                        centers: Array[Array[Float]]): DataFrame = {
    corpus
      .withColumn("__cs", cosToCenters(centers)(col(vecCol)))
      .withColumn("__best", expr(s"element_at($rankedCells, 1)"))
      .withColumn("cluster", col("__best.i"))
      .withColumn("cos_to_center", col("__best.c"))
      .drop("__cs", "__best")
  }

  /** K-means cell centers fit on a bounded, seeded sample — NOT the full
    * corpus.
    */
  private def fitCenters(corpus: DataFrame, vecCol: String, nLists: Int,
                         trainFraction: Double,
                         maxTrain: Int): Array[Array[Float]] =
    lloyd(trainSample(corpus, vecCol, nLists, trainFraction, maxTrain),
      nLists)

  private def cosToCenters(centers: Array[Array[Float]])(v: Column): Column =
    array(centers.map(c => NativeFunctions.cosine(v, typedlit(c.toSeq))): _*)

  /** (cos, idx) pairs sorted by cos desc over a `__cs` scores array. */
  private val rankedCells =
    "array_sort(transform(sequence(1, size(__cs)), " +
      "i -> struct(element_at(__cs, i) AS c, i AS i)), " +
      "(a, b) -> CASE WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 ELSE 0 END)"

  /** Adds the best-cell column for each corpus vector. */
  private def assignCells(df: DataFrame, vecCol: String,
                          centers: Array[Array[Float]]): DataFrame =
    df.withColumn("__cs", cosToCenters(centers)(col(vecCol)))
      .withColumn("cell", expr(s"element_at($rankedCells, 1).i"))
      .drop("__cs")

  /** Explodes each query into its `nProbe` nearest cells. */
  private def probeCells(queries: DataFrame, qVecCol: String,
                         centers: Array[Array[Float]],
                         nProbe: Int): DataFrame =
    queries
      .withColumn("__cs", cosToCenters(centers)(col(qVecCol)))
      .withColumn("cell",
        explode(expr(s"transform(slice($rankedCells, 1, $nProbe), x -> x.i)")))
      .drop("__cs")

  private def ivfScoreAndRank(bucketed: DataFrame, idCol: String,
                              vecCol: String, probes: DataFrame,
                              qIdCol: String, qVecCol: String,
                              k: Int): DataFrame = {
    val scored = bucketed.join(broadcast(probes), Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.cosine(col(vecCol), col(qVecCol)).as("cosine"))
      .distinct()
    topK(scored, qIdCol, idCol, k)
  }

  /** IVF ANN, in-memory form: corpus clustered into `nLists` cells
    * (k-means on a bounded sample, deterministic seed); queries probe the
    * `nProbe` nearest cells only. For the persisted form whose probes
    * prune partitions at the scan, see [[ivfWrite]] / [[ivfProbe]].
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4,
              trainFraction: Double = 0.05,
              maxTrain: Int = 100000): DataFrame = {
    val centers = fitCenters(corpus, vecCol, nLists, trainFraction, maxTrain)
    ivfTopKWithCenters(corpus, idCol, vecCol, queries, qIdCol, qVecCol,
      k, centers, nProbe)
  }

  /** The PROBE half of [[ivfTopK]] under caller-supplied (FIXED) cell
    * centers — the oracle-able apply step: assign every corpus vector to
    * its best-cosine cell, probe each query's `nProbe` nearest cells,
    * exact top-k within the probed cells only.
    */
  def ivfTopKWithCenters(corpus: DataFrame, idCol: String, vecCol: String,
                         queries: DataFrame, qIdCol: String, qVecCol: String,
                         k: Int, centers: Array[Array[Float]],
                         nProbe: Int): DataFrame = {
    val bucketed = assignCells(corpus, vecCol, centers)
    val probes = probeCells(queries, qVecCol, centers, nProbe)
    ivfScoreAndRank(bucketed, idCol, vecCol, probes, qIdCol, qVecCol, k)
  }

  /** Builds the persisted inverted file: `path/data` holds the corpus
    * partitioned by `cell` (so a probe's `cell IN (...)` filter prunes
    * whole partitions at the parquet scan) and `path/centers` holds the
    * (idx, center) table the probe side needs.
    */
  def ivfWrite(corpus: DataFrame, idCol: String, vecCol: String,
               path: String, nLists: Int = 16,
               trainFraction: Double = 0.05, maxTrain: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = fitCenters(corpus, vecCol, nLists, trainFraction, maxTrain)
    // cluster rows by cell before the partitioned write: without this,
    // every shuffle partition writes a file into every cell directory
    // (shufflePartitions × nLists small files); with it, each cell's
    // data is one task's output
    assignCells(corpus, vecCol, centers)
      .repartition(nLists, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path + "/data")
    centers.zipWithIndex
      .map { case (c, i) => (i + 1, c.toSeq) } // cells are 1-based (element_at)
      .toSeq.toDF("idx", "center")
      .write.mode("overwrite").parquet(path + "/centers")
  }

  /** Probes a persisted IVF index. The probe-cell set is collected
    * driver-side (bounded by `|queries| × nProbe`; queries are the
    * broadcast-small side by contract) and pushed into the scan as a
    * partition filter — only `nProbe/nLists` of the corpus is read.
    */
  def ivfProbe(spark: SparkSession, path: String,
               queries: DataFrame, qIdCol: String, qVecCol: String,
               k: Int, nProbe: Int = 4,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val centers = spark.read.parquet(path + "/centers")
      .orderBy("idx").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("center").toArray)
    // ONE probe materialization: the probe table is broadcast-small by
    // contract, so collect it once and derive both the partition-filter
    // cell set AND the join input from the same rows — the previous
    // shape paid a distinct+collect action for the cells and then
    // re-evaluated the whole probe plan (queries scan + cell ranking)
    // inside the broadcast build.
    val probesDf = probeCells(queries, qVecCol, centers, nProbe)
    val probeRows = probesDf.collect()
    val cells = probeRows.map(_.getAs[Int]("cell")).distinct
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesDf.schema)
    val bucketed = spark.read.parquet(path + "/data")
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    ivfScoreAndRank(bucketed, idCol, vecCol, probes, qIdCol, qVecCol, k)
  }

  // ----------------------------------------------------------------- PQ

  /** A fitted product-quantization codebook: `flat` is the `[subspace]
    * [centroid][component]` array flattened subspace-major.
    */
  final case class PqCodebook(m: Int, ksub: Int, subDim: Int,
                              flat: Array[Float])

  /** Fits PQ codebooks: the vector space is split into `m` subspaces and
    * each gets `ksub` k-means centroids (Lloyd iterations, deterministic
    * seed-free spread init). Training happens DRIVER-side on a bounded,
    * seeded sample (`maxTrain` rows — same contract as [[ivfTopK]]'s
    * `fitCenters`: one sampling scan of the corpus total, never an
    * iterative full-corpus pass).
    */
  def pqFit(corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
            trainFraction: Double = 0.05,
            maxTrain: Int = 65536): PqCodebook =
    pqFitFrom(trainSample(corpus, vecCol, ksub, trainFraction, maxTrain),
      m, ksub)

  private def pqFitFrom(train: Array[Array[Float]], m: Int,
                        ksub: Int): PqCodebook = {
    val dim = train.head.length
    require(dim % m == 0, s"pqFit: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val flat = new Array[Float](m * ksub * subDim)
    var j = 0
    while (j < m) {
      val sub = train.map(v =>
        java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      val centers = lloyd(sub, ksub, iters = 20)
      var c = 0
      while (c < ksub) {
        System.arraycopy(centers(c), 0, flat, (j * ksub + c) * subDim, subDim)
        c += 1
      }
      j += 1
    }
    PqCodebook(m, ksub, subDim, flat)
  }

  /** Per-query ADC lookup tables, built driver-side (queries are the
    * broadcast-small side by contract): `__lut_dot[j*ksub+c]` =
    * dot(q_subspace_j, centroid), `__lut_sq` = |centroid|², plus the
    * query norm — scoring a candidate code is then `m` table adds.
    */
  private def queryLuts(queries: DataFrame, qIdCol: String, qVecCol: String,
                        cb: PqCodebook): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val spark = queries.sparkSession
    val rows = queries.select(col(qIdCol), col(qVecCol)).collect().map { r =>
      val q = r.getAs[scala.collection.Seq[Float]](1).toArray
      val lutDot = new Array[Float](cb.m * cb.ksub)
      val lutSq = new Array[Float](cb.m * cb.ksub)
      var idx = 0
      var j = 0
      while (j < cb.m) {
        var c = 0
        while (c < cb.ksub) {
          val base = idx * cb.subDim
          var d = 0.0
          var s = 0.0
          var t = 0
          while (t < cb.subDim) {
            val cv = cb.flat(base + t)
            d += q(j * cb.subDim + t) * cv
            s += cv.toDouble * cv
            t += 1
          }
          lutDot(idx) = d.toFloat
          lutSq(idx) = s.toFloat
          idx += 1
          c += 1
        }
        j += 1
      }
      val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      org.apache.spark.sql.Row(r.get(0), lutDot.toSeq, lutSq.toSeq, qn)
    }
    val schema = StructType(Seq(
      queries.schema(qIdCol).copy(name = qIdCol),
      StructField("__lut_dot", ArrayType(FloatType, containsNull = false)),
      StructField("__lut_sq", ArrayType(FloatType, containsNull = false)),
      StructField("__q_norm", DoubleType)))
    spark.createDataFrame(rows.toList.asJava, schema)
  }

  /** PQ-compressed brute-force ANN: the corpus is encoded to `m` bytes
    * per vector (one map-side pass; a 64-dim float corpus compresses
    * 32×), queries become broadcast ADC lookup tables, and scoring each
    * candidate is `m` table adds instead of `dim` multiply-adds. The
    * memory-scale path: at 100 TB the code table fits where raw vectors
    * cannot, and the scan reads `m` bytes/row.
    */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             k: Int, m: Int = 8, ksub: Int = 256,
             trainFraction: Double = 0.05,
             maxTrain: Int = 65536): DataFrame = {
    val cb = pqFit(corpus, vecCol, m, ksub, trainFraction, maxTrain)
    val codes = corpus.select(col(idCol),
      NativeFunctions.pqEncode(col(vecCol), cb.flat, m, ksub).as("pq_code"))
    val scored = codes.crossJoin(broadcast(queryLuts(queries, qIdCol, qVecCol, cb)))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.pqAdc(col("pq_code"), col("__lut_dot"),
          col("__lut_sq"), col("__q_norm")).as("cosine"))
    topK(scored, qIdCol, idCol, k)
  }

  /** IVF-PQ: coarse k-means cells prune the candidate set (queries probe
    * `nProbe` of `nLists` cells) and PQ codes compress what remains —
    * the standard billion-scale ANN layout. Each corpus row lands in
    * exactly one cell, so the probe join produces no duplicate pairs.
    */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int, nLists: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 256,
                trainFraction: Double = 0.05,
                maxTrain: Int = 65536): DataFrame = {
    // ONE sampling scan + collect feeds both fits (the coarse cells and
    // the PQ codebooks) — two independent trainSample calls would scan
    // the corpus twice for identical data
    val train = trainSample(corpus, vecCol, math.max(nLists, ksub),
      trainFraction, maxTrain)
    ivfPqTopKWithArtifacts(corpus, idCol, vecCol, queries, qIdCol, qVecCol,
      k, lloyd(train, nLists), pqFitFrom(train, m, ksub), nProbe)
  }

  /** The PROBE+ADC half of [[ivfPqTopK]] under caller-supplied (FIXED)
    * coarse centers and PQ codebook — the oracle-able apply path: cell
    * assignment, nProbe pruning, PQ encode and ADC scoring are all
    * deterministic transforms of the given artifacts.
    */
  def ivfPqTopKWithArtifacts(corpus: DataFrame, idCol: String,
                             vecCol: String, queries: DataFrame,
                             qIdCol: String, qVecCol: String, k: Int,
                             centers: Array[Array[Float]], cb: PqCodebook,
                             nProbe: Int): DataFrame = {
    val m = cb.m
    val ksub = cb.ksub
    val coded = assignCells(corpus, vecCol, centers)
      .select(col(idCol), col("cell"),
        NativeFunctions.pqEncode(col(vecCol), cb.flat, m, ksub).as("pq_code"))
    val probes = probeCells(queries.select(col(qIdCol), col(qVecCol)),
        qVecCol, centers, nProbe)
      .select(col(qIdCol), col("cell"))
    val probeLuts = probes.join(queryLuts(queries, qIdCol, qVecCol, cb), qIdCol)
    val scored = coded.join(broadcast(probeLuts), Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.pqAdc(col("pq_code"), col("__lut_dot"),
          col("__lut_sq"), col("__q_norm")).as("cosine"))
    topK(scored, qIdCol, idCol, k)
  }

  // ---------------------------------------------------------------- LSH

  /** LSH-bucketed ANN: `tables` independent hyperplane sets (standard
    * multi-table LSH); candidates share the query's bucket in ANY table —
    * or a 1-bit-flipped neighbor bucket when `multiProbe`. Miss probability
    * decays geometrically in `tables` at linear candidate cost.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, bits: Int = 12, tables: Int = 4,
              multiProbe: Boolean = true): DataFrame = {
    val tableBuckets = (0 until tables).map(t =>
      struct(lit(t).as("tbl"), NativeFunctions.lshBucket(col(vecCol), bits, t).as("bucket")))
    val bucketed = corpus
      .select(col(idCol), col(vecCol), explode(array(tableBuckets: _*)).as("tb"))
      .select(col(idCol), col(vecCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val qProbes = (0 until tables).flatMap { t =>
      val qb = NativeFunctions.lshBucket(col(qVecCol), bits, t)
      val base = struct(lit(t).as("tbl"), qb.as("bucket"))
      if (!multiProbe) Seq(base)
      else base +: (0 until bits).map(i =>
        struct(lit(t).as("tbl"), qb.bitwiseXOR(lit(1 << i)).as("bucket")))
    }
    val probes = queries
      .select(col(qIdCol), col(qVecCol), explode(array(qProbes: _*)).as("tb"))
      .select(col(qIdCol), col(qVecCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.cosine(col(vecCol), col(qVecCol)).as("cosine"))
      .distinct()
    topK(scored, qIdCol, idCol, k)
  }

  /** The PROBE half of [[lshTopK]] under caller-supplied (FIXED)
    * hyperplanes — the oracle-able apply path. Bucket bit `i` is the
    * sign of the double-precision dot product against `planes(i)`; the
    * probe set is the query's bucket plus every 1-bit flip; candidates
    * rerank by exact cosine. All three transforms are deterministic in
    * the given planes, so a SQL oracle can replay them. Buckets are
    * computed map-side against plane literals (no fit, no shuffle of
    * vectors); candidates move through ONE broadcast-hash join on the
    * bucket key and top-k partial-aggregates.
    */
  def lshTopKWithPlanes(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        k: Int, planes: Array[Array[Float]]): DataFrame = {
    def bucketOf(vec: Column): Column =
      planes.indices.map { i =>
        val p = typedLit(planes(i).map(_.toDouble).toSeq)
        when(aggregate(zip_with(vec.cast("array<double>"), p,
            (x, y) => x * y), lit(0d), (acc, x) => acc + x) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    val bucketed = corpus.select(col(idCol), col(vecCol),
      bucketOf(col(vecCol)).as("bucket"))
    val masks = lit(0) +: planes.indices.map(i => lit(1 << i))
    val probes = queries
      .select(col(qIdCol), col(qVecCol), bucketOf(col(qVecCol)).as("qb"))
      .select(col(qIdCol), col(qVecCol),
        explode(array(masks.map(m => col("qb").bitwiseXOR(m)): _*))
          .as("bucket"))
    // base bucket and its 1-bit flips are pairwise distinct, so each
    // candidate matches at most one probe row — no post-join distinct
    val scored = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol),
        NativeFunctions.cosine(col(vecCol), col(qVecCol)).as("cosine"))
    topK(scored, qIdCol, idCol, k)
  }
}
