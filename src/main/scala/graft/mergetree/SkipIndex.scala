package graft.mergetree

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BloomPrune
import graft.plans.NativeFunctions

/** ClickHouse data-skipping indexes (`lectures/lecture_08.md:100-170`):
  * `bloom_filter` (exact values), `tokenbf_v1` (alphanumeric tokens of a
  * text column), `set(N)` (distinct values up to a cap) — per data FILE
  * instead of per granule, which is the parquet-native granularity (the
  * row-group minmax level is already Spark's automatic pruning; these
  * cover the membership predicates minmax cannot).
  *
  * The index is a tiny parquet SIDECAR (`_skipidx_<name>/` — the
  * underscore keeps table readers away): one row per data file carrying
  * its summary. Build is one distributed pass over the table grouped by
  * `input_file_name()`; pruning scans only the sidecar (KBs) and hands
  * Spark the surviving file list. A probe that skips 90% of files skips
  * 90% of the I/O — the exact CH mechanic, at object-store scale.
  * Pruning is advisory-correct: false positives cost I/O, never
  * correctness (the real filter still runs on what is read).
  */
object SkipIndex {

  private def sidecar(path: String, name: String) = s"$path/_skipidx_$name"

  /** bloom_filter index: per-file bloom over exact `col` values. Values
    * are hashed in their canonical STRING form (as [[buildSet]] stores
    * them) so a probe value of any numeric width matches the indexed
    * column — hashing native types would let an IntegerType column
    * probed with a Scala Long prune files that DO contain the value.
    */
  def buildBloom(spark: SparkSession, path: String, column: String,
                 name: String, expectedPerFile: Long = 100000L,
                 fpp: Double = 0.01): Unit = {
    val bits = BloomPrune.optimalNumBits(expectedPerFile, fpp)
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(NativeFunctions.bloomAgg(col(column).cast("string"),
        expectedPerFile, bits).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(path, name))
  }

  /** tokenbf_v1 index: per-file bloom over the alphanumeric tokens of a
    * text column — full-text token membership (`hasToken`) pruning.
    */
  def buildTokenBloom(spark: SparkSession, path: String, textColumn: String,
                      name: String, expectedPerFile: Long = 1000000L,
                      fpp: Double = 0.01): Unit = {
    val bits = BloomPrune.optimalNumBits(expectedPerFile, fpp)
    spark.read.parquet(path)
      .select(input_file_name().as("file"),
        explode(split(lower(col(textColumn)), "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("file"))
      .agg(NativeFunctions.bloomAgg(col("tok"), expectedPerFile, bits).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(path, name))
  }

  /** ngrambf_v1 index: per-file bloom over the character n-grams of a
    * text column — unlike tokenbf this prunes SUBSTRING searches
    * (`LIKE '%needle%'`): a file can only match if every n-gram of the
    * needle is present ([[filesNgramMightContain]] probes all of them).
    */
  def buildNgramBloom(spark: SparkSession, path: String, textColumn: String,
                      name: String, n: Int = 3,
                      expectedPerFile: Long = 1000000L,
                      fpp: Double = 0.01): Unit = {
    require(n >= 1, s"n must be >= 1, got $n")
    val bits = BloomPrune.optimalNumBits(expectedPerFile, fpp)
    val low = lower(col(textColumn))
    spark.read.parquet(path)
      // texts shorter than n carry no n-grams (sequence(1, 0) would run
      // DESCENDING and hash junk sub-grams into the filter)
      .filter(length(low) >= n)
      .select(input_file_name().as("file"),
        explode(transform(
          sequence(lit(1), length(low) - (n - 1)),
          i => low.substr(i, lit(n)))).as("g"))
      .groupBy(col("file"))
      .agg(NativeFunctions.bloomAgg(col("g"), expectedPerFile, bits).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(path, name))
  }

  /** set(N) index: per-file distinct values, capped — a file whose
    * distinct count exceeds `maxValues` stores NULL (= always matches,
    * CH's "index useless for this part" semantics).
    */
  def buildSet(spark: SparkSession, path: String, column: String,
               name: String, maxValues: Int = 100): Unit = {
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(collect_set(col(column).cast("string")).as("vals"))
      .select(col("file"),
        when(size(col("vals")) <= maxValues, col("vals")).as("vals"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecar(path, name))
  }

  private def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Current data files joined with their sidecar summary (None when the
    * file is NEWER than the index build or contributed no indexed rows —
    * such files always survive: a stale index may cost I/O, never rows).
    */
  private def filesWithSummary[T](spark: SparkSession, path: String,
                                  name: String, summaryCol: String,
                                  get: org.apache.spark.sql.Row => T)
      : Seq[(String, Option[T])] = {
    val summaries = spark.read.parquet(sidecar(path, name))
      .select(col("file"), col(summaryCol)).collect()
      .map(r => normPath(r.getString(0)) ->
        (if (r.isNullAt(1)) None else Some(get(r)))).toMap
    SystemTables.listDataFiles(spark, path, keepDetached = false)
      .map { case (f, _) => (f, summaries.getOrElse(normPath(f), None)) }
  }

  private def xxhash(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(value))).eval(null).asInstanceOf[Long]
  }

  private def readBf(blob: Array[Byte]) =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(blob))

  /** Files a bloom-family index (bloom_filter / tokenbf) cannot rule out
    * for `value`. The sidecar is one row per data file, so the membership
    * test runs on the driver over collected blobs; the hash matches the
    * build side by construction (same XxHash64 expression, same seed,
    * both sides in canonical string form — see [[buildBloom]]).
    */
  def filesBloomMightContain(spark: SparkSession, path: String, name: String,
                             value: Any): Seq[String] = {
    val hash = xxhash(String.valueOf(value))
    filesWithSummary(spark, path, name, "bloom",
        _.getAs[Array[Byte]](1)).collect {
      case (f, None) => f
      case (f, Some(blob)) if readBf(blob).mightContainLong(hash) => f
    }
  }

  /** Files an ngrambf index cannot rule out for a SUBSTRING search:
    * every n-gram of the (lowercased) needle must might-contain.
    * Needles shorter than n cannot use the index (all files survive).
    */
  def filesNgramMightContain(spark: SparkSession, path: String, name: String,
                             needle: String, n: Int = 3): Seq[String] = {
    val low = needle.toLowerCase(java.util.Locale.ROOT)
    val hashes = (0 to low.length - n).map(i => xxhash(low.substring(i, i + n)))
    filesWithSummary(spark, path, name, "bloom",
        _.getAs[Array[Byte]](1)).collect {
      case (f, None) => f
      case (f, Some(blob)) if {
        val bf = readBf(blob); hashes.forall(bf.mightContainLong)
      } => f
    }
  }

  /** Files a set(N) index cannot rule out (NULL summary = always match). */
  def filesSetMightContain(spark: SparkSession, path: String, name: String,
                           value: Any): Seq[String] = {
    val v = String.valueOf(value)
    filesWithSummary(spark, path, name, "vals",
        _.getSeq[String](1)).collect {
      case (f, None) => f
      case (f, Some(vals)) if vals.contains(v) => f
    }
  }

  /** `EXPLAIN indexes = 1` analogue (lectures/lecture_07.md:198-230's
    * "Parts: 1/10, Granules: 1/10" narrative): given named pruning layers
    * (each a surviving-file list from [[filesBloomMightContain]] /
    * [[filesSetMightContain]] / [[filesNgramMightContain]] or a sort-key
    * minmax pass), report each layer's cumulative Parts: k/n line and
    * return the final surviving set.
    */
  def pruningReport(spark: SparkSession, path: String,
                    layers: Seq[(String, Seq[String])]): (String, Seq[String]) = {
    val all = SystemTables.listDataFiles(spark, path, keepDetached = false)
      .map(f => normPath(f._1))
    val total = all.size
    var surviving = all.toSet
    val lines = layers.map { case (name, files) =>
      surviving = surviving intersect files.map(normPath).toSet
      f"$name%s: Parts ${surviving.size}%d/$total%d"
    }
    (lines.mkString("\n"), surviving.toSeq.sorted)
  }

  /** Read only the surviving files ([[filesBloomMightContain]] /
    * [[filesSetMightContain]]); empty survivors yield an empty frame with
    * the table's schema. Callers still apply their exact filter —
    * pruning is advisory, never a correctness dependency.
    */
  def readPruned(spark: SparkSession, path: String,
                 files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files: _*)
}
