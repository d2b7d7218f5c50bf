package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.NativeFunctions

/** Bloom-filter pre-pruning for join reduction at corpus scale.
  *
  * The pattern: a big increment must anti-join a much bigger history
  * store (incremental dedup), or a fact must semi-join a filtered
  * dimension. Shuffling the big side is the dominant cost, yet most of
  * its rows match nothing. A bloom blob over the small(er) side's keys —
  * megabytes for tens of millions of keys — rides to the executors as a
  * literal and routes rows MAP-SIDE: "definitely absent" rows skip the
  * join entirely; only "might be present" rows (true hits + the fpp
  * tail) pay the shuffle. Correctness never depends on the filter — the
  * exact join still decides every routed row.
  *
  * Built on Spark's own runtime-filter expressions (BloomFilterAggregate
  * / BloomFilterMightContain), so the build is one partial-aggregated
  * pass (map-side bit-OR merges, one blob at the end) and the probe is a
  * codegen'd predicate. NOTE: the aggregate enforces
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
  * — raise those confs for stores beyond ~4M keys.
  */
object BloomPrune {

  /** Optimal bit count for n items at the given false-positive rate. */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, s"fpp in (0,1), got $fpp")
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** One blob over `key` (any type — hashed via xxhash64). Driver holds
    * the result: bits/8 bytes (1.2 MB per million keys at 1% fpp).
    */
  def build(df: DataFrame, key: Column, expectedItems: Long,
            numBits: Long): Array[Byte] = {
    df.select(NativeFunctions.bloomAgg(key, expectedItems, numBits).as("b"))
      .head().getAs[Array[Byte]](0)
  }

  /** Map-side membership probe against a driver-held blob. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    NativeFunctions.bloomMightContain(lit(bloom), key)

  /** Merge two blobs built with the SAME (expectedItems, numBits) —
    * bloom union is bit-OR, so incremental stores can grow their filter
    * without rescanning history.
    */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** Persist blob + its build params (merge compatibility needs the exact
    * same (expectedItems, numBits) on every later build).
    */
  def write(spark: SparkSession, path: String, bloom: Array[Byte],
            expectedItems: Long, numBits: Long): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try {
      out.writeLong(expectedItems)
      out.writeLong(numBits)
      out.writeInt(bloom.length)
      out.write(bloom)
    } finally out.close()
  }

  /** Read a persisted blob: (bytes, expectedItems, numBits); None if the
    * file does not exist.
    */
  def read(spark: SparkSession, path: String): Option[(Array[Byte], Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val items = in.readLong()
        val bits = in.readLong()
        val len = in.readInt()
        val buf = new Array[Byte](len)
        in.readFully(buf)
        Some((buf, items, bits))
      } finally in.close()
    }
  }
}
