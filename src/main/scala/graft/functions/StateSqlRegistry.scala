package graft.functions

import java.nio.ByteBuffer

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, encoderFor}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import StateSketches.{AvgBuf, Hll, packAvg, unpackAvg}

/** The `-State` / `-Merge` combinator surface as SQL-callable routines —
  * the spelling the reference uses through TEXT (`uniqState(x)` into an
  * `AggregateFunction(uniq, …)` column, `uniqMerge(st)` on read,
  * `finalizeAggregation(st)` on a single state: lecture_07.md:495-546,
  * lecture_13.md:56-182). The engine-API twins live in [[StateSketches]]
  * and produce RAW sketch payloads; the SQL surface wraps every state in
  * a one-byte function tag so `finalizeAggregation` — whose argument type
  * ClickHouse resolves at compile time from the column's declared
  * `AggregateFunction(f, T)` — can dispatch at runtime instead. The two
  * blob dialects are deliberately distinct: mixing API states into SQL
  * `-Merge` calls fails loudly on the tag check rather than mis-merging.
  *
  * Scale shape: all of these are [[Aggregator]]s — partial-aggregatable
  * (map-side combine) with bounded per-group buffers (HLL = 4 KiB,
  * avg/sum/maxIf = O(1)), exactly the AggregatingMergeTree part-merge
  * contract.
  */
object StateSqlRegistry {

  private[functions] val TagUniq: Byte = 1
  private[functions] val TagAvg: Byte = 2
  private[functions] val TagSum: Byte = 3
  private[functions] val TagMaxIf: Byte = 4
  private[functions] val TagCount: Byte = 5
  private[functions] val TagUniqExact: Byte = 6

  private def tagged(tag: Byte, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](payload.length + 1)
    out(0) = tag
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }

  private def payload(tag: Byte, fn: String, blob: Array[Byte]): Array[Byte] = {
    require(blob.length >= 1 && blob(0) == tag,
      s"$fn: argument is not a ${fn.stripSuffix("Merge")}State blob " +
        s"(tag ${if (blob.isEmpty) "<empty>" else blob(0).toString})")
    java.util.Arrays.copyOfRange(blob, 1, blob.length)
  }

  // ---------- uniq (HLL registers, tag 1)

  object UniqStateSql extends Aggregator[String, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](Hll.M)
    def reduce(b: Array[Byte], v: String): Array[Byte] = {
      if (v != null) Hll.add(b, v); b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      Hll.mergeInto(a, b); a
    }
    def finish(b: Array[Byte]): Array[Byte] = tagged(TagUniq, b)
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object UniqMergeSql extends Aggregator[Array[Byte], Array[Byte], Long] {
    def zero: Array[Byte] = new Array[Byte](Hll.M)
    def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] = {
      if (v != null) Hll.mergeInto(b, payload(TagUniq, "uniqMerge", v)); b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      Hll.mergeInto(a, b); a
    }
    def finish(b: Array[Byte]): Long = Hll.estimate(b)
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  // ---------- avg (fixed-point cents + count, tag 2)

  object AvgStateSql extends Aggregator[java.lang.Double, AvgBuf, Array[Byte]] {
    def zero: AvgBuf = AvgBuf(0L, 0L)
    def reduce(b: AvgBuf, v: java.lang.Double): AvgBuf = {
      if (v != null) { b.cents += math.round(v * 100); b.cnt += 1 }; b
    }
    def merge(a: AvgBuf, b: AvgBuf): AvgBuf = {
      a.cents += b.cents; a.cnt += b.cnt; a
    }
    def finish(b: AvgBuf): Array[Byte] = tagged(TagAvg, packAvg(b))
    def bufferEncoder: Encoder[AvgBuf] = Encoders.product[AvgBuf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object AvgMergeSql extends Aggregator[Array[Byte], AvgBuf, Double] {
    def zero: AvgBuf = AvgBuf(0L, 0L)
    def reduce(b: AvgBuf, v: Array[Byte]): AvgBuf =
      if (v == null) b else merge(b, unpackAvg(payload(TagAvg, "avgMerge", v)))
    def merge(a: AvgBuf, b: AvgBuf): AvgBuf = {
      a.cents += b.cents; a.cnt += b.cnt; a
    }
    def finish(b: AvgBuf): Double =
      if (b.cnt == 0) Double.NaN else b.cents.toDouble / 100.0 / b.cnt
    def bufferEncoder: Encoder[AvgBuf] = Encoders.product[AvgBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  // ---------- sum (running long, tag 3)

  final case class SumBuf(var v: Long)

  object SumStateSql extends Aggregator[java.lang.Long, SumBuf, Array[Byte]] {
    def zero: SumBuf = SumBuf(0L)
    def reduce(b: SumBuf, v: java.lang.Long): SumBuf = {
      if (v != null) b.v += v; b
    }
    def merge(a: SumBuf, b: SumBuf): SumBuf = { a.v += b.v; a }
    def finish(b: SumBuf): Array[Byte] =
      tagged(TagSum, ByteBuffer.allocate(8).putLong(b.v).array())
    def bufferEncoder: Encoder[SumBuf] = Encoders.product[SumBuf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object SumMergeSql extends Aggregator[Array[Byte], SumBuf, Long] {
    def zero: SumBuf = SumBuf(0L)
    def reduce(b: SumBuf, v: Array[Byte]): SumBuf = {
      if (v != null)
        b.v += ByteBuffer.wrap(payload(TagSum, "sumMerge", v)).getLong()
      b
    }
    def merge(a: SumBuf, b: SumBuf): SumBuf = { a.v += b.v; a }
    def finish(b: SumBuf): Long = b.v
    def bufferEncoder: Encoder[SumBuf] = Encoders.product[SumBuf]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  // ---------- maxIf (conditional max over strings, tag 4; the lecture's
  // aggr_tbl declares AggregateFunction(maxIf, String, UInt8))

  final case class MaxIfBuf(var present: Boolean, var v: String)

  private def packMaxIf(b: MaxIfBuf): Array[Byte] =
    if (!b.present) Array[Byte](0)
    else {
      val s = b.v.getBytes("UTF-8")
      val out = new Array[Byte](1 + s.length)
      out(0) = 1
      System.arraycopy(s, 0, out, 1, s.length)
      out
    }

  private def unpackMaxIf(a: Array[Byte]): MaxIfBuf =
    if (a.isEmpty || a(0) == 0) MaxIfBuf(present = false, null)
    else MaxIfBuf(present = true, new String(a, 1, a.length - 1, "UTF-8"))

  private def maxInto(a: MaxIfBuf, v: String): MaxIfBuf = {
    if (v != null && (!a.present || v.compareTo(a.v) > 0)) {
      a.present = true; a.v = v
    }
    a
  }

  object MaxIfStateSql
      extends Aggregator[(String, java.lang.Boolean), MaxIfBuf, Array[Byte]] {
    def zero: MaxIfBuf = MaxIfBuf(present = false, null)
    def reduce(b: MaxIfBuf, in: (String, java.lang.Boolean)): MaxIfBuf =
      if (in._2 != null && in._2) maxInto(b, in._1) else b
    def merge(a: MaxIfBuf, b: MaxIfBuf): MaxIfBuf =
      if (b.present) maxInto(a, b.v) else a
    def finish(b: MaxIfBuf): Array[Byte] = tagged(TagMaxIf, packMaxIf(b))
    def bufferEncoder: Encoder[MaxIfBuf] = Encoders.product[MaxIfBuf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object MaxIfMergeSql extends Aggregator[Array[Byte], MaxIfBuf, String] {
    def zero: MaxIfBuf = MaxIfBuf(present = false, null)
    def reduce(b: MaxIfBuf, v: Array[Byte]): MaxIfBuf =
      if (v == null) b
      else merge(b, unpackMaxIf(payload(TagMaxIf, "maxIfMerge", v)))
    def merge(a: MaxIfBuf, b: MaxIfBuf): MaxIfBuf =
      if (b.present) maxInto(a, b.v) else a
    def finish(b: MaxIfBuf): String = if (b.present) b.v else null
    def bufferEncoder: Encoder[MaxIfBuf] = Encoders.product[MaxIfBuf]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  // ---------- count (running long, tag 5; countState() with no args is
  // rewritten to countState(1) by the dialect layer, countState(x)
  // counts non-nulls of x — both ClickHouse spellings)

  object CountStateSql extends Aggregator[java.lang.Long, SumBuf, Array[Byte]] {
    def zero: SumBuf = SumBuf(0L)
    def reduce(b: SumBuf, v: java.lang.Long): SumBuf = {
      if (v != null) b.v += 1; b
    }
    def merge(a: SumBuf, b: SumBuf): SumBuf = { a.v += b.v; a }
    def finish(b: SumBuf): Array[Byte] =
      tagged(TagCount, ByteBuffer.allocate(8).putLong(b.v).array())
    def bufferEncoder: Encoder[SumBuf] = Encoders.product[SumBuf]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object CountMergeSql extends Aggregator[Array[Byte], SumBuf, Long] {
    def zero: SumBuf = SumBuf(0L)
    def reduce(b: SumBuf, v: Array[Byte]): SumBuf = {
      if (v != null)
        b.v += ByteBuffer.wrap(payload(TagCount, "countMerge", v)).getLong()
      b
    }
    def merge(a: SumBuf, b: SumBuf): SumBuf = { a.v += b.v; a }
    def finish(b: SumBuf): Long = b.v
    def bufferEncoder: Encoder[SumBuf] = Encoders.product[SumBuf]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  // ---------- uniqExact (exact distinct set, tag 6; the state is the
  // value set itself — linear in distinct count, same contract as
  // ClickHouse's uniqExactState)

  /** Hard cap on one group's uniqExact state (distinct values), default
    * 10M, overridable via -Dgraft.uniq_exact_state.max_size. Exact
    * distinct is LINEAR STATE BY CONTRACT (ClickHouse's uniqExact is
    * too): the serialized blob is one JVM byte array built on a single
    * reducer, so a billion-distinct group would die as an opaque
    * executor OOM. The cap turns that into an actionable dialect error
    * pointing at uniqState (HLL), the bounded-state alternative.
    */
  private def uniqExactMaxSize: Int =
    Option(System.getProperty("graft.uniq_exact_state.max_size"))
      .flatMap(_.toIntOption).getOrElse(10000000)

  private def guardUniqExactSize(
      b: scala.collection.mutable.HashSet[String],
      strict: Boolean = false)
      : scala.collection.mutable.HashSet[String] = {
    // amortized on the per-ROW reduce path: consult the (synchronized)
    // system-property table only every 1024th size — a per-row
    // Properties lookup would contend across all task threads. merge()
    // calls are per-buffer-pair (rare) and can land between multiples,
    // so they check strictly. Worst reduce-side overshoot past the cap
    // is 1023 entries, noise next to an OOM-scale set.
    if (!strict && (b.size & 1023) != 0) return b
    val cap = uniqExactMaxSize
    if (b.size > cap) throw new IllegalArgumentException(
      s"uniqExactState: a group exceeded $cap distinct values — exact " +
        "distinct keeps the full value set per group (linear state, the " +
        "ClickHouse uniqExact contract) and this state would not fit one " +
        "reducer. Use uniqState/uniqMerge (HLL, bounded state) for " +
        "unbounded cardinality, or raise -Dgraft.uniq_exact_state.max_size")
    b
  }

  private def packSet(s: scala.collection.mutable.HashSet[String]): Array[Byte] = {
    val parts = s.toArray.sorted.map(_.getBytes("UTF-8"))
    val buf = ByteBuffer.allocate(4 + parts.map(_.length + 4).sum)
    buf.putInt(parts.length)
    parts.foreach { p => buf.putInt(p.length); buf.put(p) }
    buf.array()
  }

  private def unpackSet(a: Array[Byte]): scala.collection.mutable.HashSet[String] = {
    val buf = ByteBuffer.wrap(a)
    val n = buf.getInt()
    val out = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < n) {
      val len = buf.getInt()
      val bytes = new Array[Byte](len)
      buf.get(bytes)
      out += new String(bytes, "UTF-8")
      i += 1
    }
    out
  }

  object UniqExactStateSql
      extends Aggregator[String, scala.collection.mutable.HashSet[String], Array[Byte]] {
    def zero: scala.collection.mutable.HashSet[String] =
      scala.collection.mutable.HashSet.empty[String]
    def reduce(b: scala.collection.mutable.HashSet[String], v: String)
        : scala.collection.mutable.HashSet[String] = {
      if (v != null) b += v
      guardUniqExactSize(b)
    }
    def merge(a: scala.collection.mutable.HashSet[String],
        b: scala.collection.mutable.HashSet[String])
        : scala.collection.mutable.HashSet[String] =
      guardUniqExactSize(a ++= b, strict = true)
    def finish(b: scala.collection.mutable.HashSet[String]): Array[Byte] =
      tagged(TagUniqExact, packSet(b))
    def bufferEncoder: Encoder[scala.collection.mutable.HashSet[String]] =
      Encoders.kryo[scala.collection.mutable.HashSet[String]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  object UniqExactMergeSql
      extends Aggregator[Array[Byte], scala.collection.mutable.HashSet[String], Long] {
    def zero: scala.collection.mutable.HashSet[String] =
      scala.collection.mutable.HashSet.empty[String]
    def reduce(b: scala.collection.mutable.HashSet[String], v: Array[Byte])
        : scala.collection.mutable.HashSet[String] = {
      if (v != null)
        b ++= unpackSet(payload(TagUniqExact, "uniqExactMerge", v))
      guardUniqExactSize(b, strict = true)
    }
    def merge(a: scala.collection.mutable.HashSet[String],
        b: scala.collection.mutable.HashSet[String])
        : scala.collection.mutable.HashSet[String] =
      guardUniqExactSize(a ++= b, strict = true)
    def finish(b: scala.collection.mutable.HashSet[String]): Long = b.size.toLong
    def bufferEncoder: Encoder[scala.collection.mutable.HashSet[String]] =
      Encoders.kryo[scala.collection.mutable.HashSet[String]]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** `finalizeAggregation(state)` — scalar, runtime-dispatched on the
    * blob's tag. ClickHouse types this from the column's declared
    * `AggregateFunction(f, T)`; a runtime dispatch cannot pick a static
    * SQL type, so the value is rendered as a string (console-display
    * parity — the TYPED read surface is the `-Merge` family).
    */
  private def finalizeState(blob: Array[Byte]): String = {
    if (blob == null || blob.isEmpty) return null
    blob(0) match {
      case TagUniq =>
        Hll.estimate(java.util.Arrays.copyOfRange(blob, 1, blob.length)).toString
      case TagAvg =>
        val b = unpackAvg(java.util.Arrays.copyOfRange(blob, 1, blob.length))
        if (b.cnt == 0) "nan" else (b.cents.toDouble / 100.0 / b.cnt).toString
      case TagSum =>
        ByteBuffer.wrap(blob, 1, 8).getLong().toString
      case TagMaxIf =>
        val b = unpackMaxIf(java.util.Arrays.copyOfRange(blob, 1, blob.length))
        if (b.present) b.v else null
      case TagCount =>
        ByteBuffer.wrap(blob, 1, 8).getLong().toString
      case TagUniqExact =>
        unpackSet(java.util.Arrays.copyOfRange(blob, 1, blob.length))
          .size.toString
      case other =>
        throw new IllegalArgumentException(
          s"finalizeAggregation: unknown state tag $other")
    }
  }

  /** Expected CAST for each routine's arguments, applied by the dialect
    * rewriter so any ClickHouse-typed expression (UInt64, Int8 signs,
    * Nullable ints) lands on the aggregator's input encoder.
    */
  val argCasts: Map[String, Seq[String]] = Map(
    "uniqstate" -> Seq("STRING"),
    "avgstate" -> Seq("DOUBLE"),
    "sumstate" -> Seq("BIGINT"),
    "maxifstate" -> Seq("STRING", "BOOLEAN"),
    "countstate" -> Seq("BIGINT"),
    "uniqexactstate" -> Seq("STRING"))

  /** The expression `spark.udf.register(name, udaf(agg))` would build. */
  private def aggregator[IN: TypeTag, BUF, OUT](name: String,
      agg: Aggregator[IN, BUF, OUT]): (String, FunctionBuilder) =
    name -> (children => ScalaAggregator(children, agg, ExpressionEncoder[IN](),
      encoderFor(agg.bufferEncoder), aggregatorName = Some(name)))

  val functions: Seq[(String, FunctionBuilder)] = Seq(
    aggregator("uniqState", UniqStateSql),
    aggregator("uniqMerge", UniqMergeSql),
    aggregator("avgState", AvgStateSql),
    aggregator("avgMerge", AvgMergeSql),
    aggregator("sumState", SumStateSql),
    aggregator("sumMerge", SumMergeSql),
    aggregator("maxIfState", MaxIfStateSql),
    aggregator("maxIfMerge", MaxIfMergeSql),
    aggregator("countState", CountStateSql),
    aggregator("countMerge", CountMergeSql),
    aggregator("uniqExactState", UniqExactStateSql),
    aggregator("uniqExactMerge", UniqExactMergeSql),
    "finalizeAggregation" -> (e => FinalizeAggregation(e.head)))

  /** `finalizeAggregation(state)` as a scalar expression: BINARY in (other
    * inputs are implicitly cast), the [[finalizeState]] rendering out.
    */
  final case class FinalizeAggregation(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      UTF8String.fromString(finalizeState(v.asInstanceOf[Array[Byte]]))
    override protected def withNewChildInternal(c: Expression): FinalizeAggregation =
      copy(child = c)
    override def prettyName: String = "finalizeAggregation"
  }
}
