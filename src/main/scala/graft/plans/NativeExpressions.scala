package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

import graft.functions.StateSketches.Hll

/** Per-row kernels the built-in function set can't express efficiently
  * (SimHash over a token array, cosine over float vectors, hyperplane-LSH
  * bucketing), implemented as native Catalyst expressions with codegen:
  * `doGenCode` emits a static call into [[VecKernels]], so the expression
  * participates in whole-stage codegen instead of falling back to
  * interpreted eval (and is ~UDF-free: no serialization, no boxing of the
  * array payload).
  */
object VecKernels {

  /** 64-bit SimHash of a token array: per-token MurmurHash64A votes on each
    * bit; the sign of the vote sum becomes the bit.
    */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = Hll.murmur64(tokens.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Running sum of a double array in one pass (CH arrayCumSum). NULL
    * elements contribute 0 — the wrapper documents the contract.
    */
  def cumSumD(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) acc += a.getDouble(i)
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Adjacent differences, first element 0 (CH arrayDifference). */
  def arrDiffD(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var prev = 0.0
    var i = 0
    while (i < n) {
      val v = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      out(i) = if (i == 0) 0.0 else v - prev
      prev = v
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine similarity of two float vectors, accumulated in double. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Hyperplane sign matrices by (bits, seed, dim). The ±1 components
    * depend only on those three values, so the murmur64-per-component
    * derivation runs once per executor instead of once per ROW — the
    * per-row kernel is then a pure multiply-accumulate over a cached
    * float matrix (bits×dim fewer hashes and zero allocations per row on
    * the hottest ANN path).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Float]]()

  private def planes(bits: Int, seed: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((bits, seed, dim), { key =>
      val (b, s, d) = key
      val m = new Array[Float](b * d)
      var j = 0
      while (j < b) {
        var i = 0
        while (i < d) {
          val h = Hll.murmur64(longBytes(
            (s.toLong << 32) ^ (j.toLong * 1000003L + i)))
          m(j * d + i) = if ((h & 1L) == 1L) 1.0f else -1.0f
          i += 1
        }
        j += 1
      }
      m
    })

  /** Signed-random-projection LSH bucket: `bits` hyperplanes with
    * deterministic ±1 components derived from murmur64(plane, dim).
    * Vectors within a small angle land in the same bucket with high
    * probability — the blocking key for ANN search.
    */
  def lshBucket(v: ArrayData, bits: Int, seed: Int): Int = {
    val n = v.numElements()
    val m = planes(bits, seed, n)
    var sig = 0
    var j = 0
    while (j < bits) {
      var acc = 0.0
      val off = j * n
      var i = 0
      while (i < n) {
        acc += m(off + i) * v.getFloat(i)
        i += 1
      }
      if (acc >= 0) sig |= 1 << j
      j += 1
    }
    sig
  }

  /** Distinct word n-grams of a token array in ONE pass (the
    * `transform(sequence, i => slice(...))` spelling re-evaluates its
    * input expression per element — O(tokens²) on long docs).
    */
  def shingles(tokens: ArrayData, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cnt = tokens.numElements()
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i + n <= cnt) {
      var j = 0
      var sb: org.apache.spark.unsafe.types.UTF8String = null
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
      while (j < n) {
        if (j > 0) parts(2 * j - 1) = SPACE
        parts(2 * j) = tokens.getUTF8String(i + j)
        j += 1
      }
      sb = org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
      out.add(sb)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(Array.empty[AnyRef]))
  }

  private val SPACE = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Distinct word-n-gram fingerprints as a SORTED long array: each gram
    * is xxhash64'd instead of materialized as a string, and the sorted
    * layout lets [[jaccardSortedLongs]] intersect by linear merge. One
    * 64-bit collision inside a single pair's union (~n²/2⁶⁴) is the only
    * way the jaccard can differ from the string-set definition —
    * negligible at any corpus size.
    */
  def shingleHashes(tokens: ArrayData, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cnt = tokens.numElements()
    val m = math.max(cnt - n + 1, 0)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        if (j > 0) parts(2 * j - 1) = SPACE
        parts(2 * j) = tokens.getUTF8String(i + j)
        j += 1
      }
      val g = org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
      hs(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(g, org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedup in place (sorted)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, w))
  }

  /** Exact Jaccard of two SORTED distinct long arrays by linear merge —
    * no per-pair hash-set builds (the array_intersect/array_union
    * spelling builds two string sets per candidate pair on the hottest
    * dedup path). 0/0 yields NaN, matching the size-ratio spelling.
    */
  def jaccardSortedLongs(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** One-pass language ID over a token array: marker-set voting with
    * first-max tie-break (same definition as the composed-functions
    * spelling, which re-tokenizes once per language — ~10x the work).
    * `sets` and `langs` are parallel; zero hits everywhere → "und".
    */
  def langIdVote(tokens: ArrayData,
                 sets: Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]],
                 langs: Array[org.apache.spark.unsafe.types.UTF8String])
      : org.apache.spark.unsafe.types.UTF8String = {
    val counts = new Array[Int](sets.length)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var s = 0
        while (s < sets.length) {
          if (sets(s).contains(t)) counts(s) += 1
          s += 1
        }
      }
      i += 1
    }
    var best = -1
    var bestCnt = 0
    var s = 0
    while (s < counts.length) {
      if (counts(s) > bestCnt) { best = s; bestCnt = counts(s) } // strict > = first-max wins
      s += 1
    }
    if (best < 0) UND else langs(best)
  }

  private val UND = org.apache.spark.unsafe.types.UTF8String.fromString("und")

  /** One-pass normalize (lower, non-[a-z0-9] → space, collapse, trim) —
    * byte-level, equivalent to the two-regex spelling on ASCII text (a
    * multi-byte char and a regex-replaced char both collapse into the same
    * single space; spec-asserted parity). ~10x cheaper than two Java regex
    * passes over the document.
    */
  def normText(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < in.length) {
      val b = in(i)
      val c: Byte =
        if (b >= 'a' && b <= 'z') b
        else if (b >= '0' && b <= '9') b
        else if (b >= 'A' && b <= 'Z') (b + 32).toByte
        else ' '
      if (c == ' ') { if (o > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = c; o += 1
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** NFC-normalize; pure-ASCII bytes (the overwhelmingly common case)
    * return the input object untouched — no transcode, no allocation.
    */
  def nfcNormalize(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (ascii) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  /** One-pass normalize + whitespace tokenize (= tokens(normText)). */
  def normTokens(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val norm = normText(s)
    if (norm.numBytes == 0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[AnyRef])
    else {
      val parts = norm.split(SPACE, -1)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        parts.asInstanceOf[Array[AnyRef]])
    }
  }

  /** All k MinHash minima of a token array's n-gram shingle set in ONE
    * pass — no shingle explode, no k-column aggregation, no shuffle. Hash
    * i of a shingle = murmur64 finalizer over (base hash ^ seed_i), with
    * per-shingle dedup done inline (duplicate shingles can't change a min).
    */
  def minhashSig(tokens: ArrayData, n: Int, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val cnt = tokens.numElements()
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i + n <= cnt) {
      // base hash of the shingle: chain token hashes (order-sensitive)
      var base = 0x9747b28cL
      var j = 0
      while (j < n) {
        base = base * 0xc6a4a7935bd1e995L + Hll.murmur64(
          tokens.getUTF8String(i + j).getBytes, base)
        j += 1
      }
      if (seen.add(base)) {
        var h = 0
        while (h < k) {
          // murmur-style finalizer over (base ^ seed_h)
          var x = base ^ (h.toLong * 0x9e3779b97f4a7c15L)
          x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
          x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
          x ^= x >>> 33
          if (x < mins(h)) mins(h) = x
          h += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(m => Long.box(m).asInstanceOf[AnyRef]))
  }

  /** See [[RoundHalfEvenExact]] — `new BigDecimal(d)` is the exact binary
    * expansion (unlike `BigDecimal.valueOf`, which is `Double.toString`).
    */
  def roundHalfEven(d: Double, scale: Int): Double =
    new java.math.BigDecimal(d)
      .setScale(scale, java.math.RoundingMode.HALF_EVEN)
      .doubleValue()

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Token start offsets of single-space-normalized bytes: starts(i) is
    * the byte offset of token i, starts(n) = len + 1 (so token i spans
    * `[starts(i), starts(i+1) - 1)` and a k-gram joined by ' ' IS the
    * byte range `[starts(i), starts(i+k) - 1)`).
    */
  private def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = bytes.length + 1
    starts
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** md5 hex (lowercase, same as Spark's and DuckDB's `md5()`) of every
    * word k-gram of the normalized text, in position order — ONE fused
    * pass (normalize → byte-range digests), no per-gram slice/join
    * expression trees. Empty when the doc has fewer than k tokens.
    */
  def gramMd5(s: org.apache.spark.unsafe.types.UTF8String, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val nm = normText(s)
    val bytes = nm.getBytes
    if (bytes.isEmpty) return new GenericArrayData(Array.empty[AnyRef])
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    val nG = nTok - (k - 1)
    if (nG < 1) return new GenericArrayData(Array.empty[AnyRef])
    val md = md5Local.get()
    val out = new Array[AnyRef](nG)
    var i = 0
    while (i < nG) {
      val from = starts(i)
      val until = starts(i + k) - 1
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = HexDigits((d(j) >> 4) & 0xF).toByte
        hex(2 * j + 1) = HexDigits(d(j) & 0xF).toByte
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint (MOSS scheme), one fused kernel replacing the
    * transform/slice/md5/conv column pipeline (same semantics, hash-
    * parity with the DuckDB oracle): normalize → word k-grams → first 4
    * md5 bytes as the gram hash (== the portable
    * `conv(substring(md5(g),1,8),16,10)`) → O(n) monotonic-deque window
    * minima → sorted distinct. Normalized text is single-space ASCII, so
    * every k-gram IS a byte range of it — md5 runs over slices of one
    * byte array, zero per-gram string construction.
    */
  def winnowFp(s: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val nm = normText(s)
    val bytes = nm.getBytes
    if (bytes.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val starts = tokenStarts(bytes)
    val nTok = starts.length - 1
    var i = 0
    val nG = nTok - (k - 1)
    if (nG < 1) return new GenericArrayData(Array.emptyLongArray)
    val md = md5Local.get()
    val hs = new Array[Long](nG)
    i = 0
    while (i < nG) {
      val from = starts(i)
      val until = starts(i + k) - 1 // strip trailing separator
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      hs(i) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      i += 1
    }
    val nWin = nG - (w - 1)
    val mins =
      if (nWin < 1) {
        var m = hs(0); i = 1
        while (i < nG) { if (hs(i) < m) m = hs(i); i += 1 }
        Array(m)
      } else {
        // monotonic deque of indices: O(n) total
        val out = new Array[Long](nWin)
        val dq = new Array[Int](nG)
        var head = 0; var tail = 0 // [head, tail)
        i = 0
        while (i < nG) {
          while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
          dq(tail) = i; tail += 1
          if (dq(head) <= i - w) head += 1
          if (i >= w - 1) out(i - (w - 1)) = hs(dq(head))
          i += 1
        }
        out
      }
    java.util.Arrays.sort(mins)
    var o = 0
    i = 0
    while (i < mins.length) {
      if (o == 0 || mins(i) != mins(o - 1)) { mins(o) = mins(i); o += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, o))
  }

  /** Feature hashing (the "hashing trick"): token array → dense
    * `dim`-bucket count vector, bucket = first-4-md5-bytes(token) % dim
    * — the same engine-portable hash family as the winnowing/split
    * operators, so any SQL engine reproduces the exact featurization.
    * One pass, O(dim) output regardless of vocabulary.
    */
  def hashingTf(tokens: ArrayData, dim: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val counts = new Array[Long](dim)
    val md = md5Local.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        addTfBucket(counts, md, tokens.getUTF8String(i).getBytes, dim)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  @inline private def addTfBucket(counts: Array[Long],
                                  md: java.security.MessageDigest,
                                  bytes: Array[Byte], dim: Int): Unit = {
    md.reset()
    md.update(bytes)
    val d = md.digest()
    val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    counts((h % dim).toInt) += 1
  }

  /** The same featurization over plain strings (for driver-side fits and
    * udf-side scoring that must agree bit-for-bit with [[hashingTf]]).
    */
  def hashingTfStrings(tokens: Iterator[String], dim: Int): Array[Long] = {
    val counts = new Array[Long](dim)
    val md = md5Local.get()
    tokens.foreach { t =>
      if (t != null) addTfBucket(counts, md, t.getBytes("UTF-8"), dim)
    }
    counts
  }

  /** arrayAUC: area under the ROC curve of one (scores, labels) pair via
    * the rank-sum (Mann-Whitney U) formula with average ranks for tied
    * scores. NaN when either class is absent (CH behavior).
    */
  def arrayAuc(scores: ArrayData, labels: ArrayData): Double = {
    val n = math.min(scores.numElements(), labels.numElements())
    if (n == 0) return Double.NaN
    val sc = Array.tabulate(n)(scores.getDouble)
    val lb = Array.tabulate(n)(labels.getInt)
    val order = Array.range(0, n).sortBy(sc(_))
    var i = 0
    var sumPos = 0.0
    var p = 0L
    var ng = 0L
    while (i < n) {
      var j = i
      while (j < n && sc(order(j)) == sc(order(i))) j += 1
      val avgRank = (i + 1 + j) / 2.0
      var k = i
      while (k < j) {
        if (lb(order(k)) != 0) { sumPos += avgRank; p += 1 } else ng += 1
        k += 1
      }
      i = j
    }
    if (p == 0L || ng == 0L) Double.NaN
    else (sumPos - p * (p + 1) / 2.0) / (p.toDouble * ng)
  }

  /** Even-odd ray casting; vertices as parallel double arrays. */
  def pointInPolygon(px: Double, py: Double,
                     xs: ArrayData, ys: ArrayData): Boolean = {
    val n = math.min(xs.numElements(), ys.numElements())
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val xi = xs.getDouble(i); val yi = ys.getDouble(i)
      val xj = xs.getDouble(j); val yj = ys.getDouble(j)
      if ((yi > py) != (yj > py) &&
        px < (xj - xi) * (py - yi) / (yj - yi) + xi) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** IEEE-754 bits remapped so the LONG order matches the DOUBLE order
    * (positive doubles unchanged, negatives lower-63-bit-flipped) — lets
    * double sort keys ride long-keyed machinery like [[graft.operators
    * .MinKAggregator]] without a lossy cast (53-bit mantissa survives).
    */
  def sortableDoubleBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7FFFFFFFFFFFFFFFL)
  }

  private def longBytes(x: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = ((x >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  /** Product-quantization encode: per subspace, the index of the nearest
    * (L2) codebook centroid. `codebook` is flattened `[j][c][t]` —
    * subspace-major, centroid, then component. One byte per subspace.
    */
  def pqEncode(v: ArrayData, codebook: Array[Float], m: Int,
               ksub: Int): Array[Byte] = {
    val dim = v.numElements()
    val subDim = dim / m
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * subDim
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val diff = v.getFloat(j * subDim + t) - codebook(base + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Asymmetric-distance (ADC) cosine: the query side is a precomputed
    * per-subspace lookup table (`lutDot[j*ksub+c]` = dot(q_j, centroid),
    * `lutSq` = |centroid|²), so scoring a code is `m` table adds — not
    * `dim` multiply-adds. `|x̂|² = Σ_j |c_{j,code_j}|²` exactly, because
    * reconstruction concatenates subspace centroids.
    */
  def pqAdc(codes: Array[Byte], lutDot: ArrayData, lutSq: ArrayData,
            qNorm: Double): Double = {
    val m = codes.length
    if (m == 0) return 0.0
    val ksub = lutDot.numElements() / m
    var dot = 0.0
    var sq = 0.0
    var j = 0
    while (j < m) {
      val idx = j * ksub + (codes(j) & 0xff)
      dot += lutDot.getFloat(idx)
      sq += lutSq.getFloat(idx)
      j += 1
    }
    if (sq <= 0.0 || qNorm <= 0.0) 0.0 else dot / (qNorm * math.sqrt(sq))
  }
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "graft_simhash64"
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecKernels.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

case class LshBucket(child: Expression, bits: Int, seed: Int = 0)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.lshBucket(v.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.lshBucket($c, $bits, $seed)")
  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
  override def prettyName: String = "graft_lsh_bucket"
}

case class LangIdVote(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {
  @transient private lazy val sets
      : Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] =
    markers.map { case (_, ws) =>
      val h = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      ws.foreach(w => h.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      h
    }.toArray
  @transient private lazy val langs: Array[org.apache.spark.unsafe.types.UTF8String] =
    markers.map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.langIdVote(v.asInstanceOf[ArrayData], sets, langs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
    val langsRef = ctx.addReferenceObj("langNames", langs,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.langIdVote($c, $setsRef, $langsRef)")
  }
  override protected def withNewChildInternal(c: Expression): LangIdVote = copy(child = c)
  override def prettyName: String = "graft_lang_id"
}

case class MinHashSig(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.minhashSig(v.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.minhashSig($c, $n, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "graft_minhash_sig"
}

case class NormText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.normText(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.normText($c)")
  override protected def withNewChildInternal(c: Expression): NormText = copy(child = c)
  override def prettyName: String = "graft_norm_text"
}

/** Unicode NFC normalization (canonical composition) — the hygiene pass a
  * corpus needs BEFORE content fingerprinting: visually-identical strings
  * with composed vs decomposed code points (é vs e+U+0301) md5 to
  * different fingerprints and silently defeat exact dedup. ASCII-only
  * inputs short-circuit without allocating.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.nfcNormalize(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.nfcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
  override def prettyName: String = "graft_nfc"
}

/** ClickHouse `empty()`/`notEmpty()` — length-zero test over strings,
  * binaries, arrays AND maps (Catalyst's Length takes only string/binary,
  * Size only array/map; CH accepts all four). Type dispatch happens at
  * resolution/codegen time, when `child.dataType` is known.
  */
case class EmptyCheck(child: Expression, negate: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType | _: ArrayType | _: MapType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"empty()/notEmpty() needs string/binary/array/map, got ${t.sql}")
    }
  private def isEmpty(v: Any): Boolean = child.dataType match {
    case StringType =>
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].numBytes == 0
    case BinaryType => v.asInstanceOf[Array[Byte]].length == 0
    case _: ArrayType => v.asInstanceOf[ArrayData].numElements() == 0
    case _: MapType =>
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].numElements() == 0
  }
  override protected def nullSafeEval(v: Any): Any = isEmpty(v) != negate
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zero = child.dataType match {
      case StringType => (c: String) => s"($c.numBytes() == 0)"
      case BinaryType => (c: String) => s"($c.length == 0)"
      case _ => (c: String) => s"($c.numElements() == 0)"
    }
    val op = if (negate) "!" else ""
    defineCodeGen(ctx, ev, c => s"($op${zero(c)})")
  }
  override protected def withNewChildInternal(c: Expression): EmptyCheck =
    copy(child = c)
  override def prettyName: String = if (negate) "notEmpty" else "empty"
}

case class NormTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.normTokens(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.normTokens($c)")
  override protected def withNewChildInternal(c: Expression): NormTokens = copy(child = c)
  override def prettyName: String = "graft_norm_tokens"
}

/** Decimal rounding of the EXACT binary double value, ties half-even.
  *
  * This is printf parity: C/fmt-family `printf("%.2f", d)` (DuckDB, and
  * the reference's own output formatting) rounds the true binary value of
  * `d` — so 1.005, stored as 1.00499…, prints "1.00" — while Java's
  * `%.2f` rounds the SHORTEST decimal representation half-up and prints
  * "1.01". Spark's own `bround` has the same flaw (it goes through
  * `BigDecimal.valueOf`, i.e. `Double.toString`). Exact binary midpoints
  * (only the `odd/2^k` grid, e.g. 3.125) tie-break half-even in both
  * DuckDB and here. Cross-checked against DuckDB printf on 200k values
  * (uniform + 1/1000 grid + odd/8 tie grid): 0 mismatches.
  */
/** Product-quantization encode (one byte per subspace). The codebook is a
  * plan-time constant held in the expression (reference-injected into
  * generated code, broadcast with the task closure) — per-row work is the
  * `m × ksub × subDim` nearest-centroid scan, no per-row allocation beyond
  * the m-byte code.
  */
case class PqEncode(child: Expression, codebook: Array[Float], m: Int,
                    ksub: Int) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.pqEncode(v.asInstanceOf[ArrayData], codebook, m, ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.pqEncode($c, $cb, $m, $ksub)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "graft_pq_encode"
}

/** ADC scoring: approximate cosine between a query (as its per-subspace
  * LUTs + norm) and a PQ code — `m` table lookups per candidate row.
  */
case class PqAdcScore(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, lutDot: Any, lutSq: Any,
                            qNorm: Any): Any =
    VecKernels.pqAdc(codes.asInstanceOf[Array[Byte]],
      lutDot.asInstanceOf[ArrayData], lutSq.asInstanceOf[ArrayData],
      qNorm.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, ld, ls, qn) =>
      s"graft.plans.VecKernels.pqAdc($c, $ld, $ls, $qn)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): PqAdcScore =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "graft_pq_adc"
}

case class RoundHalfEvenExact(child: Expression, scale: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.roundHalfEven(v.asInstanceOf[Double], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.roundHalfEven($c, $scale)")
  override protected def withNewChildInternal(c: Expression): RoundHalfEvenExact =
    copy(child = c)
  override def prettyName: String = "graft_round_even"
}

case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.winnowFp(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.winnowFp($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
  override def prettyName: String = "graft_winnow_fp"
}

/** Even-odd ray-casting point-in-polygon over parallel coordinate
  * arrays (boundary behavior follows the standard crossing rule).
  */
case class PointInPolygon(px: Expression, py: Expression,
                          xs: Expression, ys: Expression)
    extends QuaternaryExpression {
  override def first: Expression = px
  override def second: Expression = py
  override def third: Expression = xs
  override def fourth: Expression = ys
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    VecKernels.pointInPolygon(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.plans.VecKernels.pointInPolygon($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): PointInPolygon =
    copy(px = a, py = b, xs = c, ys = d)
  override def prettyName: String = "graft_point_in_polygon"
}

case class GramMd5(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.gramMd5(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.gramMd5($c, $k)")
  override protected def withNewChildInternal(c: Expression): GramMd5 =
    copy(child = c)
  override def prettyName: String = "graft_gram_md5"
}

case class ArrayAuc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.arrayAuc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecKernels.arrayAuc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayAuc =
    copy(left = l, right = r)
  override def prettyName: String = "graft_array_auc"
}

case class HashingTf(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.hashingTf(v.asInstanceOf[ArrayData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.hashingTf($c, $dim)")
  override protected def withNewChildInternal(c: Expression): HashingTf =
    copy(child = c)
  override def prettyName: String = "graft_hashing_tf"
}

case class SortableDoubleBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.sortableDoubleBits(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.sortableDoubleBits($c)")
  override protected def withNewChildInternal(c: Expression): SortableDoubleBits =
    copy(child = c)
  override def prettyName: String = "graft_double_bits"
}

/** CH arrayCumSum over array<double> — one codegen'd pass, no O(n²)
  * slice-and-sum higher-order spelling. NULL elements contribute 0.
  */
case class ArrayCumSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType,
      containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.cumSumD(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.cumSumD($c)")
  override protected def withNewChildInternal(c: Expression): ArrayCumSum =
    copy(child = c)
  override def prettyName: String = "graft_array_cum_sum"
}

/** CH arrayDifference over array<double> — first element 0. */
case class ArrayDifference(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType,
      containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.arrDiffD(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.arrDiffD($c)")
  override protected def withNewChildInternal(c: Expression): ArrayDifference =
    copy(child = c)
  override def prettyName: String = "graft_array_difference"
}

case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.shingles(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.shingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
  override def prettyName: String = "graft_shingles"
}

/** Sorted distinct xxhash64 n-gram fingerprints (jaccard-verify fast path). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "graft_shingle_hashes"
}

/** Linear-merge Jaccard over two sorted distinct long arrays. */
case class JaccardSortedLongs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.jaccardSortedLongs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecKernels.jaccardSortedLongs($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedLongs =
    copy(left = l, right = r)
  override def prettyName: String = "graft_jaccard_sorted"
}

/** The kernel function table (injected into every session by
  * [[GraftExtensions]]) and the Column-level API, which resolves through
  * the session's function registry, so no private Column/Expression
  * bridging is needed.
  */
object NativeFunctions {
  val functions: Seq[(String, FunctionBuilder)] = {
    val table = Seq.newBuilder[(String, FunctionBuilder)]
    def f(name: String)(builder: FunctionBuilder): Unit = table += name -> builder
    f("graft_simhash64")(e => SimHash64(e.head))
    f("graft_array_cum_sum")(e => ArrayCumSum(e.head))
    f("graft_array_difference")(e => ArrayDifference(e.head))
    f("graft_cosine")(e => CosineSimilarity(e(0), e(1)))
    f("graft_lsh_bucket") {
      case Seq(v, Literal(bits: Int, IntegerType), Literal(seed: Int, IntegerType)) =>
        LshBucket(v, bits, seed)
      case Seq(v, Literal(bits: Int, IntegerType)) => LshBucket(v, bits)
      case e => LshBucket(e.head, 16)
    }
    f("graft_shingles") {
      case Seq(v, Literal(n: Int, IntegerType)) => Shingles(v, n)
      case e => Shingles(e.head, 3)
    }
    f("graft_shingle_hashes") {
      case Seq(v, Literal(n: Int, IntegerType)) => ShingleHashes(v, n)
      case e => ShingleHashes(e.head, 3)
    }
    f("graft_jaccard_sorted")(e => JaccardSortedLongs(e(0), e(1)))
    f("graft_lang_id")(e => LangIdVote(e.head, graft.functions.TextFunctions.LangMarkers))
    f("graft_norm_text")(e => NormText(e.head))
    f("graft_nfc")(e => NfcNormalize(e.head))
    f("graft_norm_tokens")(e => NormTokens(e.head))
    f("graft_double_bits")(e => SortableDoubleBits(e.head))
    f("graft_hashing_tf") {
      case Seq(v, Literal(dim: Int, IntegerType)) => HashingTf(v, dim)
      case e => HashingTf(e.head, 64)
    }
    f("graft_gram_md5") {
      case Seq(v, Literal(k: Int, IntegerType)) => GramMd5(v, k)
      case e => GramMd5(e.head, 5)
    }
    f("graft_winnow_fp") {
      case Seq(v, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        WinnowFingerprint(v, k, w)
      case e => WinnowFingerprint(e.head, 3, 4)
    }
    f("graft_round_even") {
      case Seq(v, Literal(s: Int, IntegerType)) => RoundHalfEvenExact(v, s)
      case e => RoundHalfEvenExact(e.head, 2)
    }
    f("graft_minhash_sig") {
      case Seq(v, Literal(n: Int, IntegerType), Literal(k: Int, IntegerType)) =>
        MinHashSig(v, n, k)
      case e => MinHashSig(e.head, 3, 64)
    }
    f("graft_pq_encode") {
      case Seq(v, Literal(cb: ArrayData, org.apache.spark.sql.types.ArrayType(
             org.apache.spark.sql.types.FloatType, _)),
           Literal(m: Int, IntegerType), Literal(ksub: Int, IntegerType)) =>
        PqEncode(v, cb.toFloatArray(), m, ksub)
      case e => throw new IllegalArgumentException(
        s"graft_pq_encode(vec, codebook literal, m, ksub); got ${e.size} args")
    }
    f("graft_pq_adc")(e => PqAdcScore(e(0), e(1), e(2), e(3)))
    // Spark's own runtime-filter machinery, exposed as a first-class
    // surface: the aggregate builds one binary bloom blob over
    // xxhash64(key) with partial aggregation (map-side bit-OR merges);
    // might_contain tests a key against the blob. Both sides hash with
    // the same XxHash64 seed, so routing is symmetric by construction.
    f("graft_bloom_agg") {
      case Seq(v, n @ Literal(_: Long, LongType), bits @ Literal(_: Long, LongType)) =>
        new aggregate.BloomFilterAggregate(new XxHash64(Seq(v)), n, bits)
      case e => throw new IllegalArgumentException(
        s"graft_bloom_agg(key, expectedItems literal, numBits literal); got ${e.size} args")
    }
    f("graft_bloom_might_contain")(
      e => BloomFilterMightContain(e(0), new XxHash64(Seq(e(1)))))
    table.result()
  }

  def doubleBits(c: Column): Column =
    call_function("graft_double_bits", c)
  def hashingTf(c: Column, dim: Int): Column =
    call_function("graft_hashing_tf", c,
      org.apache.spark.sql.functions.lit(dim))
  def gramMd5(c: Column, k: Int): Column =
    call_function("graft_gram_md5", c,
      org.apache.spark.sql.functions.lit(k))
  def winnowFp(c: Column, k: Int, w: Int): Column =
    call_function("graft_winnow_fp", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  def roundEven(c: Column, scale: Int = 2): Column =
    call_function("graft_round_even", c,
      org.apache.spark.sql.functions.lit(scale))
  def simhash64(c: Column): Column =
    call_function("graft_simhash64", c)
  def arrayCumSum(c: Column): Column =
    call_function("graft_array_cum_sum", c.cast("array<double>"))
  def arrayDifference(c: Column): Column =
    call_function("graft_array_difference", c.cast("array<double>"))
  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)
  def langId(tokens: Column): Column =
    call_function("graft_lang_id", tokens)
  def normText(c: Column): Column =
    call_function("graft_norm_text", c)
  def normTokens(c: Column): Column =
    call_function("graft_norm_tokens", c)
  def nfcNormalize(c: Column): Column =
    call_function("graft_nfc", c)
  def minhashSig(tokens: Column, n: Int, k: Int): Column =
    call_function("graft_minhash_sig", tokens,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(k))
  def shingles(c: Column, n: Int): Column =
    call_function("graft_shingles", c,
      org.apache.spark.sql.functions.lit(n))
  def shingleHashes(c: Column, n: Int): Column =
    call_function("graft_shingle_hashes", c,
      org.apache.spark.sql.functions.lit(n))
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("graft_jaccard_sorted", a, b)
  def lshBucket(c: Column, bits: Int, seed: Int = 0): Column =
    call_function("graft_lsh_bucket", c,
      org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(seed))
  def pqEncode(c: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    call_function("graft_pq_encode", c,
      org.apache.spark.sql.functions.typedlit(codebook.toSeq),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ksub))
  def pqAdc(codes: Column, lutDot: Column, lutSq: Column, qNorm: Column): Column =
    call_function("graft_pq_adc",
      codes, lutDot, lutSq, qNorm)
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    call_function("graft_bloom_agg", key,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))
  def bloomMightContain(bloom: Column, key: Column): Column =
    call_function("graft_bloom_might_contain",
      bloom, key)
}
