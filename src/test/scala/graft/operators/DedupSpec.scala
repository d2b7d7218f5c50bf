package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
  private lazy val docs = Seq(
    (1L, base),
    (2L, base),                                     // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),           // near dup of 1
    (4L, "completely different content about spark engines and columnar io " * 5),
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exactDedup keeps one row per identical content") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
    // output schema is exactly the input's columns (helpers dropped)
    assert(Dedup.exactDedup(docs, "doc_id", "text").columns.toSeq ==
      docs.columns.toSeq)
  }

  test("exactDedup plans ONE corpus pass: a fingerprint window, no self-join") {
    // the former groups + semi-join-back shape read and fingerprinted the
    // corpus once per join side; the window-carry shape must plan no join
    // and exactly one source scan
    val plan = Dedup.exactDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"fingerprint window missing:\n$plan")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in exactDedup plan:\n$plan"))
    assert(plan.sliding("LocalTableScan".length).count(_ == "LocalTableScan") == 1,
      s"corpus must be scanned exactly once:\n$plan")
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash hamming distance 0 for identical docs, large for unrelated") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue()))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exact.exists(_._3 == 0L))
    assert(!pairs.exists(p => (p._1, p._2) == ((4L, 5L))))
  }

  test("simhashExactDupGroups groups token-multiset equals: permutations " +
      "join, near-dups and repetition-scaled docs do not") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "Epsilon delta GAMMA beta alpha"), // permutation + case of 1
      (3L, "alpha beta gamma delta epsilon zeta"), // near-dup, NOT equal
      (4L, "spam ham"),
      (5L, "spam ham spam ham"), // scaled repetition: same vote SIGNS as
      // 4 (equal simhash) but a different multiset — the md5 component
      // of the group key must keep them apart
      (6L, "")
    ).toDF("doc_id", "text")
    val rows = Dedup.simhashExactDupGroups(corpus, "doc_id", "text")
      .orderBy("keeper").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1L, 2L, "1,2")))
    // and the premise of the md5 tie-break really holds: 4 and 5 DO
    // share a signature
    import graft.plans.NativeFunctions
    val sigs = Seq((4L, "spam ham"), (5L, "spam ham spam ham"))
      .toDF("doc_id", "text")
      .select(NativeFunctions.simhash64(
        NativeFunctions.normTokens($"text")).as("sig"))
      .as[Long].collect()
    assert(sigs(0) == sigs(1))
  }

  test("dropNearDups removes the higher id of each pair") {
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("incrementalExactDedup dedups within and across increments via the store") {
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val store = s"$root/fps"
    val out = s"$root/corpus"
    val batch1 = Seq(
      (1L, "first document body"),
      (2L, "second document body"),
      (3L, "first document body")   // in-batch dup of 1
    ).toDF("doc_id", "text")
    val kept1 = Dedup.incrementalExactDedup(batch1, "doc_id", "text", store,
        incrementId = "b1", outputPath = Some(out))
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(1L, 2L))
    val batch2 = Seq(
      (10L, "second document body"), // historical dup -> dropped via store
      (11L, "a fresh document"),
      (12L, "a fresh document"),     // in-batch dup of 11
      (13L, "First  Document body")  // normalization-equal to 1 -> dropped
    ).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalExactDedup(batch2, "doc_id", "text", store,
        incrementId = "b2", outputPath = Some(out))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(11L))
    // the store holds one fingerprint per distinct content ever kept
    assert(spark.read.parquet(store)
      .select("fingerprint").distinct().count() == 3)
    // REPLAYING an increment is idempotent, not destructive: the same
    // survivors come back (its own store partition is excluded from the
    // anti-join) and the persisted corpus still holds them exactly once
    val replay = Dedup.incrementalExactDedup(batch2, "doc_id", "text", store,
        incrementId = "b2", outputPath = Some(out))
      .select("doc_id").as[Long].collect().toSet
    assert(replay == Set(11L))
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 11L))
    assert(spark.read.parquet(store)
      .select("fingerprint").distinct().count() == 3)
  }

  test("incrementalNearDedup drops near-dups within and across increments") {
    val root = java.nio.file.Files.createTempDirectory("graft_near").toString
    val store = s"$root/buckets"
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the rain in spain stays mainly on the plain every single day"
    val batch1 = Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")), // near-dup of 1 → bucket-claimed
      (3L, "completely unrelated content about distributed query engines " +
        "and columnar storage formats with vectorized execution pipelines")
    ).toDF("doc_id", "text")
    val kept1 = Dedup.incrementalNearDedup(batch1, "doc_id", "text", store,
        incrementId = "b1")
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(1L, 3L))
    val batch2 = Seq(
      (10L, base.replace("quick", "rapid")), // near-dup of increment 1 → store hit
      (11L, "a genuinely novel paragraph describing materialized views " +
        "and incremental maintenance of aggregates under inserts")
    ).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalNearDedup(batch2, "doc_id", "text", store,
        incrementId = "b2")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(11L))
    // replaying an increment is idempotent (own store partition excluded)
    val replay = Dedup.incrementalNearDedup(batch2, "doc_id", "text", store,
        incrementId = "b2")
      .select("doc_id").as[Long].collect().toSet
    assert(replay == Set(11L))
    // dropped documents' buckets are stored too: a near-dup of DROPPED
    // doc 2 (not of kept doc 1) must still be dropped by increment 3
    val batch3 = Seq(
      (20L, base.replace("lazy", "sleepy").replace("rain", "snow")),
      (21L, "another unrelated text on broadcast joins and shuffle " +
        "partitioning strategies for skewed aggregation workloads")
    ).toDF("doc_id", "text")
    val kept3 = Dedup.incrementalNearDedup(batch3, "doc_id", "text", store,
        incrementId = "b3")
      .select("doc_id").as[Long].collect().toSet
    assert(kept3 == Set(21L))
  }

  test("incremental store growth: 10 increments, per-increment cost stays " +
    "flat as the store grows (the O(increment + store-probe) contract)") {
    // the 100 TB story: the store is the corpus's memory, so an
    // implementation that re-works the FULL store per increment (instead
    // of one probe against it) would show cost growing with increment
    // number. Ten increments of equal size: correctness (history drops
    // keep working at every depth) plus a slope assertion — the median
    // late increment must stay within 3x of the median early one.
    // (The probe's bloom-gated PLAN shape is pinned separately in
    // PlanAuditSpec's routing tests.)
    val root = java.nio.file.Files.createTempDirectory("graft_growth").toString
    val store = s"$root/fps"
    def text(i: Long) = s"document body number $i padded with enough " +
      "shared filler words to look like prose rather than a key"
    val times = (0 until 10).map { k =>
      val base = k * 1000L
      val rows = (0 until 400).map { j =>
        val id = base + j
        // every 4th row repeats an increment-0 document verbatim: once
        // history exists it must drop via the store, at any store depth
        (id, if (j % 4 == 0) text(j.toLong) else text(id))
      }
      val df = rows.toDF("doc_id", "text").repartition(4)
      val t0 = System.nanoTime()
      val keptIds = Dedup.incrementalExactDedup(df, "doc_id", "text", store,
          incrementId = s"inc$k", bloomExpectedItems = 100000L)
        .select("doc_id").as[Long].collect().toSet
      val dt = (System.nanoTime() - t0) / 1e9
      if (k == 0) assert(keptIds.size == 400)
      else {
        assert(keptIds.size == 300, s"increment $k kept ${keptIds.size}")
        assert(keptIds.forall(id => id % 1000 % 4 != 0))
      }
      dt
    }
    val early = times.slice(1, 4).sorted.apply(1)
    val late = times.slice(7, 10).sorted.apply(1)
    // generous bound: each increment is only ~100s of ms of real work, so
    // a GC pause must not flake the suite — an O(store) rework regression
    // would still blow far past 4x+1s by increment 8
    assert(late <= early * 4.0 + 1.0,
      s"per-increment cost grew with the store: early=$early late=$late " +
        s"all=${times.map(t => f"$t%.2f").mkString(",")}")
    // store layout: one committed partition per increment plus the blob
    val entries = new java.io.File(store).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    assert(entries.toSeq == (0 until 10).map(k => s"increment=inc$k").sorted)
    assert(new java.io.File(store, "_bloom.bin").exists())
  }

  test("bloom routing survives increments that ran with routing OFF — " +
    "the blob is maintained whenever it exists, never under-covering") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the rain in spain stays mainly on the plain every single day"
    val other = "a separate essay on columnar storage formats and the " +
      "benefits of late materialization in vectorized query execution"

    // exact sibling
    val rootE = java.nio.file.Files.createTempDirectory("graft_mixbe").toString
    val storeE = s"$rootE/fp"
    Dedup.incrementalExactDedup(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", storeE, "i0", bloomExpectedItems = 1000)
    // routing OFF for this increment — its keys must still reach the blob
    Dedup.incrementalExactDedup(Seq((10L, other)).toDF("doc_id", "text"),
      "doc_id", "text", storeE, "i1")
    val keptE = Dedup.incrementalExactDedup(
      Seq((20L, other)).toDF("doc_id", "text"),
      "doc_id", "text", storeE, "i2", bloomExpectedItems = 1000)
    assert(keptE.count() == 0, "exact dup of the routing-OFF increment " +
      "must still be dropped when routing resumes")

    // near-dup sibling
    val rootN = java.nio.file.Files.createTempDirectory("graft_mixbn").toString
    val storeN = s"$rootN/buckets"
    Dedup.incrementalNearDedup(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", storeN, "i0", bloomExpectedItems = 1000)
    Dedup.incrementalNearDedup(Seq((10L, other)).toDF("doc_id", "text"),
      "doc_id", "text", storeN, "i1") // routing OFF
    val keptN = Dedup.incrementalNearDedup(
      Seq((20L, other.replace("benefits", "virtues")))
        .toDF("doc_id", "text"),
      "doc_id", "text", storeN, "i2", bloomExpectedItems = 1000)
    assert(keptN.count() == 0, "near-dup of the routing-OFF increment " +
      "must still be dropped when routing resumes")
  }

  test("duplicateSpans merges overlapping windows and finds intra-doc repeats") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two alpha beta gamma delta epsilon zeta nine ten"),
      (3L, "purple monkey dishwasher runs wild here today"),
      (4L, "x1 x2 x3 x4 x5 filler1 filler2 x1 x2 x3 x4 x5")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue(), r.getLong(3)))
      .toSet
    // docs 1/2 share the 6-token run "alpha..zeta": two overlapping
    // 5-windows merge into one span each; doc 4 repeats its own
    // 5-token prefix after a gap > k, so two separate islands; doc 3
    // has no duplicated window at all.
    assert(spans == Set(
      (1L, 0L, 5L, 2L),
      (2L, 2L, 7L, 2L),
      (4L, 0L, 4L, 1L),
      (4L, 7L, 11L, 1L)))
  }

  test("duplicateSpans matches a brute-force reference on random corpora") {
    val k = 3
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0 until 8).map { i =>
        val n = 20 + rnd.nextInt(21)
        (i.toLong, Array.fill(n)(s"tok${rnd.nextInt(12)}"))
      }
      // brute force: count every k-gram across the corpus; positions whose
      // gram occurs >1 time anywhere are duplicated; merge islands
      // (gap <= k) into maximal spans
      val counts = corpus.flatMap { case (_, toks) =>
        toks.sliding(k).map(_.mkString(" "))
      }.groupBy(identity).view.mapValues(_.size).toMap
      val expected = corpus.flatMap { case (id, toks) =>
        val dupPos = toks.sliding(k).zipWithIndex
          .collect { case (g, p) if counts(g.mkString(" ")) > 1 => p }.toList
        if (dupPos.isEmpty) Nil
        else {
          val islands = dupPos.tail.foldLeft(List(List(dupPos.head))) {
            case (acc @ (cur :: rest), p) =>
              if (p - cur.head <= k) (p :: cur) :: rest else List(p) :: acc
            case (Nil, p) => List(List(p))
          }
          islands.map { ps =>
            (id, ps.min.toLong, ps.max.toLong + k - 1, ps.size.toLong)
          }
        }
      }.toSet
      val df = corpus.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
          r.getAs[Number](2).longValue(), r.getLong(3)))
        .toSet
      assert(got == expected, s"seed $seed: got ${got.size} spans, " +
        s"expected ${expected.size}\nmissing: ${expected -- got}\nextra: ${got -- expected}")
    }
  }

  test("jaccardVerify computes exact n-gram jaccard") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("a", "b")
    val j = Dedup.jaccardVerify(pairs, docs, "doc_id", "text", nGram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 4L)) == 0.0)
  }

  test("embeddingNearDupPairsLsh blocks automatically and finds planted twins") {
    val rnd = new scala.util.Random(43)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val bases = (0 until 25).map(i => (i.toLong, unit(64)))
    val twins = bases.map { case (i, c) =>
      (1000L + i, c.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val decoys = (0 until 200).map(i => (2000L + i, unit(64)))
    val df = (bases ++ twins ++ decoys).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairsLsh(df, "vec_id", "embedding",
        minCosine = 0.95, bits = 10, tables = 4)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val found = bases.count { case (i, _) => pairs.contains((i, 1000L + i)) }
    assert(found >= 20, s"found $found/25 planted twin pairs")
    // verify step kills false positives: every emitted pair is a twin pair
    assert(pairs.forall { case (a, b) => b - a == 1000L },
      s"unexpected non-twin pairs: ${pairs.filterNot { case (a, b) => b - a == 1000L }.take(5)}")
  }

  test("segmentDedup keeps the first occurrence of each segment corpus-wide") {
    val docs = Seq(
      (1L, "shared intro\nunique one\nshared outro"),
      (2L, "shared intro\nunique two"),
      (3L, "unique three\nshared outro\nshared outro"))
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", "\n")
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      // doc 1 appears first: keeps everything
      (1L, "shared intro\nunique one\nshared outro", 3L, 3L),
      // doc 2 loses the intro doc 1 already claimed
      (2L, "unique two", 1L, 2L),
      // doc 3 loses both outro copies (doc 1 claimed the segment)
      (3L, "unique three", 1L, 3L)))
  }

  test("segmentDedup: within-document repeats collapse; result is partitioning-independent") {
    val rnd = new scala.util.Random(7)
    val lines = (0 until 40).map(i => s"line $i")
    val docs = (1L to 120L).map { id =>
      (id, (0 until 8).map(_ => lines(rnd.nextInt(40))).mkString("\n"))
    }
    val one = docs.toDF("doc_id", "text").coalesce(1)
    val many = docs.toDF("doc_id", "text").repartition(13)
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.segmentDedup(df, "doc_id", "text", "\n")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(one)
    // every distinct line survives exactly once across the corpus
    val keptLines = a.flatMap(_._2.split("\n").filter(_.nonEmpty))
    assert(keptLines.length == keptLines.distinct.length)
    assert(keptLines.toSet == docs.flatMap(_._2.split("\n")).toSet)
    assert(a == run(many))
  }

  test("chunkText wraps word streams into fixed-size segments") {
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val got = df.select(Dedup.chunkText($"text", 3, "\n")).as[String].head()
    assert(got == "a b c\nd e f\ng")
  }

  test("semDedup prunes within-cluster near-identical twins and is partition-invariant") {
    val rnd = new scala.util.Random(11)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    // 3 well-separated topic centers; per topic: 30 spread-out members
    // plus 5 planted near-identical twins of the first members
    val centers = (0 until 3).map(_ => unit(32))
    def member(c: Array[Float], noise: Float): Array[Float] = {
      val v = c.zip(unit(32)).map { case (x, e) => x + noise * e }
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val rows = centers.zipWithIndex.flatMap { case (c, t) =>
      val members = (0 until 30).map(i =>
        (t * 1000L + i, member(c, 0.45f)))
      val twins = members.take(5).map { case (id, v) =>
        (id + 500L, member(v, 0.01f))
      }
      members ++ twins
    }
    val df = rows.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.semDedup(d, "vec_id", "embedding", k = 3, minCosine = 0.95)
    val kept = run(df)
    val keptIds = kept.select($"vec_id").as[Long].collect().toSet
    // every planted twin (higher id of its pair) is gone, its base kept
    for (t <- 0 until 3; i <- 0 until 5) {
      assert(!keptIds.contains(t * 1000L + i + 500L), s"twin $t/$i survived")
      assert(keptIds.contains(t * 1000L + i), s"base $t/$i was dropped")
    }
    // survivors contain no within-cluster pair at/above the threshold
    val leftoverPairs = Dedup.embeddingNearDupPairs(kept, "vec_id",
      "embedding", $"cluster", minCosine = 0.95).count()
    assert(leftoverPairs == 0L)
    // deterministic under repartition (fit is partition-independent)
    val again = run(df.repartition(7)).select($"vec_id").as[Long].collect().toSet
    assert(again == keptIds)
  }

  test("lshBitsFor derives ceil(log2(n/target)) without a hidden floor") {
    import graft.operators.Dedup.lshBitsFor
    assert(lshBitsFor(5000, 50) == 7)   // 100 buckets -> 2^7 = 128
    assert(lshBitsFor(51200, 50) == 10) // 1024 buckets exactly -> 10, not 11
    assert(lshBitsFor(100, 50) == 1)
    assert(lshBitsFor(10, 50) == 1)     // degenerate: one bucket floor
    assert(lshBitsFor(Long.MaxValue, 1) == 24) // clamped
  }

  test("minhashNearDupPairsAuto: corpus-derived banding finds exact and " +
    "near dups; exact-copy recall survives a sharpened rows-per-band") {
    val pairs = Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text",
        threshold = 0.5, targetBucketSize = 2)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair missed")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "near dup pairs missed")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"unrelated docs paired: $pairs")
    // a brutally sharp regime (1000 docs' worth of bands on 5 docs is
    // impossible, so force r up via knownCount): exact copies still
    // collide in every band — jaccard-1 recall is r-independent
    val sharp = Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text",
        threshold = 0.99, targetBucketSize = 2, knownCount = 1000000L)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(sharp.contains((1L, 2L)),
      "exact dup pair must survive any derived rows-per-band")
  }

  test("knownCount skips the derivation scan: building the auto-banded " +
    "plans fires no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the embedding path is pure plan construction — with knownCount
      // it must fire nothing (the minhash path's candidate checkpoint is
      // an action by design, so only its COUNT scan is elided there)
      Dedup.embeddingNearDupPairsLsh(
        Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.9,
        targetBucketSize = 50, knownCount = 1000L)
      Thread.sleep(1000) // listener events post async; give them time
      assert(jobs.get() == 0,
        s"plan construction with knownCount fired ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
