package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.plans.NativeFunctions

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale shape of every variant: per-row feature extraction (map-side,
  * codegen'd) → a shuffle keyed on a BLOCKING key whose fan-in is bounded
  * (fingerprint / LSH band signature / bit chunk / block column) → pairwise
  * verification only WITHIN buckets. Nothing here is O(N²) in the corpus;
  * bucket-size capping (`maxBucket`) keeps adversarial buckets from
  * degenerating the self-join at 100 TB.
  */
object Dedup {

  // ---------- exact dedup (hash-groupBy on content fingerprint)

  /** One row per document with its content fingerprint and the id kept for
    * its duplicate group (smallest id wins).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFunctions.fingerprintMd5(col(textCol))
    df.select(col(idCol), fp.as("fingerprint"))
      .withColumn("keep_id",
        min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))))
  }

  /** Exact-dedup: keep the smallest id per fingerprint group. ONE corpus
    * pass, ONE shuffle: the fingerprint window carries the row, and the
    * caller's projection prunes unused columns below the exchange. The
    * former groups + semi-join-back shape read and fingerprinted the
    * corpus twice and paid a second corpus-sized join shuffle (measured
    * in t16: every map-side kernel ran once per semi-join side).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val out = df.columns.toSeq
    df.withColumn("__fp", TextFunctions.fingerprintMd5(col(textCol)))
      .withColumn("__keep",
        min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .filter(col(idCol) === col("__keep"))
      .select(out.map(col): _*)
  }

  /** Incremental exact dedup against a persisted fingerprint store — the
    * production shape for CONTINUOUS corpus growth: each increment dedups
    * (a) within itself (smallest id wins) and (b) against every previous
    * increment via the store, WITHOUT re-reading any historical corpus
    * text.
    *
    * Scale shape: the store holds one md5 row per distinct historical
    * document (orders of magnitude smaller than the corpus); the check is
    * one left_anti shuffle keyed on the fingerprint (full-cardinality
    * key). History never rescans — cost per increment is O(increment +
    * store), not O(corpus).
    *
    * Replay safety comes from IDEMPOTENT per-increment layout, not write
    * ordering: both the survivors (`outputPath/increment=<id>`) and their
    * fingerprints (`storePath/increment=<id>`) land in directories owned
    * by this `incrementId` and written with overwrite, and the anti-join
    * reads the store EXCLUDING this increment's own partition. Re-running
    * a failed increment therefore recomputes the exact same survivor set
    * (whatever had already been written for this id is ignored, then
    * overwritten) — a crash at ANY point leaves a state one clean re-run
    * repairs. Returns the survivors (not yet re-read from disk).
    *
    * `bloomExpectedItems > 0` enables BLOOM ROUTING: a persisted bloom
    * blob over the store's fingerprints (`storePath/_bloom.bin` — the
    * leading underscore keeps parquet readers away) rides to the
    * executors as a literal, and increment rows the filter rules out skip
    * the anti-join shuffle entirely. On a mostly-novel increment that is
    * nearly all of them — the store-sized shuffle shrinks to the
    * duplicate tail plus the fpp. Correctness never depends on the
    * filter (exact anti-join decides every routed row; replays merge the
    * bloom idempotently — union is bit-OR). Size `bloomExpectedItems` to
    * the store's EVENTUAL key count: the blob is fixed at first build
    * (1.2 MB per million keys at 1% fpp) and later increments merge into
    * it. Raise `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `maxNumBits` beyond ~4M keys.
    */
  def incrementalExactDedup(newDocs: DataFrame, idCol: String,
                            textCol: String, storePath: String,
                            incrementId: String,
                            outputPath: Option[String] = None,
                            bloomExpectedItems: Long = 0L): DataFrame = {
    val spark = newDocs.sparkSession
    val withFp = newDocs.withColumn("__fp",
      TextFunctions.fingerprintMd5(col(textCol)))
    val inBatchKept = withFp
      .withColumn("__keep",
        min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .filter(col(idCol) === col("__keep"))
      .drop("__keep")
    // Hadoop FS, not java.io.File: the store path is hdfs://-or-object-store
    // on a real cluster
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val storeExists = hPath
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(hPath)
    val history =
      if (!storeExists) None
      else Some(spark.read.parquet(storePath)
        .filter(col("increment").cast("string") =!= incrementId)
        .select(col("fingerprint").as("__fp")))
    val bloomPath = s"$storePath/_bloom.bin"
    // the blob is read (and, below, maintained) whenever it exists —
    // routing is opt-in per call, but an increment that runs with
    // routing OFF must still fold its keys in, or the blob under-covers
    // the store and a LATER routed increment would skip the exact join
    // for keys that ARE in history, silently keeping duplicates
    val existingBloom = BloomPrune.read(spark, bloomPath)
    val gateBloom = if (bloomExpectedItems > 0) existingBloom else None
    val kept = pinned(history.fold(inBatchKept) { h =>
      gateBloom match {
        case Some((blob, _, _)) =>
          // map-side routing: definitely-absent rows never shuffle
          val routed = inBatchKept.withColumn("__might",
            BloomPrune.mightContain(blob, col("__fp")))
          routed.filter(!col("__might")).drop("__might")
            .unionByName(routed.filter(col("__might")).drop("__might")
              .join(h, Seq("__fp"), "left_anti"))
        case None =>
          inBatchKept.join(h, Seq("__fp"), "left_anti")
      }
    })
    outputPath.foreach { out =>
      kept.drop("__fp").write.mode("overwrite")
        .parquet(s"$out/increment=$incrementId")
    }
    // the bloom is updated BEFORE the store partition lands: a crash
    // between the two leaves the bloom OVER-covering the store, which
    // only routes extra rows through the exact anti-join. The reverse
    // order would leave it under-covering — later increments would skip
    // the join for keys that ARE in the store and keep duplicates.
    if (bloomExpectedItems > 0 || existingBloom.isDefined) {
      val (items, bits) = existingBloom
        .map(e => (e._2, e._3))
        .getOrElse((bloomExpectedItems,
          BloomPrune.optimalNumBits(bloomExpectedItems, 0.01)))
      // first build with a pre-existing store backfills history's keys;
      // afterwards each increment folds in only its own survivors
      val toIndex = existingBloom match {
        case Some(_) => kept.select(col("__fp"))
        case None => history.fold(kept.select(col("__fp")))(h =>
          kept.select(col("__fp")).unionByName(h))
      }
      Option(BloomPrune.build(toIndex, col("__fp"), items, bits)).foreach { b =>
        val merged = existingBloom.map(e => BloomPrune.merge(e._1, b)).getOrElse(b)
        BloomPrune.write(spark, bloomPath, merged, items, bits)
      }
    }
    kept.select(col("__fp").as("fingerprint"))
      .write.mode("overwrite")
      .parquet(s"$storePath/increment=$incrementId")
    kept.drop("__fp")
  }

  // ---------- MinHash + LSH (shingle → minhash → band → bucket-join)

  /** Incremental NEAR-dup filter — [[incrementalExactDedup]]'s sibling for
    * the curation pipeline's fuzzy stage, and the per-micro-batch body of
    * a streaming dedup (`foreachBatch` over an ingest stream).
    *
    * Semantics: a document is DROPPED when any of its MinHash band
    * buckets was already seen — by an earlier increment (the persisted
    * bucket store) or by a smaller-id document of the same increment
    * (bucket-claim: `min(id)` owns each bucket, resolving chains in one
    * pass). ALL of the increment's buckets are stored, kept and dropped
    * alike, so anything near-dup to anything EVER SEEN stays dropped —
    * the curation contract, where the store is the memory of the corpus.
    *
    * Idempotent like the exact sibling: the store partitions by
    * `increment=<id>` and history reads exclude the current id, so a
    * crashed increment re-runs to the identical survivor set. Scale
    * shape: signature is the map-only native kernel; the only shuffle is
    * one hash-partition of (band, bucket) keys; history arrives as a
    * semi-join that AQE can broadcast while the store is small.
    */
  def incrementalNearDedup(newDocs: DataFrame, idCol: String,
                           textCol: String, storePath: String,
                           incrementId: String,
                           nGram: Int = 3, numHashes: Int = 64,
                           bands: Int = 16,
                           outputPath: Option[String] = None,
                           bloomExpectedItems: Long = 0L): DataFrame = {
    val spark = newDocs.sparkSession
    val rows = numHashes / bands
    val sigs = minhashSignatures(newDocs, idCol, textCol, nGram, numHashes)
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col("sig"), j * rows + 1, rows)).as("bh"))
    }
    // ONE materialization of the increment's bucket table: the in-batch
    // claim window, the history probe, the bloom build and the store
    // write all consume it. Unpinned, every consumer re-ran the
    // signature kernel over the increment (the store-write branch alone
    // was a second full text pass); pinned, the increment's text is read
    // and minhashed exactly once per increment.
    val buckets = pinned(sigs
      .select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh")))
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val storeExists = hPath
      .getFileSystem(spark.sessionState.newHadoopConf()).exists(hPath)
    val history =
      if (!storeExists) None
      else Some(spark.read.parquet(storePath)
        .filter(col("increment").cast("string") =!= incrementId)
        .select(col("band"), col("bh")))
    // in-batch: the smallest id in each bucket owns it. No distinct here —
    // dupIds below deduplicates once over both dup sources (one exchange
    // instead of three).
    val owned = buckets.withColumn("__own",
      min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bh"))))
    val inBatchDup = owned.filter(col(idCol) =!= col("__own"))
      .select(col(idCol))
    // BLOOM ROUTING, same contract as [[incrementalExactDedup]]: a blob
    // over the store's (band, bh) keys routes definitely-new buckets past
    // the history semi-join MAP-SIDE — the join input shrinks from "every
    // bucket of the increment" to the near-dup tail plus the fpp, and the
    // store scan is gated by the might_contain predicate. Correctness
    // never depends on the filter; the semi-join decides every routed row.
    val bloomPath = s"$storePath/_bloom.bin"
    // read (and below, maintain) the blob whenever it exists — same
    // under-coverage contract as the exact sibling: an increment run
    // with routing OFF still folds its keys in, so a later routed
    // increment can never skip the semi-join for stored buckets
    val existingBloom = BloomPrune.read(spark, bloomPath)
    val gateBloom = if (bloomExpectedItems > 0) existingBloom else None
    def bucketKey: Column = struct(col("band"), col("bh"))
    val histDup = history.fold(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        buckets.select(col(idCol)).schema)) { h =>
      nearDupHistProbe(buckets, h, gateBloom.map(_._1), idCol)
    }
    // The dup-id materialization and the bloom+store persistence branch
    // both depend only on the pinned buckets (the store keeps kept and
    // dropped docs' buckets alike), so they run as CONCURRENT jobs —
    // Spark schedules submitted jobs together, and the second branch
    // back-fills the cores the first one's tail leaves idle (guide
    // §2.6). The crash-ordering contract is untouched: bloom write
    // before store write, both on this thread; the future only computes.
    val dupIdsF = scala.concurrent.Future {
      pinned(inBatchDup.unionByName(histDup).distinct())
    }(scala.concurrent.ExecutionContext.global)
    // bloom before store partition, like the exact sibling: a crash
    // between the two leaves the blob OVER-covering (extra rows routed
    // through the exact join), never under-covering (missed duplicates).
    // The build reads the PINNED buckets directly — bloom insertion is
    // idempotent, so it needs no distinct pass of its own; only the
    // store write pays the dedup exchange.
    // The persistence branch runs under try/finally that drains the
    // dup-id Future: a bloom/store failure must not leave the Future's
    // Spark jobs running orphaned (Await.ready waits without masking the
    // persistence failure; the increment's layout is idempotent, so the
    // re-run repairs whatever landed).
    try {
      if (bloomExpectedItems > 0 || existingBloom.isDefined) {
        val (items, bits) = existingBloom
          .map(e => (e._2, e._3))
          .getOrElse((bloomExpectedItems,
            BloomPrune.optimalNumBits(bloomExpectedItems, 0.01)))
        val newKeys = buckets.select(col("band"), col("bh"))
        // first build with a pre-existing store backfills history's keys
        val toIndex = existingBloom match {
          case Some(_) => newKeys
          case None => history.fold(newKeys)(h => newKeys.unionByName(h))
        }
        Option(BloomPrune.build(toIndex, bucketKey, items, bits)).foreach { b =>
          val merged = existingBloom.map(e => BloomPrune.merge(e._1, b)).getOrElse(b)
          BloomPrune.write(spark, bloomPath, merged, items, bits)
        }
      }
      buckets.select(col("band"), col("bh")).distinct().write.mode("overwrite")
        .parquet(s"$storePath/increment=$incrementId")
    } finally scala.concurrent.Await.ready(
      dupIdsF, scala.concurrent.duration.Duration.Inf)
    val dupIds = scala.concurrent.Await.result(
      dupIdsF, scala.concurrent.duration.Duration.Inf)
    val kept = newDocs.join(dupIds, Seq(idCol), "left_anti")
    outputPath.foreach { out =>
      kept.write.mode("overwrite").parquet(s"$out/increment=$incrementId")
    }
    kept
  }

  /** [[incrementalNearDedup]]'s history probe, factored out so the plan
    * shape is auditable: with a blob the store semi-join's probe side is
    * gated MAP-SIDE by the bloom predicate — definitely-new (band, bh)
    * pairs never enter the join. Output ids are NOT deduplicated here:
    * the caller's dupIds distinct covers both dup sources in one
    * exchange.
    */
  private[operators] def nearDupHistProbe(buckets: DataFrame, history: DataFrame,
                                          blob: Option[Array[Byte]],
                                          idCol: String): DataFrame = {
    val probe = blob match {
      case Some(b) =>
        buckets.filter(BloomPrune.mightContain(b, struct(col("band"), col("bh"))))
      case None => buckets
    }
    probe.join(history, Seq("band", "bh"), "left_semi")
      .select(col(idCol))
  }

  /** Per-document MinHash signature as one `sig: array<long>` column,
    * computed by the single-pass native kernel — no shingle explode, no
    * k-column aggregation, NO SHUFFLE: the signature stage is a pure map
    * over the corpus, which is the shape that survives 100 TB (the
    * explode+groupBy formulation shuffles every shingle).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        nGram: Int = 3, numHashes: Int = 64): DataFrame = {
    df.select(col(idCol),
      NativeFunctions.minhashSig(
        NativeFunctions.normTokens(col(textCol)), nGram, numHashes).as("sig"))
  }

  /** LSH candidate pairs: split the signature into `bands`, hash each band,
    * and emit id pairs sharing any (band, hash) bucket. Buckets larger than
    * `maxBucket` are dropped (they're degenerate content — boilerplate —
    * and would make the within-bucket join quadratic).
    */
  def minhashCandidatePairs(sigs: DataFrame, idCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            maxBucket: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col("sig"), j * rows + 1, rows)).as("bh"))
    }
    val buckets = sigs
      .select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh"))
    // bucket-size bounding stays a WINDOW on purpose: the a/b self-join
    // sides below are identical subplans over its output, so Catalyst
    // computes the signature+window exchange ONCE and reuses it
    // (ReusedExchange) for both sides — measured 2x faster end-to-end
    // than a groupBy-count + key-join spelling, whose count branch is a
    // third distinct subplan that recomputes the signatures
    val bounded = buckets
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bh"))))
      .filter(col("sz") <= maxBucket && col("sz") > 1)
      .drop("sz")
    val a = bounded.select(col("band"), col("bh"), col(idCol).as("a"))
    val b = bounded.select(col("band"), col("bh"), col(idCol).as("b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Exact word-n-gram Jaccard between given id pairs (the verification
    * stage after LSH candidate generation).
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, nGram: Int): DataFrame = {
    // shingle only documents that appear in a candidate pair — candidates
    // are a vanishing fraction of the corpus at scale, so the two
    // verification joins see |pairs|-sized inputs, not corpus-sized ones
    val inPairs = pairs.select(col("a").as(idCol))
      .union(pairs.select(col("b").as(idCol))).distinct()
    // sorted xxhash64 gram fingerprints + linear-merge jaccard: identical
    // values to the string-set spelling (collision odds ~n²/2⁶⁴ per
    // pair), without building two hash sets per candidate pair.
    // PINNED: the gram table feeds BOTH join sides below, and the two
    // subtrees differ only in the output alias — which defeats exchange
    // reuse, so unpinned the corpus semi-join and the shingle kernel ran
    // twice per action (measured: two full `documents` scans in d04's
    // plan). The cache is bounded by the candidate-pair id set — a
    // vanishing fraction of the corpus at scale.
    val grams = pinned(docs.join(inPairs, Seq(idCol), "left_semi")
      .select(col(idCol),
        NativeFunctions.shingleHashes(
          NativeFunctions.normTokens(col(textCol)), nGram).as("g")))
    pairs
      .join(grams.select(col(idCol).as("a"), col("g").as("ga")), "a")
      .join(grams.select(col(idCol).as("b"), col("g").as("gb")), "b")
      .withColumn("jaccard",
        NativeFunctions.jaccardSorted(col("ga"), col("gb")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The shared signatures → candidates → checkpoint → verify →
    * threshold pipeline behind both near-dup entry points. The
    * candidate checkpoint: verification reuses the candidate set three
    * times (both join sides plus the id prune); materializing it runs
    * the LSH bucket join once instead of thrice — candidates are a
    * vanishing fraction of the corpus, so the cost is tiny next to the
    * work it saves.
    */
  private def minhashVerifiedPairs(df: DataFrame, idCol: String,
                                   textCol: String, nGram: Int,
                                   numHashes: Int, bands: Int,
                                   maxBucket: Int,
                                   threshold: Double): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, nGram, numHashes)
    val cands = minhashCandidatePairs(sigs, idCol, numHashes, bands, maxBucket)
      .localCheckpoint()
    jaccardVerify(cands, df, idCol, textCol, nGram)
      .filter(col("jaccard") >= threshold)
  }

  /** Full MinHash-LSH near-dup pipeline → verified pairs above threshold. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          nGram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7): DataFrame =
    minhashVerifiedPairs(df, idCol, textCol, nGram, numHashes, bands,
      maxBucket = 1000, threshold = threshold)

  /** MinHash near-dup with the rows-per-band derived from ONE corpus
    * count — the text-side mirror of [[embeddingNearDupPairsLsh]]'s
    * fixed-bucket-SIZE regime. A band bucket collides two documents of
    * jaccard j with probability j^r; taking the background inter-document
    * similarity as j₀ ≤ 1/2 (word n-grams of unrelated documents overlap
    * far below that for n ≥ 2), holding the expected background bucket at
    * ~`targetBucketSize` needs r ≥ log₂(n / target) — EXACTLY the
    * hyperplane [[lshBitsFor]] formula, reused verbatim. So r grows with
    * the corpus, band buckets stay ~target-sized, and the within-bucket
    * pair join costs ~n·target comparisons — linear in the corpus —
    * instead of the fixed-r quadratic the d03/d09 length-band fixture
    * measures. EXACT duplicates (jaccard 1) collide in every band at any
    * r, so recall on exact-copy pairs is 1 by construction; pairs at
    * jaccard j miss with probability (1-j^r)^bands, e.g. 4e-8 at
    * j=0.9, r=4, 16 bands.
    *
    * `knownCount ≥ 0` skips the count scan (pass the corpus size when a
    * catalog or an earlier action already knows it — on a 100 TB crawl
    * the count would otherwise be a full pass before the real one).
    */
  def minhashNearDupPairsAuto(df: DataFrame, idCol: String, textCol: String,
                              nGram: Int = 3, bands: Int = 16,
                              threshold: Double = 0.7,
                              targetBucketSize: Int = 50,
                              maxBucket: Int = 1000,
                              knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0) knownCount else df.count()
    val rows = lshBitsFor(n, targetBucketSize)
    minhashVerifiedPairs(df, idCol, textCol, nGram,
      numHashes = rows * bands, bands = bands, maxBucket = maxBucket,
      threshold = threshold)
  }

  // ---------- SimHash near-dup (64-bit signature, hamming blocking)

  /** SimHash near-dup pairs: 64-bit signature per doc (native codegen'd
    * expression), blocked on 16-bit chunks (pigeonhole: hamming<=3 pairs
    * share at least one of 4 chunks), verified with bit_count(xor).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val sigs = df.select(col(idCol),
      NativeFunctions.simhash64(NativeFunctions.normTokens(col(textCol))).as("sig"))
    val chunks = sigs.select(col(idCol), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"),
          shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("cv"))): _*)).as("c"))
      .select(col(idCol), col("sig"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    val bounded = chunks
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ci"), col("cv"))))
      .filter(col("sz") <= maxBucket && col("sz") > 1)
      .drop("sz")
    val a = bounded.select(col("ci"), col("cv"), col(idCol).as("a"), col("sig").as("siga"))
    val b = bounded.select(col("ci"), col("cv"), col(idCol).as("b"), col("sig").as("sigb"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact-duplicate groups found through the SimHash signature: equal
    * token MULTISETS always produce equal 64-bit signatures (the per-bit
    * vote sums coincide — recall 1.0 by construction, no probabilistic
    * caveat), so grouping on the signature finds every exact-dup group;
    * an md5 over the sorted token list is folded into the group key to
    * resolve the rare signature tie between different multisets (e.g. a
    * doc that is a scaled repetition of another's vote pattern), making
    * the grouping relation exactly token-multiset equality. This is the
    * hash-oracled companion of [[simhashNearDupPairs]]: it pins the
    * signature kernel end-to-end against an engine-independent oracle,
    * while hamming-distance ranking stays spec-checked.
    *
    * Scale shape: map-side signature + md5 (both codegen'd), ONE shuffle
    * keyed on the full-cardinality (sig, md5) pair, partial-aggregatable
    * min/count; members lists are bounded by duplicate-group size.
    */
  def simhashExactDupGroups(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val toks = NativeFunctions.normTokens(col(textCol))
    df.filter(NativeFunctions.normText(col(textCol)) =!= "")
      .select(col(idCol),
        NativeFunctions.simhash64(toks).as("sig"),
        md5(concat_ws(" ", sort_array(toks))).as("mkey"))
      .groupBy(col("sig"), col("mkey"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).as("dup_count"),
        concat_ws(",",
          sort_array(collect_list(col(idCol)))).as("members"))
      .filter(col("dup_count") > 1)
      .select(col("keeper"), col("dup_count"), col("members"))
  }

  // ---------- embedding-cosine near-dup

  /** Near-dup pairs by embedding cosine within a blocking column (e.g. a
    * cluster label or LSH bucket) — exact cosine, native expression.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: Column, minCosine: Double): DataFrame = {
    val withBlock = df.select(col(idCol), col(vecCol), blockCol.as("__blk"))
    val a = withBlock.select(col("__blk"), col(idCol).as("a"), col(vecCol).as("va"))
    val b = withBlock.select(col("__blk"), col(idCol).as("b"), col(vecCol).as("vb"))
    a.join(b, Seq("__blk"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", NativeFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Embedding near-dup with AUTOMATIC blocking — no caller-supplied key:
    * multi-table hyperplane-LSH buckets are the block, exact cosine the
    * verify. Same bounded-bucket discipline as the text dedup family
    * (`maxBucket` caps degenerate buckets), so the join stays sub-quadratic
    * on any corpus. Near vectors land in the same bucket in at least one
    * table with probability 1-(1-p^bits)^tables.
    *
    * `targetBucketSize > 0` derives the plane count from ONE corpus
    * count — `bits = ceil(log2(n / target))` — the fixed-bucket-SIZE
    * regime: with buckets held at ~`target` rows, the within-bucket pair
    * join costs ~`n * target` comparisons, i.e. LINEAR in the corpus
    * instead of the fixed-`bits` quadratic (n²/2^bits). This is the
    * production knob for an unbounded crawl; pass `bits` directly only
    * when the corpus size is known and bounded.
    */
  /** `ceil(log2(n / target))` plane count for the fixed-bucket-SIZE LSH
    * regime, exact on powers of two and clamped to [1, 24]. Deriving
    * MORE bits than the target asks for (a floor at the fixed-`bits`
    * default) shrinks buckets below `target` and cuts near-dup recall
    * without a corresponding cost win.
    */
  private[graft] def lshBitsFor(n: Long, target: Int): Int = {
    val buckets = math.max(1L, n / math.max(1, target))
    val derived =
      if (buckets <= 1) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(24, math.max(1, derived))
  }

  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                               minCosine: Double, bits: Int = 10,
                               tables: Int = 2,
                               maxBucket: Int = 1000,
                               targetBucketSize: Int = 0,
                               knownCount: Long = -1L): DataFrame = {
    // knownCount ≥ 0 skips the derivation scan: on a 100 TB corpus the
    // count() would be a full pass before the real one — callers that
    // already know the size (catalog stats, a prior action) pass it in
    val bitsEff =
      if (targetBucketSize <= 0) bits
      else lshBitsFor(
        if (knownCount >= 0) knownCount else df.count(), targetBucketSize)
    val tb = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        NativeFunctions.lshBucket(col(vecCol), bitsEff, t).as("bucket")))
    val bucketed = df
      .select(col(idCol), col(vecCol), explode(array(tb: _*)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val bounded = bucketed
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("sz") <= maxBucket && col("sz") > 1)
      .drop("sz")
    val a = bounded.select(col("tbl"), col("bucket"), col(idCol).as("a"), col(vecCol).as("va"))
    val b = bounded.select(col("tbl"), col("bucket"), col(idCol).as("b"), col(vecCol).as("vb"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        NativeFunctions.cosine(col("va"), col("vb")).as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
  }

  /** Greedy near-dup removal: drop the higher id of every pair. */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * cluster-then-prune — k-means over the embeddings (bounded
    * deterministic sample fit, map-side assignment), then exact-cosine
    * near-dup pairs WITHIN each cluster, dropping the higher id of every
    * pair. Clustering makes the quadratic step per-cluster instead of
    * corpus-wide — but ONLY if k scales with the corpus: a fixed k means
    * clusters grow linearly and the within-cluster join quadratically
    * (measured: 108 s at a 30×-duplicated stress corpus with k=8).
    * `targetClusterSize > 0` therefore derives k = ceil(n / target) from
    * one count, the paper's fixed-cluster-SIZE regime; pass k directly
    * only when the corpus size is known and bounded.
    * Output: the surviving rows of `corpus` plus their `cluster` id.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               minCosine: Double, maxTrain: Int = 20000,
               targetClusterSize: Int = 0): DataFrame = {
    val kEff =
      if (targetClusterSize <= 0) k
      else math.max(k,
        ((corpus.count() + targetClusterSize - 1) / targetClusterSize).toInt)
    // checkpoint the assignment: it appears on BOTH sides of the pair
    // self-join and again under the anti-join, and its plan embeds k
    // center-literal cosine expressions — without truncation the
    // optimizer re-analyzes that giant tree per branch (measured 544 s
    // vs 21 s at the 30× stress corpus, k=120). Same discipline as the
    // minhash candidate checkpoint above.
    val clustered = SimilaritySearch
      .embeddingClusters(corpus, idCol, vecCol, kEff, maxTrain)
      .drop("cos_to_center")
      .localCheckpoint()
    val pairs = embeddingNearDupPairs(clustered, idCol, vecCol,
      col("cluster"), minCosine)
    dropNearDups(clustered, idCol, pairs)
  }

  // ---------- segment-level dedup (C4-style line/paragraph dedup:
  // every distinct line is kept exactly once across the whole corpus)

  /** Splits each document into segments on literal `sep`, keeps exactly
    * ONE occurrence of every distinct segment corpus-wide — the one with
    * the smallest (id, position) — and reassembles the surviving segments
    * in document order. Output: (id, text_clean, n_kept, n_segments).
    *
    * Scale shape: the explode is pure map work (segments per doc = O(doc
    * length)); the keep decision is a row_number window partitioned by
    * the segment MD5 — an unbounded-cardinality key, so no reducer hot
    * spot (the heaviest group is the corpus's most-duplicated single
    * segment); reassembly aggregates on the doc id. Two shuffles total,
    * both on full-cardinality keys.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   sep: String = "\n\n"): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))
    // ONE corpus scan, TWO shuffles: every segment row rides the
    // keep-first window INTO the per-doc rebuild, where the keep decision
    // becomes a conditional aggregate — dropped segments contribute only
    // to n_segments (their text nulls out map-side in the partial
    // aggregate, so the doc-keyed exchange carries kept text plus
    // counters). The former shape filtered to kept rows, RE-SCANNED the
    // corpus for n_segments and joined back on the doc key: a second
    // corpus read and a third shuffle for columns the explode path
    // already had. posexplode_outer keeps null-text docs in the output
    // (n_segments null, the old left-join contract); such rows share the
    // null-hash window partition, so pre-filter null texts upstream if a
    // corpus has them in bulk.
    df.select(col(idCol),
        posexplode_outer(split(col(textCol), sepLit)).as(Seq("__pos", "__seg")))
      .withColumn("__h", md5(col("__seg")))
      .withColumn("__keep",
        col("__seg").isNotNull && row_number().over(w) === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__seg"))))),
            x => x.getField("__seg")),
          sep).as("text_clean"),
        count(when(col("__keep"), lit(1))).as("n_kept"),
        when(count(col("__seg")) === 0, lit(null).cast(LongType))
          .otherwise(count(col("__seg"))).as("n_segments"))
      .select(col(idCol), col("text_clean"), col("n_kept"), col("n_segments"))
  }

  /** Segmentation shim for corpora WITHOUT natural line structure:
    * rewrites text as `sep`-joined chunks of `wordsPerChunk` whitespace
    * tokens (the trailing chunk may be shorter). Pure column expressions,
    * zero shuffle.
    */
  def chunkText(text: Column, wordsPerChunk: Int, sep: String): Column = {
    val toks = split(text, " ")
    val nChunks = ceil(size(toks).cast(DoubleType) / wordsPerChunk).cast(IntegerType)
    array_join(
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * wordsPerChunk + 1, lit(wordsPerChunk)), " ")),
      sep)
  }

  // ---------- exact substring duplicate spans (fixed-k positional-gram
  // form of suffix-array substring dedup, per Lee et al. 2022's
  // "deduplicating training data" — any k-token window occurring more
  // than once in the corpus marks a duplicated span)

  /** Finds maximal duplicated token spans: every `k`-token window whose
    * (normalized) text occurs more than once ANYWHERE in the corpus marks
    * its positions duplicated; overlapping/adjacent duplicated windows
    * merge into maximal spans. Output one row per span:
    * (id, span_start, span_end, n_grams) — token positions, 0-based,
    * inclusive; `span_end - span_start + 1` is the span's token length
    * (always >= k).
    *
    * Scale shape — this replaces the single-machine suffix array with
    * pure shuffle-parallel steps: gram extraction is ONE fused map-side
    * kernel pass (`graft_gram_md5` — byte-range digests over normalized
    * text, positions implicit); "occurs more than once" is a count
    * window partitioned by the gram hash — ONE shuffle of the gram
    * table, carrying positions along, where a groupBy + semi-join-back
    * would recompute every gram and shuffle the table twice (the
    * hottest window partition is the corpus's single most-repeated
    * k-gram — bounded by its true duplicate count); the island merge is
    * a per-document window (bounded by doc length). Nothing is
    * O(corpus²) and no step funnels through one reducer. Plan-asserted
    * in PlanAuditSpec.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // ONE fused gram pass (normalize → byte-range md5 per k-gram kernel,
    // empty array below k tokens) and ONE shuffle: the duplicate test is
    // a whole-partition count window over the gram hash — the former
    // groupBy + semi-join-back shape paid a second gram computation and
    // a second full-gram-table shuffle for the same answer
    val grams = df
      .select(col(idCol), posexplode(
        graft.plans.NativeFunctions.gramMd5(col(textCol), k))
        .as(Seq("pos", "__gh")))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("__gh"))
    val hits = grams
      .withColumn("__c", count(lit(1)).over(byGram))
      .filter(col("__c") > 1)
      .drop("__c")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, 0)
          .otherwise(1))
      .withColumn("__island",
        sum(col("__brk")).over(byDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  // ---------- dedup clustering (connected components over match pairs)

  /** Materialize an iteration state frame. `localCheckpoint` alone is NOT
    * enough for iterative self-joins: `LogicalRDD.fromDataset` carries the
    * originating plan's size estimate forward, so a join-per-round loop
    * SQUARES the estimate every round — by round ~10 the stats are
    * million-bit BigIntegers and Catalyst spends minutes multiplying them.
    * [[org.apache.spark.sql.graftinternal.Rematerialize]] checkpoints and
    * rewraps the InternalRow RDD with fresh default stats (zero-copy).
    */
  private def pinned(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftinternal.Rematerialize(df)

  /** Round-state pin for iterative loops with an optional DURABLE mode:
    * when `durable`, the round's state goes through a reliable checkpoint
    * (`sparkContext.getCheckpointDir` — HDFS/object store on a cluster) so
    * an executor loss late in the loop replays at most the rounds since
    * the last durable pin, instead of restarting from round 0 (the
    * localCheckpoint failure mode: lineage is truncated and the blocks
    * lived only in the lost executor's block manager).
    */
  private def pinnedRound(df: DataFrame, durable: Boolean): DataFrame =
    if (durable) org.apache.spark.sql.graftinternal.Rematerialize.reliable(df)
    else org.apache.spark.sql.graftinternal.Rematerialize(df)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def warnNotConverged(algo: String, maxIter: Int): Unit =
    log.warn(s"$algo exhausted maxIter=$maxIter without reaching the fixed " +
      "point: component labels may be PARTIALLY MERGED (split clusters). " +
      "Raise maxIter or inspect the pair graph.")

  /** Order-independent signature of a distinct edge set: (row count,
    * XOR of per-edge 64-bit hashes). Two distinct sets with equal
    * signatures differ with probability ~2^-64; comparing consecutive
    * rounds' signatures replaces a symmetric-difference probe that cost a
    * full extra union+groupBy SHUFFLE of the edge table per round with one
    * cheap scan of already-materialized state.
    */
  private def edgeSig(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)),
      bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Connected components over near-dup pairs (`a`/`b` columns) — the
    * clustering step that turns pairwise matches into dedup groups.
    * Returns one row per id appearing in any pair with its component
    * `label` (the smallest id in the component).
    *
    * Min-label propagation: each round every vertex adopts the smallest
    * label among itself and its neighbors (one shuffle keyed on vertex
    * id — full key cardinality, no hot reducer), optionally followed by
    * `hopsPerRound` label-table self-hops (label ← label(label)). State
    * is re-materialized per round (lineage truncation + stats reset) and
    * the loop early-stops on the first round that changes nothing.
    *
    * Rounds scale with component DIAMETER. Real near-dup components are
    * star-shaped (many variants of one original) — diameter 2-3, so 3-4
    * rounds; pathological chain components cost O(diameter) rounds, each
    * a label-table-sized shuffle. If a corpus profile shows deep
    * components, the upgrade path is alternating large-star/small-star
    * contraction (Kiveris et al., O(log² n) rounds) — same per-round
    * primitives, more involved convergence bookkeeping.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          hopsPerRound: Int = 1,
                          reliableEvery: Int = 0): DataFrame = {
    // materialize pairs once: both union branches below would otherwise
    // re-evaluate the (expensive) candidate-pair plan
    val p = pinned(pairs.select(col("a"), col("b")))
    val edges = pinned(
      p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst")))
        .distinct())
    var labels = pinned(
      edges.select(col("src").as("id")).distinct().withColumn("label", col("id")))
    var round = 0
    var done = false
    while (!done && round < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      // materialized: feeds both sides of the hop self-join below (the
      // expensive neighbor join must not run twice per round)
      var cur = pinnedRound(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label")),
        reliableEvery > 0 && (round + 1) % reliableEvery == 0)
      for (_ <- 0 until hopsPerRound) {
        val hop = cur.select(col("id").as("label"), col("label").as("label2"))
        cur = pinned(cur.join(hop, Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("label2"), col("label"))).as("label"),
            col("old")))
      }
      // the change probe scans the materialized state — no recompute
      val changed = cur.filter(col("label") =!= col("old")).limit(1).count()
      labels = cur.drop("old")
      done = changed == 0L
      round += 1
    }
    if (!done) warnNotConverged("connectedComponents", maxIter)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — converges in O(log² n) rounds regardless of component
    * diameter, where min-label propagation needs O(diameter). Same
    * output contract as [[connectedComponents]]: one row per id in any
    * pair with its component `label` (the component's smallest id).
    *
    * Each round is two phases over the (shrinking) edge list, each one
    * groupBy + one join keyed on node id. Invariant maintained by both
    * phases: the edge set's connectivity is preserved while every edge is
    * progressively redirected at the component minimum; at the fixed
    * point every component is a star centered on its minimum.
    */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 25,
                               reliableEvery: Int = 0,
                               localFinishThreshold: Long = 2000000L): DataFrame = {
    val (edges0, stars) = starFixedPoint(pairs, maxIter, reliableEvery,
      localFinishThreshold)
    val vertices = edges0.select(col("u").as("id"))
      .union(edges0.select(col("v").as("id"))).distinct()
    val nonRoots = stars.groupBy(col("u").as("id")).agg(min(col("v")).as("label"))
    vertices.join(nonRoots, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** The star-contraction fixed point behind [[connectedComponentsStars]]
    * and [[clusterRepresentatives]]: returns (the pinned canonical edge
    * frame, the fixed-point star edges — one (non-root, component-min)
    * row per non-root id). Factored out so clusterRepresentatives can
    * join the stars straight onto the corpus without materializing the
    * vertex set (its COALESCE covers root and singleton ids anyway — the
    * vertex distinct was a pure fixed-cost pass there).
    */
  private def starFixedPoint(pairs: DataFrame, maxIter: Int,
                             reliableEvery: Int,
                             localFinishThreshold: Long): (DataFrame, DataFrame) = {
    val durableMode = reliableEvery > 0
    // canonical (big, small) directed edges, self-loops dropped
    var edges = pinnedRound(pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), durableMode)
    val edges0 = edges
    var done = false
    // primitive-specialized LongMap union-find over a driver-collected
    // edge list (the boxed-HashMap spelling costs seconds of pure boxing
    // at millions of find() calls); replaces `edges` with the local star
    // frame
    def finishLocally(collected: Array[(Long, Long)]): Unit = {
      val us = new Array[Long](collected.length)
      val vs = new Array[Long](collected.length)
      var ri = 0
      while (ri < collected.length) {
        us(ri) = collected(ri)._1; vs(ri) = collected(ri)._2; ri += 1
      }
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      ri = 0
      while (ri < us.length) {
        val ra = find(us(ri)); val rb = find(vs(ri))
        if (ra != rb) { // smaller root wins -> labels stay component minima
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        ri += 1
      }
      val seen = scala.collection.mutable.LongMap.empty[Unit]
      val starBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def emit(id: Long): Unit =
        if (!seen.contains(id)) {
          seen.update(id, ())
          val r = find(id)
          if (id != r) starBuf += ((id, r))
        }
      ri = 0
      while (ri < us.length) { emit(us(ri)); emit(vs(ri)); ri += 1 }
      edges = edges.sparkSession.createDataFrame(starBuf.toSeq).toDF("u", "v")
      done = true
    }
    val tupleEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    // ADAPTIVE LOCAL FINISH before round 1, gated by the edge COUNT:
    // edgeSig (count + xor, one agg scan of the pinned edges, no driver
    // transfer) both seeds round 0's convergence signature and decides
    // whether the graph fits the driver — the collect only runs when it
    // will be used. The previous shape collected up to threshold+1 rows
    // (~tens of MB) on every call just to decide, discarding them on the
    // large-graph path.
    var sig = edgeSig(edges)
    if (localFinishThreshold > 0 && sig._1 <= localFinishThreshold)
      finishLocally(edges.select(col("u"), col("v")).as(tupleEnc).collect())
    // failure-recovery anchor: (edge frame on durable storage, its
    // signature, its round). Rounds between anchors use the fast
    // executor-local pin; on a lost-block failure the loop resumes from
    // the anchor instead of the job dying — bounding replay to
    // `reliableEvery` rounds.
    var anchor: Option[(DataFrame, (Long, Long), Int)] =
      if (durableMode && !done) Some((edges, sig, 0)) else None
    var retriesLeft = 3
    var round = 0
    // in-loop local finish: contraction shrinks the edge list
    // geometrically, and the round count is free in the convergence
    // signature — whenever the current edge list fits the driver bound,
    // collect it and finish with union-find (hybrid GraphX/GraphFrames
    // shape).
    def tryLocalFinish(): Unit =
      if (!done && sig._1 > 0 && sig._1 <= localFinishThreshold)
        finishLocally(edges.select(col("u"), col("v")).as(tupleEnc).collect())
    while (!done && round < maxIter) {
      try {
        // large-star: connect every neighbor LARGER than u to the minimum
        // of u's closed neighborhood (strictly-smaller targets only, so
        // orientation stays big→small and progress is monotone)
        val sym = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        // NOT pinned: afterLarge appears twice in afterSmall's plan (its
        // own groupBy + the join), but both references share the same
        // Exchange subtrees, which Spark dedupes via ReusedExchange inside
        // the one action — cheaper than an extra per-round checkpoint job,
        // and round depth stays bounded because afterSmall IS pinned
        val afterLarge = sym.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        // small-star: point u and all its (smaller) neighbors at u's
        // smallest neighbor
        val smins = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
        val durable = durableMode && (round + 1) % reliableEvery == 0
        val afterSmall = pinnedRound(afterLarge.join(smins, "u")
          .select(explode(array(
            struct(col("v").as("_1"), col("m").as("_2")),
            struct(col("u").as("_1"), col("m").as("_2")))).as("e"))
          .select(col("e._1").as("u"), col("e._2").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct(), durable)
        // converged when the small-star pass changed nothing — signature
        // comparison against the previous round (one scan of materialized
        // state; no symmetric-difference shuffle)
        val nextSig = edgeSig(afterSmall)
        if (durable) anchor = Some((afterSmall, nextSig, round + 1))
        edges = afterSmall
        done = nextSig == sig
        sig = nextSig
        round += 1
        tryLocalFinish()
      } catch {
        case e: org.apache.spark.SparkException
            if anchor.isDefined && retriesLeft > 0 =>
          val (aDf, aSig, aRound) = anchor.get
          log.warn(s"connectedComponentsStars round $round failed " +
            s"(${e.getMessage}); resuming from durable round $aRound")
          retriesLeft -= 1
          edges = aDf
          sig = aSig
          round = aRound
      }
    }
    if (!done) warnNotConverged("connectedComponentsStars", maxIter)
    // fixed point: stars centered on component minima
    (edges0, edges)
  }

  /** Cluster assignment for the WHOLE corpus: every document gets a
    * `cluster_id` — the smallest id of its near-dup component, or its own
    * id when it matched nothing (singleton cluster). Joins the star edges
    * straight onto the corpus: non-roots get their component minimum,
    * roots and singletons fall out of the COALESCE — identical labels to
    * going through [[connectedComponentsStars]]'s vertex frame, minus its
    * union+distinct pass over the edge list.
    */
  def clusterRepresentatives(df: DataFrame, idCol: String,
                             pairs: DataFrame, maxIter: Int = 25,
                             reliableEvery: Int = 0,
                             localFinishThreshold: Long = 2000000L): DataFrame = {
    val (_, stars) = starFixedPoint(pairs, maxIter, reliableEvery,
      localFinishThreshold)
    val nonRoots = stars.groupBy(col("u").as(idCol)).agg(min(col("v")).as("label"))
    df.join(nonRoots, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("label"), col(idCol)))
      .drop("label")
  }
}
