package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import graft.functions.TextFunctions
import graft.operators.{BpeTokenizer, CorpusStats, DatasetMix, DatasetSplit, Decontaminate, Dedup, InvertedIndex, Packing, QualityClassifier, Sampling, SimilaritySearch}
import graft.multimodal.{AudioCodec, ImageCodec, Multimodal}

/** Training-data-pipeline operators (builder-prompt mandate): dedup
  * (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
  * ANN search, text analysis, multimodal binary plumbing — all over the
  * documents/embeddings tables.
  *
  * Oracle note: the DuckDB SQL mirrors the *definition* (normalize → md5,
  * set-jaccard, cosine) so exact variants hash-match; sketch-based
  * variants (MinHash, SimHash, LSH) depend on engine-internal hashes and
  * get rows-only checks + ScalaTest invariants instead.
  */
object PipelineQueries {

  private def normSqlOf(c: String) =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  private val normSql = normSqlOf("text")
  private def toksSql(norm: String) = s"string_split($norm, ' ')"

  /** FIXED centroids for the fit/apply-split queries (t29b/t32b/d10b,
    * and d08b's hyperplanes):
    * the embedding vectors of vec_id < n, id-ordered — a pure function
    * of the data, so both engines name the same centers. Bounded
    * driver-side collect (n rows).
    */
  private def fixedCenters(s: org.apache.spark.sql.SparkSession,
                           dir: String, n: Int): Array[Array[Float]] =
    Tables(s, dir).embeddings.filter(col("vec_id") < n)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)

  /** FIXED, creation-order-valid BPE merge table for t27b: every pair
    * over a merged token ranks later than the merge that created it
    * ((th,e) after (t,h); (in,g) after (i,n); (an,d) after (a,n)), which
    * makes one-at-a-time-leftmost encoding equal encodeWord's
    * batch-merge loop.
    */
  private val fixedBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "r" -> "e", "o" -> "n", "in" -> "g", "s" -> "t")

  /** DuckDB: the (rank, position) candidates of `toks` against the fixed
    * merge table, sorted so `[1]` is the leftmost lowest-rank pair.
    */
  private val bpeCandSql: String = {
    val keys = fixedBpeMerges.map { case (a, b) => s"'$a|$b'" }.mkString(",")
    val vals = fixedBpeMerges.indices.mkString(",")
    s"list_sort(list_filter([ {'r': map([$keys],[$vals])[toks[i]||'|'||toks[i+1]][1], 'i': i} " +
      s"for i in generate_series(1, len(toks)-1) ], x -> x.r IS NOT NULL))"
  }

  /** d03's banded jaccard pairs, reused by the clustering query d09.
    * Blocking key is (source, 20-char length band), not source alone:
    * |Δn_chars| <= 20 implies the bands differ by at most 1, so the a
    * side joins on its own band while the b side fans out to band±1 —
    * bounded buckets instead of an all-pairs join within a
    * low-cardinality source key. The three b-side keys are distinct, so
    * each qualifying pair matches exactly once (no post-join dedup).
    */
  private def bandedJaccardPairs(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, dir).documents
    // sorted xxhash64 token fingerprints + linear-merge jaccard — same
    // values as the string-set spelling (collisions ~n²/2⁶⁴ per pair)
    // without two hash-set builds per candidate pair on the hot path
    val g = docs.select(col("doc_id"), col("source"), col("n_chars"),
      graft.plans.NativeFunctions.shingleHashes(
        graft.plans.NativeFunctions.normTokens(col("text")), 1).as("gr"))
    val band = floor(col("n_chars") / 20).cast(LongType)
    val a = g.select(col("source"), band.as("band"), col("doc_id").as("a"),
      col("n_chars").as("nca"), col("gr").as("ga"))
    val b = g.select(col("source"), col("doc_id").as("b"), col("n_chars").as("ncb"),
      col("gr").as("gb"),
      explode(array(band - 1, band, band + 1)).as("band"))
    a.join(b, Seq("source", "band"))
      .filter(col("a") < col("b") && abs(col("nca") - col("ncb")) <= 20)
      .withColumn("jaccard",
        graft.plans.NativeFunctions.jaccardSorted(col("ga"), col("gb")))
      .filter(col("jaccard") >= 0.4)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** d03c/d09c's corpus: the documents plus planted EXACT copies
    * (doc_id+1e8, same text) of doc_id < 100 — the d06c device. Exact
    * copies have jaccard 1 and collide in EVERY minhash band at any
    * derived rows-per-band, so the production path's recall on the
    * planted answer set is 1 by construction at any corpus size.
    * The +1e8 offset clears every generated doc_id domain (the sf1
    * generator tops out at ~9e6).
    */
  private def plantedDocs(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
  }

  /** d03/d09's PRODUCTION-path pairs (the d03c/d09c rows): MinHash-LSH
    * candidates with the rows-per-band derived from one corpus count
    * (fixed-bucket-SIZE regime → ~n·target pair comparisons, linear in
    * the corpus — the length-band fixture d03/d09 measure is above
    * linear BY ITS CONTRACT, its block populations grow with N), exact
    * 3-gram-jaccard verify. Oracle-able like d04: this corpus's true
    * 3-gram pairs all sit at jaccard ≥ 0.9 (nothing between ~0.2 and
    * 0.9), where the derived r=4/16-band miss probability is
    * (1-0.9⁴)¹⁶ ≈ 4e-8 — recall is provably 1, so LSH candidates ∩
    * jaccard ≥ 0.5 equals DuckDB's exhaustive answer. At sf1 the same
    * claim is covered by the independent precision + planted-recall
    * invariant (Sf1InvariantsSpec), not the oracle.
    */
  private def productionPairs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    // columnless footer count + the known 100 planted copies, instead of
    // letting the operator count the two-scan union (the d06c device)
    val n = Tables(s, dir).documents.select(col("doc_id")).count() + 100L
    Dedup.minhashNearDupPairsAuto(plantedDocs(s, dir), "doc_id", "text",
      nGram = 3, bands = 16, threshold = 0.5, targetBucketSize = 50,
      knownCount = n)
  }

  /** d03c/d09c's oracle CTEs: exhaustive all-pairs 3-gram jaccard ≥ 0.5
    * over the planted corpus (the d04 oracle, corpus widened).
    */
  private val productionPairsSqlCtes =
    s"""corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000000 AS doc_id, text FROM documents
       |  WHERE doc_id < 100),
       |t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
       |      FROM corpus WHERE $normSql <> ''),
       |g AS (SELECT doc_id,
       |        list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                       for i in range(1, len(toks)-1)]) AS grams
       |      FROM t WHERE len(toks) >= 3),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |        len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
       |      FROM g a JOIN g b ON a.doc_id < b.doc_id)""".stripMargin

  /** d03/d09's shared oracle CTEs: banded jaccard pairs in DuckDB. */
  private val pairsSqlCtes =
    s"""g AS (SELECT doc_id, source, n_chars,
       |    list_distinct(${toksSql(normSql)}) AS gr FROM documents),
       |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
       |  CAST(len(list_distinct(a.gr || b.gr)) AS DOUBLE) AS jaccard
       |FROM g a JOIN g b
       |  ON a.source = b.source AND a.doc_id < b.doc_id
       | AND abs(a.n_chars - b.n_chars) <= 20
       |WHERE CAST(len(list_intersect(a.gr, b.gr)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.gr || b.gr)) AS DOUBLE) >= 0.4)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy on content fingerprint
    Q("d01_dedup_exact",
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM documents)
         |SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM f GROUP BY fingerprint ORDER BY keep_id""") { (s, dir) =>
      Tables(s, dir).documents
        .groupBy(md5(graft.plans.NativeFunctions.normText(col("text"))).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("keep_id"))
    },

    // ---- per-document fingerprint + token counts
    Q("d02_fingerprint",
      s"""SELECT doc_id, md5($normSql) AS fingerprint,
         |  CASE WHEN $normSql = '' THEN 0
         |       ELSE len(${toksSql(normSql)}) END AS n_tokens,
         |  LENGTH(text) AS n_chars_actual
         |FROM documents ORDER BY doc_id""") { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          md5(graft.plans.NativeFunctions.normText(col("text"))).as("fingerprint"),
          size(graft.plans.NativeFunctions.normTokens(col("text"))).as("n_tokens"),
          length(col("text")).as("n_chars_actual"))
        .orderBy(col("doc_id"))
    },

    // ---- n-gram Jaccard near-dup over blocked pairs (exact set jaccard;
    // word sets = 1-grams so the oracle is SQL-expressible; the library
    // supports any n — specs cover n=3)
    Q("d03_ngram_jaccard",
      s"""WITH $pairsSqlCtes
         |SELECT a, b, jaccard FROM p ORDER BY a, b""") { (s, dir) =>
      bandedJaccardPairs(s, dir).orderBy(col("a"), col("b"))
    },

    // ---- d03's PRODUCTION path: corpus-count-derived minhash banding
    // (fixed-bucket-SIZE regime) + exact jaccard verify, over the
    // planted corpus — see productionPairs for the recall argument
    Q("d03c_ngram_jaccard_lsh",
      s"""WITH $productionPairsSqlCtes
         |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.5
         |ORDER BY a, b""") { (s, dir) =>
      productionPairs(s, dir).orderBy(col("a"), col("b"))
    },

    // ---- dedup clustering: connected components over the d03 match
    // pairs — pairwise matches → dedup groups, every doc labeled with its
    // component's smallest id (singletons label themselves). The oracle
    // computes min-reachable-id with a recursive CTE; the engine uses
    // min-label propagation (one id-keyed shuffle per round, early-stop).
    Q("d09_dedup_clusters",
      s"""WITH RECURSIVE $pairsSqlCtes,
         |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
         |reach(id, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
         |c AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN c ON d.doc_id = c.id
         |ORDER BY d.doc_id""") { (s, dir) =>
      // near-dup edge lists are sparse (pairs, not pairs²); 5M edges is
      // ~80 MB of driver state — letting the adaptive local finish take
      // the whole sf1-scale graph in one union-find step skips every
      // distributed contraction round. Beyond that the rounds run
      // distributed until the contracted graph fits.
      Dedup.clusterRepresentatives(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          bandedJaccardPairs(s, dir), localFinishThreshold = 5000000L)
        .select(col("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // ---- d09's PRODUCTION path: the same connected-components labeling
    // over the d03c production pairs (corpus-derived banding), so the
    // whole cluster pipeline — candidates, verify, CC — is measured in
    // its linear-regime form
    Q("d09c_dedup_clusters_lsh",
      s"""WITH RECURSIVE $productionPairsSqlCtes,
         |pt AS (SELECT a, b FROM p WHERE jaccard >= 0.5),
         |e AS (SELECT a AS src, b AS dst FROM pt UNION SELECT b, a FROM pt),
         |reach(id, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
         |c AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |FROM corpus d LEFT JOIN c ON d.doc_id = c.id
         |ORDER BY d.doc_id""") { (s, dir) =>
      Dedup.clusterRepresentatives(
          plantedDocs(s, dir).select(col("doc_id")), "doc_id",
          productionPairs(s, dir), localFinishThreshold = 5000000L)
        .select(col("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // ---- MinHash + LSH near-dup (shingle→minhash→band→bucket-join);
    // internal hash permutations → rows-only + spec invariants
    // The VERIFIED output (pairs + exact 3-gram jaccard) is oracle-checkable
    // against DuckDB's exhaustive all-pairs jaccard: on this corpus every
    // true pair has jaccard ≥ 0.89, where 16-band/4-row LSH miss
    // probability is (1-0.89⁴)¹⁶ ≈ 4e-8 — recall is provably 1.0, so the
    // LSH candidate set ∩ jaccard≥0.5 equals the exhaustive answer. Only
    // candidate GENERATION stays engine-internal.
    Q("d04_dedup_minhash",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |g AS (SELECT doc_id,
         |        list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                       for i in range(1, len(toks)-1)]) AS grams
         |      FROM t WHERE len(toks) >= 3),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |        CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
         |      FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY a, b""") { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables(s, dir).documents, "doc_id", "text",
          nGram = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy(col("a"), col("b"))
    },

    // ---- SimHash near-dup (native codegen'd signature expression).
    // Stays rows-only BY DESIGN: the d04 trick (oracle the verified pairs)
    // was evaluated and does not apply — 4-chunk pigeonhole blocking
    // guarantees recall only to hamming ≤ 3, and this corpus has true
    // near-dup pairs at hamming > 8 (2 of 25 at sf0.01), so the simhash
    // candidate set is NOT the exhaustive jaccard set. Its invariants are
    // spec-checked instead (DedupSpec).
    Q.noOracle("d05_dedup_simhash") { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables(s, dir).documents, "doc_id", "text",
          maxHamming = 8)
        .orderBy(col("a"), col("b"))
    },

    // ---- SimHash exact-dup groups — the hash-ORACLED companion of d05.
    // Equal token multisets always produce equal signatures (the vote
    // sums coincide), so signature grouping has recall 1.0 by
    // construction; an md5 over the sorted token list inside the group
    // key resolves signature ties between different multisets, making
    // the grouping relation exactly token-multiset equality — which
    // DuckDB computes independently via a sorted-token-list group key.
    // Hamming-distance ranking (the approximate part) stays with d05.
    // The corpus has no exact dups (d01), so the query plants WORD-ORDER
    // PERMUTED copies (doc_id+10000, tokens reversed): a different string
    // — md5 string-dedup would miss it — but the same multiset, which is
    // precisely the equivalence SimHash votes over. The oracle plants the
    // copies with the original text: its sorted-token key is permutation
    // invariant, so both spellings define the same ground truth.
    Q("d05b_simhash_exact_groups",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents
         |  WHERE doc_id < 50),
         |t AS (SELECT doc_id,
         |        array_to_string(list_sort(${toksSql(normSql)}), ' ') AS mkey
         |      FROM corpus WHERE $normSql <> ''),
         |g AS (SELECT mkey, min(doc_id) AS keeper,
         |        count(*) AS dup_count,
         |        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |          AS members
         |      FROM t GROUP BY mkey)
         |SELECT keeper, dup_count, members FROM g
         |WHERE dup_count > 1 ORDER BY keeper""") { (s, dir) =>
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
      Dedup.simhashExactDupGroups(docs.unionByName(copies), "doc_id", "text")
        .orderBy(col("keeper"))
    },

    // ---- embedding-cosine near-dup pairs within label blocks
    Q("d06_embedding_near_dup",
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos4
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY a, b""") { (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables(s, dir).embeddings, "vec_id", "embedding",
          col("label"), minCosine = 0.3)
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cos4"))
        .orderBy(col("a"), col("b"))
    },

    // ---- d06's PRODUCTION path: AUTOMATIC LSH blocking with the plane
    // count derived from one corpus count (fixed-bucket-SIZE regime →
    // ~linear pair-join cost), exact-cosine verify. The fixed-block d06
    // is above-linear at 10x BY CONTRACT (its block count is pinned);
    // this row measures the auto-blocked form the unbounded-crawl path
    // uses. Oracle-able despite the engine-internal hyperplanes: planted
    // EXACT copies are the only pairs at cosine >= 0.9 (max natural
    // pairwise cosine in the DRIVER testdata is ~0.51), identical vectors
    // share every LSH bucket, so recall on the answer set is exactly 1.
    // The planted-id offset (+1e8) clears every generated key domain
    // (scripts/gen_sf1.py strides vec_id by 1e6 per copy). NOTE: the
    // oracle's only-planted-pairs premise holds for the driver's data,
    // not for gen_sf1.py output, whose nudged per-copy embeddings are
    // genuine near-dups at 0.9 — at sf1 this row is gate-skipped and
    // covered by the independent d06c invariant in Sf1InvariantsSpec.
    Q("d06c_embedding_near_dup_lsh",
      """SELECT vec_id AS a, vec_id + 100000000 AS b,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                               CAST(embedding AS DOUBLE[])), 4) AS cos4
        |FROM embeddings WHERE vec_id < 100 ORDER BY a, b""") { (s, dir) =>
      val base = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
      // columnless parquet count = footer metadata, not a vector read —
      // passing it as knownCount keeps the operator itself single-scan
      val n = Tables(s, dir).embeddings.select(col("vec_id")).count() + 100L
      Dedup.embeddingNearDupPairsLsh(base.unionByName(planted),
          "vec_id", "embedding", minCosine = 0.9, targetBucketSize = 50,
          knownCount = n)
        .select(col("a"), col("b"), round(col("cosine"), 4).as("cos4"))
        .orderBy(col("a"), col("b"))
    },

    // ---- brute-force cosine top-k ANN (exact baseline). Ids-only output:
    // ranks are stable (random embeddings have no cosine near-ties), raw
    // scores would differ in ULPs between engines.
    Q("d07_ann_brute_force",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
        |       neighbor_id
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- LSH-bucketed ANN (the scale path; recall vs brute force is
    // asserted in the spec, ranking uses engine-internal hashing)
    Q.noOracle("d08_ann_lsh") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      SimilaritySearch.lshTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10, bits = 10)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("cos4"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- d08's LSH probe under FIXED hyperplanes (the vectors of
    // vec_id < 6): sign-bit bucketing, the 1-bit multi-probe set, and
    // the exact cosine rerank are all deterministic transforms of the
    // given planes, so the whole blocked-search path hash-oracles —
    // only the hash-plane CHOICE stays engine-internal (d08 above).
    // Both sides dot in double precision (exact promotions from the
    // float embeddings, same left-to-right summation), so the sign —
    // and hence the bucket — agrees bit-for-bit.
    Q("d08b_ann_lsh_fixed",
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id < 6),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT e.vec_id,
        |        CAST(sum(CASE WHEN list_inner_product(e.v, p.pv) > 0
        |                      THEN 1 << p.pid ELSE 0 END) AS INT) AS bucket
        |      FROM e CROSS JOIN p GROUP BY 1),
        |probes AS (
        |  SELECT vec_id AS query_id, bucket AS pb FROM b WHERE vec_id < 5
        |  UNION ALL
        |  SELECT b.vec_id, xor(b.bucket, CAST(1 << r.i AS INT))
        |  FROM b CROSS JOIN range(0, 6) r(i) WHERE b.vec_id < 5),
        |cand AS (SELECT pr.query_id, cb.vec_id AS neighbor_id,
        |           list_cosine_similarity(qe.v, ne.v) AS cos
        |         FROM probes pr
        |         JOIN b cb ON cb.bucket = pr.pb
        |         JOIN e ne ON ne.vec_id = cb.vec_id
        |         JOIN e qe ON qe.vec_id = pr.query_id
        |         WHERE cb.vec_id <> pr.query_id)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
        |  neighbor_id, round(cos, 4) + 0 AS cos4
        |FROM cand
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      SimilaritySearch.lshTopKWithPlanes(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10,
          planes = fixedCenters(s, dir, 6))
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("cos4"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- persisted-IVF ANN: build the cell-partitioned inverted file,
    // then probe it — the probe's cell set reaches the parquet scan as a
    // PARTITION filter (asserted by spec on scan metrics), so only
    // nProbe/nLists of the corpus is read. Rows-only BY DESIGN: this
    // fixture's embeddings are near-random (a query's true top-10 scatter
    // across cells — verified empirically), so no nProbe < nLists has
    // provable recall and the d04 exhaustive-oracle trick cannot apply;
    // setting nProbe = nLists would hash-match trivially while defeating
    // the pruning the query demonstrates. Recall invariants are
    // spec-checked on planted-twin corpora instead (BufferAndIvfSpec).
    Q.noOracle("d10_ann_ivf") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val path = System.getProperty("java.io.tmpdir") + "/graft_ivf_" +
        Integer.toHexString(dir.hashCode)
      SimilaritySearch.ivfWrite(emb, "vec_id", "embedding", path, nLists = 16)
      SimilaritySearch.ivfProbe(s, path, queries, "query_id", "qv",
          k = 10, nProbe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("cos4"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- IVF-PQ ANN (the billion-scale layout: coarse cells prune the
    // candidate set, product-quantization codes compress it 32× and ADC
    // scoring is m table adds per candidate). Rows-only like d08/d10:
    // both the k-means cells and the PQ codebooks are engine-internal;
    // recall + ADC-exactness invariants are spec-checked on planted-twin
    // corpora (SimilaritySpec).
    Q.noOracle("d12_ann_ivfpq") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10, nLists = 16, nProbe = 4,
          m = 8, ksub = 16)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("adc4"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- segment-level (C4-style line) dedup: every distinct 10-word
    // chunk kept exactly once corpus-wide (smallest (doc_id, pos) wins),
    // documents reassembled from their surviving chunks
    // ---- incremental near-dup filtering: the corpus arrives in three
    // increments; each dedups against the persisted bucket store built by
    // the previous ones (the streaming/curation ingest shape).
    // Hash-checkable by the d04 argument even though the band-bucket hash
    // is engine-internal: a doc drops iff it LSH-collides with any
    // earlier-processed doc (earlier increment, or smaller id in its own
    // increment — the store keeps dropped docs' buckets too, so no
    // recursion). On this corpus every true near-dup pair has jaccard
    // ≥ 0.888 (16-band/4-row miss prob (1-0.888⁴)¹⁶ ≈ 5e-8 → recall
    // provably 1.0) and every other pair has jaccard ≤ 0.07 (per-pair
    // accidental-collision prob ≤ 16·0.07⁴ ≈ 4e-4 → precision 1.0), so
    // the collision relation IS the exact-jaccard-≥0.5 relation and the
    // kept set is closed-form: keep-first over exhaustive DuckDB jaccard.
    // Replay idempotency and store retention stay spec-verified
    // (DedupSpec, StreamingDedupSpec).
    Q("d13_incremental_near_dedup",
      s"""WITH t AS (SELECT doc_id, doc_id % 3 AS inc, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |g AS (SELECT doc_id, inc,
         |        list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                       for i in range(1, len(toks)-1)]) AS grams
         |      FROM t WHERE len(toks) >= 3),
         |dropped AS (SELECT DISTINCT b.doc_id FROM g a JOIN g b
         |      ON (a.inc < b.inc OR (a.inc = b.inc AND a.doc_id < b.doc_id))
         |      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""") { (s, dir) =>
      val store = System.getProperty("java.io.tmpdir") + "/graft_neardup_" +
        Integer.toHexString(dir.hashCode)
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val kept = (0 until 3).map { i =>
        // bloom routing on (the scale path): each increment's history
        // probe is gated map-side by the persisted (band, bh) blob. Sized
        // for ~60k docs × 16 bands; beyond that the fpp degrades
        // gracefully (more rows routed through the exact semi-join, same
        // answer).
        Dedup.incrementalNearDedup(
          docs.filter(pmod(col("doc_id"), lit(3)) === i),
          "doc_id", "text", store, incrementId = s"inc$i",
          bloomExpectedItems = 1000000L)
          .select(col("doc_id"))
      }.reduce(_ unionByName _)
      kept.orderBy(col("doc_id"))
    },

    Q("d11_segment_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |seg AS (SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS para
         |        FROM t, LATERAL (SELECT unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS i) l),
         |kept AS (SELECT doc_id, pos, para,
         |                row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
         |         FROM seg),
         |k AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_clean,
         |             count(*) AS n_kept
         |      FROM kept WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean,
         |       coalesce(k.n_kept, 0) AS n_kept,
         |       CAST(ceil(len(string_split(d.text, ' '))/10.0) AS BIGINT) AS n_segments
         |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id
         |ORDER BY d.doc_id""") { (s, dir) =>
      val chunked = Tables(s, dir).documents
        .select(col("doc_id"), Dedup.chunkText(col("text"), 10, "\n").as("text"))
      Dedup.segmentDedup(chunked, "doc_id", "text", "\n")
        .orderBy(col("doc_id"))
    },

    // ---- language ID (marker-token voting) — confusion matrix vs the
    // dataset's lang label
    Q("t01_lang_id",
      s"""WITH t AS (SELECT lang, ${toksSql(normSql)} AS toks FROM documents),
         |c AS (SELECT lang,
         |  len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it'], x))) AS c_en,
         |  len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','en','un'], x))) AS c_es,
         |  len(list_filter(toks, x -> list_contains(['der','die','und','ist','das','nicht','ein','zu'], x))) AS c_de,
         |  len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','une','dans'], x))) AS c_fr,
         |  len(list_filter(toks, x -> list_contains(['i','v','ne','na','chto','eto','kak','po'], x))) AS c_ru
         |  FROM t),
         |p AS (SELECT lang,
         |  CASE WHEN greatest(c_en,c_es,c_de,c_fr,c_ru) = 0 THEN 'und'
         |       WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'en'
         |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'es'
         |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'de'
         |       WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'fr'
         |       ELSE 'ru' END AS predicted
         |  FROM c)
         |SELECT lang, predicted, COUNT(*) AS n
         |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""") { (s, dir) =>
      Tables(s, dir).documents
        .select(col("lang"), graft.plans.NativeFunctions.langId(
          graft.plans.NativeFunctions.normTokens(col("text"))).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },

    // ---- quality scoring (length / stopword / alpha heuristics),
    // bit-identical per-row double arithmetic in both engines
    Q("t02_quality_score",
      s"""WITH b AS (SELECT doc_id, text,
         |  CASE WHEN $normSql = '' THEN 0 ELSE len(${toksSql(normSql)}) END AS n_tokens,
         |  len(list_filter(${toksSql(normSql)}, x -> list_contains(
         |    ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by','at','this','that'], x))) AS stop_cnt,
         |  LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_len
         |  FROM documents)
         |SELECT doc_id, n_tokens, stop_cnt,
         |  CAST(alpha_len AS DOUBLE) / CAST(greatest(LENGTH(text), 1) AS DOUBLE) AS alpha_ratio,
         |  (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) *
         |  (0.5 * (CAST(stop_cnt AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0)) +
         |   0.5 * (CAST(alpha_len AS DOUBLE) / CAST(greatest(LENGTH(text), 1) AS DOUBLE))) AS score
         |FROM b ORDER BY doc_id""") { (s, dir) =>
      val toks = graft.plans.NativeFunctions.normTokens(col("text"))
      val sw = array(TextFunctions.DefaultStopwords.map(lit): _*)
      val nTok = size(toks).cast(DoubleType)
      val stopCnt = size(filter(toks, t => array_contains(sw, t)))
      val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      val alphaRatio = alpha.cast(DoubleType) /
        greatest(length(col("text")), lit(1)).cast(DoubleType)
      val lenOk = when(size(toks) >= 5 && size(toks) <= 100000, lit(1.0)).otherwise(lit(0.0))
      Tables(s, dir).documents
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          stopCnt.as("stop_cnt"),
          alphaRatio.as("alpha_ratio"),
          (lenOk * (lit(0.5) * (stopCnt.cast(DoubleType) / greatest(nTok, lit(1.0))) +
            lit(0.5) * alphaRatio)).as("score"))
        .orderBy(col("doc_id"))
    },

    // ---- token counting: whitespace + BPE-ish regex
    Q("t03_token_count",
      s"""SELECT doc_id,
         |  CASE WHEN $normSql = '' THEN 0 ELSE len(${toksSql(normSql)}) END AS ws_tokens,
         |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpeish_tokens
         |FROM documents ORDER BY doc_id""") { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          size(graft.plans.NativeFunctions.normTokens(col("text"))).as("ws_tokens"),
          TextFunctions.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- TF-IDF corpus statistics: per-(doc, term) counts + tf·ln(N/df)
    // weighting. Integer counts hash-match exactly; the double weight is
    // rounded to 4 places (both engines compute it from the same integer
    // inputs in IEEE doubles).
    Q("t05_tfidf",
      s"""WITH t AS (SELECT doc_id, unnest(${toksSql(normSql)}) AS term
         |          FROM documents WHERE $normSql <> ''),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf_count FROM t GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM t GROUP BY 1),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM t)
         |SELECT tf.doc_id, tf.term, tf.tf_count, df.df,
         |  round((CAST(tf.tf_count AS DOUBLE) / dl.doc_len) *
         |        ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf4
         |FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
         |ORDER BY doc_id, term""") { (s, dir) =>
      CorpusStats.tfidf(Tables(s, dir).documents, "doc_id",
          graft.plans.NativeFunctions.normTokens(col("text")))
        .select(col("doc_id"), col("term"), col("tf_count"), col("df"),
          round(col("tfidf"), 4).as("tfidf4"))
        .orderBy(col("doc_id"), col("term"))
    },

    // ---- token-budget sequence packing (concat-and-chunk): documents
    // laid out end-to-end in id order, cut into 512-token sequences. The
    // oracle's global window cumsum IS the semantics; the engine computes
    // it as a two-phase distributed prefix sum (per-partition totals
    // cumsum'd on the driver + bounded within-partition windows) so no
    // reducer ever sees more than one partition of the corpus.
    Q("t06_seq_pack",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  strt // 512 AS seq_id, strt % 512 AS seq_offset,
         |  (strt + greatest(n_tokens, 1) - 1) // 512 AS end_seq_id
         |FROM s ORDER BY doc_id""") { (s, dir) =>
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), TextFunctions.bpeishTokenCount(col("text")).as("tok"))
      Packing.concatChunk(docs, "doc_id", "tok", budget = 512)
        .orderBy(col("doc_id"))
    },

    // ---- the MATERIALIZED packed output (what the pipeline writes): one
    // row per (training sequence, document slice) — seq-local offset,
    // doc-local offset, slice length — derived from t06's layout, which
    // makes it fully deterministic and oracle-checkable.
    Q("t07_packed_slices",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |s AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
         |  FROM t),
         |sp AS (SELECT doc_id, n_tokens, strt,
         |    unnest(range(strt // 512, (strt + greatest(n_tokens, 1) - 1) // 512 + 1)) AS seq_id
         |  FROM s),
         |sl AS (SELECT seq_id,
         |    greatest(seq_id * 512, strt) - seq_id * 512 AS seq_off,
         |    doc_id,
         |    greatest(seq_id * 512, strt) - strt AS doc_off,
         |    least((seq_id + 1) * 512, strt + n_tokens) - greatest(seq_id * 512, strt) AS len
         |  FROM sp)
         |SELECT seq_id, seq_off, doc_id, doc_off, len
         |FROM sl WHERE len > 0 ORDER BY seq_id, seq_off""") { (s, dir) =>
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), TextFunctions.bpeishTokenCount(col("text")).as("tok"))
      Packing.packedSlices(
          Packing.concatChunk(docs, "doc_id", "tok", budget = 512), "doc_id", 512)
        .orderBy(col("seq_id"), col("seq_off"))
    },

    // ---- winnowing fingerprints (MOSS scheme): k-gram md5-prefix hashes,
    // sliding-window minima, dedup — any shared ≥ (w+k-1)-token run between
    // docs shares a fingerprint at ~1/w the storage of full shingling. The
    // portable md5-prefix hash makes the whole pipeline oracle-checkable.
    Q("t04_winnowing",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= 3
         |             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                   for i in range(1, len(toks)-1)]
         |             ELSE [] END AS grams
         |      FROM t),
         |h AS (SELECT doc_id,
         |        [CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) for g in grams] AS hs
         |      FROM g),
         |f AS (SELECT doc_id,
         |        CASE WHEN len(hs) = 0 THEN []
         |             WHEN len(hs) < 4 THEN [list_min(hs)]
         |             ELSE list_sort(list_distinct(
         |               [list_min(hs[i:i+3]) for i in range(1, len(hs)-2)]))
         |        END AS fps
         |      FROM h)
         |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""") { (s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"),
          explode(TextFunctions.winnowingFingerprint(col("text"), k = 3, w = 4)).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    },

    // ---- benchmark decontamination: winnow BOTH sides (docs with
    // doc_id < 25 stand in as the "eval set", the rest as the training
    // corpus), broadcast-join eval fingerprints, report per-pair shared
    // fingerprint counts. Integer columns only — the containment ratio
    // stays operator-side (round-half parity between engines is not
    // guaranteed on ratio midpoints).
    Q("t08_decontaminate",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= 3
         |             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                   for i in range(1, len(toks)-1)]
         |             ELSE [] END AS grams
         |      FROM t),
         |h AS (SELECT doc_id,
         |        [CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) for g in grams] AS hs
         |      FROM g),
         |f AS (SELECT doc_id,
         |        CASE WHEN len(hs) = 0 THEN []
         |             WHEN len(hs) < 4 THEN [list_min(hs)]
         |             ELSE list_sort(list_distinct(
         |               [list_min(hs[i:i+3]) for i in range(1, len(hs)-2)]))
         |        END AS fps
         |      FROM h),
         |c AS (SELECT doc_id, unnest(fps) AS fp FROM f WHERE doc_id >= 25),
         |ec AS (SELECT doc_id AS eval_id, len(fps) AS eval_fps FROM f WHERE doc_id < 25),
         |e AS (SELECT doc_id AS eval_id, unnest(fps) AS fp FROM f WHERE doc_id < 25)
         |SELECT c.doc_id, e.eval_id AS eval_id, COUNT(*) AS shared_fps,
         |  CAST(ec.eval_fps AS INT) AS eval_fps
         |FROM c JOIN e USING (fp) JOIN ec ON e.eval_id = ec.eval_id
         |GROUP BY c.doc_id, e.eval_id, ec.eval_fps
         |HAVING COUNT(*) >= 2
         |ORDER BY c.doc_id, e.eval_id""") { (s, dir) =>
      val docs = Tables(s, dir).documents
      Decontaminate.overlapReport(
          docs.filter(col("doc_id") >= 25), "doc_id", "text",
          docs.filter(col("doc_id") < 25), "doc_id", "text",
          k = 3, w = 4, minShared = 2)
        .select(col("doc_id"), col("eval_id"), col("shared_fps"), col("eval_fps"))
        .orderBy(col("doc_id"), col("eval_id"))
    },

    // ---- embedding-space decontamination (the semantic companion to
    // t08's n-gram winnowing: paraphrased/translated benchmark items
    // share no 3-gram but sit close in embedding space). Eval set =
    // vec_id < 20 broadcast; corpus side is one map-side scored pass +
    // partial-aggregated argmax — corpus vectors never shuffle.
    Q("t36_embedding_decontaminate",
      """WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS evv
        |            FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 20),
        |s AS (SELECT c.vec_id, ev.eval_id,
        |        list_cosine_similarity(c.v, ev.evv) AS cos
        |      FROM c CROSS JOIN ev
        |      WHERE list_cosine_similarity(c.v, ev.evv) >= 0.25),
        |f AS (SELECT vec_id, eval_id, cos,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY cos DESC, eval_id) AS rn FROM s)
        |SELECT vec_id AS doc_vec_id, eval_id, round(cos, 4) + 0 AS cos4
        |FROM f WHERE rn = 1 ORDER BY doc_vec_id""") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      Decontaminate.embeddingOverlapReport(
          emb.filter(col("vec_id") >= 20), "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          minCosine = 0.25)
        .select(col("vec_id").as("doc_vec_id"), col("eval_id"),
          round(col("cosine"), 4).as("cos4"))
        .orderBy(col("doc_vec_id"))
    },

    // ---- deterministic dataset split (train/val/test mixing): bucket =
    // md5("salt:key") first 8 hex digits mod 10000 → cumulative weights.
    // Pure map-side expression — no shuffle, no sampling pass — and
    // append-stable: new docs never reassign old ones. md5 makes the
    // assignment reproducible by ANY engine (the oracle recomputes it).
    Q("t09_hash_split",
      """WITH b AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat('mix1:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 9000 THEN 'train'
        |       WHEN bucket < 9500 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""") { (s, dir) =>
      DatasetSplit.withSplit(Tables(s, dir).documents, col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "mix1")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },

    // ---- weighted dataset mixing: per-source up/down-sampling into
    // epochs (src0 2.5x, src1 0.25x, src2 dropped, everything else 1x),
    // fractional epochs decided by the md5 bucket of key#epoch
    Q("t13_dataset_mix",
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END AS f,
        |    CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500 WHEN 'src2' THEN 0 ELSE 0 END AS thr
        |  FROM documents),
        |e AS (SELECT doc_id, source, f, thr,
        |        unnest(range(0, f + CASE WHEN thr > 0 THEN 1 ELSE 0 END)) AS epoch
        |      FROM w)
        |SELECT doc_id, source, epoch FROM e
        |WHERE epoch < f OR
        |  CAST(concat('0x', substr(md5(concat('mix2:', CAST(doc_id AS VARCHAR), '#', CAST(epoch AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 < thr
        |ORDER BY doc_id, epoch""") { (s, dir) =>
      DatasetMix.mixBySourceWeights(
          Tables(s, dir).documents.select(col("doc_id"), col("source")),
          "source", col("doc_id"),
          Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0),
          defaultWeight = 1.0, salt = "mix2")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // ---- deterministic training-order shuffle: seeded md5 order with a
    // two-phase distributed rank (no global window)
    Q("t14_det_shuffle",
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(concat('ord1:', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS shuffle_pos
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      DatasetMix.deterministicShuffle(
          Tables(s, dir).documents.select(col("doc_id")),
          col("doc_id"), salt = "ord1")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    },

    // ---- PII scrubbing (C4-style): deterministic synthetic PII is
    // appended per doc (email/phone/IP derived from doc_id), then
    // redacted. Counts are pre-scrub matches; the scrubbed text is
    // checked via md5 (engine-portable) instead of shipping full bodies.
    Q("t10_pii_scrub",
      """WITH e AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.7' AS t FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t, '\b\d{3}[- ]\d{4}\b')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}[- ]\d{4}\b', '[PHONE]', 'g')) AS scrub_md5
        |FROM e ORDER BY doc_id""") { (s, dir) =>
      val enriched = concat(col("text"),
        lit(" contact user"), col("doc_id").cast(StringType),
        lit("@example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast(StringType), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast(StringType),
        lit(".7"))
      Tables(s, dir).documents
        .select(col("doc_id"), enriched.as("t"))
        .select(col("doc_id"),
          TextFunctions.piiCount(col("t"), TextFunctions.EmailRe).as("n_email"),
          TextFunctions.piiCount(col("t"), TextFunctions.Ipv4Re).as("n_ip"),
          TextFunctions.piiCount(col("t"), TextFunctions.PhoneRe).as("n_phone"),
          md5(TextFunctions.scrubPii(col("t"))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- blocklist gate: distinct whole-token wordlist hits + keep
    // decision, rolled up per source ("slow"/"vector" occur in the
    // corpus, "spam" never — exercises both hit and miss paths)
    Q("t11_blocklist_filter",
      s"""WITH b AS (SELECT doc_id, source,
         |  len(list_intersect(list_distinct(${toksSql(normSql)}),
         |      ['slow', 'vector', 'spam'])) AS hits
         |  FROM documents)
         |SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(hits) AS BIGINT) AS total_hits
         |FROM b GROUP BY source ORDER BY source""") { (s, dir) =>
      val hits = TextFunctions.blocklistHits(col("text"),
        Seq("slow", "vector", "spam"))
      Tables(s, dir).documents
        .select(col("source"), hits.as("hits"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") === 0, 1L).otherwise(0L)).as("n_kept"),
          sum(col("hits")).cast(LongType).as("total_hits"))
        .orderBy(col("source"))
    },

    // ---- repetition signal (Gopher-style): duplicate word-n-gram
    // fraction for n=2,3. Doubles divide the same integers in IEEE
    // arithmetic in both engines — exact hash parity.
    Q("t12_repetition_ratio",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 2
         |       THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         |       ELSE [] END AS g2,
         |  CASE WHEN len(toks) >= 3
         |       THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |             for i in range(1, len(toks)-1)]
         |       ELSE [] END AS g3
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END AS dup2,
         |  CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) END AS dup3
         |FROM g ORDER BY doc_id""") { (s, dir) =>
      Tables(s, dir).documents
        .filter(TextFunctions.normalizeText(col("text")) =!= "")
        .select(col("doc_id"),
          TextFunctions.duplicateNgramFraction(col("text"), 2).as("dup2"),
          TextFunctions.duplicateNgramFraction(col("text"), 3).as("dup3"))
        .orderBy(col("doc_id"))
    },

    // ---- the end-to-end curation pipeline, composed from the operators
    // above in ONE declarative DAG (what a training-data job actually
    // runs): language-ID -> quality gate -> exact dedup (min-id per
    // fingerprint) -> deterministic hash split -> per-(split, lang)
    // corpus accounting. Every stage is individually oracle-proven
    // (t01/t02/d01/t09); this row proves the COMPOSITION — Catalyst
    // collapses all map-side stages into one pass over documents before
    // the dedup shuffle.
    Q("t16_curation_pipeline",
      s"""WITH b AS (SELECT doc_id, text, $normSql AS norm FROM documents),
         |c AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM b),
         |d AS (SELECT doc_id, text, norm, toks,
         |  CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS n_tokens,
         |  len(list_filter(toks, x -> list_contains(
         |    ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','by','at','this','that'], x))) AS stop_cnt,
         |  LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_len,
         |  len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it'], x))) AS c_en,
         |  len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','en','un'], x))) AS c_es,
         |  len(list_filter(toks, x -> list_contains(['der','die','und','ist','das','nicht','ein','zu'], x))) AS c_de,
         |  len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','une','dans'], x))) AS c_fr,
         |  len(list_filter(toks, x -> list_contains(['i','v','ne','na','chto','eto','kak','po'], x))) AS c_ru
         |  FROM c),
         |e AS (SELECT doc_id, norm, n_tokens,
         |  CASE WHEN greatest(c_en,c_es,c_de,c_fr,c_ru) = 0 THEN 'und'
         |       WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'en'
         |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'es'
         |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'de'
         |       WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_ru) THEN 'fr'
         |       ELSE 'ru' END AS lang,
         |  (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) *
         |  (0.5 * (CAST(stop_cnt AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0)) +
         |   0.5 * (CAST(alpha_len AS DOUBLE) / CAST(greatest(LENGTH(text), 1) AS DOUBLE))) AS score
         |  FROM d),
         |k AS (SELECT doc_id, norm, n_tokens, lang FROM e
         |      WHERE lang IN ('en','es','de','fr') AND score >= 0.35),
         |f AS (SELECT doc_id, norm, n_tokens, lang, md5(norm) AS fp FROM k),
         |g AS (SELECT fp, MIN(doc_id) AS keep_id FROM f GROUP BY fp),
         |h AS (SELECT f.doc_id, f.lang, f.n_tokens FROM f
         |      JOIN g ON f.fp = g.fp AND f.doc_id = g.keep_id),
         |s AS (SELECT doc_id, lang, n_tokens,
         |  CAST(concat('0x', substr(md5(concat('cur1:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 AS bucket
         |  FROM h)
         |SELECT CASE WHEN bucket < 9000 THEN 'train'
         |            WHEN bucket < 9500 THEN 'val'
         |            ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM s GROUP BY 1, 2 ORDER BY split, lang""") { (s, dir) =>
      val toks = graft.plans.NativeFunctions.normTokens(col("text"))
      val enriched = Tables(s, dir).documents
        .select(col("doc_id"), col("text"),
          graft.plans.NativeFunctions.langId(toks).as("lang"),
          size(toks).cast(LongType).as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("score"))
      val kept = enriched
        .filter(col("lang").isin("en", "es", "de", "fr") && col("score") >= 0.35)
      val deduped = Dedup.exactDedup(kept, "doc_id", "text")
      DatasetSplit.withSplit(deduped, col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "cur1")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("split"), col("lang"))
    },

    // ---- Unicode NFC normalization (corpus hygiene BEFORE content
    // fingerprinting): decomposed sequences (e + U+0301) are appended
    // deterministically per doc, then canonically composed. The oracle is
    // DuckDB's nfc_normalize — md5 parity proves byte-identical NFC
    // output across engines; the length delta shows composition happened.
    Q("t17_nfc_normalize",
      """WITH e AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' nino' || chr(771) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  length(t) AS len_raw,
        |  length(nfc_normalize(t)) AS len_nfc,
        |  md5(nfc_normalize(t)) AS nfc_md5
        |FROM e ORDER BY doc_id""") { (s, dir) =>
      // decomposed on purpose: e + U+0301, o + U+0303 (mirrors the
      // oracle's chr() appends); NFC composes both
      val t = concat(col("text"), lit(" cafe\u0301 nino\u0303"))
      Tables(s, dir).documents
        .select(col("doc_id"),
          length(t).as("len_raw"),
          length(graft.plans.NativeFunctions.nfcNormalize(t)).as("len_nfc"),
          md5(graft.plans.NativeFunctions.nfcNormalize(t)).as("nfc_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic per-stratum RATE sampling (curation: keep 50% of
    // src0, 25% of src1, drop src2, keep the rest): md5-bucket threshold
    // per stratum, pure map-side filter — no shuffle, no sampling pass,
    // append-stable. Any engine reproduces the exact selection.
    Q("t18_stratified_sample",
      """SELECT doc_id, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(concat('smp1:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000 <
        |  CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500
        |              WHEN 'src2' THEN 0 ELSE 10000 END
        |ORDER BY doc_id""") { (s, dir) =>
      Sampling.stratifiedSample(
          Tables(s, dir).documents.select(col("doc_id"), col("source")),
          col("source"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0),
          defaultFraction = 1.0, salt = "smp1")
        .orderBy(col("doc_id"))
    },

    // ---- deterministic per-stratum QUOTA sampling (exactly n docs per
    // source, e.g. a balanced eval set): phase 1 computes each stratum's
    // n-th-smallest (md5-order, id) cutoff via a partial-aggregated
    // bounded min-k buffer (O(n) map-side state — never a per-stratum
    // window reducer), phase 2 broadcasts the per-stratum cutoffs and
    // filters map-side. The oracle re-derives the same selection with a
    // window, feasible at oracle scale.
    Q("t19_quota_sample",
      """WITH h AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(concat('smp2:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ho
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY ho, doc_id) AS rn FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 12 ORDER BY doc_id""") { (s, dir) =>
      Sampling.stratifiedExactN(
          Tables(s, dir).documents.select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), n = 12, salt = "smp2")
        .orderBy(col("doc_id"))
    },

    // ---- weighted sampling without replacement (data mixing by doc
    // weight — Efraimidis-Spirakis exponential clocks over the same
    // md5-uniform as t09/t18/t19, selected by the partial-aggregated
    // min-k cutoff, never a global sort). Deterministic in (salt, id, w),
    // so the oracle recomputes the exact selection.
    Q("t24_weighted_sample",
      """WITH h AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS w,
        |  -ln((CAST(concat('0x', substr(md5(concat('wsamp:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 0.5)
        |      / 1152921504606846976.0) / len(text) AS e
        |  FROM documents),
        |s AS (SELECT doc_id, w FROM h ORDER BY e, doc_id LIMIT 60)
        |SELECT doc_id, w FROM s ORDER BY doc_id""") { (s, dir) =>
      val d = Tables(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast(LongType).as("w"))
      Sampling.weightedExactN(d, col("doc_id"), col("w"), n = 60,
          salt = "wsamp")
        .orderBy(col("doc_id"))
    },

    // ---- document-partitioned inverted index (term -> sorted postings;
    // the full-text sibling of the ngrambf skip index). Single-shard here
    // (every doc_id < 2^40), so df_shard IS the global df; the sharded
    // layout is spec-asserted. minDf trims the long tail to keep the
    // board's output bounded.
    Q("t25_inverted_index",
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents)
        |SELECT term, CAST(0 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS df_shard,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM t GROUP BY term HAVING count(*) >= 50 ORDER BY term""") { (s, dir) =>
      // driver compat: postings stay array-typed in the index itself;
      // the board's declared output serializes them (pandas sort)
      InvertedIndex.build(
          Tables(s, dir).documents,
          col("doc_id"), split(col("text"), " "), minDfShard = 50L)
        .transform(Q.scalarize)
        .orderBy(col("term"))
    },

    // ---- feature hashing (the hashing trick): token array → dense
    // 32-bucket count vector via the portable md5-prefix hash — the
    // classic cheap featurization for shallow quality/topic models.
    // One kernel pass per doc, O(dim) output regardless of vocabulary;
    // the oracle rebuilds the dense vector per bucket.
    Q("t26_hashing_tf",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |           FROM documents WHERE $normSql <> ''),
         |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |b AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS bkt
         |      FROM u),
         |c AS (SELECT doc_id, bkt, count(*) AS c FROM b GROUP BY 1, 2),
         |g AS (SELECT doc_id, r.i FROM (SELECT DISTINCT doc_id FROM t)
         |      CROSS JOIN range(0, 32) AS r(i)),
         |d AS (SELECT g.doc_id, g.i, COALESCE(c.c, 0) AS c FROM g
         |      LEFT JOIN c ON c.doc_id = g.doc_id AND c.bkt = g.i)
         |SELECT doc_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS tf
         |FROM d GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      // driver compat: the tf vector is serialized in the declared output
      // (pandas sort can't handle array cells); hashingTf itself stays
      // array-typed for downstream model use
      Tables(s, dir).documents
        .select(col("doc_id"),
          graft.plans.NativeFunctions.normTokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"),
          concat_ws(",", graft.plans.NativeFunctions.hashingTf(col("__toks"), 32)
            .cast("array<string>")).as("tf"))
        .orderBy(col("doc_id"))
    },

    // ---- REAL learned BPE tokenizer: merge table fit on a bounded
    // hash-ordered sample (driver state = sample × vocab cap, the IVF
    // sampled-fit shape), broadcast ranks, map-only greedy encode.
    // rows-only: BPE's iterative merge learning has no SQL spelling —
    // determinism + decode-identity + known-merge behavior are
    // spec-asserted (BpeTokenizerSpec).
    Q.noOracle("t27_bpe_tokenize") { (s, dir) =>
      val docs = Tables(s, dir).documents
      val merges = BpeTokenizer.fit(docs, "doc_id", "text",
        numMerges = 100, sampleN = 200)
      BpeTokenizer.encodeStats(docs, "doc_id", "text", merges)
        .withColumn("compression",
          round(col("n_bpe_tokens").cast(DoubleType) /
            greatest(col("n_words"), lit(1L)).cast(DoubleType), 4))
        .orderBy(col("doc_id"))
    },

    // ---- model-based quality filtering (the CCNet/fastText-classifier
    // stage): distill the cheap heuristic gate into a logistic model
    // over hashing-trick features — sampled driver fit, closure-shipped
    // weights, map-only scoring. rows-only: an iterative GD fit has no
    // SQL spelling; ranking quality (AUC > 0.9 on planted junk),
    // determinism, and feature parity are spec-asserted
    // (QualityClassifierSpec).
    // ---- embedding k-means clustering (topic bucketing for mixing /
    // corpus analysis): bounded seeded Lloyd fit + map-side best-cosine
    // assignment. rows-only: centroids are engine-internal (planted-
    // cluster recovery, purity and determinism are spec-asserted).
    Q.noOracle("t29_embedding_clusters") { (s, dir) =>
      SimilaritySearch.embeddingClusters(
          Tables(s, dir).embeddings, "vec_id", "embedding", k = 10)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("cos_to_center")), 4).as("avg_cos"))
        .orderBy(col("cluster"))
    },

    // ---- SemDeDup (Abbas et al. 2023): semantic dedup via k-means
    // cluster-then-prune — exact cosine only within clusters, drop the
    // higher id of each near-dup pair. rows-only: the k-means fit has no
    // SQL spelling; the prune contract (survivors have no within-cluster
    // pair >= threshold, every dropped row names a surviving lower-id
    // twin, partition invariance) is spec-asserted (DedupSpec).
    Q.noOracle("t32_sem_dedup") { (s, dir) =>
      // 0.45 sits just under the testdata's top pairwise cosines (~0.51),
      // so the prune actually fires on the driver corpus; production
      // SemDeDup uses ~0.95+ on real embedding spaces. k scales with the
      // corpus (fixed ~500-vector clusters) so the within-cluster
      // quadratic stays bounded at any SF.
      Dedup.semDedup(Tables(s, dir).embeddings, "vec_id", "embedding",
          k = 8, minCosine = 0.45, targetClusterSize = 500)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },

    Q.noOracle("t28_quality_classifier") { (s, dir) =>
      val docs = Tables(s, dir).documents
      val heur = graft.functions.TextFunctions.qualityScore(col("text")) >= 0.35
      val model = QualityClassifier.fit(docs, "doc_id", "text",
        heur.cast("int"), dim = 128, sampleN = 300, epochs = 200)
      docs.select(col("doc_id"),
          heur.cast("int").as("label_heur"),
          round(QualityClassifier.scoreColumn(col("text"), model), 4)
            .as("model_score"))
        .orderBy(col("doc_id"))
    },

    // ---- BM25 ranked retrieval (Robertson/Okapi, Lucene idf variant)
    // over the normalized token stream — the scoring sibling of the t25
    // inverted index and t05 tf-idf. The oracle spells the identical
    // arithmetic in DuckDB (same literal constants, same association);
    // round(.,4) absorbs libm ln ULP differences.
    Q("t30_bm25",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks,
         |  CASE WHEN $normSql = '' THEN 0 ELSE len(${toksSql(normSql)}) END AS dl
         |  FROM documents),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM t),
         |h AS (SELECT doc_id, dl, unnest(toks) AS term FROM t),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM h
         |       WHERE term IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * (1.2 + 1) /
         |             (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))) AS score
         |       FROM tf JOIN df USING (term) CROSS JOIN s GROUP BY 1)
         |SELECT doc_id, round(score, 4) AS score4 FROM sc ORDER BY doc_id""") { (s, dir) =>
      InvertedIndex.bm25Rank(Tables(s, dir).documents, col("doc_id"),
          graft.plans.NativeFunctions.normTokens(col("text")),
          Seq("hash", "merge", "vector"))
        .select(col("doc_id"), round(col("score"), 4).as("score4"))
        .orderBy(col("doc_id"))
    },

    // ---- Gopher quality rules (Rae et al. 2021, Appendix A): word
    // count, mean word length, symbol-to-word ratio, bullet/ellipsis
    // line fractions, alphabetic-word fraction, stopword presence, and
    // the composed keep flag. The keep decision compares UNROUNDED
    // doubles on both sides — identical arithmetic, so thresholds agree
    // exactly; displayed ratios round to 4dp.
    Q("t31_gopher_rules",
      s"""WITH b AS (SELECT doc_id, text,
         |  CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[])
         |       ELSE ${toksSql(normSql)} END AS toks,
         |  string_split(text, chr(10)) AS lines
         |  FROM documents),
         |m AS (SELECT doc_id, len(toks) AS n_words,
         |  CASE WHEN len(toks) > 0 THEN
         |    CAST(list_sum(list_transform(toks, x -> LENGTH(x))) AS DOUBLE) / len(toks)
         |  ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(toks) > 0 THEN
         |    (CAST(LENGTH(text) - LENGTH(replace(text, '#', '')) AS DOUBLE) +
         |     (LENGTH(text) - LENGTH(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3.0)
         |    / len(toks)
         |  ELSE 0.0 END AS symbol_ratio,
         |  CAST(len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR
         |    ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS DOUBLE)
         |    / greatest(len(lines), 1) AS bullet_frac,
         |  CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR
         |    rtrim(l) LIKE '%…')) AS DOUBLE)
         |    / greatest(len(lines), 1) AS ellipsis_frac,
         |  CASE WHEN len(toks) > 0 THEN
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks)
         |  ELSE 0.0 END AS alpha_frac,
         |  len(list_intersect(toks,
         |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS stop_distinct
         |  FROM b)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  round(mean_word_len, 4) AS mean_wlen4,
         |  round(symbol_ratio, 4) AS symbol_ratio4,
         |  round(bullet_frac, 4) AS bullet_frac4,
         |  round(ellipsis_frac, 4) AS ellipsis_frac4,
         |  round(alpha_frac, 4) AS alpha_frac4,
         |  CAST(stop_distinct AS BIGINT) AS stop_distinct,
         |  CAST(n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
         |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         |   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         |   AND stop_distinct >= 2 AS INT) AS keep
         |FROM m ORDER BY doc_id""") { (s, dir) =>
      val m = TextFunctions.gopherMetrics(col("text"))
      Tables(s, dir).documents
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          round(col("m.mean_word_len"), 4).as("mean_wlen4"),
          round(col("m.symbol_ratio"), 4).as("symbol_ratio4"),
          round(col("m.bullet_frac"), 4).as("bullet_frac4"),
          round(col("m.ellipsis_frac"), 4).as("ellipsis_frac4"),
          round(col("m.alpha_frac"), 4).as("alpha_frac4"),
          col("m.stop_distinct").as("stop_distinct"),
          col("m.keep").as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- HTML text extraction (web-crawl curation step 1): documents
    // are wrapped in deterministic markup (script/style/comments/tags/
    // entities), then the extractor strips markup and decodes entities.
    // All patterns are RE2-portable, so the oracle reproduces the
    // extraction byte-for-byte — md5 parity proves it.
    Q("t20_html_extract",
      """WITH e AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style>p { color: red }</style><script>if (1 < 2) { x(); }</script></head>' ||
        |  '<body><!-- hidden --><p class="main">' || text ||
        |  '</p><a href="/u?a=1&amp;b=2">link &amp; more</a>&nbsp;&lt;end&gt;</body></html>' AS h
        |  FROM documents),
        |x AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS txt
        |  FROM e)
        |SELECT doc_id, length(txt) AS txt_len, md5(txt) AS txt_md5
        |FROM x ORDER BY doc_id""") { (s, dir) =>
      val h = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast(StringType),
        lit("</title><style>p { color: red }</style><script>if (1 < 2) { x(); }</script></head>"),
        lit("<body><!-- hidden --><p class=\"main\">"), col("text"),
        lit("</p><a href=\"/u?a=1&amp;b=2\">link &amp; more</a>&nbsp;&lt;end&gt;</body></html>"))
      val txt = TextFunctions.extractHtmlText(h)
      Tables(s, dir).documents
        .select(col("doc_id"), length(txt).as("txt_len"), md5(txt).as("txt_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- URL canonicalization + URL-level dedup (crawl curation): the
    // same page arrives as HTTP://Host:80/p/?utm_source=x&b=1#f and
    // http://host/p?b=1 — canonicalize (lowercase scheme/host, strip
    // port/userinfo/fragment/trailing slash, drop tracking params, sort
    // survivors), then group. Synthetic variants derive from doc_id so
    // the oracle reproduces the exact merge: 20 canonical pages.
    Q("t21_url_canon",
      """WITH u AS (SELECT doc_id,
        |  'HTTP://ExAmple' || CAST(doc_id % 5 AS VARCHAR) || '.COM' ||
        |  CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END ||
        |  '/p/' || CAST(doc_id % 20 AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
        |  '?b=2&utm_source=s' || CAST(doc_id AS VARCHAR) ||
        |  '&a=1#f' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  list_sort(list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |    x -> x <> '' AND NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid')
        |      OR starts_with(x, 'gclid') OR starts_with(x, 'msclkid')
        |      OR starts_with(x, 'ref_') OR starts_with(x, 'mc_cid')
        |      OR starts_with(x, 'mc_eid')))) AS prms
        |  FROM u),
        |c AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' ||
        |  lower(regexp_replace(regexp_replace(
        |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
        |    '^[^@]*@', '', 'g'), ':[0-9]+$', '', 'g')) ||
        |  regexp_replace(regexp_extract(url,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '', 'g') ||
        |  CASE WHEN len(prms) > 0 THEN '?' || array_to_string(prms, '&') ELSE '' END AS canon
        |  FROM p)
        |SELECT canon, MIN(doc_id) AS keep_id, count(*) AS n_variants
        |FROM c GROUP BY canon ORDER BY canon""") { (s, dir) =>
      import graft.functions.UrlFunctions
      val id = col("doc_id")
      val url = concat(
        lit("HTTP://ExAmple"), (id % 5).cast(StringType), lit(".COM"),
        when(id % 2 === 0, ":80").otherwise(""),
        lit("/p/"), (id % 20).cast(StringType),
        when(id % 3 === 0, "/").otherwise(""),
        lit("?b=2&utm_source=s"), id.cast(StringType),
        lit("&a=1#f"), id.cast(StringType))
      Tables(s, dir).documents
        .select(id, UrlFunctions.canonicalizeUrl(url).as("canon"))
        .groupBy(col("canon"))
        .agg(min(id).as("keep_id"), count(lit(1)).as("n_variants"))
        .orderBy(col("canon"))
    },

    // ---- overlapping token-window chunking (RAG/embedding prep): 48-token
    // windows, 8-token overlap, provenance per chunk. Deterministic layout
    // → the oracle recomputes every chunk byte-for-byte (md5 parity).
    Q("t22_chunk_overlap",
      """WITH t AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |n AS (SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 48 THEN 1
        |         ELSE CAST(ceil((len(toks) - 48) / 40.0) AS INT) + 1 END AS nc
        |  FROM t),
        |c AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS k FROM n)
        |SELECT doc_id, CAST(k AS INT) AS chunk_id,
        |  CAST(k * 40 AS INT) AS start_tok,
        |  CAST(least(48, n - k * 40) AS INT) AS n_toks,
        |  md5(array_to_string(toks[(k * 40 + 1):(k * 40 + 48)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""") { (s, dir) =>
      Packing.chunkByTokens(
          Tables(s, dir).documents.filter(trim(col("text")) =!= ""),
          "doc_id", "text", maxTokens = 48, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_toks"), md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- retrieval pipeline (composed): overlap-chunk every document
    // (t22's chunker), score chunks with BM25 (t30's scorer over the
    // CHUNK corpus — chunk-level df/avgdl), return the global top-20
    // chunks. Ranking sorts the ROUNDED score + ids, so the boundary
    // row is deterministic even where raw scores differ in ULPs.
    Q("t33_retrieval_pipeline",
      s"""WITH t0 AS (SELECT doc_id,
         |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS wtoks
         |  FROM documents WHERE trim(text) <> ''),
         |n AS (SELECT doc_id, wtoks, len(wtoks) AS n,
         |    CASE WHEN len(wtoks) <= 48 THEN 1
         |         ELSE CAST(ceil((len(wtoks) - 48) / 40.0) AS INT) + 1 END AS nc
         |  FROM t0),
         |c AS (SELECT doc_id, CAST(k AS INT) AS chunk_id,
         |    array_to_string(wtoks[(k * 40 + 1):(k * 40 + 48)], ' ') AS chunk
         |  FROM (SELECT doc_id, wtoks, nc, unnest(range(0, nc)) AS k FROM n)),
         |t AS (SELECT doc_id, chunk_id, ${toksSql(normSqlOf("chunk"))} AS toks,
         |    CASE WHEN ${normSqlOf("chunk")} = '' THEN 0
         |         ELSE len(${toksSql(normSqlOf("chunk"))}) END AS dl
         |  FROM c),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM t),
         |h AS (SELECT doc_id, chunk_id, dl, unnest(toks) AS term FROM t),
         |tf AS (SELECT doc_id, chunk_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |       FROM h WHERE term IN ('hash', 'merge', 'vector')
         |       GROUP BY 1, 2, 3, 4),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.chunk_id,
         |         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * (1.2 + 1) /
         |             (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))) AS score
         |       FROM tf JOIN df USING (term) CROSS JOIN s GROUP BY 1, 2)
         |SELECT doc_id, chunk_id, round(score, 4) AS score4 FROM sc
         |ORDER BY score4 DESC, doc_id, chunk_id LIMIT 20""") { (s, dir) =>
      val chunks = Packing.chunkByTokens(
          Tables(s, dir).documents.filter(trim(col("text")) =!= ""),
          "doc_id", "text", maxTokens = 48, overlap = 8)
        .withColumn("cid", col("doc_id") * 10000 + col("chunk_id"))
      InvertedIndex.bm25Rank(chunks, col("cid"),
          graft.plans.NativeFunctions.normTokens(col("chunk")),
          Seq("hash", "merge", "vector"))
        .select((col("doc_id") / 10000).cast(LongType).as("doc"),
          pmod(col("doc_id"), lit(10000)).cast(IntegerType).as("chunk_id"),
          round(col("score"), 4).as("score4"))
        .withColumnRenamed("doc", "doc_id")
        .orderBy(col("score4").desc, col("doc_id"), col("chunk_id"))
        .limit(20)
    },

    // ---- DSIR importance weights (Xie et al. 2023): log-likelihood
    // ratio of an add-one-smoothed target unigram model (lang='en' docs)
    // over the raw-pool model, shared top-V vocabulary with a
    // deterministic (count desc, token asc) cutoff. Per-token weights
    // are identical exact-integer arithmetic in both engines; only the
    // per-doc double sum needs round(4) (t30's precedent).
    Q("t34_dsir_weights",
      s"""WITH t AS (SELECT doc_id, lang,
         |    CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[])
         |         ELSE ${toksSql(normSql)} END AS toks FROM documents),
         |h AS (SELECT doc_id, lang = 'en' AS tgt, unnest(toks) AS tok FROM t),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr,
         |        CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |      FROM h GROUP BY tok),
         |v AS (SELECT tok, cr, ct FROM c ORDER BY cr DESC, tok LIMIT 400),
         |s AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr, CAST(sum(ct) AS DOUBLE) AS nt,
         |        CAST(count(*) AS DOUBLE) AS vn FROM v),
         |m AS (SELECT tok, ln((ct + 1.0) / (s.nt + s.vn))
         |        - ln((cr + 1.0) / (s.nr + s.vn)) AS w
         |      FROM v CROSS JOIN s),
         |sc AS (SELECT h.doc_id, sum(m.w) AS llr FROM h JOIN m USING (tok)
         |       GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(t.toks) AS BIGINT) AS n_toks,
         |  round(coalesce(sc.llr, 0.0), 4) + 0.0 AS llr4
         |FROM t LEFT JOIN sc USING (doc_id) ORDER BY t.doc_id""") { (s, dir) =>
      val docs = Tables(s, dir).documents
      val toks = graft.plans.NativeFunctions.normTokens(col("text"))
      // n_toks rides out of the operator's own scoring pass — a second
      // tokenize + doc-key join here cost a full corpus re-scan
      graft.operators.Dsir.importanceWeights(docs, col("doc_id"), toks,
          col("lang") === "en", vocabSize = 400, emitTokenCount = true)
        .select(col("id").as("doc_id"), col("n_toks"),
          (round(col("llr"), 4) + lit(0.0)).as("llr4"))
        .orderBy(col("doc_id"))
    },

    // ---- incremental exact dedup as a driver-verified row (the op's
    // replay/bloom semantics are spec'd in DedupSpec; this row pins the
    // VALUES): batch1 (doc_id < 250) seeds the store, batch2 adds the
    // rest plus planted duplicates (same text, doc_id + 10000) of every
    // doc_id % 7 == 0 doc — copies of batch1 docs must fall to the store
    // anti-join, copies of batch2 docs to in-batch keep-first. The store
    // is wiped up front so every run replays the same two increments;
    // bloom routing is ON to exercise the scale path (correctness never
    // depends on it).
    Q("t35_incremental_dedup",
      """WITH b1 AS (SELECT DISTINCT text FROM documents WHERE doc_id < 250),
        |p AS (SELECT doc_id + 10000 AS doc_id, text FROM documents
        |      WHERE doc_id % 7 = 0),
        |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |       UNION ALL SELECT doc_id, text FROM p),
        |k AS (SELECT doc_id, text,
        |        min(doc_id) OVER (PARTITION BY text) AS first_id FROM b2)
        |SELECT k.doc_id, CAST(length(k.text) AS BIGINT) AS n_chars
        |FROM k LEFT JOIN b1 ON k.text = b1.text
        |WHERE b1.text IS NULL AND k.doc_id = first_id
        |ORDER BY k.doc_id""") { (s, dir) =>
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val store = System.getProperty("java.io.tmpdir") + "/graft_incr_" +
        Integer.toHexString(dir.hashCode)
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      Dedup.incrementalExactDedup(docs.filter(col("doc_id") < 250),
        "doc_id", "text", store, "b1", bloomExpectedItems = 2000)
      Dedup.incrementalExactDedup(
          docs.filter(col("doc_id") >= 250).unionByName(
            docs.filter(pmod(col("doc_id"), lit(7)) === 0)
              .select((col("doc_id") + 10000).as("doc_id"), col("text"))),
          "doc_id", "text", store, "b2", bloomExpectedItems = 2000)
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- char-trigram LM perplexity scoring (CCNet-style quality
    // filter): add-one-smoothed trigram model trained ON the corpus,
    // each doc scored by mean -ln p(gram). Model size is bounded by the
    // 37-symbol normalized alphabet (<= 37^3 grams) so it broadcasts at
    // any corpus scale. nll rounded to 4 decimals (double-sum order).
    Q("t23_perplexity",
      s"""WITH b AS (SELECT doc_id, $normSql AS norm FROM documents),
         |f AS (SELECT doc_id, norm FROM b WHERE length(norm) >= 3),
         |g AS (SELECT doc_id,
         |        unnest([substr(norm, i, 3) for i in range(1, len(norm) - 1)]) AS gr
         |      FROM f),
         |c AS (SELECT gr, count(*) AS c FROM g GROUP BY gr),
         |t AS (SELECT sum(c) AS n, count(*) AS v FROM c)
         |SELECT doc_id, count(*) AS n_grams,
         |  round(avg(-ln(CAST(c.c + 1 AS DOUBLE) / CAST(t.n + t.v AS DOUBLE))), 4) AS nll
         |FROM g JOIN c USING (gr) CROSS JOIN t
         |GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      CorpusStats.perplexityScore(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- exact substring duplicate spans (Lee et al. 2022, fixed-k
    // positional-gram form): every 5-token window occurring >1 time in
    // the corpus marks its positions; overlapping windows merge into
    // maximal spans. Fully deterministic (md5 grams) → hash oracle.
    Q("t15_dup_spans",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks
         |          FROM documents WHERE $normSql <> ''),
         |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 5),
         |g AS (SELECT doc_id,
         |        unnest([{'p': i - 1,
         |                 'h': md5(array_to_string(toks[i:i+4], ' '))}
         |                for i in range(1, len(toks) - 3)]) AS u
         |      FROM t2),
         |g2 AS (SELECT doc_id, u.p AS pos, u.h AS gh FROM g),
         |d AS (SELECT gh FROM g2 GROUP BY gh HAVING count(*) > 1),
         |h AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN d USING (gh)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
         |             THEN 0 ELSE 1 END AS brk FROM h),
         |s AS (SELECT doc_id, pos,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |      FROM i)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
         |  count(*) AS n_grams
         |FROM s GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""") { (s, dir) =>
      Dedup.duplicateSpans(Tables(s, dir).documents, "doc_id", "text", k = 5)
        .select(col("doc_id"),
          col("span_start").cast(LongType).as("span_start"),
          col("span_end").cast(LongType).as("span_end"),
          col("n_grams"))
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ---- multimodal binary plumbing: opaque NON-IMAGE payload bytes →
    // per-partition batch map falls back to byte-derived metadata. The
    // oracle re-derives the fallback's arithmetic from the byte length /
    // first byte — proving the mapPartitions path is row-correct and
    // deterministic over payloads the image codec rejects.
    Q("mm01_binary_meta",
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS dec_bytes,
        |  CAST(64 + (octet_length(CAST(text AS BLOB)) + ascii(text)) % 1856 AS INT) AS dec_width,
        |  CAST(64 + (octet_length(CAST(text AS BLOB)) * 7 + ascii(text)) % 1016 AS INT) AS dec_height
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      val media = Tables(s, dir).documents
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      Multimodal.withDecodedMeta(media)
        .select(col("doc_id"), col("dec_bytes"), col("dec_width"), col("dec_height"))
        .orderBy(col("doc_id"))
    },

    // ---- REAL image decode (javax.imageio): each doc becomes a two-tone
    // grayscale PNG whose dimensions and tones are formulas of doc_id; the
    // engine encodes the bytes, then the codec path decodes them back —
    // true width/height, sniffed format, exact integer pixel stats. The
    // oracle recomputes the same formulas in SQL, so a hash match proves
    // the encode→decode→pixel-stats loop is bit-exact.
    Q("mm02_image_decode",
      """SELECT doc_id,
        |  CAST(8 + doc_id % 24 AS INT) AS dec_width,
        |  CAST(8 + (doc_id * 3) % 16 AS INT) AS dec_height,
        |  'png' AS dec_format,
        |  CAST(least(doc_id % 256, (doc_id * 7 + 13) % 256) AS INT) AS px_min,
        |  CAST(greatest(doc_id % 256, (doc_id * 7 + 13) % 256) AS INT) AS px_max,
        |  CAST((8 + (doc_id * 3) % 16) *
        |       (((8 + doc_id % 24) // 2) * (doc_id % 256) +
        |        ((8 + doc_id % 24) - (8 + doc_id % 24) // 2) * ((doc_id * 7 + 13) % 256))
        |       AS BIGINT) AS px_sum
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      val mkPng = udf { (id: Long) =>
        val w = (8 + id % 24).toInt
        val h = (8 + (id * 3) % 16).toInt
        val gL = (id % 256).toInt
        val gR = ((id * 7 + 13) % 256).toInt
        ImageCodec.encodePng(w, h, (x, _) => if (x < w / 2) gL else gR)
      }
      val media = Tables(s, dir).documents
        .select(col("doc_id"), mkPng(col("doc_id")).as("payload"))
      Multimodal.decodedPixelStats(media)
        .select(col("doc_id"), col("dec_width"), col("dec_height"),
          col("dec_format"), col("px_min"), col("px_max"), col("px_sum"))
        .orderBy(col("doc_id"))
    },

    // ---- REAL image resize: constant-gray PNG → decode → bilinear
    // resample to 5×4 → PNG re-encode → decode AGAIN for stats. Bilinear
    // of a constant image is exactly that constant, so the full
    // encode→resample→re-encode→decode loop is integer-oracle-checkable.
    Q("mm03_image_resize",
      """SELECT doc_id,
        |  CAST(5 AS INT) AS dec_width, CAST(4 AS INT) AS dec_height,
        |  CAST((doc_id * 5 + 3) % 256 AS INT) AS px_min,
        |  CAST((doc_id * 5 + 3) % 256 AS INT) AS px_max,
        |  CAST(20 * ((doc_id * 5 + 3) % 256) AS BIGINT) AS px_sum
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      val mkPng = udf { (id: Long) =>
        val w = (9 + id % 13).toInt
        val h = (7 + id % 11).toInt
        val g = ((id * 5 + 3) % 256).toInt
        ImageCodec.encodePng(w, h, (_, _) => g)
      }
      val media = Tables(s, dir).documents
        .select(col("doc_id"), mkPng(col("doc_id")).as("payload"))
      Multimodal.decodedPixelStats(
          Multimodal.withResized(media, targetW = 5, targetH = 4), "resized")
        .select(col("doc_id"), col("dec_width"), col("dec_height"),
          col("px_min"), col("px_max"), col("px_sum"))
        .orderBy(col("doc_id"))
    },

    // ---- REAL audio decode: deterministic square-wave PCM → RIFF/WAVE
    // encode (with a LIST metadata chunk on even ids, so the reader's
    // chunk walk is exercised on the gated path) → chunk-walking decode →
    // per-clip curation features. A square wave of amplitude A has
    // RMS = A and one sign flip per half-period — every feature is
    // integer-closed-form, so the full binary round trip oracle-checks.
    Q("mm04_audio_wav",
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_frames,
        |  CAST((800 + (doc_id % 5) * 160) * 1000
        |       // (8000 + (doc_id % 3) * 4000) AS BIGINT) AS duration_ms,
        |  CAST(1000 + (doc_id % 7) * 500 AS INT) AS peak,
        |  CAST(1000 + (doc_id % 7) * 500 AS DOUBLE) AS rms,
        |  CAST((800 + (doc_id % 5) * 160) // 8 - 1 AS BIGINT) AS zero_crossings
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      val mkWav = udf { (id: Long) =>
        val rate = (8000 + (id % 3) * 4000).toInt
        val channels = (1 + id % 2).toInt
        val amp = (1000 + (id % 7) * 500).toShort
        val nFrames = (800 + (id % 5) * 160).toInt
        val samples = new Array[Short](nFrames * channels)
        var i = 0
        while (i < nFrames) {
          val v: Short = if ((i / 8) % 2 == 0) amp else (-amp).toShort
          var c = 0
          while (c < channels) { samples(i * channels + c) = v; c += 1 }
          i += 1
        }
        AudioCodec.encodeWavPcm16(rate, channels, samples,
          extraChunk = id % 2 == 0)
      }
      val media = Tables(s, dir).documents
        .select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
      Multimodal.audioClipStats(media)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"), col("peak"),
          col("rms"), col("zero_crossings"))
        .orderBy(col("doc_id"))
    },

    // =====================================================================
    // fit/apply splits: the APPLY half of each learned operator under a
    // FIXED artifact (weights / centroids / merge table), hash-oracled in
    // DuckDB — the d05b/q89 treatment applied to the remaining rows-only
    // family. The FIT halves stay rows-only by design (t27/t28/t29/t32/
    // d10 above); these siblings prove the transform arithmetic exactly.
    // =====================================================================

    // ---- t28's scorer under FIXED weights: the hashing-trick features
    // are the md5-portable t26 kernel, the weight vector is closed-form
    // (w_i = ((i*37) mod 19 - 9)/10), so the whole sigmoid(w·tf/|tf| + b)
    // spells exactly in DuckDB. round(.,4) absorbs summation-order ULP
    // (the t30 BM25 argument).
    Q("t28b_fixed_weight_score",
      s"""WITH t AS (SELECT doc_id, ${toksSql(normSql)} AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) > 0),
         |b AS (SELECT doc_id,
         |        CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS bkt
         |      FROM u),
         |c AS (SELECT doc_id, bkt, CAST(count(*) AS DOUBLE) AS cnt FROM b GROUP BY 1, 2),
         |tot AS (SELECT doc_id, sum(cnt) AS total FROM c GROUP BY 1),
         |z AS (SELECT c.doc_id,
         |        sum(((c.bkt * 37) % 19 - 9) / 10.0 * c.cnt / greatest(tot.total, 1)) AS zz
         |      FROM c JOIN tot USING (doc_id) GROUP BY 1)
         |SELECT t.doc_id,
         |  round(1.0 / (1.0 + exp(-(COALESCE(z.zz, 0) - 0.5))), 4) AS score4
         |FROM t LEFT JOIN z USING (doc_id) ORDER BY doc_id""") { (s, dir) =>
      val model = QualityClassifier.Model(
        Array.tabulate(32)(i => ((i * 37) % 19 - 9) / 10.0), bias = -0.5,
        dim = 32)
      Tables(s, dir).documents
        .select(col("doc_id"),
          round(QualityClassifier.scoreColumn(col("text"), model), 4)
            .as("score4"))
        .orderBy(col("doc_id"))
    },

    // ---- t29's assignment under FIXED centroids (the vectors of
    // vec_id < 4): best-cosine argmax with the stable lower-index
    // tie-break. Cosine parity with list_cosine_similarity over
    // DOUBLE[] is bit-exact (both accumulate the float components in
    // double, same order); min assignment margin on this corpus is
    // 9.7e-5, so the argmax cannot flip. The oracle's `round(...) + 0`
    // normalizes IEEE signed zero: DuckDB's round keeps -0.0 on a tiny
    // negative cosine, Spark's BigDecimal round never emits it
    // (surfaced by the sf1 gate's 20k-vector corpus).
    Q("t29b_fixed_centroid_assign",
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 4),
        |p AS (SELECT e.vec_id, c.cid,
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS cos,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
        |                   c.cid ASC) AS rn
        |      FROM embeddings e CROSS JOIN c)
        |SELECT vec_id, cid + 1 AS cluster, round(cos, 4) + 0 AS cos4
        |FROM p WHERE rn = 1 ORDER BY vec_id""") { (s, dir) =>
      SimilaritySearch.assignToCentroids(
          Tables(s, dir).embeddings, "embedding", fixedCenters(s, dir, 4))
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"),
          round(col("cos_to_center"), 4).as("cos4"))
        .orderBy(col("vec_id"))
    },

    // ---- t32's SemDeDup prune under the SAME fixed assignment: drop
    // the higher id of every within-cluster pair with cosine >= 0.45
    // (dropNearDups' contract — pairwise, not survivor-recursive, so the
    // kept set is a plain NOT EXISTS). The nearest pair cosine sits
    // 5.5e-4 from the threshold on this corpus — far beyond ULP.
    Q("t32b_sem_dedup_fixed",
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 4),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
        |                 c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN c) WHERE rn = 1)
        |SELECT v.vec_id, v.cid + 1 AS cluster
        |FROM asg v
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM asg u
        |  JOIN embeddings eu ON eu.vec_id = u.vec_id
        |  JOIN embeddings ev ON ev.vec_id = v.vec_id
        |  WHERE u.cid = v.cid AND u.vec_id < v.vec_id
        |    AND list_cosine_similarity(CAST(eu.embedding AS DOUBLE[]),
        |                               CAST(ev.embedding AS DOUBLE[])) >= 0.45)
        |ORDER BY v.vec_id""") { (s, dir) =>
      val assigned = SimilaritySearch.assignToCentroids(
          Tables(s, dir).embeddings, "embedding", fixedCenters(s, dir, 4))
        .select(col("vec_id"), col("embedding"),
          col("cluster").cast(LongType).as("cluster"))
      val pairs = Dedup.embeddingNearDupPairs(assigned, "vec_id",
        "embedding", col("cluster"), minCosine = 0.45)
      Dedup.dropNearDups(assigned, "vec_id", pairs)
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    },

    // ---- t27's greedy BPE ENCODE under a FIXED merge table (the q89
    // recursive-CTE treatment): each distinct word encodes via a
    // recursive CTE that merges the leftmost occurrence of the
    // lowest-rank pair per step. One-at-a-time-leftmost equals
    // encodeWord's merge-ALL-occurrences batch because the table is
    // creation-order valid (a pair over a merged token always ranks
    // later than the merge that created the token), so no new pair can
    // preempt the current minimum — cross-checked exhaustively against
    // the corpus.
    Q("t27b_bpe_fixed_merges",
      s"""WITH RECURSIVE
         |docs AS (SELECT doc_id, $normSql AS norm FROM documents),
         |words AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w
         |          FROM docs WHERE norm <> ''),
         |dw AS (SELECT DISTINCT w FROM words),
         |enc AS (
         |  SELECT w, string_split(w, '') AS toks FROM dw
         |  UNION ALL
         |  SELECT w, list_concat(list_concat(
         |      toks[:bp.i-1], [toks[bp.i] || toks[bp.i+1]]), toks[bp.i+2:]) AS toks
         |  FROM (SELECT w, toks, $bpeCandSql[1] AS bp FROM enc)
         |  WHERE bp IS NOT NULL
         |),
         |fin AS (SELECT w, len(toks) AS nb FROM enc WHERE len($bpeCandSql) = 0),
         |per_doc AS (SELECT words.doc_id, CAST(sum(fin.nb) AS BIGINT) AS n_bpe
         |            FROM words JOIN fin USING (w) GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN d.norm = '' THEN 0
         |       ELSE len(string_split(d.norm, ' ')) END AS n_words,
         |  COALESCE(p.n_bpe, 0) AS n_bpe_tokens,
         |  round(COALESCE(p.n_bpe, 0) / greatest(
         |    CASE WHEN d.norm = '' THEN 0
         |         ELSE len(string_split(d.norm, ' ')) END, 1), 4) AS compression
         |FROM docs d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY doc_id""") { (s, dir) =>
      BpeTokenizer.encodeStats(Tables(s, dir).documents, "doc_id", "text",
          fixedBpeMerges)
        .withColumn("compression",
          round(col("n_bpe_tokens").cast(DoubleType) /
            greatest(col("n_words"), lit(1L)).cast(DoubleType), 4))
        .orderBy(col("doc_id"))
    },

    // ---- d10's IVF probe under FIXED cell centers (the vectors of
    // vec_id < 16): map-side cell assignment, 4-of-16 cell probe per
    // query, exact top-10 within the probed cells — the entire pruned
    // search path hash-oracled (only the k-means FIT stays
    // engine-internal, in d10 above).
    Q("d10b_ann_ivf_fixed",
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings WHERE vec_id < 16),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
        |    FROM e CROSS JOIN c) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM (
        |    SELECT q.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid ASC) AS rn
        |    FROM e q CROSS JOIN c WHERE q.vec_id < 5) WHERE rn <= 4),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qe.v, ne.v) AS cos
        |  FROM probes p
        |  JOIN asg a ON a.cid = p.cid
        |  JOIN e ne ON ne.vec_id = a.vec_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  WHERE a.vec_id <> p.query_id)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
        |  neighbor_id, round(cos, 4) + 0 AS cos4
        |FROM cand
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      SimilaritySearch.ivfTopKWithCenters(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10,
          centers = fixedCenters(s, dir, 16), nProbe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("cos4"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- d12's IVF-PQ probe under FIXED artifacts: coarse centers = the
    // vectors of vec_id < 16, PQ codebook = their per-subspace slices
    // (m=8 subspaces × ksub=16 centroids × subDim=8). Every transform is
    // deterministic — cell assignment, nProbe pruning, the kernel's
    // float-rounded PQ encode (L2 argmin per subspace), float-rounded
    // lutDot / double lutSq ADC scoring — and the oracle mirrors the
    // float-rounding steps with explicit REAL casts, so the whole
    // billion-scale ADC path hash-matches; only the k-means/codebook FIT
    // remains engine-internal (d12 above).
    Q("d12b_ann_ivfpq_fixed",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE vec_id < 16),
        |asg AS (SELECT vec_id, c AS cell FROM (
        |    SELECT e.vec_id, cb.c,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, cb.v) DESC, cb.c ASC) AS rn
        |    FROM e CROSS JOIN cb) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c AS cell FROM (
        |    SELECT q.vec_id, cb.c,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.v, cb.v) DESC, cb.c ASC) AS rn
        |    FROM e q CROSS JOIN cb WHERE q.vec_id < 5) WHERE rn <= 4),
        |codes AS (SELECT vec_id, j, c AS code FROM (
        |    SELECT e.vec_id, jj.j, cb.c,
        |      row_number() OVER (PARTITION BY e.vec_id, jj.j ORDER BY
        |        list_sum([CAST(CAST(e.v[jj.j*8+t] - cb.v[jj.j*8+t] AS REAL) *
        |                       CAST(e.v[jj.j*8+t] - cb.v[jj.j*8+t] AS REAL) AS REAL)
        |                  for t in generate_series(1, 8)]) ASC, cb.c ASC) AS rn
        |    FROM e CROSS JOIN range(0, 8) jj(j) CROSS JOIN cb) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS query_id, jj.j, cb.c,
        |      CAST(list_sum([CAST(q.v[jj.j*8+t] * cb.v[jj.j*8+t] AS REAL)
        |                     for t in generate_series(1, 8)]) AS REAL) AS lut_dot,
        |      CAST(list_sum([cb.v[jj.j*8+t] * cb.v[jj.j*8+t]
        |                     for t in generate_series(1, 8)]) AS REAL) AS lut_sq
        |    FROM e q CROSS JOIN range(0, 8) jj(j) CROSS JOIN cb WHERE q.vec_id < 5),
        |qn AS (SELECT vec_id AS query_id,
        |      sqrt(list_sum([x * x for x in v])) AS q_norm
        |    FROM e WHERE vec_id < 5),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
        |      sum(CAST(l.lut_dot AS DOUBLE)) /
        |        (any_value(qn.q_norm) * sqrt(sum(CAST(l.lut_sq AS DOUBLE)))) AS adc
        |    FROM probes p
        |    JOIN asg a ON a.cell = p.cell
        |    JOIN codes k ON k.vec_id = a.vec_id
        |    JOIN lut l ON l.query_id = p.query_id AND l.j = k.j AND l.c = k.code
        |    JOIN qn ON qn.query_id = p.query_id
        |    WHERE a.vec_id <> p.query_id
        |    GROUP BY 1, 2)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank,
        |  neighbor_id, round(adc, 4) + 0 AS adc4
        |FROM cand
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val ctrs = fixedCenters(s, dir, 16)
      val (m, ksub, subDim) = (8, 16, 8)
      val flat = new Array[Float](m * ksub * subDim)
      for (j <- 0 until m; c <- 0 until ksub; t <- 0 until subDim)
        flat((j * ksub + c) * subDim + t) = ctrs(c)(j * subDim + t)
      SimilaritySearch.ivfPqTopKWithArtifacts(emb, "vec_id", "embedding",
          queries, "query_id", "qv", k = 10, centers = ctrs,
          cb = SimilaritySearch.PqCodebook(m, ksub, subDim, flat), nProbe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cosine"), 4).as("adc4"))
        .orderBy(col("query_id"), col("rank"))
    }
  )
}
