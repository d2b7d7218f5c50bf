package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 and the query registry in
  * [[graft.queries.Registry]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (the
    * driver records a weaker rows-only check for those).
    *
    * Rows-only by design, with the reason each cannot be oracled:
    *  - q14_uniq_approx: HyperLogLog estimate — value depends on the
    *    engine's own hash/sketch internals (exact twin q13 IS oracled).
    *  - q26b_uniq_state_merge: same — HLL -State/-Merge partial sketches
    *    (exact fixed-point twin q26 IS oracled).
    *  - d05_dedup_simhash: simhash candidate set ≠ exhaustive jaccard set
    *    (pigeonhole blocking only guarantees recall to hamming ≤ 3;
    *    evaluated and documented at the query). Spec-checked invariants.
    *    The signature kernel itself IS hash-oracled via its exact-dup
    *    companion d05b_simhash_exact_groups (multiset equality ⟹ equal
    *    signature is deterministic, so that grouping has a closed form).
    *  - d08_ann_lsh: approximate top-k — ranking beyond the planted-twin
    *    recall spec depends on engine-internal bucket hashing.
    *    (d04 got the verified-output oracle treatment in round 2 because
    *    its LSH recall on this corpus is provably 1.0; these cannot.)
    *    The probe path ITSELF is hash-oracled under fixed hyperplanes as
    *    d08b_ann_lsh_fixed (sign-bit bucket → 1-bit multi-probe → exact
    *    cosine rerank); only the plane CHOICE remains internal.
    *  - d10_ann_ivf / d12_ann_ivfpq: same — probe/ADC rankings depend on
    *    the engine-internal k-means cells and PQ codebooks; recall and
    *    partition-pruning are spec- and plan-asserted instead. BOTH
    *    probe paths ARE hash-oracled under fixed artifacts: d10b (cell
    *    assignment → nProbe pruning → exact within-cell top-k) and d12b
    *    (the same plus float-faithful PQ encode + ADC scoring); only the
    *    k-means/codebook fits themselves remain internal.
    *  - t27_bpe_tokenize: a learned BPE merge table is an iterative
    *    frequency-driven fit with no SQL spelling; determinism, the
    *    decode identity, and known-corpus merge behavior are
    *    spec-asserted instead (BpeTokenizerSpec). The greedy ENCODE loop
    *    IS hash-oracled under a fixed merge table as
    *    t27b_bpe_fixed_merges (recursive-CTE encode, the q89 treatment).
    *  - t28_quality_classifier: an iterative logistic-regression fit has
    *    no SQL spelling; ranking quality (AUC on planted junk),
    *    determinism, and feature parity are spec-asserted
    *    (QualityClassifierSpec). The scoring transform IS hash-oracled
    *    under fixed weights as t28b_fixed_weight_score.
    *  - t29_embedding_clusters: k-means centroids are engine-internal;
    *    planted-cluster purity and partition-invariant determinism are
    *    spec-asserted (SimilaritySpec). The assignment transform IS
    *    hash-oracled under fixed centroids as t29b_fixed_centroid_assign.
    *  - t32_sem_dedup: the cluster-then-prune keep set depends on the
    *    engine-internal k-means partition; the prune contract (planted
    *    twins dropped, no surviving within-cluster pair at threshold,
    *    partition invariance) is spec-asserted (DedupSpec). The prune
    *    transform IS hash-oracled under a fixed assignment as
    *    t32b_sem_dedup_fixed.
    *  (q89_lttb and d13_incremental_near_dedup left this list in round 6:
    *  LTTB's greedy selection is deterministic and oracles as a recursive
    *  CTE; d13's collision relation coincides with exact jaccard on this
    *  corpus — see their registry entries. Round 7 added the fit/apply
    *  split: every learned operator's APPLY half is now hash-green under
    *  a fixed artifact; only the fits, HLL sketches, and approximate
    *  rankings above remain rows-only.)
    */
  def oracleSql: Map[String, String] =
    graft.queries.Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Oracle SQL with the `{SF_DIR}` placeholder resolved to the scale
    * factor directory actually being verified — for oracles that must
    * name a parquet file literally (q62's `parquet_metadata`), so the
    * board stays SF-portable. Verify dumps THIS form.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    oracleSql.map { case (k, v) => k -> v.replace("{SF_DIR}", sfDir) }
}
