package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import graft.functions.ChFunctions._
import graft.functions.StateSketches
import graft.mergetree.FoldViews

/** MergeTree-family fold semantics (SURVEY.md §2.10): the read-time FINAL
  * views over append-only data, plus the -State/-Merge partial-aggregate
  * machinery. The sign/version columns are derived deterministically from
  * the events table (the testdata has no native sign column).
  */
object MergeTreeQueries {

  val all: Seq[Q] = Seq(

    // ---- SummingMergeTree FINAL (lectures/lecture_07.md:430-493): fold by
    // sort key, summing the value columns; non-summed survivors arbitrary
    // (we pin min for determinism).
    Q("q23_summing_final",
      """SELECT user_id, event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value,
        |  MIN(event_id) AS event_id
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""") { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("event_type"), dec2(col("value")).as("value"),
          col("event_id"))
      FoldViews.summingFinal(ev, Seq("user_id", "event_type"), Seq("value"))
        .select(col("user_id"), col("event_type"),
          col("value").cast(DoubleType).as("value"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // ---- CollapsingMergeTree(sign) FINAL (lectures/lecture_07.md:680-736):
    // signup=+1 opens state, error=-1 cancels; keys with positive net keep
    // their latest +1 row.
    Q("q24_collapsing_final",
      """WITH s AS (
        |  SELECT user_id, event_id, value,
        |         CASE WHEN event_type = 'signup' THEN 1 ELSE -1 END AS sign
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |n AS (SELECT *, SUM(sign) OVER (PARTITION BY user_id) AS net FROM s)
        |SELECT user_id, event_id, value, sign FROM (
        |  SELECT user_id, event_id, value, sign,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM n WHERE sign = 1 AND net > 0) WHERE rn = 1
        |UNION ALL
        |SELECT user_id, event_id, value, sign FROM (
        |  SELECT user_id, event_id, value, sign,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS rn
        |  FROM n WHERE sign = -1 AND net < 0) WHERE rn = 1
        |ORDER BY user_id""") { (s, dir) =>
      val signed = Tables(s, dir).events
        .filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), col("event_id"), col("value"),
          when(col("event_type") === "signup", 1).otherwise(-1).as("sign"))
      FoldViews.collapsingFinal(signed, Seq("user_id"), "sign", col("event_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("sign"))
        .orderBy(col("user_id"))
    },

    // ---- VersionedCollapsingMergeTree(sign, version)
    // (lectures/lecture_07.md:738-790): cancellation pairs only within the
    // same (key, version) — the out-of-order-safe variant.
    Q("q25_versioned_collapsing_final",
      """WITH s AS (
        |  SELECT user_id, event_id % 50 AS ver, event_id, value,
        |         CASE WHEN event_type = 'signup' THEN 1 ELSE -1 END AS sign
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |mc AS (SELECT user_id, ver, COUNT(*) AS m FROM s WHERE sign = -1 GROUP BY user_id, ver),
        |pc AS (SELECT user_id, ver, COUNT(*) AS p FROM s WHERE sign = 1 GROUP BY user_id, ver),
        |sp AS (SELECT user_id, ver, event_id, value, sign,
        |         row_number() OVER (PARTITION BY user_id, ver ORDER BY event_id DESC) AS rn
        |       FROM s WHERE sign = 1),
        |sm AS (SELECT user_id, ver, event_id, value, sign,
        |         row_number() OVER (PARTITION BY user_id, ver ORDER BY event_id DESC) AS rn
        |       FROM s WHERE sign = -1)
        |SELECT user_id, ver, event_id, value, sign
        |FROM sp LEFT JOIN mc USING (user_id, ver) WHERE rn > COALESCE(m, 0)
        |UNION ALL
        |SELECT user_id, ver, event_id, value, sign
        |FROM sm LEFT JOIN pc USING (user_id, ver) WHERE rn > COALESCE(p, 0)
        |ORDER BY user_id, ver, event_id""") { (s, dir) =>
      val signed = Tables(s, dir).events
        .filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), pmod(col("event_id"), lit(50)).as("ver"),
          col("event_id"), col("value"),
          when(col("event_type") === "signup", 1).otherwise(-1).as("sign"))
      FoldViews.versionedCollapsingFinal(signed, Seq("user_id"), "sign", "ver",
          seq = col("event_id"))
        .select(col("user_id"), col("ver"), col("event_id"), col("value"), col("sign"))
        .orderBy(col("user_id"), col("ver"), col("event_id"))
    },

    // ---- AggregatingMergeTree -State/-Merge (lectures/lecture_07.md:495-546):
    // partial avg states built per (flag, month) — the MV-ingest shape —
    // then merged per flag. The oracle computes the same fixed-point avg
    // directly; equality proves state+merge is exact, not approximately
    // right.
    Q("q26_state_merge",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val states = li
        .groupBy(col("l_returnflag"), toYYYYMM(col("l_shipdate")).as("ym"))
        .agg(StateSketches.avgState(col("l_quantity")).as("st"),
          count(lit(1)).as("n"))
      states
        .groupBy(col("l_returnflag"))
        .agg(StateSketches.avgMerge(col("st")).as("avg_qty"), sum(col("n")).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // ---- system.parts_columns / system.columns introspection
    // (lectures/lecture_02.md:199-231, lecture_08.md:321, lecture_12.md:246):
    // per-column value counts, compressed/uncompressed bytes and codec from
    // parquet FOOTERS, read on the executors. The oracle is DuckDB's
    // parquet_metadata() over the SAME file — byte-for-byte footer parity
    // across engines. `{SF_DIR}` is resolved by Verify to the
    // dir being verified (SparkEntry.oracleSqlFor), so the row is
    // SF-portable.
    Q("q62_parts_columns",
      """SELECT path_in_schema AS column,
        |  CAST(sum(num_values) AS BIGINT) AS n_values,
        |  CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
        |  CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
        |  any_value(compression) AS codec
        |FROM parquet_metadata('{SF_DIR}/lineitem.parquet')
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      graft.mergetree.SystemTables.columns(s, s"$dir/lineitem.parquet")
        .select(col("column"), col("n_values"),
          col("compressed_bytes"), col("uncompressed_bytes"), col("codec"))
        .orderBy(col("column"))
    },

    // ---- tokenbf_v1 data-skipping index (lectures/lecture_08.md:105,169):
    // a rare token is planted in ~1/97 docs, the table is written as 8
    // files, a per-file token-bloom sidecar is built, and the search
    // reads ONLY the files the index cannot rule out. Pruning is
    // advisory — the exact token filter still runs — so the result is
    // oracle-identical to a full scan while skipping most of the I/O.
    Q("q69_token_skip_index",
      """WITH e AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 97 = 0 THEN ' xylophonezq' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id FROM e
        |WHERE list_contains(string_split(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g'), ' '), 'xylophonezq')
        |ORDER BY doc_id""") { (s, dir) =>
      import graft.mergetree.SkipIndex
      val docs = Tables(s, dir).documents.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(97)) === 0, " xylophonezq")
            .otherwise("")).as("t"))
      // scoped per input dir: concurrent runs at different SFs must not
      // race on one shared table path
      val tmp = s"/tmp/graft_skipidx_q69_${math.abs(dir.hashCode)}"
      docs.repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(tmp)
      SkipIndex.buildTokenBloom(s, tmp, "t", "tbf", expectedPerFile = 1000000)
      val survivors = SkipIndex.filesBloomMightContain(s, tmp, "tbf", "xylophonezq")
      SkipIndex.readPruned(s, tmp, survivors)
        .filter(array_contains(split(lower(col("t")), "[^a-z0-9]+"), "xylophonezq"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- GraphiteMergeTree age-banded rollup (SURVEY §2.10,
    // lecture_07.md:793-818): rows older than each retention band fold
    // into coarser time buckets; the DuckDB twin computes the same
    // banded bucketing as a window-free group-by. `now` is pinned to
    // 2024-02-01 UTC (the fixture's events end 2024-01-31), so the
    // age bands are deterministic. Money through DECIMAL for
    // engine-independent sums.
    Q("q117_graphite_rollup",
      """WITH b AS (
        |  SELECT event_type AS path, epoch_ns(ts) // 1000000000 AS t, value,
        |    CASE WHEN 1706745600 - (epoch_ns(ts) // 1000000000) >= 1209600 THEN 86400
        |         WHEN 1706745600 - (epoch_ns(ts) // 1000000000) >= 604800 THEN 3600
        |         ELSE 1 END AS step
        |  FROM events)
        |SELECT path, (t // step) * step AS t,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value,
        |  count(*) AS points_folded
        |FROM b GROUP BY path, (t // step) * step
        |ORDER BY path, t""") { (s, dir) =>
      import graft.mergetree.GraphiteRollup
      val ev = Tables(s, dir).events
        .select(col("event_type").as("path"),
          unix_timestamp(col("ts")).as("t"), col("value"))
      GraphiteRollup.rollup(ev, "path", "t", "value",
        now = lit(1706745600L),
        retentions = Seq((604800L, 3600L), (1209600L, 86400L)),
        agg = c => sum(c.cast(DecimalType(18, 6))).cast(DoubleType))
        .orderBy(col("path"), col("t"))
    },

    // ---- uniqState → uniqMerge over our own HLL sketch
    // (lectures/lecture_13.md:60-93). The sketch is internal to the engine,
    // so no SQL oracle — the spec asserts merge-of-states == direct state
    // and the estimate's error bound.
    Q.noOracle("q26b_uniq_state_merge") { (s, dir) =>
      val li = Tables(s, dir).lineitem
      val states = li
        .groupBy(col("l_returnflag"), toYYYYMM(col("l_shipdate")).as("ym"))
        .agg(StateSketches.uniqState(col("l_orderkey").cast(StringType)).as("st"))
      states
        .groupBy(col("l_returnflag"))
        .agg(StateSketches.uniqMerge(col("st")).as("uniq_orders"))
        .orderBy(col("l_returnflag"))
    }
  )
}
