package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults follow the scale guidance in SURVEY.md: AQE on (runtime re-plan,
  * skew-join handling), shuffle partitions sized for the local harness (the
  * driver runs local[32]; on a real cluster callers pass their own value),
  * UTC session time zone so results are reproducible against any oracle.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // ObjectHashAggregate (typed Aggregators: -State sketches, entropy,
      // topK, histogram...) falls back to SORT-BASED aggregation after 128
      // distinct group keys per task — a full sort of the task's input for
      // aggregates whose whole point is small bounded state (measured 2x
      // on the -State/-Merge rows: 0.87s -> 0.45s). 4096 entries bounds
      // the in-memory object map at ~16 MB per task even for the largest
      // sketch here (4 KB HLL registers).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // a multi-minute host stall (noisy VM, STW GC) must not KILL the
      // context: with the 120s default, HeartbeatReceiver removes the
      // in-process "driver" executor after one freeze and every suite
      // after it fails on a dead scheduler (observed: a 19-minute host
      // stall mid-run → "Removing executor driver with no recent
      // heartbeats: 128521 ms exceeds timeout" → exit 56). Heartbeats
      // between threads of ONE JVM carry no liveness signal a timeout
      // should act on; on a real cluster callers tune these per their
      // network instead
      .config("spark.network.timeout", "1200s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.ui.enabled", "false")

  /** Create (or reuse) a session. Its ClickHouse-compatible SQL function
    * surface (`toYYYYMM`, `uniq`, `argMax`, ...) comes from
    * [[graft.plans.GraftExtensions]], so `spark.sql` text written against
    * the reference dialect works in it and in every `newSession()` of it.
    */
  def create(
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
