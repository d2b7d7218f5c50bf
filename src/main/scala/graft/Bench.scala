package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, xxhash64}

/** Per-round benchmark: runs every registry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Queries run in name order after a small warm-up action (JIT/codegen
  * warm-up would otherwise be billed to whichever query runs first).
  *
  * The timed action is a checksum over EVERY column (xxhash64 of the row
  * struct, xor-folded), not `count()`: count lets Catalyst prune whole
  * projections on scan-shaped queries, which would understate real
  * materialization cost.
  *
  * Timing protocol — samples across whole-board passes in MULTIPLE
  * JVMs. Two distinct variance modes were measured on this box and each
  * defeats a single-layer protocol:
  *
  *  1. Back-to-back reps of one query share the moment's JIT/codegen
  *     state, so a per-query rep loop produced tight-but-wrong numbers
  *     (6 queries disagreed up to 6.6x between two runs of identical
  *     code while each run's own 3-rep spread looked clean). Fix: a
  *     query's samples are separated by a full board pass, and passes
  *     alternate board direction so position-in-board effects (heap
  *     fragmentation, code-cache occupancy) cancel in the statistics.
  *  2. Some queries acquire a JVM-LIFETIME mode: all 5 passes of one
  *     process ran q01_pricing_summary at 1.02-1.62s while all 5 passes
  *     of a second process ran 0.66-0.92s — identical code, data, box.
  *     NO statistic computed within one process can make two such
  *     artifacts agree. Fix: the entry process spawns
  *     SPARK_GRAFT_BENCH_JVMS (default 3) child JVMs, each running
  *     SPARK_GRAFT_BENCH_RUNS (default 3) alternating passes, and pools
  *     all samples across processes.
  *
  * The headline per-query number is the FLOOR ESTIMATE — the mean of
  * the 3 fastest pooled samples. For deterministic CPU-bound work the
  * fast mode IS the plan's cost; the slow samples are JVM-epoch
  * artifacts (tiered-compilation races, profile pollution), which is
  * why the floor is the statistic that reproduces across runs. Nothing
  * is hidden: the pooled median rides along as `"median"` and the
  * pooled [min,max] as `"spread"`; `scripts/bench_compare.py` checks
  * the within-1.5x-per-query reproducibility criterion between two
  * artifacts. Per-query GC seconds and each child's JIT compilation
  * time are recorded so a stall's source is attributable, and build.sbt
  * pins -XX:ReservedCodeCacheSize=1g: with the JVM default 240m, ~170
  * codegen-heavy plans can fill the code cache mid-board, silently
  * disabling the JIT compiler — the mechanism behind the "tightly slow"
  * mode on late (t-prefixed) queries that motivated the whole protocol.
  */
object Bench {

  /** The board's session: the graft session at local[SPARK_GRAFT_CPUS]
    * plus one static conf that must precede session creation. The default
    * codegen class cache (100 entries) cannot hold one board pass (~170
    * queries x several codegen stages), so every pass re-compiled and
    * re-JITted every plan — pure fixed overhead billed to every query's
    * number. Sized to hold the whole board hot.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between-query hygiene: a handful of operators localCheckpoint or
    * persist intermediate state (packing, iterative dedup, IVF build).
    * Left in place across the board those blocks squat in storage memory
    * and skew LATER queries' timings (observed 10x on unrelated queries).
    * Each registry entry is self-contained, so dropping all persisted
    * state after a query finishes is safe and makes every timing a
    * clean-session measurement.
    */
  private[graft] def resetState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  private[graft] def checksum(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .selectExpr("bit_xor(__h)")
      .collect()
    ()
  }

  /** Total stop-the-world GC milliseconds accumulated by the JVM. */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Whole-process CPU nanoseconds (all threads, driver + local[N]
    * executors). Wall time drifts with box load; CPU seconds for a
    * deterministic plan do not — matching per-query CPU between two
    * artifacts PROVES the plans did identical work even when wall
    * disagrees (the round-9 repro pair attributed a 1.19x totals gap to
    * load_avg only indirectly). -1 when the platform bean is absent.
    */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  // Locale-pinned formatting: the default locale may use a comma
  // decimal separator, which would corrupt the JSON line.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val jvms = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_JVMS")
      .flatMap(_.toIntOption).getOrElse(3))
    if (jvms > 1 && !sys.env.contains("SPARK_GRAFT_BENCH_CHILD"))
      runParent(jvms)
    else runBoard()
  }

  /** One JVM's share of the protocol: N alternating whole-board passes,
    * one `p<pass>,<name>,<sec>,<gcsec>,<cpusec>` stdout line per completed run
    * (the parent pools these; any bounded tail of the output keeps
    * per-query data even when the final JSON line is longer than the
    * tail window), and a single summary JSON line at the end.
    */
  private def runBoard(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()

    // warm-up: a scan+agg+join exercising codegen, shuffle and parquet IO
    graft.queries.Registry.byName.get("q03_join_revenue_by_nation")
      .foreach(q => checksum(q.fn(spark, sfDir)))

    // dev loop: SPARK_GRAFT_BENCH_ONLY=q01,t23 restricts the timed set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = only.fold(SparkEntry.queries)(w =>
      SparkEntry.queries.filter(kv => w(kv._1)))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // time + GC seconds attributable to the one query's run; None for a
    // failed run — a throw is usually much FASTER than the real work,
    // so pooling its time would pull the floor estimate under the
    // query's true cost while the errors array quietly flags the name
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[(Double, Double, Double)] = {
      val gc0 = gcMillis
      val cpu0 = cpuNanos
      val t0 = System.nanoTime()
      val ok =
        try { checksum(fn(spark, sfDir)); true }
        catch { case t: Throwable => failed += name; t.printStackTrace(); false }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcDt = (gcMillis - gc0) / 1e3
      val cpuDt = if (cpu0 < 0) -1.0 else (cpuNanos - cpu0) / 1e9
      resetState(spark)
      if (ok) Some((dt, gcDt, cpuDt)) else None
    }
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val loadStart = loadAvg
    val names = picked.toSeq.sortBy(_._1)
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val gcs = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val cpuTimes = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to passes).foreach { pass =>
      // Alternate board direction per pass: position-in-board effects
      // bias late queries consistently slower within one direction;
      // alternating puts each query early on some passes and late on
      // others, so the position term cancels in the pooled statistics.
      val order = if (pass % 2 == 0) names.reverse else names
      order.foreach { case (name, fn) =>
        timeOne(name, fn).foreach { case (dt, gcDt, cpuDt) =>
          times(name) = times(name) :+ dt
          gcs(name) = gcs(name) :+ gcDt
          cpuTimes(name) = cpuTimes(name) :+ cpuDt
          println(s"p$pass,$name,${fmt(dt)},${fmt(gcDt)},${fmt(cpuDt)}")
        }
      }
    }
    // a query that failed EVERY pass has no samples — report it only in
    // the errors array instead of crashing the artifact
    val results = names.filter(n => times(n._1).nonEmpty).map { case (name, _) =>
      val ts = times(name).sorted
      (name, median(ts), ts.head, ts.last, median(gcs(name)), median(cpuTimes(name)))
    }
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val spread = results
      .map { case (k, _, lo, hi, _, _) => "\"" + k + "\":[" + fmt(lo) + "," + fmt(hi) + "]" }
      .mkString("{", ",", "}")
    val gcJson = results.map { case (k, _, _, _, g, _) => "\"" + k + "\":" + fmt(g) }
      .mkString("{", ",", "}")
    val cpuJson = results.map { case (k, _, _, _, _, c) => "\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // process-level JIT evidence: total compilation ms and code-cache
    // occupancy at end of board — if the cache ever filled, the JIT was
    // silently off for part of the run and the numbers are mode-tainted
    val jitMs = java.lang.management.ManagementFactory
      .getCompilationMXBean match {
        case b if b != null && b.isCompilationTimeMonitoringSupported =>
          b.getTotalCompilationTime
        case _ => -1L
      }
    val codeCacheUsed = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum / (1024 * 1024)
    }
    val errs =
      if (failed.isEmpty) ""
      else failed.distinct.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","passes":$passes,"queries":$qs,"spread":$spread,"gc":$gcJson,"cpu":$cpuJson,"jit_ms":$jitMs,"code_cache_mb":$codeCacheUsed,"load_avg":[${fmt(loadStart)},${fmt(loadAvg)}]$errs,"sf":"$sfDir"}"""
    // Lossless artifact: the full JSON is also written to a file so the
    // round comparison never depends on stdout-capture windows.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_local.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException => System.err.println(s"bench: could not write $outFile: $e") }
    println(json)
    spark.stop()
  }

  /** Spawns `jvms` child processes of this same main (same classpath
    * and JVM flags, inherited from this process), pools every
    * `p<pass>,<name>,<sec>,<gcsec>,<cpusec>` sample line across them, and writes
    * the merged artifact: per-query floor estimate (headline), pooled
    * median, pooled [min,max] spread, pooled median GC, per-child JIT
    * evidence. Children run serially — concurrent boards would contend
    * for the box's cores and contaminate each other's numbers.
    */
  private def runParent(jvms: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadAvg
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      // drop agent/debug args a wrapper may have injected; children
      // need only the functional flags (--add-opens, heap, code cache)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cp = System.getProperty("java.class.path")
    val sampleLine =
      "^p(\\d+),([A-Za-z0-9_]+),([0-9.]+),([0-9.]+),(-?[0-9.]+)$".r
    val jitRe = "\"jit_ms\":(-?\\d+)".r
    val cacheRe = "\"code_cache_mb\":(\\d+)".r
    val errRe = "\"errors\":\\[([^\\]]*)\\]".r
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val gcSamples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val cpuSamples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val jits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val caches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    var childPasses = 0
    def runChild(child: Int, extraEnv: Map[String, String]): Unit = {
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", child.toString)
      // the child's own artifact file is scratch; the parent writes the
      // real one after pooling
      pb.environment().put("SPARK_GRAFT_BENCH_OUT",
        s"/tmp/graft_bench_child_$child.json")
      extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = reader.readLine()
      while (line != null) {
        line match {
          case sampleLine(pass, name, sec, gcSec, cpuSec) =>
            samples(name) = samples(name) :+ sec.toDouble
            gcSamples(name) = gcSamples(name) :+ gcSec.toDouble
            cpuSamples(name) = cpuSamples(name) :+ cpuSec.toDouble
            childPasses = math.max(childPasses, pass.toInt)
            println(s"c$child.$line")
          case l if l.startsWith("{\"metric\"") =>
            jitRe.findFirstMatchIn(l).foreach(m => jits += m.group(1).toLong)
            cacheRe.findFirstMatchIn(l).foreach(m => caches += m.group(1).toLong)
            errRe.findFirstMatchIn(l).foreach(
              _.group(1).split(",").map(_.trim.stripPrefix("\"")
                .stripSuffix("\"")).filter(_.nonEmpty).foreach(errors += _))
          case _ => () // Spark WARN noise on stdout
        }
        line = reader.readLine()
      }
      val code = proc.waitFor()
      if (code != 0) {
        System.err.println(s"bench: child $child exited $code")
        errors += s"__child_${child}_exit_$code"
      }
    }
    (1 to jvms).foreach(child => runChild(child, Map.empty))
    // Heavy-row top-up (r11): at high SF, the heaviest rows' small
    // pooled-sample counts go BIMODAL (the r10 board measured d09c's
    // 4-sample floor at 26.6s over a [14.7, 42.6] spread; a focused
    // 6-sample run settled it at 13.9s). Rows whose provisional floor
    // exceeds SPARK_GRAFT_BENCH_TOPUP_SECS (default 5s; <= 0 disables)
    // get SPARK_GRAFT_BENCH_TOPUP_JVMS (default 2) extra child JVMs
    // running ONLY them, pooling into the same statistics — one
    // self-sufficient artifact, no separate focused re-run. At the
    // driver's sf0.1 no row crosses 5s, so the per-round board cost is
    // unchanged.
    val topUpSecs = sys.env.get("SPARK_GRAFT_BENCH_TOPUP_SECS")
      .flatMap(_.toDoubleOption).getOrElse(5.0)
    val topUpJvms = sys.env.get("SPARK_GRAFT_BENCH_TOPUP_JVMS")
      .flatMap(_.toIntOption).getOrElse(2)
    val heavy =
      if (topUpSecs <= 0 || topUpJvms <= 0) Nil
      else samples.toSeq.map { case (n, ts) =>
        val s = ts.sorted
        (n, s.take(3).sum / math.max(1, s.take(3).length))
      }.filter(_._2 >= topUpSecs).sortBy(-_._2).take(10).map(_._1)
    if (heavy.nonEmpty) {
      println(s"topup:${heavy.mkString(",")}")
      (1 to topUpJvms).foreach(child => runChild(jvms + child,
        Map("SPARK_GRAFT_BENCH_ONLY" -> heavy.mkString(","))))
    }
    val names = samples.keys.toSeq.sorted
    // floor estimate: mean of the 3 fastest pooled samples — robust to
    // a single lucky dip (unlike pure min) and immune to slow-mode
    // contamination (unlike the median); see the protocol scaladoc
    val results = names.map { name =>
      val ts = samples(name).sorted
      val fastest = ts.take(3)
      val floor = fastest.sum / fastest.length
      (name, floor, median(ts), ts.head, ts.last, median(gcSamples(name)),
        median(cpuSamples(name)))
    }
    def mapJson(f: ((String, Double, Double, Double, Double, Double, Double))
        => String): String = results.map(f).mkString("{", ",", "}")
    val qs = mapJson { case (k, fl, _, _, _, _, _) => "\"" + k + "\":" + fmt(fl) }
    val med = mapJson { case (k, _, m, _, _, _, _) => "\"" + k + "\":" + fmt(m) }
    val spread = mapJson { case (k, _, _, lo, hi, _, _) =>
      "\"" + k + "\":[" + fmt(lo) + "," + fmt(hi) + "]" }
    val gcJson = mapJson { case (k, _, _, _, _, g, _) => "\"" + k + "\":" + fmt(g) }
    // pooled-median CPU seconds per query: the plan-identity witness —
    // two artifacts of the same code agree here even when wall drifts
    // with box load (see cpuNanos)
    val cpuJson = mapJson { case (k, _, _, _, _, _, c) => "\"" + k + "\":" + fmt(c) }
    val total = results.map(_._2).sum
    val errs =
      if (errors.isEmpty) ""
      else errors.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stat":"floor3","jvms":$jvms,"passes":$childPasses,"queries":$qs,"median":$med,"spread":$spread,"gc":$gcJson,"cpu":$cpuJson,"jit_ms":[${jits.mkString(",")}],"code_cache_mb":[${caches.mkString(",")}],"load_avg":[${fmt(loadStart)},${fmt(loadAvg)}]$errs,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_local.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException => System.err.println(s"bench: could not write $outFile: $e") }
    println(json)
  }
}
