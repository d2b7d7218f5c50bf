package graftbench

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, struct, xxhash64}

import graft.GraftSession
import graft.chsql.{ChHttpServer, ChResultFormats, ChSession}
import graft.queries.{ChSqlQueries, CoreQueries, FunnelQueries, MergeTreeQueries,
  MiscQueries, PipelineQueries, Q, Registry}
import graft.tables.Tables

/** The engine side of the graft benchmark: one JVM per run.
  *
  *   --workload registry_board|http_mixed
  *   --seed N --seconds S --trace 0|1 --data DIR --out DIR [--ops FILE]
  *
  * It sets the workload up three times (the median is `setup_s`), runs the
  * output checks outside the timed region, then the timed region, and
  * writes `engine.json` (raw figures and failures) into --out. With
  * --trace 1 it also repeats the timed work with spans around each call
  * into a layer and writes `spans.jsonl` plus the per-layer figures.
  * Units and the final report belong to run.py.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: Path, ops: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "0").toDouble,
      m.get("trace").contains("1"), m.getOrElse("data", ""), Paths.get(m("out")),
      m.get("ops"))
  }

  // ------------------------------------------------------------ process

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapAfterGcMb: Double = {
    // Spark's ContextCleaner frees shuffle, broadcast and RDD state only
    // after a GC has enqueued their references: collect, give it time,
    // collect again, so the figure is what the run really retains
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .fold(0.0)(_.getTotalCompilationTime.toDouble)
  private def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def newSession(): SparkSession =
    GraftSession.create(master = "local[4]", shufflePartitions = 4)

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** graft.Bench's timed action: a checksum over every column. */
  private def checksumDf(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("__h"))
      .selectExpr("bit_xor(__h)")

  /** Drops all persisted state between rows, as graft.Bench does. */
  private def resetState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
  }

  private def planNodes(df: DataFrame): Int =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p
    }.size

  /** True when a file scan of the executed plan reads a materialized
    * projection (its directory name carries `__proj_`). Checked on the
    * scan's paths, not the plan text, which abbreviates long locations.
    */
  private def readsProjection(df: DataFrame): Boolean =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten.exists(_.contains("__proj_"))

  private def phasesMs(dfs: DataFrame*): Map[String, Double] =
    dfs.flatMap(_.queryExecution.tracker.phases.toSeq)
      .groupMapReduce(_._1)(_._2.durationMs.toDouble)(_ + _)

  /** Everything the run reports, collected as it goes. */
  final class Report {
    val figures = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0L
    def fail(op: String, why: Throwable): Unit =
      failures += op -> Option(why.getMessage).getOrElse(why.toString).linesIterator.nextOption().getOrElse("")
    def write(out: Path, extra: Map[String, String]): Unit = {
      val figs = figures.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val fails = failures.map { case (op, why) => s"""{"op":${Json.str(op)},"error":${Json.str(why)}}""" }
        .mkString("[", ",", "]")
      val ex = extra.map { case (k, v) => s",${Json.str(k)}:$v" }.mkString
      Files.write(out.resolve("engine.json"),
        s"""{"figures":$figs,"failures":$fails,"attempted":$attempted$ex}""".getBytes(UTF_8))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val report = new Report
    // Spark's non-daemon threads would keep a failed JVM alive
    try a.workload match {
      case "oracles" => writeOracles(a.out.resolve("oracles.json"))
      case "registry_board" => new Board(a, report).run()
      case "http_mixed" => new HttpMixed(a, report).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  // ---------------------------------------------------------- shared

  /** Runs `setup` three times on fresh sessions; the first one counts
    * from JVM start. Returns the live session of the last set-up.
    */
  private def timedSetups[T](a: Args, report: Report)(setup: SparkSession => T)
      (teardown: (SparkSession, T) => Unit): (SparkSession, T) = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val times = mutable.ArrayBuffer.empty[Double]
    var live: Option[(SparkSession, T)] = None
    (0 until 3).foreach { i =>
      live.foreach { case (s, t) => teardown(s, t); stopSession(s) }
      val t0 = if (i == 0) jvmStartUs else Clock.nowUs
      val spark = newSession()
      val state = setup(spark)
      times += (Clock.nowUs - t0) / 1e6
      live = Some((spark, state))
    }
    report.figures("setup_s") = median(times.toSeq)
    live.get
  }

  /** Median construction time of a ChSession on a live session. */
  private def sessionNewMs(spark: SparkSession, tr: Tracer): Double =
    median((1 to 3).map { _ =>
      val t0 = Clock.nowUs
      tr("new ChSession") { new ChSession(spark) }
      (Clock.nowUs - t0) / 1000.0
    })

  /** Figures every traced run reports from the listener over [lo, hi]. */
  private def execFigures(report: Report, l: ExecListener, lo: Long, hi: Long,
                          per: Double): Unit = {
    val jobs = l.jobs.values.filter(j => j.startUs >= lo - 1000 && j.startUs <= hi).toSeq
    val busy = Intervals.covered(l.intervals(jobs), lo, hi)
    val mb = 1048576.0
    val f = report.figures
    f("exec.jobs") = jobs.size / per
    f("exec.stages") = l.stages / per
    f("exec.tasks") = l.tasks / per
    f("exec.job_wall_s") = busy / 1e6 / per
    f("exec.driver_only_s") = (hi - lo - busy) / 1e6 / per
    f("exec.executor_cpu_s") = l.executorCpuNs / 1e9 / per
    f("exec.shuffle_read_mb") = l.shuffleRead / mb / per
    f("exec.shuffle_write_mb") = l.shuffleWrite / mb / per
    f("exec.spill_mb") = l.spill / mb / per
    f("exec.input_mb") = l.input / mb / per
    f("exec.peak_exec_mem_mb") = l.peakExecMem / mb
    f("exec.max_task_input_mb") = l.maxTaskInput / mb
  }

  private def jvmFigures(report: Report, gcDeltaMs: Long): Unit = {
    report.figures("jvm.gc_s") = gcDeltaMs / 1000.0
    report.figures("jvm.jit_ms") = jitMs
    report.figures("jvm.code_cache_mb") = codeCacheMb
  }

  // ---------------------------------------------------------- boards

  private val pipelineRows = Seq("d03c_ngram_jaccard_lsh", "d04_dedup_minhash",
    "d09c_dedup_clusters_lsh", "d13_incremental_near_dedup", "t16_curation_pipeline",
    "t33_retrieval_pipeline", "t35_incremental_dedup")
  private val q107 = "q107_chsql_projection"

  /** The registry sample: the first row of each registry section (so
    * every section is timed), q107 whose projection routing the board
    * asserts, and the production rows whose per-row figures the operator
    * layer reports. Sized so a run fits the benchmark's time budget.
    */
  private def registrySample: Seq[Q] = {
    val picked = sections.map(_._2.head.name).toSet ++ pipelineRows + q107
    Registry.all.filter(q => picked(q.name))
  }

  /** The oracle SQL of every row the board checks, so run.py can
    * compute the expected results once per data set.
    */
  private def writeOracles(path: Path): Unit =
    Files.write(path, registrySample
      .flatMap(q => q.oracle.map(o => s"${Json.str(q.name)}:${Json.str(o)}"))
      .mkString("{", ",", "}").getBytes(UTF_8))

  private lazy val sections: Seq[(String, Seq[Q])] = Seq(
    "core" -> CoreQueries.all, "mergetree" -> MergeTreeQueries.all, "misc" -> MiscQueries.all,
    "funnel" -> FunnelQueries.all, "pipeline" -> PipelineQueries.all, "chsql" -> ChSqlQueries.all)

  private lazy val sectionOf: Map[String, String] =
    sections.flatMap { case (s, qs) => qs.map(_.name -> s) }.toMap

  /** registry_board: the sample's rows checked once, then timed in at
    * least three whole passes of the seed-shuffled order.
    */
  final class Board(a: Args, report: Report) {
    private val rows: Seq[Q] = new scala.util.Random(a.seed).shuffle(registrySample)

    def run(): Unit = {
      val (spark, _) = timedSetups(a, report) { s =>
        checksumDf(Registry.byName("q03_join_revenue_by_nation").fn(s, a.data)).collect()
        resetState(s)
      }((_, _) => ())
      val warns = WarnCounter.attach()
      val c0 = Clock.nowUs
      check(spark)
      report.figures("phase.check_s") = (Clock.nowUs - c0) / 1e6

      // untraced timed region: at least three whole passes, more if they
      // fit in --seconds; a row's figure is its fastest pass
      val cpu0 = cpuNs; val gc0 = gcMs; val w0 = Clock.nowUs
      val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      pass(spark, 0, new Tracer(false, spark.sparkContext), times)
      val passes = math.max(3, (a.seconds / ((Clock.nowUs - w0) / 1e6)).toInt)
      (1 until passes).foreach(p => pass(spark, p, new Tracer(false, spark.sparkContext), times))
      val wall = (Clock.nowUs - w0) / 1e6
      val cpu = (cpuNs - cpu0) / 1e9
      val heap = heapAfterGcMb
      val perRow = times.values.map(ts => ts.min * 1000).toSeq
      times.foreach { case (name, ts) => report.figures(s"row_ms.$name") = ts.min * 1000 }
      report.figures("op_p50_ms") = median(perRow)
      report.figures("op_p95_ms") = percentile(perRow, 0.95)
      report.figures("ops_per_s") = perRow.size / (perRow.sum / 1000)
      report.figures("cpu_ms_per_op") = cpu * 1000 / (rows.size * passes)
      report.figures("retained_heap_mb") = heap
      report.figures("timed_passes") = passes
      report.figures("timed_wall_s") = wall
      report.figures("gc_s") = (gcMs - gc0) / 1000.0
      if (a.trace) traced(spark, passes, wall, warns)
      report.write(a.out, Map("rows" -> rows.map(q => Json.str(q.name)).mkString("[", ",", "]")))
      stopSession(spark)
    }

    /** Output checks, outside the timed region: oracle rows are written
      * as parquet for run.py's DuckDB compare, rows-only rows must be
      * non-empty, and q107's plan must read its projection.
      */
    private def check(spark: SparkSession): Unit = {
      val results = a.out.resolve("results")
      val oracles = mutable.LinkedHashMap.empty[String, String]
      rows.foreach { q =>
        report.attempted += 1
        try {
          val df = q.fn(spark, a.data)
          if (q.name == q107 && !readsProjection(df))
            throw new IllegalStateException("executed plan does not read the projection (__proj_)")
          q.oracle match {
            case Some(sql) =>
              df.coalesce(1).write.mode("overwrite").parquet(results.resolve(q.name).toString)
              oracles(q.name) = sql
            case None =>
              if (df.head(1).isEmpty) throw new IllegalStateException("empty result")
          }
        } catch { case t: Throwable => report.fail(q.name, t) }
        resetState(spark)
      }
      Files.write(a.out.resolve("oracle_sql.json"),
        oracles.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}").getBytes(UTF_8))
    }

    private def pass(spark: SparkSession, p: Int, tr: Tracer,
                     times: mutable.Map[String, mutable.ArrayBuffer[Double]],
                     onRow: (Q, DataFrame, DataFrame) => Unit = (_, _, _) => ()): Unit = {
      val order = if (p % 2 == 1) rows.reverse else rows
      order.foreach { q =>
        report.attempted += 1
        val t0 = Clock.nowUs
        try tr("row:" + q.name) {
          val df = tr("Q.fn") { q.fn(spark, a.data) }
          tr("checksum") {
            val c = checksumDf(df)
            tr("executedPlan") { c.queryExecution.executedPlan }
            c.collect()
            onRow(q, df, c)
          }
        } catch { case t: Throwable => report.fail(s"${q.name} (timed)", t) }
        times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (Clock.nowUs - t0) / 1e6
        onReleased(spark)
        resetState(spark)
      }
    }

    private var persistedLeft = 0L
    private var cachedLeft = 0L
    private var counting = false
    private def onReleased(spark: SparkSession): Unit = if (counting) {
      persistedLeft += spark.sparkContext.getPersistentRDDs.size
      cachedLeft += org.apache.spark.sql.GraftBenchCache.entries(spark)
    }

    /** The traced repeat of the timed work: same rows, same number of
      * passes, spans on, listener attached.
      */
    private def traced(spark: SparkSession, passes: Int, untracedWall: Double,
                       warns: WarnCounter): Unit = {
      val sc = spark.sparkContext
      val tr = new Tracer(true, sc)
      val l = new ExecListener
      sc.addSparkListener(l)
      val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var nodes = 0L
      val warns0 = warns.replaced.get
      val gc0 = gcMs
      counting = true
      val lo = Clock.nowUs
      (0 until passes).foreach { p =>
        pass(spark, p, tr, mutable.Map.empty, (_, df, c) => {
          phasesMs(df, c).foreach { case (k, v) => phases(k) += v }
          nodes += planNodes(c)
        })
      }
      val hi = Clock.nowUs
      counting = false
      org.apache.spark.GraftBenchBus.drain(sc)
      val per = passes.toDouble
      val f = report.figures
      val nRows = rows.size * per
      f("trace.overhead_pct") = ((hi - lo) / 1e6 / untracedWall - 1) * 100
      f("queries.build_s") = tr.named("Q.fn").map(_.durUs).sum / 1e6 / per
      f("queries.build_jobs") = tr.named("Q.fn").map(s => l.jobsIn(tr.subtree(s.id)).size).sum / per
      f("catalyst.analysis_ms") = phases("analysis") / nRows
      f("catalyst.optimization_ms") = phases("optimization") / nRows
      f("catalyst.planning_ms") = phases("planning") / nRows
      f("catalyst.plan_nodes") = nodes / nRows
      tr.spans.filter(_.name.startsWith("row:"))
        .groupBy(s => sectionOf(s.name.stripPrefix("row:")))
        .foreach { case (sec, ss) => f(s"board.${sec}_s") = ss.map(_.durUs).sum / 1e6 / per }
      pipelineRows.foreach { name =>
        val ss = tr.named("row:" + name)
        val short = name.takeWhile(_ != '_')
        f(s"pipeline.${short}_s") = ss.map(_.durUs).sum / 1e6 / per
        f(s"pipeline.${short}_jobs") = ss.map(s => l.jobsIn(tr.subtree(s.id)).size).sum / per
      }
      f("state.persisted_rdds_left") = persistedLeft / per
      f("state.cached_relations_left") = cachedLeft / per
      f("functions.replaced_warns") = (warns.replaced.get - warns0) / per
      execFigures(report, l, lo, hi, per)
      jvmFigures(report, gcMs - gc0)
      f("chsql.session_new_ms") = sessionNewMs(spark, tr)
      tr.writeJsonl(a.out.resolve("spans.jsonl"))
    }
  }

  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  // ------------------------------------------------------- http_mixed

  private final class CountingStream extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  /** http_mixed: one ChHttpServer over in-memory MergeTree tables; the
    * load comes from run.py's client process. The JVM marks the timed
    * region on the commands `start` and `stop` read from stdin. On
    * `finish` it takes the retained heap and, in traced runs, replays the
    * operation sequence in-process through the same public functions
    * with spans on.
    */
  final class HttpMixed(a: Args, report: Report) {
    private val spec: java.util.Map[String, Object] =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(new java.io.File(a.ops.get), classOf[java.util.Map[String, Object]])
    private def list(k: String): Seq[java.util.Map[String, Object]] =
      spec.get(k).asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala.toSeq
    private def str(m: java.util.Map[String, Object], k: String): String = String.valueOf(m.get(k))
    private def params(m: java.util.Map[String, Object]): Map[String, String] =
      Option(m.get("params")).map(_.asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (k, v) => k -> String.valueOf(v) }.toMap).getOrElse(Map.empty)

    private def setup(spark: SparkSession): ChHttpServer = {
      val server = new ChHttpServer(spark)
      val ch = server.session
      ch.execute(str(spec, "ddl"))
      val tables = Tables(spark, a.data)
      list("loads").foreach { l =>
        val src = str(l, "source") match {
          case "orders" => tables.orders
          case "lineitem" => tables.lineitem
          case "customer" => tables.customer
          case "region" => tables.region
          case other => throw new IllegalArgumentException(s"no source table $other")
        }
        val cols = l.get("columns").asInstanceOf[java.util.List[String]].asScala.toSeq
        ch.ingest(str(l, "table"), src.select(cols.map(col): _*))
      }
      ch.execute(str(spec, "post_load_ddl"))
      warmUp(server.port)
      server
    }

    /** Warms the server's HTTP path: the spec's three warm-up lists (each
      * template once, split over two connections, and one insert into a
      * table outside the checked cascade), sent at once.
      */
    private def warmUp(port: Int): Unit = {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val threads = spec.get("warmup").asInstanceOf[java.util.List[java.util.List[java.util.Map[String, Object]]]]
        .asScala.toSeq.map(ops => new Thread(() => ops.asScala.foreach { op =>
          try post(port, op) catch { case t: Throwable => errors.add(t.toString) }
        }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!errors.isEmpty) throw new IllegalStateException(s"warm-up failed: ${errors.peek}")
    }

    private def post(port: Int, op: java.util.Map[String, Object]): Unit = {
      val (query, body) = str(op, "kind") match {
        case "insert" => (Map("query" -> str(op, "query")), str(op, "body"))
        case _ => (params(op).map { case (k, v) => s"param_$k" -> v }, str(op, "sql"))
      }
      val qs = query.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
      val c = URI.create(s"http://127.0.0.1:$port/?$qs").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      val os = c.getOutputStream
      os.write(body.getBytes(UTF_8))
      os.close()
      val code = c.getResponseCode
      val in = if (code == 200) c.getInputStream else c.getErrorStream
      val resp = new String(in.readAllBytes(), UTF_8)
      in.close()
      if (code != 200) throw new IllegalStateException(s"${str(op, "kind")} returned $code: ${resp.take(300)}")
    }

    private def runOp(ch: ChSession, op: java.util.Map[String, Object], tr: Tracer,
                      onSelect: (DataFrame, CountingStream) => Unit = (_, _) => ()): Unit =
      str(op, "kind") match {
        case "select" => tr("select:" + str(op, "tpl")) {
          val out = new CountingStream
          val df = tr("ChSession.execute") { ch.execute(str(op, "sql"), params(op)).last }
          tr("executedPlan") { df.queryExecution.executedPlan }
          tr("ChResultFormats.write") { ChResultFormats.write(df, str(op, "format"), out) }
          onSelect(df, out)
        }
        case "insert" => tr("insert") { ch.insertStream(str(op, "query"), Iterator(str(op, "body"))) }
        case "optimize" => tr("optimize") { ch.execute(str(op, "sql")) }
      }

    def run(): Unit = {
      val (spark0, server0) = timedSetups(a, report)(setup)((_, srv) => srv.close())
      var spark = spark0
      var server = server0
      val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
      def await(cmd: String): Unit = {
        var line = stdin.readLine()
        while (line != null && line.trim != cmd) line = stdin.readLine()
        if (line == null) throw new IllegalStateException(s"stdin closed before '$cmd'")
      }
      println(s"@@ready ${server.port}")
      System.out.flush()
      await("start")
      val cpu0 = cpuNs; val gc0 = gcMs; val w0 = Clock.nowUs
      await("stop")
      report.figures("cpu_s") = (cpuNs - cpu0) / 1e9
      report.figures("timed_wall_s") = (Clock.nowUs - w0) / 1e6
      report.figures("gc_s") = (gcMs - gc0) / 1000.0
      await("finish")
      // measured once the client's end-of-run checks are done, so no
      // request allocates while it is taken
      report.figures("retained_heap_mb") = heapAfterGcMb
      if (a.trace) {
        val ch = server.session
        val t0 = Clock.nowUs
        ch.sql(str(spec, "final_read_sql")).collect()
        report.figures("mergetree.final_read_ms") = (Clock.nowUs - t0) / 1000.0
        report.figures("ingest.parts") =
          ch.sql(str(spec, "parts_sql")).collect().head.getLong(0).toDouble
        report.figures("ingest.mv_rows") =
          ch.sql(str(spec, "mv_rows_sql")).collect().head.getLong(0).toDouble
        val replay = list("replay")
        // untraced then traced replay, each on a fresh set-up so the
        // insert lineage grows the same way in both
        def fresh(): ChSession = {
          server.close(); stopSession(spark)
          spark = newSession(); server = setup(spark)
          server.session
        }
        val chA = fresh()
        val u0 = Clock.nowUs
        replay.foreach(op => runOp(chA, op, new Tracer(false, spark.sparkContext)))
        val untraced = (Clock.nowUs - u0) / 1e6
        val chB = fresh()
        val warns = WarnCounter.attach()
        val sc = spark.sparkContext
        val tr = new Tracer(true, sc)
        val l = new ExecListener
        sc.addSparkListener(l)
        val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        var nodes = 0L
        var bytes = 0L
        val gcT = gcMs
        val lo = Clock.nowUs
        replay.foreach(op => runOp(chB, op, tr, (df, out) => {
          phasesMs(df).foreach { case (k, v) => phases(k) += v }
          nodes += planNodes(df)
          bytes += out.n
        }))
        val hi = Clock.nowUs
        org.apache.spark.GraftBenchBus.drain(sc)
        val f = report.figures
        val selects = tr.spans.filter(_.name.startsWith("select:"))
        val n = math.max(1, selects.size).toDouble
        f("trace.overhead_pct") = ((hi - lo) / 1e6 / untraced - 1) * 100
        f("chsql.dispatch_ms") = tr.totalMs("ChSession.execute") / n
        f("chsql.dispatch_jobs") = tr.named("ChSession.execute").map(s => l.jobsIn(Set(s.id)).size).sum
        f("catalyst.analysis_ms") = phases("analysis") / n
        f("catalyst.optimization_ms") = phases("optimization") / n
        f("catalyst.planning_ms") = phases("planning") / n
        f("catalyst.plan_nodes") = nodes / n
        val writes = tr.named("ChResultFormats.write")
        f("format.write_ms") = writes.map(_.durUs).sum / 1000.0 / n
        f("format.self_ms") = writes.map { s =>
          s.durUs - Intervals.covered(l.intervals(l.jobsIn(Set(s.id))), s.startUs, s.endUs)
        }.sum / 1000.0 / n
        f("format.bytes") = bytes.toDouble
        f("ingest.insert_ms") = median(tr.named("insert").map(_.durUs / 1000.0))
        f("mergetree.optimize_ms") = median(tr.named("optimize").map(_.durUs / 1000.0))
        f("functions.replaced_warns") = warns.replaced.get.toDouble
        execFigures(report, l, lo, hi, 1.0)
        jvmFigures(report, gcMs - gcT)
        f("chsql.session_new_ms") = sessionNewMs(spark, tr)
        tr.writeJsonl(a.out.resolve("spans.jsonl"))
      }
      report.write(a.out, Map.empty)
      server.close()
      stopSession(spark)
    }
  }
}
