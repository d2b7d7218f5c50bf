package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.Bench.{checksum, resetState}

/** The profiler: runs selected registry queries with the bench's exact
  * session + checksum action and reports, per query, the wall seconds,
  * the number of Spark JOBS (actions) it launched, the number of stages
  * and tasks, and total shuffle bytes — the fixed-cost fingerprint that
  * the sf0.1 board is dominated by.
  *
  * Usage: SPARK_GRAFT_PROFILE_ONLY=q01,q03 sbt "runMain graft.tools.ProfileBoard"
  * (no ONLY = whole board; SPARK_GRAFT_CPUS sets local[N], default 4).
  * SPARK_GRAFT_PROFILE_EXPLAIN=1 additionally writes each query's
  * .explain("formatted") to /tmp/graft_plans/<name>.txt.
  */
object ProfileBoard {

  private final class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += sc.stageInfo.numTasks
        shuffleWrite += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        shuffleRead += sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
      }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0L; shuffleWrite = 0L; shuffleRead = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    val listener = new Counts
    spark.sparkContext.addSparkListener(listener)

    graft.queries.Registry.byName.get("q03_join_revenue_by_nation")
      .foreach(q => checksum(q.fn(spark, sfDir)))

    val only = sys.env.get("SPARK_GRAFT_PROFILE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val wantExplain = sys.env.get("SPARK_GRAFT_PROFILE_EXPLAIN").contains("1")
    val passes = sys.env.get("SPARK_GRAFT_PROFILE_PASSES")
      .flatMap(_.toIntOption).getOrElse(2)
    if (wantExplain) new java.io.File("/tmp/graft_plans").mkdirs()
    val picked = graft.SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1))).toSeq.sortBy(_._1)
    println("name,sec,jobs,stages,tasks,shuffle_read_mb,shuffle_write_mb")
    picked.foreach { case (name, fn) =>
      var best = Double.MaxValue
      var line = ""
      (1 to passes).foreach { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        try {
          checksum(fn(spark, sfDir))
          val dt = (System.nanoTime() - t0) / 1e9
          // give the listener bus a moment to drain
          Thread.sleep(50)
          if (dt < best) {
            best = dt
            line = f"$name,$dt%.3f,${listener.jobs},${listener.stages},${listener.tasks},${listener.shuffleRead / 1e6}%.1f,${listener.shuffleWrite / 1e6}%.1f"
          }
        } catch {
          case t: Throwable =>
            line = s"$name,ERROR,${t.getClass.getSimpleName}"
            best = -1
        }
        resetState(spark)
      }
      println(line)
      if (wantExplain && best >= 0) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"/tmp/graft_plans/$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
