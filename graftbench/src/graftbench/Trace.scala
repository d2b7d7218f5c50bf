package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own calls into a layer. */
final case class Span(id: Long, parent: Long, name: String,
                      startUs: Long, var endUs: Long = -1L) {
  def durUs: Long = endUs - startUs
}

/** Microseconds on the epoch scale, with nanoTime resolution, so span
  * times line up with the millisecond times of Spark listener events.
  */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** In-memory span recorder. Spans nest on the calling thread; each span
  * is also the Spark job group of the jobs it launches, which is how job,
  * stage and task events find their span. Disabled tracers run the body
  * and record nothing.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(ids.incrementAndGet(), stack.headOption.fold(0L)(_.id),
        name, Clock.nowUs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endUs = Clock.nowUs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def totalMs(name: String): Double = named(name).map(_.durUs).sum / 1000.0

  /** Self time of every span: its duration minus what its children cover. */
  def selfUs: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> (s.durUs - Intervals.covered(c, s.startUs, s.endUs))
    }.toMap
  }

  /** The span and all its descendants. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(k => go(k.id)).toSeq
    go(root).toSet
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfUs
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

final case class JobRec(id: Int, group: Option[String], startUs: Long,
                        var endUs: Long = -1L)

/** Counts what Spark executed: jobs with their span (job group) and
  * interval, stages, tasks, and the task metrics the per-layer report
  * needs. Runs on the listener bus thread; read only after a drain.
  */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var peakExecMem = 0L
  var maxTaskInput = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time * 1000L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorCpuNs += m.executorCpuTime
      val sr = m.shuffleReadMetrics.totalBytesRead
      shuffleRead += sr
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      maxTaskInput = math.max(maxTaskInput, m.inputMetrics.bytesRead + sr)
    }
  }

  def jobsIn(groups: Set[Long]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.group.flatMap(_.toLongOption).exists(groups)).toSeq
  }

  def intervals(js: Iterable[JobRec]): Seq[(Long, Long)] =
    js.filter(_.endUs >= 0).map(j => (j.startUs, j.endUs)).toSeq
}

/** Counts the WARN lines Spark prints when a function registration
  * overwrites an existing one, through a log4j appender on the root
  * logger.
  */
final class WarnCounter extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "graftbench-warn-counter", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val replaced = new AtomicLong(0)
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getMessage != null &&
      e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
      replaced.incrementAndGet()
}

object WarnCounter {
  def attach(): WarnCounter = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new WarnCounter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}
