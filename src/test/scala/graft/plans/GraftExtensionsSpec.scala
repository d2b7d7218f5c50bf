package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec
import graft.chsql.ChSession
import graft.queries.Registry

/** The graft SQL function surface is injected once per session by
  * [[GraftExtensions]]: every session the extensions build resolves it
  * with no register call, and running the engine never re-registers a
  * function.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("a newSession() resolves a name from each function table with no " +
    "register call") {
    val fresh = spark.newSession()
    def one(sql: String) = fresh.sql(sql).head()
    assert(!one("SELECT graft_simhash64(array('a', 'b'))").isNullAt(0))
    assert(one("SELECT toYYYYMM(DATE '2024-03-05')").getInt(0) == 202403)
    assert(one("SELECT countIf(id > 0) FROM range(3)").getLong(0) == 2L)
    assert(one("SELECT finalizeAggregation(st) FROM " +
      "(SELECT uniqState(CAST(id AS STRING)) AS st FROM range(3))").getString(0) == "3")
    // ClickHouse names Spark already registers with the same meaning
    assert(one("SELECT if(1 > 0, 'y', 'n')").getString(0) == "y")
    assert(one("SELECT version()").getString(0).nonEmpty)
  }

  private final class ReplacedWarns extends AbstractAppender(
      "replaced-function-warns", null, null, true, Property.EMPTY_ARRAY) {
    val count = new AtomicLong(0)
    override def append(e: LogEvent): Unit =
      if (e.getMessage != null && e.getMessage.getFormattedMessage
          .contains("replaced a previously registered function"))
        count.incrementAndGet()
  }

  test("ChSession construction, a pipeline row and a ChSqlQueries row " +
    "replace no registered function") {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val warns = new ReplacedWarns
    warns.start()
    ctx.getConfiguration.getRootLogger.addAppender(warns, null, null)
    ctx.updateLoggers()
    try {
      new ChSession(spark)
      Seq("d04_dedup_minhash", "q96_chsql_prewhere").foreach { name =>
        Registry.byName(name).fn(spark, sfDir).collect()
      }
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(warns.getName)
      ctx.updateLoggers()
      warns.stop()
    }
    assert(warns.count.get == 0)
  }
}
