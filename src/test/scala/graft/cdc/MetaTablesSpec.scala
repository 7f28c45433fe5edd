package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** [[MetaTables.readIfExists]], the first read of every rollup and
  * top-k table: a table that does not exist yet must cost no Spark call
  * and log nothing.
  */
class MetaTablesSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Every WARN-or-worse event logged while `body` runs, as text. The
    * session is built first: building it sets the root level to ERROR.
    */
  private def warnings(body: => Unit): Seq[String] = {
    spark
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "meta-tables-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage} " +
          Option(e.getThrown).fold("")(_.toString))
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val level = root.getLevel
    root.addAppender(appender, Level.WARN, null)
    root.setLevel(Level.WARN)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      root.setLevel(level)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  test("readIfExists answers a missing table on the driver: None, and no warning") {
    val missing = s"target/tmp/metamissing-${System.nanoTime()}/rollup"
    val logged = warnings {
      assert(MetaTables.readIfExists(spark, missing).isEmpty)
    }.filter(w => w.contains("metamissing") || w.contains("FileNotFoundException"))
    assert(logged.isEmpty, s"a missing table logged:\n${logged.mkString("\n")}")
  }

  test("readIfExists treats a torn, file-less table as empty and reads a written one") {
    val base = s"target/tmp/metatorn-${System.nanoTime()}"
    new java.io.File(s"$base/torn/_temporary").mkdirs()
    assert(MetaTables.readIfExists(spark, s"$base/torn").isEmpty)
    spark.range(3).write.parquet(s"$base/table")
    assert(MetaTables.readIfExists(spark, s"$base/table").map(_.count()).contains(3L))
  }
}
