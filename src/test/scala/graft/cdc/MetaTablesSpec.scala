package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** The first read and a torn write of the rollup and top-k tables,
  * which commit through their manifests alone: a table that does not
  * exist yet must cost no Spark call and log nothing, and a write torn
  * before its manifest rename must leave the previous table in force.
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

  test("a missing rollup or top-k view reads empty on the driver, and logs no warning") {
    val missing = s"target/tmp/metamissing-${System.nanoTime()}"
    val logged = warnings {
      val rollup = AggMaintenance.read(spark, s"$missing/rollup")
      val topk = TopkMaintenance.read(spark, missing)
      assert(rollup.columns.isEmpty && rollup.collect().isEmpty)
      assert(topk.columns.isEmpty && topk.collect().isEmpty)
    }.filter(w => w.contains("metamissing") || w.contains("FileNotFoundException"))
    assert(logged.isEmpty, s"a missing table logged:\n${logged.mkString("\n")}")
  }

  test("a rollup write torn at \"written\" keeps the previous rollup; redelivery completes it") {
    import spark.implicits._
    val base = s"target/tmp/metatorn-${System.nanoTime()}"
    val imaged = AggMaintenance.withImages(Seq(
      (1L, 1L, "insert", 10.0), (2L, 12L, "insert", 4.0),
      (3L, 1L, "update", 13.0), (4L, 12L, "delete", 0.0), (5L, 3L, "insert", 2.5)
    ).toDF("pos", "pk", "op", "value")).localCheckpoint(true)
    val (b1, b2) = (imaged.filter($"pos" <= 2), imaged.filter($"pos" > 2))
    def rollup(dir: String): Set[(Long, Long, Double)] =
      AggMaintenance.read(spark, dir).as[(Long, Long, Double)].collect().toSet
    val want = s"$base/direct"
    AggMaintenance.applyDelta(spark, want, b1)
    AggMaintenance.applyDelta(spark, want, b2)

    val dir = s"$base/rollup"
    AggMaintenance.applyDelta(spark, dir, b1)
    val first = rollup(dir)
    MetaTables.onStep = (d, step) =>
      if (step == "written" && d == dir) throw new IllegalStateException("torn")
    try intercept[IllegalStateException](AggMaintenance.applyDelta(spark, dir, b2))
    finally MetaTables.onStep = (_, _) => ()
    assert(rollup(dir) == first, "a torn write must leave the previous rollup in force")
    AggMaintenance.applyDelta(spark, dir, b2)
    assert(rollup(dir) == rollup(want) && rollup(want).size == 2,
      "redelivering the torn batch yields the two-batch rollup")
  }
}
