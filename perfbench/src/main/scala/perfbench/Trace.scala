package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval: name, start, end (System.nanoTime), the span
  * that caused it, and a few counts measured at the same boundary.
  */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long,
    counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans live in memory while the workload runs and are written out at
  * the end. With tracing off, [[span]] only runs its body, so the
  * untraced run pays nothing for the calls that sit on its path.
  */
object Trace {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Job description prefix through which [[JobLedger]] attributes Spark
    * jobs to the span that was open on the submitting thread.
    */
  val JobTag = "perfbench#"
  val JobDescription = "spark.job.description"

  def span[T](name: String, sc: SparkContext = null)(body: => T): T =
    spanCounted(name, sc)(body)(_ => Map.empty)

  def spanCounted[T](name: String, sc: SparkContext = null)(body: => T)(
      counts: T => Map[String, Long]): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val prevDesc = if (sc != null) sc.getLocalProperty(Trace.JobDescription) else null
    if (sc != null) sc.setJobDescription(s"$JobTag$id $name")
    val t0 = System.nanoTime()
    try {
      val out = body
      spans.add(Span(id, name, parent, t0, System.nanoTime(), counts(out)))
      out
    } catch {
      case e: Throwable =>
        spans.add(Span(id, name, parent, t0, System.nanoTime(), Map("failed" -> 1L)))
        throw e
    } finally {
      current.set(parent)
      if (sc != null) sc.setJobDescription(prevDesc)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def write(path: java.nio.file.Path, jobs: JobLedger): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      val js = jobs.forSpan(s.id)
      sb.append(Json.obj(Seq(
        "id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent.toDouble),
        "start_ms" -> Json.num(s.startNs / 1e6), "end_ms" -> Json.num(s.endNs / 1e6),
        "jobs" -> Json.num(js.size.toDouble),
        "task_ms" -> Json.num(js.map(_.taskMs.get).sum.toDouble),
        "shuffle_bytes" -> Json.num(js.map(_.shuffleBytes.get).sum.toDouble),
        "spill_bytes" -> Json.num(js.map(_.spillBytes.get).sum.toDouble)) ++
        s.counts.toSeq.map { case (k, v) => k -> Json.num(v.toDouble) }))
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-job record: wall interval, the span it ran under, and the task
  * totals that matter to a layer (task time, shuffle bytes, spill).
  */
final class JobRec(val id: Int, val spanId: Long, val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val taskMs = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
}

/** A SparkListener that attributes every job, and its tasks' time,
  * shuffle and spill, to the span whose description the benchmark set
  * on the submitting thread ([[Trace.JobTag]]).
  */
final class JobLedger extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty(Trace.JobDescription)))
      .getOrElse("")
    val spanId =
      if (desc.startsWith(Trace.JobTag))
        desc.stripPrefix(Trace.JobTag).takeWhile(_.isDigit).toLongOption.getOrElse(0L)
      else 0L
    // the result stage is named after the job's call site ("parquet at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobRec(e.jobId, spanId, site, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.taskMs.addAndGet(m.executorRunTime)
      j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until every started job's end event has been delivered. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last stage trail the job end
  }

  def forSpan(id: Long): Seq[JobRec] = jobs.values().asScala.filter(_.spanId == id).toSeq

  /** Jobs, shuffle, spill and driver gap (span wall not covered by any
    * of its jobs) over a set of spans, each span counting its own jobs.
    */
  def totals(spans: Seq[Span]): LayerTotals = {
    var jobsN, shuffle, spill = 0L
    var gapMs = 0.0
    spans.foreach { s =>
      val js = forSpan(s.id)
      jobsN += js.size
      shuffle += js.map(_.shuffleBytes.get).sum
      spill += js.map(_.spillBytes.get).sum
      gapMs += math.max(0.0, s.ms - coveredMs(js, s))
    }
    LayerTotals(jobsN, shuffle, spill, gapMs)
  }

  private def coveredMs(js: Seq[JobRec], s: Span): Double = {
    val lo = s.startNs / 1e6
    val hi = s.endNs / 1e6
    // job times are wall-clock ms; map the span onto the same clock
    val offset = System.currentTimeMillis() - System.nanoTime() / 1e6
    val ivs = js.filter(_.endMs >= 0).map(j => (j.startMs - offset, j.endMs - offset))
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, end = 0.0
    var curStart = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curStart.isNaN || a > end) {
        if (!curStart.isNaN) covered += end - curStart
        curStart = a; end = b
      } else end = math.max(end, b)
    }
    if (!curStart.isNaN) covered += end - curStart
    covered
  }

  /** End times (span clock, ms) of the jobs a call site ran in one span. */
  def jobEndsAt(spanId: Long, siteContains: String): Seq[Double] = {
    val offset = System.currentTimeMillis() - System.nanoTime() / 1e6
    forSpan(spanId).filter(j => j.callSite.contains(siteContains) && j.endMs >= 0)
      .map(_.endMs - offset).sorted
  }
}

final case class LayerTotals(jobs: Long, shuffleBytes: Long, spillBytes: Long, driverGapMs: Double)

object Stats {
  /** Nearest-rank percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Just enough JSON for flat metric objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
