package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload <cdc|query_mix> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> [--data <dir> --prep-s <s,s,s>]
  * }}}
  *
  * Prints one line `PERFBENCH_RESULT {json}` with the correctness verdict,
  * the attempted/failed operation counts and the raw metric values:
  * end-to-end metrics when untraced, per-layer metrics when traced. With
  * tracing on, the spans go to `<work>/trace.jsonl`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ledger = new JobLedger
    val env = new Env(spark, opt("seed").toLong, opt("seconds").toDouble, traced, work,
      opt.getOrElse("data", ""), cpus, ledger)
    Trace.on = traced
    if (traced) {
      spark.sparkContext.addSparkListener(ledger)
      spark.streams.addListener(env.progress)
    }
    val selfTest = Check.selfTest(
      Changes.generate(new scala.util.Random(env.seed), CdcFlow.backlogTraffic, 1L, 200,
        scala.collection.mutable.Set.empty))
    selfTest.foreach(e => env.tally.invalid(s"checker self-test: $e"))

    val outcome = workload match {
      case "cdc" => CdcFlow(env)
      case "query_mix" =>
        val o = QueryMix(env, s"$work/results")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "oracle_sql.json"),
          Json.obj(QueryMix.names.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))))
        o.copy(prepS = opt("prep-s").split(",").map(_.toDouble).toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (traced) ledger.drain()
    val heapMb = retainedHeapMb()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val metrics =
      if (!traced) outcome.e2e ++ Map(
        "setup_s" -> (sessionS + Stats.median(outcome.prepS) + outcome.warmS),
        "heap_retained_mb" -> heapMb)
      else {
        Trace.write(java.nio.file.Paths.get(work, "trace.jsonl"), ledger)
        Layers.zero ++ outcome.layers ++ Map("jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_after_gc_mb" -> heapMb)
      }
    val t = env.tally
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> t.ok.toString,
      "attempted" -> Json.num(t.attempted.toDouble),
      "failed" -> Json.num(t.failed.toDouble),
      "errors" -> t.errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
    System.out.flush()
    spark.stop()
  }

  /** Heap in use after full collections, repeated until it settles: the
    * first collection only enqueues the weak references through which
    * Spark's cleaner releases shuffle and broadcast blocks.
    */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var next = { Thread.sleep(200); used() }
    var rounds = 0
    while (math.abs(next - last) > 1.0 && rounds < 8) {
      last = next
      Thread.sleep(200)
      next = used()
      rounds += 1
    }
    next
  }
}
