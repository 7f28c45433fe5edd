package graft

/** Write `.explain("formatted")` of named registered queries to files:
  * `Test/runMain graft.PlanDumpAll <outDir> <query> [query...]` —
  * the before/after plan capture under `plans/` that PLANS.md cites.
  */
object PlanDumpAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
