package graft.cdc

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.model.GtidSet

/** ScalaCheck model of [[CdcPipeline.resumableSnapshot]] under a crash.
  * A snapshot of distinct keys runs in 2–6 chunks and crashes at its
  * k-th commit step ([[MetaTables.onStep]]: the bounds' manifest staged
  * or renamed, a chunk's files written, its manifest staged or renamed,
  * the table watermark staged). A second run resumes it. After the
  * crash the table watermark is still unset; after the resume the files
  * the manifest names hold each key exactly once, the state read equals
  * the snapshot and the table watermark is the pinned position.
  */
object SnapshotCommitPropSpec extends Properties("SnapshotCommit") {

  private lazy val spark = graft.TestSpark.spark

  // each case runs a few chunk writes twice over: keep the count small
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private val source = "src"
  private val pos = "src:1-9"

  /** Distinct keys, a chunk count, and the crash step: the bounds
    * commit takes 2 steps, each chunk 3 and the watermark 1.
    */
  private val genCase: Gen[(Seq[Long], Int, Int)] = for {
    n <- Gen.chooseNum(6, 30)
    keys <- Gen.pick(n, 0L until 200L)
    chunks <- Gen.chooseNum(2, 6)
    crash <- Gen.chooseNum(1, 3 + 3 * chunks)
  } yield (keys.toSeq.sorted, chunks, crash)

  private def run(keys: Seq[Long], chunks: Int, crashAt: Int): Boolean = {
    import spark.implicits._
    val base = s"target/tmp/snapcommitprop-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val snap = keys.map(k => (0L, new java.sql.Timestamp(0L), k, "insert", k * 0.5))
      .toDF("pos", "ts", "pk", "op", "value")
    def snapshot(): Seq[Int] =
      CdcPipeline.resumableSnapshot(spark, store, dir, source, snap,
        chunkBy = "pk", numChunks = chunks, pos = pos)
    def watermark: GtidSet =
      new WatermarkStore(s"$base/wm").watermark(spark, source, SnapshotJob.schemaName, "events")
    var steps = 0
    MetaTables.onStep = (d, _) =>
      if (d.startsWith(base)) {
        steps += 1
        if (steps == crashAt) throw new IllegalStateException("injected crash")
      }
    try {
      val crashed =
        try { snapshot(); false }
        catch { case e: IllegalStateException if e.getMessage == "injected crash" => true }
      MetaTables.onStep = (_, _) => ()
      val unpinned = watermark.isEmpty
      snapshot()
      val log = MetaTables.readLog(dir).get
      val named = MetaTables.read(spark, dir, log, log.files).select("pk").as[Long].collect()
      val state = CdcPipeline.readState(spark, dir).select("pk", "value").as[(Long, Double)]
        .collect().toSet
      val ok = crashed && unpinned &&
        named.sorted.toSeq == keys &&
        state == keys.map(k => (k, k * 0.5)).toSet &&
        watermark == GtidSet.parse(pos)
      if (!ok)
        println(s"${keys.size} keys, $chunks chunks, crash at step $crashAt: crashed=$crashed, " +
          s"unpinned after the crash=$unpinned, named files hold ${named.length} rows " +
          s"(${named.distinct.length} keys), watermark $watermark")
      ok
    } finally {
      MetaTables.onStep = (_, _) => ()
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  property("a snapshot crashed at any commit step resumes to each key exactly once") =
    Prop.forAllNoShrink(genCase) { case (keys, chunks, crash) => run(keys, chunks, crash) }
}
