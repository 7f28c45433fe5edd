package graft.cdc

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.model.GtidSet

/** ScalaCheck model of a state apply under crashes and redelivery.
  * Random insert/update/delete transactions are cut into batches, some
  * of them delivered twice. Each delivery may crash at its k-th commit
  * step ([[MetaTables.onStep]]: new data files written, a manifest or
  * the watermark file staged, a manifest renamed), which covers every
  * step from the first new file to the manifest rename and from the
  * rename to the watermark upsert, including the split and compaction
  * commits an apply runs. Recovery is what a restarted stream does: the
  * same batch, with the same batch id, is delivered again. After each
  * recovered delivery the state read must equal the plain-Scala
  * latest-wins model of the batches delivered so far and the watermark
  * the set of their positions, in COW and in MOR with a
  * compaction every second batch (of every bucket holding more than one
  * file).
  */
object StateCommitPropSpec extends Properties("StateCommit") {

  private lazy val spark = graft.TestSpark.spark

  // each case runs a handful of Spark applies: keep the count small
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private val source = "src"

  /** One transaction: (pos, pk, op); positions run 1..n. */
  private type Tx = (Long, Long, String)

  private final case class Case(
      txs: Seq[Tx], deliveries: Seq[(Int, Int)], batches: Seq[Seq[Tx]])

  /** Transactions over 6 keys, cut into 2–4 batches; every batch is
    * delivered in order, and each may be redelivered right after or at
    * the end. A delivery is (batch index, crash step; 0 = no crash).
    */
  private val genCase: Gen[Case] = for {
    n <- Gen.chooseNum(4, 16)
    ops <- Gen.listOfN(n, for {
      pk <- Gen.chooseNum(0L, 5L)
      op <- Gen.frequency(3 -> "insert", 3 -> "update", 2 -> "delete")
    } yield (pk, op))
    nBatches <- Gen.chooseNum(2, 4)
    cuts <- Gen.pick(nBatches - 1, 1 until n).map(_.toSeq.sorted)
    redeliver <- Gen.listOfN(nBatches, Gen.frequency(2 -> 0, 1 -> 1, 1 -> 2))
    crashes <- Gen.listOfN(2 * nBatches, Gen.frequency(1 -> 0, 3 -> Gen.chooseNum(1, 7)))
  } yield {
    val txs = ops.zipWithIndex.map { case ((pk, op), i) => (i + 1L, pk, op) }
    val bounds = (0 +: cuts) :+ n
    val batches = bounds.zip(bounds.tail).map { case (a, b) => txs.slice(a, b) }
    val inOrder = batches.indices.flatMap(b => if (redeliver(b) == 1) Seq(b, b) else Seq(b))
    val order = inOrder ++ batches.indices.filter(redeliver(_) == 2)
    Case(txs, order.zip(crashes ++ Seq.fill(order.size)(0)), batches)
  }

  /** Latest-wins over distinct transactions: each key's highest-`pos`
    * row, dropped when it is a delete.
    */
  private def model(txs: Seq[Tx]): Set[Tx] =
    txs.groupBy(_._2).values.map(_.maxBy(_._1)).filter(_._3 != "delete").toSet

  private def run(mode: CdcPipeline.ApplyMode, c: Case): Boolean = {
    import spark.implicits._
    val base = s"target/tmp/commitprop-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    var crashAt = 0
    var steps = 0
    MetaTables.onStep = (d, _) =>
      if (d.startsWith(base)) {
        steps += 1
        if (steps == crashAt) throw new IllegalStateException("injected crash")
      }
    try {
      var delivered = Set.empty[Tx]
      c.deliveries.zipWithIndex.forall { case ((b, crash), batchId) =>
        val batch = c.batches(b).toDF("pos", "pk", "op")
          .withColumn("value", $"pos".cast("double"))
        def deliver(): Unit = CdcPipeline.applyFor(mode, store, dir, source)(batch, batchId.toLong)
        crashAt = crash
        steps = 0
        try deliver()
        catch { case e: IllegalStateException if e.getMessage == "injected crash" => () }
        crashAt = 0
        deliver() // the restarted stream redelivers the same batch id
        delivered ++= c.batches(b)
        val state = CdcPipeline.readState(spark, dir).select("pos", "pk", "op").as[Tx]
          .collect().toSet
        val wm = new WatermarkStore(s"$base/wm")
          .watermark(spark, source, SnapshotJob.schemaName, "events")
        val applied = delivered.foldLeft(GtidSet.empty)((acc, t) => acc.add(source, t._1))
        val ok = state == model(delivered.toSeq) && wm == applied
        if (!ok)
          println(s"$mode $c, delivery $batchId: state $state vs ${model(delivered.toSeq)}, " +
            s"watermark $wm vs $applied")
        ok
      }
    } finally {
      MetaTables.onStep = (_, _) => ()
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  property("COW: after any crash and redelivery, state == latest-wins model") =
    Prop.forAllNoShrink(genCase)(run(CdcPipeline.Cow, _))

  property("MOR: after any crash and redelivery, state == latest-wins model") =
    Prop.forAllNoShrink(genCase)(run(CdcPipeline.Mor(compactEvery = 2, maxFilesPerBucket = 1), _))
}
