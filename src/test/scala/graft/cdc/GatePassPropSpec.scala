package graft.cdc

import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.model.GtidSet

/** ScalaCheck model of the gate pass ([[CdcPipeline.gate]]). Random
  * micro-batches of (pos, pk) rows — positions with gaps and repeats
  * (a multi-row transaction repeats its position), in any order — are
  * spread over 1–8 partitions, some of them empty, and the whole batch
  * is sometimes empty; the bucket count is 1–64. The pass's GTID set
  * must equal the plain-Scala fold of [[GtidSet.add]], and its touched
  * buckets Spark's own `distinct` of `pmod(hash(pk), n)` over the batch.
  */
object GatePassPropSpec extends Properties("GatePass") {

  private lazy val spark = graft.TestSpark.spark

  // two small Spark jobs per case
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val uuid = "src"

  private final case class Case(rows: Seq[(Long, Long)], partitions: Int, buckets: Int)

  /** Up to 60 rows over positions 1–40 (so gaps and repeats both occur)
    * and keys of either sign; one case in eight is an empty batch. With
    * fewer rows than partitions, some partitions hold none.
    */
  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 7 -> Gen.chooseNum(1, 60))
    rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 40L), Gen.chooseNum(-500L, 500L)))
    partitions <- Gen.chooseNum(1, 8)
    buckets <- Gen.chooseNum(1, 64)
  } yield Case(rows, partitions, buckets)

  private def check(c: Case): Boolean = {
    import spark.implicits._
    val batch = spark.sparkContext.parallelize(c.rows, c.partitions).toDF("pos", "pk")
    val (set, touched) = CdcPipeline.gate(batch, uuid, CdcPipeline.bucketOf(c.buckets))
    val wantSet = c.rows.foldLeft(GtidSet.empty)((acc, r) => acc.add(uuid, r._1))
    val wantTouched = batch.select(pmod(hash(col("pk")), lit(c.buckets)))
      .distinct().collect().map(_.getInt(0)).toSet
    val ok = set == wantSet && touched == wantTouched
    if (!ok) println(s"$c: set $set vs $wantSet, touched $touched vs $wantTouched")
    ok
  }

  property("the gate pass's GTID set and touched buckets equal the fold and Spark's distinct") =
    Prop.forAllNoShrink(genCase)(check)
}
