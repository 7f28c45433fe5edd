package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class GtidAggSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val u1 = "uuid-1"
  private val u2 = "uuid-2"

  test("batchGtidSet unions intervals per uuid across partitions") {
    import org.apache.spark.sql.functions.col
    // contiguous 1..100 for u1 with a gap at 50; u2 overlaps numerically
    val gnos =
      ((1L to 49L) ++ (51L to 100L)).map((u1, _)) ++ (40L to 60L).map((u2, _))
    val ds = spark.createDataset(gnos).toDF("uuid", "pos").repartition(8)
    // a micro-batch carries one source uuid: one gate pass per uuid
    val set = Seq(u1, u2)
      .map(u => graft.cdc.CdcPipeline.batchGtidSet(ds.filter(col("uuid") === u), u))
      .reduce(_ merge _)
    val out = set.intervals.toSeq.sortBy(_._1).flatMap { case (u, rs) =>
      rs.map(r => (u, r.start, r.end))
    }
    // uuid survives: numerically-overlapping ranges from different uuids stay distinct
    assert(out == Seq((u1, 1L, 49L), (u1, 51L, 100L), (u2, 40L, 60L)))
  }

  test("string agg yields canonical MySQL text form") {
    val ds = spark.createDataset(Seq((u1, 1L), (u1, 2L), (u1, 3L), (u1, 7L), (u2, 5L)))
      .repartition(4)
    val out = ds.select(GtidStringAgg.toColumn.name("gtid")).collect()(0)
    assert(out == s"$u1:1-3:7,$u2:5")
  }

  test("agg result is partitioning-insensitive") {
    val gnos = (1L to 500L).map((u1, _))
    val a = spark.createDataset(gnos).repartition(1)
      .select(GtidStringAgg.toColumn.name("g")).collect()(0)
    val b = spark.createDataset(scala.util.Random.shuffle(gnos)).repartition(16)
      .select(GtidStringAgg.toColumn.name("g")).collect()(0)
    assert(a == b && a == s"$u1:1-500")
  }
}
