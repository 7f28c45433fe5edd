package graft.cdc

import org.scalacheck.{Gen, Prop, Properties}

import graft.model.{GtidRange, GtidSet}

/** ScalaCheck model of [[WatermarkStore]]: whatever sequence of upserts
  * a single writer makes, a FRESH instance on the same path (a restart)
  * reads, for each (source, schema, table), the [[GtidSet.merge]] fold
  * of every position upserted for it so far — and the writer's own
  * cached view agrees. Keys never upserted read empty.
  */
object WatermarkStorePropSpec extends Properties("WatermarkStore") {

  private lazy val spark = graft.TestSpark.spark

  private val keys = Seq(
    ("src-a", SnapshotJob.schemaName, "events"),
    ("src-a", SnapshotJob.schemaName, "orders"),
    ("src-b", SnapshotJob.schemaName, "events"))

  private val genPos: Gen[GtidSet] = for {
    n <- Gen.chooseNum(1, 3)
    rs <- Gen.listOfN(n, for {
      u <- Gen.oneOf("srv-a", "srv-b")
      start <- Gen.chooseNum(0L, 200L)
      len <- Gen.chooseNum(0L, 30L)
    } yield (u, GtidRange(start, start + len)))
  } yield rs.foldLeft(GtidSet.empty) { case (acc, (u, r)) => acc.addRange(u, r) }

  private val genUpsert: Gen[Seq[TableWatermark]] = for {
    n <- Gen.chooseNum(1, 3)
    ws <- Gen.listOfN(n, for {
      k <- Gen.oneOf(keys)
      pos <- genPos
    } yield TableWatermark(k._1, k._2, k._3, pos.serialize))
  } yield ws

  property("a fresh store reads the merge fold of every upsert so far") =
    Prop.forAll(Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, genUpsert))) { upserts =>
      val dir = java.nio.file.Paths.get(s"target/tmp/wmprop-${System.nanoTime()}")
      val writer = new WatermarkStore(dir.toString)
      var model = Map.empty[(String, String, String), GtidSet]
      try upserts.forall { ws =>
        writer.upsert(spark, ws)
        ws.foreach { w =>
          val k = (w.source, w.schema, w.table)
          model = model.updated(k, model.getOrElse(k, GtidSet.empty).merge(GtidSet.parse(w.pos)))
        }
        val fresh = new WatermarkStore(dir.toString)
        keys.forall { case k @ (src, sc, tb) =>
          val want = model.getOrElse(k, GtidSet.empty)
          fresh.watermark(spark, src, sc, tb) == want &&
            writer.watermark(spark, src, sc, tb) == want
        }
      }
      finally graft.Fs.deleteRecursively(dir)
    }
}
