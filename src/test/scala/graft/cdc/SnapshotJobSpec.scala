package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.model.{FilterRule, GtidSet, TableFilter}

class SnapshotJobSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  import spark.implicits._

  test("tableEnvelopes rejects PK-less tables with a rollback envelope") {
    val noPk = Seq((1, "a"), (2, "b")).toDF("x", "y")
    val env = SnapshotJob.tableEnvelopes(spark, noPk, "mystery", None, "u:1-5").collect()
    assert(env.length == 1)
    assert(env.head.kind == "rollback")
    assert(env.head.err.exists(_.contains("no primary key")))
    // registered PK whose columns are missing from the frame: same fate
    val bad = SnapshotJob.tableEnvelopes(spark, noPk, "m2", Some(Seq("zz")), "u:1").collect()
    assert(bad.head.kind == "rollback" && bad.head.err.exists(_.contains("zz")))
  }

  test("discoverTables enumerates the catalog from the filesystem") {
    assert(SnapshotJob.discoverTables(spark, sf) == graft.Tables.all.sorted)
  }

  test("a rule that prunes every table yields an empty snapshot, not a crash") {
    val denyAll = FilterRule(global = Some(TableFilter(includeSchemas = Seq("no-such-schema"))))
    assert(SnapshotJob.snapshot(spark, sf, denyAll, "u:1").count() == 0)
  }

  test("snapshot emits create_table/insert/end per table with DDL and pos") {
    val rule = FilterRule(global = Some(TableFilter(includeTables = Seq("region", "nation"))))
    val env = SnapshotJob.snapshot(spark, sf, rule, "srv:1-100").collect()
    val byKind = env.groupBy(_.kind).view.mapValues(_.length).toMap
    assert(byKind("create_table") == 2 && byKind("end") == 2)
    assert(byKind("insert") == 5 + 25) // region 5 + nation 25 at sf0.001
    val ddl = env.filter(e => e.kind == "create_table" && e.table == "region").head.ddl.get
    assert(ddl.contains("r_regionkey") && ddl.contains("r_name"))
    assert(env.filter(_.kind == "end").forall(_.pos.contains("srv:1-100")))
    // the insert after-image is the reference's map[string]any row (#7)
    val row = env.filter(e => e.kind == "insert" && e.table == "region").head
    assert(row.data.get.keySet == Set("r_regionkey", "r_name"))
  }

  test("chunked: partitions are disjoint in PK order and union to the table") {
    val orders = graft.Tables.orders(spark, sf)
    val chunks = SnapshotJob.chunked(orders, Seq("o_orderkey"), 8)
    assert(chunks.count() == orders.count())
    // per-partition (min, max, n): ranges must not overlap — the
    // property the reference's keyset cursor hand-guarantees
    val ranges = chunks
      .select(col("o_orderkey"), spark_partition_id().as("p"))
      .groupBy("p")
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"), count(lit(1)).as("n"))
      .orderBy("lo")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    ranges.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2)
      case _ =>
    }
    assert(ranges.map(_._3).sum == orders.count())
  }

  test("WatermarkStore upserts by merging GTID sets, covered() gates replays") {
    val path = s"target/tmp/wmstore-${System.nanoTime()}"
    val store = new WatermarkStore(path)
    assert(store.watermark(spark, "s", "main", "t").isEmpty)
    store.upsert(spark, Seq(TableWatermark("s", "main", "t", "u:1-5")))
    store.upsert(spark, Seq(TableWatermark("s", "main", "t", "u:3-10"),
      TableWatermark("s", "main", "t2", "u:1-2")))
    assert(store.watermark(spark, "s", "main", "t").serialize == "u:1-10")
    assert(store.watermark(spark, "s", "main", "t2").serialize == "u:1-2")
    assert(store.covered(spark, "s", "main", "t", GtidSet.parse("u:2-7")))
    assert(!store.covered(spark, "s", "main", "t", GtidSet.parse("u:9-12")))
    // a replayed upsert is idempotent (positions only grow)
    store.upsert(spark, Seq(TableWatermark("s", "main", "t", "u:1-5")))
    assert(store.watermark(spark, "s", "main", "t").serialize == "u:1-10")
    // the in-process cache is an optimization, not the source of
    // truth: a FRESH instance (restart, another process) reads the
    // same merged state back from disk
    val reopened = new WatermarkStore(path)
    assert(reopened.watermark(spark, "s", "main", "t").serialize == "u:1-10")
    assert(reopened.watermark(spark, "s", "main", "t2").serialize == "u:1-2")
    // and an upsert through the fresh instance is visible to yet
    // another reader — write-through, not write-behind
    reopened.upsert(spark, Seq(TableWatermark("s", "main", "t", "u:12-14")))
    assert(new WatermarkStore(path).watermark(spark, "s", "main", "t")
      .serialize == "u:1-10:12-14")
    // a crash between the temp-file write and the rename leaves a stray
    // (here torn) temp file: no reader opens it, and the next upsert
    // overwrites it and renames it into place
    val tmp = java.nio.file.Paths.get(path, WatermarkStore.TmpName)
    java.nio.file.Files.write(tmp,
      """[{"source":"s","schema":"main","table":"t","pos":"u:1-9""".getBytes("UTF-8"))
    val afterCrash = new WatermarkStore(path)
    assert(afterCrash.watermark(spark, "s", "main", "t").serialize == "u:1-10:12-14")
    assert(afterCrash.watermark(spark, "s", "main", "t2").serialize == "u:1-2")
    afterCrash.upsert(spark, Seq(TableWatermark("s", "main", "t2", "u:3-4")))
    assert(!java.nio.file.Files.exists(tmp))
    val healed = new WatermarkStore(path)
    assert(healed.watermark(spark, "s", "main", "t").serialize == "u:1-10:12-14")
    assert(healed.watermark(spark, "s", "main", "t2").serialize == "u:1-4")
  }

  test("WatermarkGate.containsColumn matches GtidSet.contains") {
    val wm = GtidSet.parse("u:1-5:8-10")
    val got = Seq(0L, 1L, 3L, 5L, 6L, 8L, 10L, 11L)
      .toDF("pos")
      .select(col("pos"), WatermarkGate.containsColumn(wm, "u", col("pos")).as("c"))
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    Seq(0L, 1L, 3L, 5L, 6L, 8L, 10L, 11L).foreach { p =>
      assert(got(p) == wm.contains("u", p), s"pos $p")
    }
    // multi-uuid watermark: the gate compiles per-uuid interval lists;
    // ranges of another server must not leak across
    val multi = GtidSet.parse("u:1-5,v:100-200")
    val gateU = Seq(3L, 150L).toDF("pos")
      .select(WatermarkGate.containsColumn(multi, "u", col("pos"))).collect().map(_.getBoolean(0))
    val gateV = Seq(3L, 150L).toDF("pos")
      .select(WatermarkGate.containsColumn(multi, "v", col("pos"))).collect().map(_.getBoolean(0))
    assert(gateU.toSeq == Seq(true, false) && gateV.toSeq == Seq(false, true))
  }

  test("consistency protocol: snapshot state + gated replay == direct state (seeded property)") {
    // SURVEY §5.3(c) / docs/全量抓取逻辑.md:44-52 — for random feeds
    // and random watermarks, materializing the covered prefix and
    // replaying only uncovered events must equal the one-shot result.
    val rnd = new Random(42)
    (1 to 10).foreach { _ =>
      val n = 100 + rnd.nextInt(200)
      val events = (1L to n.toLong).map { pos =>
        val op = rnd.nextInt(5) match {
          case 0 => "insert"
          case 4 => "delete"
          case _ => "update"
        }
        (pos, rnd.nextInt(20).toLong, op, rnd.nextDouble())
      }
      val feed = spark.createDataset(Random.shuffle(events))
        .toDF("pos", "pk", "op", "value").repartition(5)
      val wm = GtidSet.parse(s"u:1-${1 + rnd.nextInt(n)}")
      val inWm = WatermarkGate.containsColumn(wm, "u", col("pos"))
      val snap = ChangeFeed.latestState(feed.filter(inWm))
      val gated = ChangeFeed.latestState(snap.unionByName(feed.filter(!inWm)))
      val direct = ChangeFeed.latestState(feed)
      val k = (df: org.apache.spark.sql.DataFrame) =>
        df.select("pk", "pos", "op", "value").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(k(gated) == k(direct))
    }
  }

  test("snapshotFromCatalog over FsCatalog equals the inline FS snapshot") {
    val rule = graft.model.FilterRule(global = Some(graft.model.TableFilter(
      includeSchemas = Seq(SnapshotJob.schemaName), excludeTables = Seq("e_"))))
    def key(df: org.apache.spark.sql.Dataset[graft.model.SnapshotEnvelope]) =
      df.groupBy("schema", "table", "kind").count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val direct = key(SnapshotJob.snapshot(spark, sf, rule, "src:1-10"))
    val seam = key(SnapshotJob.snapshotFromCatalog(
      spark, new FsCatalog(spark, sf), rule, "src:1-10"))
    assert(seam == direct, "the SPI path must reproduce the inline path exactly")
  }

  test("JdbcCatalog discovers the live Derby catalog through information_schema views") {
    val name = s"graftcatspec${System.nanoTime()}"
    val url = DerbyHarness.create(name)
    try {
      val cat = new JdbcCatalog(url, DerbyHarness.systemSchemas)
      // op #1: user schemas only — Derby's system schemas excluded the
      // way the reference excludes MySQL's (mysql_data_source.go:28)
      assert(cat.listSchemas() == Seq("SCRATCH", "SHOP"))
      // op #2: base tables per schema; the information_schema views
      // themselves must not appear (table_type filter)
      assert(cat.listTables(Seq("SHOP")).map(_._2).sorted ==
        Seq("AUDIT_LOG", "CUSTOMERS", "ORDERS"))
      // op #4: single and COMPOSITE keys in key order; empty for no-PK
      assert(cat.primaryKeys("SHOP", "CUSTOMERS") == Seq("ID"))
      assert(cat.primaryKeys("SHOP", "ORDERS") == Seq("ID", "ITEM"))
      assert(cat.primaryKeys("SHOP", "AUDIT_LOG").isEmpty)
      // op #3: DDL extraction through the engine schema
      val ddl = cat.tableDDL(spark, "SHOP", "CUSTOMERS")
      assert(ddl.contains("ID") && ddl.contains("NAME") && ddl.contains("BAL"))
      // discovery is DYNAMIC: a table created after the fixture shows
      // up without touching the views
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate(
        "CREATE TABLE SHOP.LATECOMER(K INT NOT NULL PRIMARY KEY)")
      finally c.close()
      assert(cat.listTables(Seq("SHOP")).map(_._2).contains("LATECOMER"))
      // the scan half round-trips typed data through spark.read.jdbc
      val rows = cat.readTable(spark, "SHOP", "CUSTOMERS")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(rows == Set((1, "ada"), (2, "bob"), (3, "eve")))
    } finally DerbyHarness.drop(name)
  }

  test("snapshot through the JDBC seam: pruning, rejection, and payload fidelity") {
    import org.apache.spark.sql.functions.element_at
    val name = s"graftcatsnap${System.nanoTime()}"
    val url = DerbyHarness.create(name)
    try {
      val rule = graft.model.FilterRule(global = Some(graft.model.TableFilter(
        includeSchemas = Seq("SHOP"))))
      val env = SnapshotJob.snapshotFromCatalog(
        spark, new JdbcCatalog(url, DerbyHarness.systemSchemas), rule, "src:1-99")
        .localCheckpoint(true)
      // SCRATCH pruned before any scan; AUDIT_LOG rejected, not read
      assert(env.filter(col("schema") === "SCRATCH").count() == 0)
      val audit = env.filter(col("table") === "AUDIT_LOG").collect()
      assert(audit.length == 1 && audit(0).kind == "rollback"
        && audit(0).err.exists(_.contains("no primary key")))
      // envelope payloads carry the JDBC rows faithfully (op #7 over
      // the seam): stringified map round-trip of a typed row
      val ada = env
        .filter(col("table") === "CUSTOMERS" && col("kind") === "insert")
        .select(element_at(col("data"), "ID").cast("int").as("id"),
          element_at(col("data"), "NAME").as("name"),
          element_at(col("data"), "BAL").cast("double").as("bal"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
      assert(ada == Set((1, "ada", 10.5), (2, "bob", 0.25), (3, "eve", -3.0)))
      // end envelopes carry the pinned position
      assert(env.filter(col("kind") === "end").collect()
        .forall(_.pos.contains("src:1-99")))
    } finally DerbyHarness.drop(name)
  }
}
