package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("brute-force top-k returns 10 ranked neighbours per query") {
    val rows = Similarity.queries("s1_cosine_topk")(spark, sf).collect()
    assert(rows.length == 50) // 5 queries x 10
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to 10))
      // cosine non-increasing with rank
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH bucket probe returns a subset of each query's brute-force ordering") {
    val brute = Similarity.queries("s1_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos")).toMap
    val ann = Similarity.queries("s2_ann_bucket")(spark, sf).collect()
    assert(ann.nonEmpty, "64 buckets over 500 vectors must give non-empty probes")
    // any ANN hit that also appears in the brute-force top-10 must carry the same cosine
    ann.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
  }

  test("bucketed index: recall vs exact top-10 at two bit widths") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact top-10 per query (qid < 5) as ground truth
    val all = Similarity.corpus(spark, sf)
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def topk(scored: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      scored.withColumn("rnk", row_number().over(wExact)).filter(col("rnk") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = topk(all.filter(col("vec_id") >= 5).join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")))
    def recallAt(b: Int, multiProbe: Boolean): Double = {
      val bucketed = Similarity.bucketed(all, b)
      val qs0 = bucketed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket").as("qb"))
      val qs =
        if (multiProbe)
          qs0.select(col("qid"), col("qv"),
            explode(Similarity.probeBuckets(col("qb"), b)).as("qb"))
        else qs0
      val annTop = topk(bucketed.filter(col("vec_id") >= 5)
        .join(qs, col("bucket") === col("qb"))
        .select(col("qid"), col("vec_id"),
          graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos"))
        .dropDuplicates("qid", "vec_id", "cos"))
      val r = exact.map { case (q, want) =>
        annTop.getOrElse(q, Set.empty).intersect(want).size / want.size.toDouble
      }.sum / exact.size
      info(f"bits=$b multiProbe=$multiProbe recall@10=$r%.2f")
      r
    }
    val r4 = recallAt(4, multiProbe = false)
    val r8 = recallAt(8, multiProbe = false)
    val m4 = recallAt(4, multiProbe = true)
    val m8 = recallAt(8, multiProbe = true)
    // Measured on the harness corpus (near-random 64-dim vectors, the
    // adversarial case for LSH): single-probe r4=0.18, r8=0.08;
    // multi-probe m4=0.58, m8=0.30. The two knobs behave as designed:
    // fewer bits -> bigger buckets -> more recall; +multi-probe
    // recovers single-plane misses at (1+bits)/2^bits scan cost.
    assert(r4 > r8, "coarser index must not lose to finer on recall")
    assert(m4 > r4 && m8 > r8, "multi-probe must improve recall at fixed bits")
    assert(m4 >= 0.3, s"multi-probe recall@10 at 4 bits: $m4")
    assert(Similarity.suggestedBits(500) == 4)
    assert(Similarity.suggestedBits(500000) == 13)
    assert(Similarity.suggestedBits(10) == 4) // floor
  }

  test("trained IVF codebook: cells balance and recall does not regress") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = Similarity.quantized(spark, sf)
    val all = Similarity.corpus(spark, sf)
    // exact top-10 ground truth per query (qid < 5), like the LSH test
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def topk(scored: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      scored.withColumn("rnk", row_number().over(wExact)).filter(col("rnk") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = topk(all.filter(col("vec_id") >= 5).join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")))
    def recallWith(codebook: org.apache.spark.sql.DataFrame): (Double, Seq[Long]) = {
      val cells = Similarity.assignCells(base, codebook)
        .select(col("vec_id"), col("cid"))
      val sizes = cells.groupBy("cid").count()
        .collect().map(_.getAs[Long]("count")).toSeq.sorted
      val withCell = all.join(cells, "vec_id")
      val qs = withCell.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid").as("qcid"))
      val probe = topk(withCell.filter(col("vec_id") >= 5)
        .join(broadcast(qs), col("cid") === col("qcid"))
        .select(col("qid"), col("vec_id"),
          graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")))
      val r = exact.map { case (q, want) =>
        probe.getOrElse(q, Set.empty).intersect(want).size / want.size.toDouble
      }.sum / exact.size
      (r, sizes)
    }
    val (r0, sizes0) = recallWith(Similarity.seedCodebook(base))
    val (r2, sizes2) = recallWith(Similarity.trainCodebook(base, 2))
    info(f"seeded recall@10=$r0%.2f cells=$sizes0; trained recall@10=$r2%.2f cells=$sizes2")
    // The harness corpus is near-random 64-dim noise — there are no
    // clusters to learn, so single-probe recall is a coin-flip metric
    // (measured: seeded 0.88, trained 0.82). What training MUST do
    // here is balance the partition without collapsing recall; the
    // clustered-corpus test below is where training has signal to win.
    assert(r2 >= r0 - 0.1, s"training collapsed recall: seeded $r0, trained $r2")
    assert(sizes2.max <= sizes0.max,
      s"training must not concentrate cells further: $sizes0 -> $sizes2")
  }

  test("trained IVF beats the seeded codebook on clustered data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 8 clusters x 50 vectors (cluster c strong at dim c, deterministic
    // +/-50 noise), ids ordered by cluster — so the first-8 seed
    // centroids all sit inside cluster 0, the degenerate init. Two
    // Lloyd iterations must recover real structure.
    val base = spark.range(400).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
             |  i -> CAST(CASE WHEN i = CAST(id DIV 50 AS INT) THEN 900 ELSE 0 END
             |       + ((id*64 + i) * 2654435761) % 101 - 50 AS DOUBLE))""".stripMargin).as("q"))
    val all = base.select(col("vec_id"), col("q").as("v"))
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def topk(scored: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      scored.withColumn("rnk", row_number().over(wExact)).filter(col("rnk") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val qids = Seq(10L, 60L, 110L, 210L, 310L)
    val queries = all.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = topk(all.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")))
    def recallWith(cb: org.apache.spark.sql.DataFrame): Double = {
      val cells = Similarity.assignCells(base, cb).select(col("vec_id"), col("cid"))
      val withCell = all.join(cells, "vec_id")
      val qs = withCell.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid").as("qcid"))
      val probe = topk(withCell.join(broadcast(qs),
          col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")))
      exact.map { case (q, want) =>
        probe.getOrElse(q, Set.empty).intersect(want).size / want.size.toDouble
      }.sum / exact.size
    }
    val rSeed = recallWith(Similarity.seedCodebook(base))
    val rTrained = recallWith(Similarity.trainCodebook(base, 2))
    info(f"clustered: seeded recall@10=$rSeed%.2f, trained(2)=$rTrained%.2f")
    // measured: seeded 0.90 (degenerate init still catches same-cell
    // luck), trained 1.00 with per-cluster cells
    assert(rTrained > rSeed,
      s"training must beat the seeded codebook on clustered data: $rSeed -> $rTrained")
    assert(rTrained >= 0.95, s"trained recall@10 on separable clusters: $rTrained")
  }

  test("persisted codebook assigns identically to the in-memory one") {
    val base = Similarity.quantized(spark, sf)
    val trained = Similarity.trainCodebook(base, 2)
    val path = s"target/tmp/codebook-${System.nanoTime()}"
    Similarity.saveCodebook(trained, path)
    val direct = Similarity.assignCells(base, trained)
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loaded = Similarity.assignCells(base, Similarity.loadCodebook(spark, path))
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct == loaded, "roundtripped codebook must assign identically")
  }

  test("embedding dedup finds every planted re-embedding") {
    val rows = Similarity.queries("s3_embedding_dedup")(spark, sf).collect()
    val planted = rows
      .filter(r => r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1000000L)
      .map(_.getAs[Long]("id_a")).toSet
    // scaled copies are bit-near-identical: every one of the 20 must share
    // all signature bits with its original and survive cos >= 0.999
    assert(planted == (0L until 20L).toSet,
      s"missing planted pairs: ${(0L until 20L).toSet -- planted}")
    assert(rows.forall(_.getAs[Double]("cos") >= 0.999))
  }

  test("quantized rerank recovers the exact top-5 almost everywhere") {
    // the coarse int8 pass keeps 20 candidates per query; if absmax
    // quantization is doing its job, the exact top-5 survive into the
    // reranked result for nearly every query
    import org.apache.spark.sql.functions.col
    val exact = Similarity.queries("s1_cosine_topk")(spark, sf)
      .filter(col("rnk") <= 5).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity.queries("s6_quant_rerank")(spark, sf)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = reranked.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, f"quantized rerank recall@5 = $recall%.2f (exact=${exact.size})")
    // and within the reranked set, exact cosine order is respected
    val rows = Similarity.queries("s6_quant_rerank")(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val byRnk = g.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
    }
  }

  test("persisting operators release their caches: d3/s2/s3 back-to-back leak nothing") {
    // Outside the harness's clearCache-between-queries loop, a
    // long-lived session embedding these operators must not accrete
    // cached intermediates: each one persists its shingle/bucket
    // table, materializes its (tiny) result, and unpersists. The only
    // blocks allowed to remain are the eager result checkpoints —
    // ≤ 1 net persistent RDD per query.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    def nCached = sc.getPersistentRDDs.size
    val base = nCached
    graft.ops.Dedup.queries("d3_minhash_lsh")(spark, sf).count()
    assert(nCached - base <= 1, s"d3 leaked ${nCached - base} cached RDDs")
    Similarity.queries("s2_ann_bucket")(spark, sf).count()
    assert(nCached - base <= 2, s"s2 leaked ${nCached - base - 1} cached RDDs")
    Similarity.queries("s3_embedding_dedup")(spark, sf).count()
    assert(nCached - base <= 3, s"s3 leaked ${nCached - base - 2} cached RDDs")
  }

  test("s8: MMR picks are distinct, anchored on relevance, and less redundant than plain top-5") {
    import org.apache.spark.sql.functions._
    val mmr = Similarity.queries("s8_mmr_rerank")(spark, sf).collect()
    assert(mmr.length == 25, "5 queries x 5 picks")
    mmr.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("vec_id")).distinct.length == 5, "no repicks")
      // step 1 is pure relevance: its mmr equals its rel
      val s1r = rs.find(_.getAs[Int]("step") == 1).get
      assert(s1r.getAs[Double]("mmr") == s1r.getAs[Double]("rel"))
    }
    // the tradeoff must bind overall: summed pairwise similarity among
    // MMR picks is below that of the pure-relevance top-5
    val top5 = Similarity.queries("s1_cosine_topk")(spark, sf)
      .filter(col("rnk") <= 5).collect()
    def pairSim(picks: Map[Long, Seq[Long]]): Double = {
      val vs = Similarity.corpus(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](2)).toMap
      picks.values.flatMap { ids =>
        for (a <- ids; b <- ids if a < b) yield {
          val (x, y) = (vs(a), vs(b))
          val dot = x.zip(y).map { case (p, q) => p * q }.sum
          dot / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
        }
      }.sum
    }
    val mmrPicks = mmr.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSeq }
    val relPicks = top5.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSeq }
    assert(pairSim(mmrPicks) < pairSim(relPicks),
      "MMR must reduce total intra-result redundancy vs pure relevance")
  }

  test("s7: no cell exceeds the diversity cap in any result list") {
    val rows = Similarity.queries("s7_diverse_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    val perCell = rows.groupBy(r =>
      (r.getAs[Long]("qid"), r.getAs[Int]("bucket"))).view.mapValues(_.length)
    assert(perCell.forall(_._2 <= 2),
      s"diversity cap violated: ${perCell.filter(_._2 > 2).toMap}")
    // and the cap BINDS on this corpus: the capped list must differ
    // from the uncapped top-10 for at least one query, and every
    // candidate the cap excluded must outrank (by cos) something that
    // made the list — i.e. the difference is the cap's doing, not a
    // scoring change
    import org.apache.spark.sql.functions.col
    val s7 = rows.groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap).toMap
    val s1 = Similarity.queries("s1_cosine_topk")(spark, sf)
      .filter(col("rnk") <= 10).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap).toMap
    val excluded = s1.map { case (q, top) =>
      q -> (top.keySet -- s7(q).keySet)
    }.filter(_._2.nonEmpty)
    assert(excluded.nonEmpty,
      "the diversity cap never rewrote any result list — vacuous demo")
    excluded.foreach { case (q, ex) =>
      val minKept = s7(q).values.min
      ex.foreach { v =>
        assert(s1(q)(v) >= minKept,
          s"qid=$q: excluded $v ranks below kept results — not a cap effect")
      }
    }
  }

  test("s9: PQ-ADC retrieval quality — selected top-5 beats the corpus mean per query") {
    import org.apache.spark.sql.functions._
    // the oracle pins s9's exact values; this spec pins its WORTH as
    // an index: the 5 vectors the quantized search selects must score
    // better against the query (true dot product) than an average
    // corpus vector — compressing 64 dims to 8 codes must still
    // preserve enough geometry to beat random selection
    val out = Similarity.queries("s9_pq_adc")(spark, sf)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val all = Similarity.corpus(spark, sf)
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val dots = all.filter(col("vec_id") >= 5)
      .join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.dot_product(col("qv"), col("v")).as("dot"))
      .collect()
      .groupBy(_.getLong(0))
    out.foreach { case (qid, picked) =>
      val rows = dots(qid)
      val meanAll = rows.map(_.getDouble(2)).sum / rows.length
      val sel = rows.filter(r => picked.contains(r.getLong(1)))
      val meanPq = sel.map(_.getDouble(2)).sum / sel.length
      info(f"qid=$qid meanPq=$meanPq%.4f meanAll=$meanAll%.4f")
      assert(meanPq > meanAll,
        s"qid=$qid: quantized search selected no-better-than-random vectors")
    }
  }

  test("s10: batch-2 coding is row-local — same codes with or without batch 1 present") {
    import org.apache.spark.sql.functions.col
    // the STANDING-index property that makes incremental maintenance
    // O(new batch): coding never looks at other rows, so a late batch
    // codes identically whether the original corpus sits next to it
    // or not
    val subs = Similarity.pqSubs(spark, sf)
    val cb = Similarity.pqTrain(subs.filter(col("vec_id") < 250))
    def codes(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      Similarity.pqCodeCols(df, cb)
        .select(col("vec_id") +: (0 until 8).map(m => col(s"c$m")): _*)
        .collect()
        .map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_)))
        .toMap
    val together = codes(subs).filter(_._1 >= 250)
    val alone = codes(subs.filter(col("vec_id") >= 250))
    assert(alone.nonEmpty && alone == together,
      "standing-codebook coding must be independent of co-scanned rows")
  }

  test("s10: the incremental codebook is genuinely stale — a full retrain differs") {
    import org.apache.spark.sql.functions.col
    // non-vacuity: if batch 2 never moved any centroid, 'incremental
    // vs retrain' would be a distinction without a difference and the
    // drift metric would measure nothing
    val subs = Similarity.pqSubs(spark, sf)
    val standing = Similarity.pqTrain(subs.filter(col("vec_id") < 250))
    val retrained = Similarity.pqTrain(subs)
    val differs = (0 until 8).exists { m =>
      standing(m).toSeq.map { case (c, sv, n) => (c, sv, n) } !=
        retrained(m).toSeq.map { case (c, sv, n) => (c, sv, n) }
    }
    assert(differs, "retraining on batch1+batch2 must move at least one centroid")
    // and the gate query's drift scalar is a real per-mille in [0, 1000]
    val rows = Similarity.queries("s10_pq_incremental")(spark, sf).collect()
    assert(rows.length == 25)
    val pm = rows.map(_.getAs[Int]("drift_pm")).distinct
    assert(pm.length == 1 && pm.head >= 0 && pm.head <= 1000)
  }

  test("s11: probed-cell search stays inside 2 cells per query and agrees with brute force") {
    val rows = Similarity.queries("s11_ivf_search")(spark, sf).collect()
    assert(rows.length == 50) // 5 queries x 10
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      // nprobe = 2: results must come from at most two cells
      assert(rs.map(_.getAs[Long]("cell")).distinct.length <= 2)
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to 10))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // pruned search must still find most of the true neighbourhood:
    // s1 ranks raw vectors, s11 ranks their quantized forms, so
    // compare MEMBERSHIP (recall@10), not cosines. The trained cells
    // track the data distribution, so recall must clear 50% even on
    // this unclustered corpus (observed ~0.7+; random 2-of-8 cells
    // would give ~0.25).
    val brute = Similarity.queries("s1_cosine_topk")(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val hits = rows.count(r =>
      brute(r.getAs[Long]("qid")).contains(r.getAs[Long]("vec_id")))
    assert(hits >= 25, s"recall@10 over 5 queries fell to $hits/50")
  }

  test("s12: the recall metric is internally consistent and the index earns its floor") {
    val rows = Similarity.queries("s12_ann_recall")(spark, sf).collect()
    assert(rows.length == 5, "one row per query vector")
    val mean = rows.head.getAs[Double]("mean_recall")
    assert(rows.forall(_.getAs[Double]("mean_recall") == mean),
      "the corpus-level scalar must ride every row unchanged")
    assert(mean == rows.map(_.getAs[Long]("n_hit")).sum.toDouble / 50.0,
      "mean must be ONE division off the integer hit sum")
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hit")
      assert(h >= 0 && h <= 10, s"hits out of range: $h")
      assert(r.getAs[Double]("recall") == h.toDouble / 10.0)
    }
    assert(mean > 0.5, s"IVF recall collapsed to $mean — the index finds nothing")
  }

  test("s13: stale-vs-fresh recall is consistent and the drift scalar rides every row") {
    val rows = Similarity.queries("s13_recall_drift")(spark, sf).collect()
    assert(rows.length == 5, "one row per query vector")
    Seq("mean_stale", "mean_fresh").foreach { c =>
      val v = rows.head.getAs[Double](c)
      assert(rows.forall(_.getAs[Double](c) == v), s"$c must be one scalar")
    }
    assert(rows.head.getAs[Double]("mean_stale") ==
      rows.map(_.getAs[Long]("n_hit_stale")).sum.toDouble / 50.0)
    assert(rows.head.getAs[Double]("mean_fresh") ==
      rows.map(_.getAs[Long]("n_hit_fresh")).sum.toDouble / 50.0)
    val pm = rows.head.getAs[Int]("drift_pm")
    assert(pm >= 0 && pm <= 1000, s"TV per-mille out of range: $pm")
    assert(rows.forall(_.getAs[Boolean]("retrain") == (pm > 100)),
      "retrain must be exactly the 10% threshold on drift_pm")
  }

  test("s15: filtered search honors the label constraint and still fills ranks") {
    val rows = Similarity.queries("s15_filtered_ann")(spark, sf).collect()
    assert(rows.nonEmpty, "label-constrained probes found nothing at all")
    // the constraint is the operator: every returned neighbor carries
    // the query's own label
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    rows.foreach { r =>
      assert(r.getAs[Int]("qlabel") == labels(r.getAs[Long]("qid")),
        "qlabel must be the query vector's own label")
      assert(labels(r.getAs[Long]("vec_id")) == r.getAs[Int]("qlabel"),
        s"pre-filter violated: neighbor ${r.getAs[Long]("vec_id")} has a different label")
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to rs.length),
        "ranks must be contiguous from 1 — post-filtering would leave gaps")
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s16: RRF fusion arithmetic is exact and both towers contribute") {
    val rows = Similarity.queries("s16_hybrid_rrf")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 10),
        "each query must fuse to a full top-10")
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      val scores = sorted.map(_.getAs[Double]("rrf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach { r =>
      def part(c: String): Double =
        if (r.isNullAt(r.fieldIndex(c))) 0.0 else 1.0 / (60 + r.getAs[Int](c))
      assert(r.getAs[Double]("rrf") == part("lex_rnk") + part("vec_rnk"),
        "rrf must be exactly the sum of the two reciprocal ranks")
      assert(!(r.isNullAt(r.fieldIndex("lex_rnk")) &&
        r.isNullAt(r.fieldIndex("vec_rnk"))),
        "a fused row must come from at least one tower")
    }
    // fusion is not degenerate: some fused row draws on BOTH towers
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("lex_rnk")) &&
      !r.isNullAt(r.fieldIndex("vec_rnk"))),
      "no overlap between towers — fusion has nothing to fuse")
  }

  test("s17: the search sees each wave only after ingestion; the index survives restart") {
    val rows = Similarity.queries("s17_stream_index")(spark, sf).collect()
    val w1 = rows.filter(_.getAs[Int]("wave") == 1)
    val w2 = rows.filter(_.getAs[Int]("wave") == 2)
    assert(w1.nonEmpty && w2.nonEmpty)
    // wave 1 planted an exact re-embedding of query 0 — it must lead
    // the wave-1 snapshot at cos 1.0
    val top1 = w1.minBy(_.getAs[Int]("rnk"))
    assert(top1.getAs[Long]("vec_id") == 8000000L && top1.getAs[Double]("cos") == 1.0,
      s"wave-1 snapshot must be led by the ingested re-embedding, got $top1")
    // wave 2's plants are invisible to the wave-1 search...
    assert(!w1.exists(_.getAs[Long]("vec_id") >= 9000000L),
      "the wave-1 snapshot must not see wave-2 content")
    // ...and visible to the wave-2 search — the index grew mid-stream
    assert(w2.exists(_.getAs[Long]("vec_id") == 9000000L),
      "the wave-2 snapshot must surface wave-2's re-embedding of the query")
    // restart survival: a second session entering the SAME index dir
    // searches the previously-grown index — wave-2 content from the
    // first run is already visible to the second run's FIRST snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-s17-spec-").toString
    try {
      Similarity.s17StreamIndexWithDir(spark, sf, dir).collect()
      val again = Similarity.s17StreamIndexWithDir(spark, sf, dir).collect()
      assert(again.filter(_.getAs[Int]("wave") == 1)
        .exists(_.getAs[Long]("vec_id") == 9000000L),
        "a restarted session must probe the index grown by the previous one")
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("s21: streaming tombstones — masked delete, then physical fold, snapshots agree") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-s21-spec-").toString
    try {
      val rows = Similarity.s21StreamDeleteWithDir(spark, sf, dir).collect()
      val byWave = rows.groupBy(_.getAs[Int]("wave"))
      val (w1, w2, w3) = (byWave(1), byWave(2), byWave(3))
      // wave 1: the planted re-embedding of the query leads at cos 1.0
      val top1 = w1.minBy(_.getAs[Int]("rnk"))
      assert(top1.getAs[Long]("vec_id") == 8000000L && top1.getAs[Double]("cos") == 1.0,
        s"wave-1 snapshot must be led by the ingested re-embedding, got $top1")
      // wave 2: the deleted plant is GONE (tombstone mask — no fold has
      // run yet) and the rank window refilled to a full top-5
      assert(!w2.exists(_.getAs[Long]("vec_id") == 8000000L),
        "a masked delete must drop the vector from search results")
      assert(w2.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 5),
        "eviction must refill from the remaining live set")
      // wave 3 (post-fold, mask cleared) must be byte-identical to wave 2
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk"))
      assert(w2.map(key).toSet == w3.map(key).toSet,
        "physical and masked deletion must produce identical searches")
      // and the delete is now PHYSICAL: key absent from the cell table,
      // tombstone table drained
      assert(spark.read.parquet(s"$dir/cells")
        .filter(col("vec_id") === 8000000L).isEmpty,
        "compaction must remove the tombstoned row from storage")
      assert(IndexCompaction.dataFileCount(s"$dir/dels") == 0)
      // restart survival: wave-1 content from the first session (vec
      // 9000004) persisted through the fold and is live for a re-entry
      assert(spark.read.parquet(s"$dir/cells")
        .filter(col("vec_id") === 9000004L).count() == 1)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("s22: streaming update — same key supersedes across cells, masked then physical") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-s22-spec-").toString
    try {
      val rows = Similarity.s22StreamUpdateWithDir(spark, sf, dir).collect()
      val byWave = rows.groupBy(_.getAs[Int]("wave"))
      val (w1, w2, w3) = (byWave(1), byWave(2), byWave(3))
      def hits(ws: Array[org.apache.spark.sql.Row], qid: Long) =
        ws.filter(_.getAs[Long]("qid") == qid).sortBy(_.getAs[Int]("rnk"))
      // wave 1: the plant leads qid 0 at cos 1.0 and is absent from qid 1
      val q0w1 = hits(w1, 0L)
      assert(q0w1.head.getAs[Long]("vec_id") == 8000000L &&
        q0w1.head.getAs[Double]("cos") == 1.0,
        "wave-1 must be led by the planted copy of query 0")
      assert(!hits(w1, 1L).exists(_.getAs[Long]("vec_id") == 8000000L))
      // wave 2: the SAME vec_id moved lists — gone from qid 0 (masked
      // stale row), rank 1 of qid 1 (replacement row, new cell)
      assert(!hits(w2, 0L).exists(_.getAs[Long]("vec_id") == 8000000L),
        "the stale embedding must be unfindable under the mask")
      val q1w2 = hits(w2, 1L)
      // self-cosine of the quantized vector is 1.0 up to summation
      // rounding (q1's happens to land one ulp under; the oracle
      // computes the identical value — the hash gate pins exactness)
      assert(q1w2.head.getAs[Long]("vec_id") == 8000000L &&
        q1w2.head.getAs[Double]("cos") >= 1.0 - 1e-12,
        "the re-embedded key must surface for its new query")
      assert(hits(w2, 0L).map(_.getAs[Int]("rnk")).toSeq == (1 to 5),
        "qid 0's window must refill after the supersede")
      // while MASKED (pre-fold the gate ran mid-stream), the stale row
      // was still physically present next to its replacement — the
      // fold then kept exactly the ver-2 row
      val stored = spark.read.parquet(s"$dir/cells")
        .filter(col("vec_id") === 8000000L).collect()
      assert(stored.length == 1 && stored(0).getAs[Long]("ver") == 2L,
        s"exactly the replacement row must survive the fold, got ${stored.toSeq}")
      assert(IndexCompaction.dataFileCount(s"$dir/dels") == 0)
      // wave 3 (physical) equals wave 2 (masked) byte-for-byte
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk"))
      assert(w2.map(key).toSet == w3.map(key).toSet,
        "masked and physical supersede must produce identical searches")
      // the unrelated same-batch insert did NOT get tombstoned
      assert(spark.read.parquet(s"$dir/cells")
        .filter(col("vec_id") === 9000004L).count() == 1)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("s18: Hamming funnel — sketch distance bounded, rerank exact, selection beats the corpus mean") {
    val rows = Similarity.queries("s18_hamming")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      assert(rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Int]("rnk")).toSeq == (1 to 5))
      val cs = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        "rerank order must be exact-cosine descending")
    }
    assert(rows.forall(r => r.getAs[Int]("ham") >= 0 && r.getAs[Int]("ham") <= 64),
      "64-bit signatures bound the Hamming distance")
    // any hit shared with the exact brute-force top-10 carries the identical cosine
    val brute = Similarity.queries("s1_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("cos")).toMap
    rows.foreach { r =>
      brute.get((r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .foreach(c => assert(c == r.getAs[Double]("cos"), "shared hits must agree exactly"))
    }
    // the binary funnel must select better-than-random candidates:
    // per query, the reranked mean cosine beats the corpus mean
    import org.apache.spark.sql.functions._
    val all = Similarity.corpus(spark, sf)
    val qv = all.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv"))
    val meanAll = all.filter(col("vec_id") >= 5).join(broadcast(qv))
      .select(col("qid"),
        graft.functions.VectorFunctions.cosine_similarity(col("v"), col("qv")).as("cos"))
      .groupBy("qid").agg(avg("cos").as("mu")).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Double]("mu")).toMap
    byQ.foreach { case (q, rs) =>
      val sel = rs.map(_.getAs[Double]("cos")).sum / rs.length
      assert(sel > meanAll(q), s"query $q: funnel mean $sel must beat corpus mean ${meanAll(q)}")
    }
  }

  test("s19: the neighbor graph covers the corpus, ranks exactly, and recovers true top-1s") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.queries("s19_knn_graph")(spark, sf).collect()
    val byV = rows.groupBy(_.getAs[Long]("vec_id"))
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(byV.size == n, "every vector gets a neighbor list (cells are never singleton here)")
    byV.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to sorted.length) && sorted.length <= 3)
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // edge cosines must equal the direct computation (graph edges are
    // real similarities, not probe-order artifacts)
    val direct = Similarity.corpus(spark, sf)
    val qz = direct.select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))").as("q"))
    val sample = rows.take(50).map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"), r.getAs[Double]("cos")))
    val qmap = qz.filter(col("vec_id").isin(
        sample.flatMap(t => Seq(t._1, t._2)).distinct.map(java.lang.Long.valueOf): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    sample.foreach { case (a, b, c) =>
      val (x, y) = (qmap(a), qmap(b))
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      val exact = dot / (math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum))
      assert(math.abs(exact - c) < 1e-9, s"edge ($a,$b): graph cos $c vs direct $exact")
    }
    // multi-probe recall: for a sample, the graph's top-1 should often
    // BE the exact global top-1 (loose floor — the property is that
    // 2-cell probing recovers cross-boundary neighbors at all)
    val ids = byV.keys.take(40).toSeq
    val sampleVecs = qz.filter(col("vec_id").isin(ids.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val exactTop1 = qz.join(broadcast(sampleVecs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") === 1)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
    val got = ids.count { id =>
      byV(id).find(_.getAs[Int]("rnk") == 1)
        .exists(_.getAs[Long]("nbr_id") == exactTop1(id))
    }
    assert(got >= ids.length * 2 / 5,
      s"graph top-1 matched exact top-1 for only $got/${ids.length} sampled vectors")
  }

  test("s20: the sweep is monotone in nprobe and its middle point equals s12's operating point") {
    val rows = Similarity.queries("s20_nprobe_sweep")(spark, sf).collect()
      .sortBy(_.getAs[Int]("nprobe"))
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 2, 4))
    // more probes can only add candidates and never lose a hit
    val cands = rows.map(_.getAs[Long]("n_cand"))
    val recalls = rows.map(_.getAs[Double]("mean_recall"))
    assert(cands.zip(cands.tail).forall { case (a, b) => a < b },
      "candidate cost must strictly grow with nprobe")
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "recall must be non-decreasing in nprobe")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // cross-gate consistency: the nprobe=2 sweep point IS s12's
    // operating point — same codebook, same probes, same truth
    val s12 = Similarity.queries("s12_ann_recall")(spark, sf).collect()
    assert(recalls(1) == s12.head.getAs[Double]("mean_recall"),
      "the sweep's nprobe=2 recall must equal the s12 gate exactly")
  }

  test("s14: the kNN auto-label evaluation covers the sample and its arithmetic is exact") {
    val rows = Similarity.queries("s14_knn_label")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("label")).distinct.length == rows.length,
      "one row per observed true label")
    val nEval = rows.map(_.getAs[Long]("n_eval")).sum
    assert(nEval == 50, s"every eval vector must be classified exactly once, got $nEval")
    val nCorrect = rows.map(_.getAs[Long]("n_correct")).sum
    val overall = rows.head.getAs[Double]("overall_acc")
    assert(rows.forall(_.getAs[Double]("overall_acc") == overall),
      "the corpus-level accuracy must ride every row unchanged")
    assert(overall == nCorrect.toDouble / nEval,
      "overall accuracy must be ONE division off the integer counts")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_eval"))
      assert(r.getAs[Double]("acc") ==
        r.getAs[Long]("n_correct").toDouble / r.getAs[Long]("n_eval"))
    }
  }

  test("s23: radius pruning is lossless AND actually prunes on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    // Two tight clusters at ±1000·e1 (64-dim, integer-valued doubles,
    // the quantized-corpus discipline). vec_ids 0/1 seed one cell per
    // cluster; queries (id < 100) sit inside cluster A, corpus is
    // ids ≥ 100 — so a correct bound MUST admit the A cell and MUST
    // prune the B cell (cross-cluster cosine ≈ −1 at τ = 0.9).
    def member(sign: Double, j: Int): Seq[Double] =
      Seq.tabulate(64)(i => if (i == 0) sign * 1000.0 else if (i == 1) j.toDouble else 0.0)
    val rows =
      Seq((0L, member(1, 3))) ++ // query, inside cluster A
        (0 until 10).map(j => (100L + j, member(1, j))) ++ // corpus A
        (0 until 10).map(j => (200L + j, member(-1, j))) // corpus B
    // ids 0 and 100.. share cluster A; seedCodebook takes vec_id < k,
    // so plant seeds 0 (A) and 1 (B) explicitly
    val seeded = rows ++ Seq((1L, member(-1, 5)))
    val base = seeded.toDF("vec_id", "q")
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, iters = 2, k = 2))
    val centDf = Similarity.centFrame(spark, cents)
    val assigned = Similarity.assignCellsFrom(base, cents).filter(col("vec_id") >= 100)
    val qdf = base.filter(col("vec_id") < 100 && col("vec_id") =!= 1L)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val tau = 0.9
    val picks = Similarity
      .radiusCellPick(qdf, Similarity.radiusCellStats(assigned, centDf), centDf, tau)
    val picked = picks.collect()
    assert(picked.length == 1, s"exactly one of the two cells must clear the bound: ${picked.toSeq}")
    // losslessness: the pruned search reproduces the brute-force answer
    val pruned = assigned.join(broadcast(picks), "cid")
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .filter(col("cos") >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = assigned.crossJoin(broadcast(qdf))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .filter(col("cos") >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == brute, s"pruned $pruned != brute $brute")
    assert(brute.nonEmpty, "cluster A members must match the in-cluster query")
  }

  test("s23: the registered gate equals the brute-force radius scan at sf0.001") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val got = Similarity.queries("s23_radius_search")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSet
    val base = Similarity.quantized(spark, sf)
    val qdf = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val brute = base.filter(col("vec_id") >= 5).crossJoin(broadcast(qdf))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .filter(col("cos") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, s"gate ${got.size} rows != brute ${brute.size} rows")
  }

  test("s24: the burst makes exactly one cell hot; the split partitions it and leaves the rest") {
    val rows = Similarity.queries("s24_ivf_rebalance")(spark, sf).collect()
      .map(r => (r.getAs[String]("cell_key"), r.getAs[Long]("parent_cid"),
        r.getAs[Long]("n_vecs"), r.getAs[Long]("min_vec"), r.getAs[Long]("max_vec"),
        r.getAs[Int]("was_split")))
    val split = rows.filter(_._6 == 1)
    val cold = rows.filter(_._6 == 0)
    // the planted burst must overload exactly one cell
    assert(split.map(_._2).distinct.length == 1,
      s"expected one hot cell, got parents ${split.map(_._2).distinct.toSeq}")
    assert(split.length == 2, "a split produces exactly two sub-cells")
    assert(split.forall(_._3 > 0), "both sub-cells must be populated")
    // conservation: corpus + burst, every vector in exactly one cell
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._3).sum == corpus + 60,
      s"cells hold ${rows.map(_._3).sum} of ${corpus + 60} vectors")
    // the burst (ids >= 10000) sits inside the hot cell's members
    assert(split.map(_._5).max >= 10000L, "the burst must be what made the cell hot")
    // rebalancing point: each sub-cell is smaller than the hot cell was
    val hotSize = split.map(_._3).sum
    val bound = 3 * (corpus + 60) / (2 * 8)
    assert(hotSize > bound, "the split cell must actually have exceeded the bound")
    assert(split.forall(_._3 < hotSize), "both sub-cells must shrink the probe cost")
    assert(cold.forall(_._3 <= bound), "no cold cell may sit above the bound")
  }

  test("s25: the funnel legs compose — probed cells only, exact leg reorders, s11 recall high") {
    val got = Similarity.queries("s25_ivf_pq_funnel")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Int]("adc_rank"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    assert(got.nonEmpty)
    // per query: ranks are 1..n, cosines non-increasing, candidates
    // come only from the ADC shortlist
    got.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._6)
      assert(sorted.map(_._6).toSeq == (1 to rs.length).toSeq, s"rank gap for query $q")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5, s"cos must be non-increasing for $q")
        case _ =>
      }
      assert(rs.forall(_._4 <= 64), "every result must come through the ADC shortlist")
      // the probe leg bites: results sit in at most nprobe = 2 cells
      assert(rs.map(_._3).distinct.length <= 2, s"query $q drew from >2 cells")
    }
    // the exact leg must genuinely reorder somewhere, or the re-rank
    // is dead weight (ADC order == exact order would mean the 8-byte
    // codes already rank perfectly — not true of real PQ)
    assert(got.exists(r => r._4 != r._6),
      "exact re-rank never changed an ADC rank — the funnel's third leg is inert")
    // recall vs s11 (exact over the SAME probed cells, no ADC leg):
    // the 32-candidate shortlist must preserve most of the true top-10
    val s11 = Similarity.queries("s11_ivf_search")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val hits = got.count(r => s11.contains((r._1, r._2)))
    assert(hits.toDouble >= 0.8 * got.length,
      s"funnel recall vs s11: $hits/${got.length} — ADC shortlist too lossy")
  }

  test("s27: truncation-recall grid equals a scalar brute force; 64 is the identity anchor") {
    val got = Similarity.queries("s27_mrl_eval")(spark, sf).collect()
      .map(r => ((r.getAs[Int]("dim"), r.getAs[Long]("qid")), r.getAs[Long]("n_hit"))).toMap
    val all = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    val qs = all.filter(_._1 < 8)
    val corpus = all.filter(_._1 >= 8)
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top10(q: Array[Double], d: Int): Set[Long] =
      corpus.map { case (id, v) => (id, cos(q, v, d)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val dims = Seq(8, 16, 32, 64)
    // grid completeness: every (dim, qid) cell reports, including zeros
    assert(got.keySet == (for (d <- dims; q <- qs.map(_._1)) yield (d, q)).toSet)
    for ((qid, qv) <- qs) {
      val truth = top10(qv, 64)
      for (d <- dims) {
        val want = (top10(qv, d) & truth).size.toLong
        assert(got((d, qid)) == want, s"hits drifted at dim=$d qid=$qid")
      }
      assert(got((64, qid)) == 10L, s"dim=64 must be its own truth for qid=$qid")
    }
    // the curve must show genuine truncation loss somewhere below 64
    assert(dims.init.exists(d => qs.exists(q => got((d, q._1)) < 10L)),
      "fixture shows no truncation loss - the evaluation is vacuous")
  }

  test("s28: beam walk recall@10 vs brute force, and the walk leaves its entry cells") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = Similarity.quantized(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    // ground truth on the SAME quantized basis s28 scores with
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val exact = base.filter(col("vec_id") >= 5).join(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("q")).as("cos"))
      .withColumn("rnk", row_number().over(wExact)).filter(col("rnk") <= 10)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = Similarity.s28From(base, cents).collect()
      .groupBy(_.getAs[Long]("qid")).view
      .mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(got.keySet == exact.keySet, "every query must report")
    val recall = exact.map { case (q, want) =>
      got(q).intersect(want).size / want.size.toDouble
    }.sum / exact.size
    info(f"s28 beam-walk recall@10 = $recall%.2f (beam=${Similarity.GraphBeam}, hops=${Similarity.GraphHops})")
    // Floor measured on the harness corpus (near-random 64-dim
    // vectors — the adversarial case for any index; a 3-NN graph is
    // sparse connectivity). The walk must beat entry-point luck by a
    // wide margin, not match exhaustive scan.
    assert(recall >= 0.5, f"graph-walk recall collapsed: $recall%.2f")
    // the defining property vs cell pruning: the walk follows EDGES,
    // so it can surface results the probed cells don't contain
    val assigned = Similarity.assignCellsFrom(base.filter(col("vec_id") >= 5), cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probed cells come from the probe list itself, not from s11's
    // RESULT rows — a result set can under-represent the nprobe=2
    // cells actually probed (a probed cell contributing no top-10 row
    // would falsely count its members as "escaped")
    val probed = Similarity.ivfProbes(base, cents, nprobe = 2)
      .select("qid", "pcid").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val escaped = got.exists { case (q, ids) =>
      ids.exists(id => !probed(q).contains(assigned(id)))
    }
    assert(escaped, "no result outside the probed cells — the walk is cell search in disguise")
  }

  // ---- scalar graph-index replay shared by the s29/s30 tests -------------
  // Plain-Scala doubles in array order (the engine's accumulation
  // contract), fully independent of the distributed plans: IVF scores,
  // the multi-probe degree-8 edge build, and the beam walk.

  private def scalarCos(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i); dot += x * y; nx += x * x; ny += y * y; i += 1
    }
    math.max(-1.0, math.min(1.0, dot / (math.sqrt(nx) * math.sqrt(ny))))
  }

  private def scalarScore(q: Seq[Double], sv: Seq[Double], n: Long): Double = {
    var dot = 0.0; var i = 0
    while (i < q.length) { dot += q(i) * sv(i); i += 1 }
    dot / n
  }

  /** (cell assignment, degree-8 adjacency) of `corpus`, scalar. */
  private def scalarGraph(vecs: Map[Long, Seq[Double]],
      cents: Array[(Long, Seq[Double], Long)], corpus: Seq[Long])
      : (Map[Long, Long], Map[Long, Seq[(Long, Double)]]) = {
    val assign = corpus.map { v =>
      v -> cents.map(c => (c._1, scalarScore(vecs(v), c._2, c._3)))
        .sortBy(p => (-p._2, p._1)).head._1
    }.toMap
    val edges = corpus.map { v =>
      val pcs = cents.map(c => (c._1, scalarScore(vecs(v), c._2, c._3)))
        .sortBy(p => (-p._2, p._1)).take(2).map(_._1).toSet
      val top = corpus.filter(u => u != v && pcs.contains(assign(u)))
        .map(u => (u, scalarCos(vecs(u), vecs(v))))
        .sortBy(p => (-p._2, p._1)).take(Similarity.GraphDegree)
      v -> top
    }.toMap
    (assign, edges)
  }

  /** Final visited set per query of the beam walk, scalar. */
  private def scalarWalk(vecs: Map[Long, Seq[Double]],
      cents: Array[(Long, Seq[Double], Long)], corpus: Seq[Long],
      assign: Map[Long, Long], edges: Map[Long, Seq[(Long, Double)]],
      qids: Seq[Long]): Map[Long, Map[Long, Double]] =
    qids.map { qid =>
      val qv = vecs(qid)
      val cmin = corpus.groupBy(assign).view.mapValues(_.min).toMap
      val pcs = cents.map(c => (c._1, scalarScore(qv, c._2, c._3)))
        .sortBy(p => (-p._2, p._1)).take(2).map(_._1)
      var cand = pcs.flatMap(cmin.get).distinct
        .map(e => e -> scalarCos(vecs(e), qv)).toMap
      for (_ <- 1 to Similarity.GraphHops) {
        val frontier = cand.toSeq.sortBy(p => (-p._2, p._1))
          .take(Similarity.GraphBeam).map(_._1)
        val nbrs = frontier.flatMap(f => edges(f))
          .map(p => p._1 -> scalarCos(vecs(p._1), qv))
        cand = (cand.toSeq ++ nbrs).groupBy(_._1).view
          .mapValues(_.map(_._2).max).toMap
      }
      qid -> cand
    }.toMap

  test("s29: insert links via the walk and repairs neighbors exactly (scalar replay)") {
    val base = Similarity.quantized(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    val vecs = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val standing = vecs.keys.filter(v =>
      v >= 5 && v % Similarity.GraphInsertMod != Similarity.GraphInsertRem).toSeq.sorted
    val batch = vecs.keys.filter(v =>
      v >= 5 && v % Similarity.GraphInsertMod == Similarity.GraphInsertRem).toSeq.sorted
    assert(batch.nonEmpty, "fixture must carve out an insert batch")
    val (assign, edges) = scalarGraph(vecs, cents, standing)
    val walk = scalarWalk(vecs, cents, standing, assign, edges, batch)
    val wantNew = walk.map { case (v, cand) =>
      assert(cand.size >= Similarity.GraphDegree, s"walk starved for insert $v")
      v -> cand.toSeq.sortBy(p => (-p._2, p._1)).take(Similarity.GraphDegree)
        .zipWithIndex.map { case ((u, c), i) => (u, c, i + 1) }
    }
    val wantRep = wantNew.toSeq
      .flatMap { case (v, es) => es.map { case (u, c, _) => (u, v, c) } }
      .groupBy(_._1).map { case (u, recs) =>
        u -> (edges(u) ++ recs.map(t => (t._2, t._3)))
          .sortBy(p => (-p._2, p._1)).take(Similarity.GraphDegree)
          .zipWithIndex.map { case ((w, c), i) => (w, c, i + 1) }
      }
    val got = Similarity.queries("s29_graph_insert")(spark, sf).collect()
      .map(r => (r.getAs[String]("side"), r.getAs[Long]("src"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    val gotNew = got.filter(_._1 == "new").groupBy(_._2).view
      .mapValues(_.sortBy(_._5).map(t => (t._3, t._4, t._5)).toSeq).toMap
    val gotRep = got.filter(_._1 == "repair").groupBy(_._2).view
      .mapValues(_.sortBy(_._5).map(t => (t._3, t._4, t._5)).toSeq).toMap
    assert(gotNew.keySet == batch.toSet, "every insert must link")
    wantNew.foreach { case (v, es) =>
      assert(gotNew(v) == es, s"new adjacency drifted for insert $v")
    }
    assert(gotRep.keySet == wantRep.keySet, "affected set drifted")
    wantRep.foreach { case (u, es) =>
      assert(gotRep(u) == es, s"repaired adjacency drifted for node $u")
    }
    // the batch must actually enter standing adjacencies somewhere —
    // otherwise the shrink step was never exercised
    val batchSet = batch.toSet
    assert(got.exists(t => t._1 == "repair" && batchSet.contains(t._3)),
      "no insert survived any neighbor's re-prune — repair untested")
    // and not everywhere: shrink must also REJECT (keep the best)
    assert(wantRep.exists { case (u, es) =>
      es.map(_._1).toSet == edges(u).take(Similarity.GraphDegree).map(_._1).toSet
    } || got.count(t => t._1 == "repair" && batchSet.contains(t._3)) <
      got.count(_._1 == "repair"),
      "every repair row adopted an insert — shrink never rejected")
  }

  test("s31: one NN-descent round improves the graph exactly (scalar replay)") {
    val base = Similarity.quantized(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    val vecs = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val corpus = vecs.keys.filter(_ >= 5).toSeq.sorted
    val (_, edges) = scalarGraph(vecs, cents, corpus)
    val want = corpus.map { u =>
      val cands = edges(u).flatMap { case (v, _) => edges(v) }
        .collect { case (w, _) if w != u => w }.distinct
        .map(w => (w, scalarCos(vecs(w), vecs(u))))
      u -> (edges(u) ++ cands).groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .sortBy(p => (-p._2, p._1)).take(Similarity.GraphDegree)
        .zipWithIndex.map { case ((w, c), i) => (w, c, i + 1) }
    }.toMap
    val got = Similarity.queries("s31_graph_refine")(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    val gotBy = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(gotBy.keySet == want.keySet, "every node must keep an adjacency")
    want.foreach { case (u, es) =>
      assert(gotBy(u) == es, s"refined adjacency drifted for node $u")
    }
    // NN-descent monotonicity: the top-k of a superset dominates the
    // old top-k rank-for-rank...
    corpus.foreach { u =>
      val old = edges(u).map(_._2)
      val neu = want(u).map(_._2)
      assert(neu.zip(old).forall { case (n, o) => n >= o },
        s"refinement made node $u worse")
    }
    // ...and the round must find something the multi-probe build
    // missed, or the descent step is vacuous on this fixture
    assert(corpus.exists(u =>
      want(u).map(_._1).toSet != edges(u).map(_._1).toSet),
      "no node improved - the descent round is a no-op here")
  }

  test("s32: each wave's search surfaces that wave's inserts — the maintained graph serves fresh") {
    // The plants make freshness unfakeable: every wave is an exact
    // re-embedding of the 5 query vectors under shifted ids, so the
    // wave-k search MUST rank the copies at the top (cos ~1.0) — and
    // can only do so if the insert linked the new node into the graph
    // (reciprocal edges) and the walk reaches it THROUGH those edges.
    // Wave-2 walks run over wave-1's output graph, so both inserts
    // composing proves maintenance threads, not just applies once.
    val got = Similarity.queries("s32_graph_freshness")(spark, sf).collect()
      .map(r => (r.getAs[Int]("wave"), r.getAs[Long]("qid"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    assert(got.length == 75, "5 queries x top-5 x 3 waves (0 = baseline)")
    val byWq = got.groupBy(t => (t._1, t._2)).view
      .mapValues(_.sortBy(_._5)).toMap
    (0L to 4L).foreach { q =>
      // wave 0 (pre-insert baseline): no shifted id can exist yet
      assert(byWq((0, q)).forall(_._3 < Similarity.GraphWave1Shift),
        s"baseline search saw an insert for query $q")
      val w1 = byWq((1, q))
      assert(w1.head._3 == Similarity.GraphWave1Shift + q && w1.head._4 > 0.999,
        s"wave-1 search missed its own insert for query $q: ${w1.head}")
      // the first wave's copy must NOT have leaked wave 2's id space
      assert(w1.forall(_._3 < Similarity.GraphWave2Shift),
        s"wave-1 search saw the future for query $q")
      val w2 = byWq((2, q))
      assert(w2(0)._3 == Similarity.GraphWave1Shift + q &&
        w2(1)._3 == Similarity.GraphWave2Shift + q,
        s"wave-2 search must rank both copies first (shift order) for query $q: ${w2.take(2).toSeq}")
      assert(w2(1)._4 > 0.999, s"second copy's cosine collapsed for query $q")
      // ranks are contiguous and cosines non-increasing (a real top-5)
      Seq(byWq((0, q)), w1, w2).foreach { w =>
        assert(w.map(_._5).toSeq == (1 to 5))
        assert(w.map(_._4).sliding(2).forall(p => p.head >= p.last))
      }
    }
  }

  test("s33: the stored streaming ingest equals the in-plan composition bit-for-bit") {
    // s32 composes the maintained graph in one plan with the relabel
    // shortcut; s33 streams the same waves through parquet-backed MOR
    // state and REAL per-batch walks. Walks are deterministic and the
    // stored graph equals the composed frames wave for wave, so the
    // two must agree on every row — the stored-equals-in-plan proof
    // that makes the storage layer trustworthy.
    def rows(name: String) =
      Similarity.queries(name)(spark, sf).collect()
        .map(r => (r.getAs[Int]("wave"), r.getAs[Long]("qid"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
        .toSeq
    val stored = rows("s33_graph_stream")
    val inPlan = rows("s32_graph_freshness")
    assert(stored.length == 75 && stored == inPlan,
      "storage layer drifted from the in-plan composition")
  }

  test("s33: a crashed session re-enters the stored graph, replays idempotently, continues") {
    // Session 1 ingests wave 1 and "dies" (its state stays on disk).
    // Session 2 re-enters the same dir with wave 1 REDELIVERED (the
    // at-least-once contract) plus a new wave 2. The redelivered
    // batch must be recognized (vec_ids already stored) and skipped —
    // no version bump, no duplicate nodes — and the new wave must
    // continue from the stored version high-water mark. Proof: final
    // stored state is bit-identical to a single session streaming
    // both waves, and the re-entry's searches serve the stored graph.
    val dirA = java.nio.file.Files.createTempDirectory("graft-s33-restart-a-")
    val dirB = java.nio.file.Files.createTempDirectory("graft-s33-restart-b-")
    try {
      def edgeSet(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/edges").collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
            r.getAs[Double]("cos"), r.getAs[Long]("ver"),
            r.getSeq[Double](r.fieldIndex("nbr_q")))).toSet
      def nodeIds(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/nodes").collect()
          .map(_.getAs[Long]("vec_id")).sorted.toSeq
      def outRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Int]("wave"), r.getAs[Long]("qid"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
        .toSeq
      Similarity.s33WithDir(spark, sf, dirA.toString,
        waves = Seq(Similarity.GraphWave1Shift))
      val reentered = outRows(Similarity.s33WithDir(spark, sf, dirA.toString,
        waves = Seq(Similarity.GraphWave1Shift, Similarity.GraphWave2Shift)))
      val ref = outRows(Similarity.s33WithDir(spark, sf, dirB.toString,
        waves = Seq(Similarity.GraphWave1Shift, Similarity.GraphWave2Shift)))
      assert(edgeSet(dirA) == edgeSet(dirB),
        "re-entered stored edges drifted from the single-session run")
      val nA = nodeIds(dirA)
      assert(nA == nA.distinct, "redelivered batch duplicated node rows")
      assert(nA == nodeIds(dirB),
        "re-entered node table drifted from the single-session run")
      // versions: wave 1 wrote ver 1 (session 1); the redelivery wrote
      // nothing; wave 2 continued at ver 2 (session 2)
      assert(spark.read.parquet(s"$dirA/edges")
        .agg(org.apache.spark.sql.functions.max("ver")).head.getLong(0) == 2L,
        "version counter did not continue from the stored high-water mark")
      // the re-entry's wave-1/wave-2 searches equal the reference's,
      // and its wave-0 search already sees session 1's ingested wave
      def wave(rs: Seq[(Int, Long, Long, Double, Int)], w: Int) =
        rs.filter(_._1 == w).map(t => (t._2, t._3, t._4, t._5))
      assert(wave(reentered, 1) == wave(ref, 1) && wave(reentered, 2) == wave(ref, 2),
        "re-entered searches drifted from the single-session run")
      assert(wave(reentered, 0) == wave(ref, 1),
        "re-entry search must serve the dead session's ingested wave")
    } finally {
      graft.Fs.deleteRecursively(dirA); graft.Fs.deleteRecursively(dirB)
    }
  }

  test("s30: delete tombstones and repairs through the hole exactly (scalar replay)") {
    val base = Similarity.quantized(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    val vecs = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val corpus = vecs.keys.filter(_ >= 5).toSeq.sorted
    val dead = corpus.filter(_ % Similarity.GraphDeleteMod == Similarity.GraphDeleteRem).toSet
    assert(dead.nonEmpty, "fixture must tombstone something")
    val (_, edges) = scalarGraph(vecs, cents, corpus)
    val intoDead = for {
      u <- corpus if !dead(u)
      (d, _) <- edges(u) if dead(d)
    } yield (u, d)
    val want = intoDead.groupBy(_._1).map { case (u, uds) =>
      val cands = uds.flatMap { case (_, d) => edges(d) }
        .collect { case (w, _) if !dead(w) && w != u => w }.distinct
        .map(w => (w, scalarCos(vecs(w), vecs(u))))
      val surv = edges(u).filter(p => !dead(p._1))
      u -> (surv ++ cands).groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
        .sortBy(p => (-p._2, p._1)).take(Similarity.GraphDegree)
        .zipWithIndex.map { case ((w, c), i) => (w, c, i + 1) }
    }
    val got = Similarity.queries("s30_graph_delete")(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    assert(got.forall(t => !dead(t._1) && !dead(t._2)),
      "a tombstoned node survived in the output")
    val gotBy = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(gotBy.keySet == want.keySet, "affected set drifted")
    want.foreach { case (u, es) =>
      assert(gotBy(u) == es, s"repaired adjacency drifted for node $u")
    }
    // repair must actually route through the hole somewhere: at least
    // one adopted edge that was NOT in the pre-delete adjacency
    val adopted = want.exists { case (u, es) =>
      val old = edges(u).map(_._1).toSet
      es.exists(e => !old.contains(e._1))
    }
    assert(adopted, "no candidate adopted - the repair path is vacuous")
  }

  test("s34: stored delete lifecycle — tombstone, repair, compact to a clean single-version index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s34-spec-")
    try {
      val out = Similarity.s34WithDir(spark, sf, dir.toString).collect()
        .map(r => (r.getAs[Int]("phase"), r.getAs[String]("kind"),
          r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk"))).toSeq
      // the full dead set, recomputed from the fixture: every phase-0
      // rank-1 id (the served-then-deleted flip) plus the modulus slice
      val served = out.filter(t => t._1 == 0 && t._2 == "search" && t._6 == 1)
        .map(_._4).toSet
      val mod = Similarity.quantized(spark, sf).collect().map(_.getLong(0))
        .filter(v => v >= 5 &&
          v % Similarity.GraphDeleteMod == Similarity.GraphDeleteRem).toSet
      val dead = served ++ mod
      assert(served.nonEmpty && mod.nonEmpty, "both delete sources must fire")
      // phase-1/2 searches never surface a dead id, and the compacted
      // files (phase 2) serve the identical walk
      val s1 = out.filter(t => t._1 == 1 && t._2 == "search")
        .map(t => (t._3, t._4, t._5, t._6))
      val s2 = out.filter(t => t._1 == 2).map(t => (t._3, t._4, t._5, t._6))
      assert(s1.nonEmpty && s1 == s2,
        "the compacted files must serve the identical walk")
      assert(s1.forall(t => !dead(t._2)), "a dead id surfaced after delete")
      // repair rows: contiguous ranks, non-increasing cos, no dead endpoint
      val rep = out.filter(_._2 == "repair")
      assert(rep.nonEmpty, "the delete must repair someone")
      assert(rep.forall(t => !dead(t._3) && !dead(t._4)),
        "a repair row kept a dead endpoint")
      rep.groupBy(_._3).values.foreach { rs =>
        val sorted = rs.sortBy(_._6)
        assert(sorted.map(_._6).toSeq == (1 to sorted.length) &&
          sorted.length <= Similarity.GraphDegree)
        val cs = sorted.map(_._5)
        assert(cs.zip(cs.tail).forall(p => p._1 >= p._2))
      }
      // ON DISK after compaction: one flat version, no tombstone layer,
      // no dead id as node, source, or target
      assert(!new java.io.File(s"$dir/tombs").isDirectory, "tombstones must retire")
      val edges = spark.read.parquet(s"$dir/edges")
      assert(edges.select("ver").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L),
        "compaction must fold versions flat")
      val ends = edges.select("src").collect().map(_.getLong(0)) ++
        edges.select("nbr_id").collect().map(_.getLong(0))
      assert(ends.forall(v => !dead(v)), "a dead id survived in the compacted edges")
      val nodeIds = spark.read.parquet(s"$dir/nodes").collect().map(_.getLong(0)).toSeq
      assert(nodeIds.forall(v => !dead(v)), "a dead id survived in the node table")
      assert(nodeIds.distinct.length == nodeIds.length, "compaction duplicated nodes")
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s33: a crash BETWEEN the edge and node appends replays to the single-delivery state") {
    // The narrowest crash window: the micro-batch's edge layer is
    // durable but the session dies before the node append. A naive
    // redelivery recognition (node table only) would re-repair the
    // already-written back-edges at a new version; the split
    // recognition must instead skip the edge write and HEAL the
    // missing node rows, converging to exactly the single-session
    // state.
    import org.apache.spark.sql.functions._
    val dirA = java.nio.file.Files.createTempDirectory("graft-s33-tear-a-")
    val dirB = java.nio.file.Files.createTempDirectory("graft-s33-tear-b-")
    try {
      Similarity.s33WithDir(spark, sf, dirA.toString,
        waves = Seq(Similarity.GraphWave1Shift))
      // stage the torn batch: strip wave 1's node rows, keeping its
      // ver-1 edge layer (exactly the state a death between the two
      // appends leaves on disk)
      val trimmed = spark.read.parquet(s"$dirA/nodes")
        .filter(col("vec_id") < Similarity.GraphWave1Shift)
        .localCheckpoint(true)
      trimmed.write.mode("overwrite").parquet(s"$dirA/nodes")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Int]("wave"), r.getAs[Long]("qid"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
        .toSeq
      val reentered = rows(Similarity.s33WithDir(spark, sf, dirA.toString,
        waves = Seq(Similarity.GraphWave1Shift, Similarity.GraphWave2Shift)))
      val ref = rows(Similarity.s33WithDir(spark, sf, dirB.toString,
        waves = Seq(Similarity.GraphWave1Shift, Similarity.GraphWave2Shift)))
      def edgeSet(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/edges").collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
            r.getAs[Double]("cos"), r.getAs[Long]("ver"))).toSet
      def nodeIds(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/nodes").collect()
          .map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(edgeSet(dirA) == edgeSet(dirB),
        "healing the torn batch must not re-repair the edge layer")
      val nA = nodeIds(dirA)
      assert(nA == nA.distinct && nA == nodeIds(dirB),
        "the torn batch's node rows must be healed exactly once")
      // wave 1 must NOT have been re-versioned: its layer stays ver 1,
      // wave 2 continues at ver 2
      assert(spark.read.parquet(s"$dirA/edges")
        .agg(max(col("ver"))).head.getLong(0) == 2L,
        "the healed redelivery must not bump the version counter")
      def wave(rs: Seq[(Int, Long, Long, Double, Int)], w: Int) =
        rs.filter(_._1 == w).map(t => (t._2, t._3, t._4, t._5))
      assert(wave(reentered, 1) == wave(ref, 1) && wave(reentered, 2) == wave(ref, 2),
        "post-heal searches drifted from the single-session run")
    } finally {
      graft.Fs.deleteRecursively(dirA); graft.Fs.deleteRecursively(dirB)
    }
  }

  test("s35: hot-cell detection, 2-means split, and subcell rewire equal a scalar replay") {
    val base = Similarity.quantized(spark, sf)
    val vecs = base.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    val nb = math.max(60L, vecs.size / 5L)
    val burst: Map[Long, Seq[Double]] = (1L to nb).map { j =>
      (10000000L + j) -> vecs(0L).zipWithIndex
        .map { case (x, i) => if (i == 1) x + j else x }
    }.toMap
    val corpus = vecs.filter(_._1 >= 5) ++ burst
    def cellOf(q: Seq[Double]): Long = cents
      .map { case (cid, sv, n) => (cid, scalarScore(q, sv, n)) }
      .sortBy { case (cid, s) => (-s, cid) }.head._1
    val byCell = corpus.groupBy { case (_, q) => cellOf(q) }
    val bound = 3L * corpus.size / (2L * cents.length)
    val hotC = byCell.filter(_._2.size > bound).keySet
    assert(hotC.nonEmpty, "the burst must overload at least one cell")
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
    // the recursive 2-means: each round, every group still past the
    // bound splits once (seed A = min-id member, seed B = farthest
    // from A with ties -> lowest id, assign to nearer with ties -> A);
    // compliant groups pass through
    def splitOnce(members: Seq[(Long, Seq[Double])])
        : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]) = {
      val sorted = members.sortBy(_._1)
      val qa = sorted.head._2
      val qb = sorted.map { case (v, q) => (v, q, sq(q, qa)) }
        .sortBy { case (v, _, da) => (-da, v) }.head._2
      sorted.partition { case (_, q) => sq(q, qa) <= sq(q, qb) }
    }
    var groups: Seq[Seq[(Long, Seq[Double])]] = hotC.toSeq.map(byCell(_).toSeq)
    (1 to Similarity.RebalanceDepth).foreach { _ =>
      groups = groups.flatMap { g =>
        if (g.size <= bound) Seq(g)
        else { val (a, b) = splitOnce(g); Seq(a, b).filter(_.nonEmpty) }
      }
    }
    val subcells = groups
    // expected rewire: per hot member, top-degree by cosine WITHIN its
    // subcell (ties -> lowest nbr id); a SINGLETON subcell's member
    // produces no rewire rows — it keeps its pre-split adjacency
    val want = subcells.filter(_.size > 1).flatMap { cell =>
      cell.map { case (v, q) =>
        v -> cell.filter(_._1 != v)
          .map { case (w, qw) => (w, scalarCos(q, qw)) }
          .sortBy { case (w, c) => (-c, w) }.take(Similarity.GraphDegree)
          .zipWithIndex.map { case ((w, c), i) => (w, c, i + 1) }.toSeq
      }
    }.toMap
    val got = Similarity.queries("s35_graph_rebalance")(spark, sf).collect()
      .filter(_.getAs[String]("kind") == "rewire")
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    val gotBy = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
    assert(gotBy.keySet == want.keySet,
      "the rewired node set must be exactly the hot cells' members")
    want.foreach { case (v, es) =>
      assert(gotBy(v) == es, s"rewired adjacency drifted for node $v")
    }
    // the rewire must be strictly tighter than the stale graph
    // somewhere: at least one hot member's neighbor set changed
    // (otherwise the split was vacuous)
    assert(subcells.count(_.nonEmpty) > hotC.size,
      "the 2-means step must actually split (both subcells non-empty)")
  }

  test("s34: a redelivered tombstone batch is recognized and skipped — bit-identical state and output") {
    // At-least-once delivery: the same tombstone batch arrives twice.
    // The replay must be recognized against the stored tombstone table
    // and write NOTHING — no version bump (which would point the gate's
    // phase-1 repair readback at an empty layer), no duplicate
    // tombstone rows, no double repair. Proof: gate output and final
    // stored state are bit-identical to single delivery.
    val dirA = java.nio.file.Files.createTempDirectory("graft-s34-once-")
    val dirB = java.nio.file.Files.createTempDirectory("graft-s34-twice-")
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Int]("phase"), r.getAs[String]("kind"),
          r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk"))).toSeq
      val once = rows(Similarity.s34WithDir(spark, sf, dirA.toString))
      val twice = rows(Similarity.s34WithDir(spark, sf, dirB.toString,
        redeliver = true))
      assert(once == twice, "redelivery changed the gate output")
      def edgeSet(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/edges").collect()
          .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
            r.getAs[Double]("cos"), r.getAs[Long]("ver"))).toSet
      def nodeIds(p: java.nio.file.Path) =
        spark.read.parquet(s"$p/nodes").collect()
          .map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(edgeSet(dirA) == edgeSet(dirB),
        "redelivery changed the stored edges")
      assert(nodeIds(dirA) == nodeIds(dirB),
        "redelivery changed the stored nodes")
    } finally {
      graft.Fs.deleteRecursively(dirA); graft.Fs.deleteRecursively(dirB)
    }
  }

  test("s36: route-through beats strict traversal, and every result matches the predicate") {
    val rows = Similarity.queries("s36_graph_filtered")(spark, sf).collect()
    val labels = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    // predicate correctness: no mode may ever surface a non-matching id
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("vec_id")) == r.getAs[Int]("qlabel"),
        s"non-matching result ${r.getAs[Long]("vec_id")} for qlabel ${r.getAs[Int]("qlabel")}")
    }
    val byMode = rows.groupBy(_.getAs[String]("mode"))
    assert(byMode.keySet == Set("routed", "strict"))
    // ranks contiguous from 1 per (mode, qid)
    byMode.values.foreach(_.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length))
    })
    // the ACORN claim this gate exists to demonstrate: routing THROUGH
    // non-matching nodes recovers recall that matching-only visibility
    // loses to subgraph fragmentation (measured hits of 25 across
    // sf0.001/0.01/0.1: routed 17/19/12 vs strict 4/5/3)
    def hits(m: String) = byMode(m).map(_.getAs[Int]("hit")).sum
    assert(hits("routed") > hits("strict"),
      s"routed=${hits("routed")} must beat strict=${hits("strict")}")
    // strict visibility strands: it cannot even fill K results for
    // every query at ~10% selectivity, while the routed walk does
    assert(byMode("routed").length >= byMode("strict").length)
  }

  test("s37: compressed traversal + exact rerank — int8 hop scores, full-precision final order") {
    val rows = Similarity.queries("s37_graph_quant")(spark, sf).collect()
    assert(rows.length == 50) // 5 queries x 10
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to 10))
      // the FINAL order is the exact-cosine rerank (non-increasing),
      // even where the int8 walk scores disagree — the whole point of
      // the fetch-and-rerank tail
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      // hop scores are integer dot products in the int8 range
      rs.foreach { r =>
        val d = r.getAs[Long]("dot8")
        assert(math.abs(d) <= 64L * 127 * 127, s"dot8 $d outside the int8 bound")
      }
    }
    // recall vs the exact brute-force top-10 (s1): the compressed
    // walk must stay a useful index, not a random sample
    val exact = Similarity.queries("s1_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val hits = rows.count(r =>
      exact((r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))))
    assert(hits >= 25, s"recall@10 too low: $hits/50")
  }

  test("s38: the assembled serving path — filtered, compressed, rescored — still serves its predicate") {
    val rows = Similarity.queries("s38_graph_serve")(spark, sf).collect()
    assert(rows.length == 25) // 5 queries x FilteredK
    val labels = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    rows.foreach { r =>
      // predicate correctness through the whole stack
      assert(labels(r.getAs[Long]("vec_id")) == r.getAs[Int]("qlabel"))
      // hop scores stayed in the int8 range
      assert(math.abs(r.getAs[Long]("dot8")) <= 64L * 127 * 127)
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to rs.length))
      // final order is the exact rerank, not the quantized walk order
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // the composition must not lose the filter's recall story:
    // measured 16/25 (sf0.001) and 19/25 (sf0.01) — comparable to
    // s36's routed policy despite int8 traversal
    val hits = rows.map(_.getAs[Int]("hit")).sum
    assert(hits >= 10, s"assembled-path recall too low: $hits/25")
  }

  test("s39: phase-0 stored serving is bit-identical to s38's in-plan composition") {
    // The stored index holds the same topology, codes and labels the
    // in-gate build derives, and walks are deterministic — so serving
    // s38's configuration FROM STORAGE must reproduce s38's output
    // exactly (the s33≡s32 equality, for the serving path).
    val stored = Similarity.queries("s39_graph_serve_stored")(spark, sf)
      .collect()
      .filter(_.getAs[Int]("phase") == 0)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("qlabel"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("dot8"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk"), r.getAs[Int]("hit"))).toSeq
    val inPlan = Similarity.queries("s38_graph_serve")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("qlabel"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("dot8"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk"), r.getAs[Int]("hit"))).toSeq
    assert(stored.nonEmpty && stored == inPlan,
      "stored serving must equal the in-plan composition bit-for-bit")
  }

  test("s39: the stored index serves through deletes — tombstone masks + repair fold in the resolve") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s39-spec-")
    try {
      val out = Similarity.s39WithDir(spark, sf, dir.toString).collect()
        .map(r => (r.getAs[Int]("phase"), r.getAs[Long]("qid"),
          r.getAs[Int]("qlabel"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("dot8"), r.getAs[Double]("cos"),
          r.getAs[Int]("rnk"), r.getAs[Int]("hit"))).toSeq
      // the dead set, recomputed from the fixture: phase-0 rank-1 ids
      // (served-then-deleted — the unfakeable flip) plus the mod slice
      val served = out.filter(t => t._1 == 0 && t._7 == 1).map(_._4).toSet
      val mod = Similarity.quantized(spark, sf).collect().map(_.getLong(0))
        .filter(v => v >= 5 &&
          v % Similarity.GraphDeleteMod == Similarity.GraphDeleteRem).toSet
      assert(served.nonEmpty && mod.nonEmpty, "both delete sources must fire")
      val dead = served ++ mod
      val p1 = out.filter(_._1 == 1)
      assert(p1.nonEmpty, "phase 1 must serve")
      assert(p1.forall(t => !dead(t._4)),
        "the masked resolve served a tombstoned id")
      // both phases keep the serving shape: exact-rerank order, label
      // predicate held, int8 hop scores in range
      val labels = graft.Tables.embeddings(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
      out.foreach { t =>
        assert(labels(t._4) == t._3, "a served row broke the predicate")
        assert(math.abs(t._5) <= 64L * 127 * 127)
      }
      out.groupBy(t => (t._1, t._2)).values.foreach { rs =>
        val sorted = rs.sortBy(_._7)
        assert(sorted.map(_._7).toSeq == (1 to rs.length))
        val cs = sorted.map(_._6)
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
          "final order must be the exact rerank")
      }
      // ON DISK: the tombstone layer stands beside the two-version
      // edge table (s39 leaves compaction to s34's gated fold), codes
      // ride both versions, and the repair layer kept no dead endpoint
      assert(new java.io.File(s"$dir/tombs").isDirectory)
      val edges = spark.read.parquet(s"$dir/edges")
      assert(edges.select("ver").distinct().collect().map(_.getLong(0)).sorted.toSeq
        == Seq(0L, 1L), "exactly the bootstrap + one delete version")
      assert(edges.columns.contains("nbr_q8"),
        "codes must persist beside the adjacency")
      val rep = edges.filter(org.apache.spark.sql.functions.col("ver") === 1L)
        .select("src", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rep.nonEmpty, "the delete must repair someone")
      assert(rep.forall(t => !dead(t._1) && !dead(t._2)),
        "a repair row kept a dead endpoint")
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s39: compaction folds the serve layout — codes survive, the masked serve is bit-identical") {
    // Close the stored-serve lifecycle: after the delete phase the
    // index holds two versions + a tombstone table; s34's physical
    // fold (resolve once, atomic sibling swap) must carry the SERVING
    // column through — post-fold, the same serve pass over the clean
    // single-version files returns bit-identical rows with the
    // tombstone table retired.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-s39-fold-")
    try {
      Similarity.s39WithDir(spark, sf, dir.toString).collect()
      val cents = Similarity.graphBootstrapServe(spark, sf, dir.toString, 8)
      val qs = Similarity.s39QueriesOf(spark, sf).localCheckpoint(true)
      def serveRows() = Similarity.s39ServePass(spark, dir.toString, qs, cents)
        .collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("qlabel"),
          r.getAs[Long]("vec_id"), r.getAs[Long]("dot8"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk"), r.getAs[Int]("hit")))
        .sortBy(t => (t._1, t._6)).toSeq
      val pre = serveRows()
      val preEdges = Similarity.graphLiveEdges(spark, dir.toString,
        Seq("nbr_q", "nbr_q8", "cos")).localCheckpoint(true)
      val preNodes = Similarity.graphLiveNodes(spark, dir.toString)
        .localCheckpoint(true)
      IndexCompaction.foldSwapped(s"$dir/edges",
        preEdges.withColumn("ver", lit(0L)))
      IndexCompaction.foldSwapped(s"$dir/nodes", preNodes)
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(s"$dir/tombs"))
      val post = serveRows()
      assert(pre.nonEmpty && post == pre,
        "the compacted serve index must serve the identical result")
      val edges = spark.read.parquet(s"$dir/edges")
      assert(edges.select("ver").distinct().collect().map(_.getLong(0)).toSeq
        == Seq(0L), "compaction must fold versions flat")
      assert(edges.columns.contains("nbr_q8"),
        "the serving codes must survive the fold")
      assert(!new java.io.File(s"$dir/tombs").isDirectory)
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s40: the serving sweep is a real tuning curve anchored at the registered point") {
    val rows = Similarity.queries("s40_serve_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Int]("beam"), r.getAs[Int]("nprobe"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"))).toSeq
    // the full grid, one row per point
    val grid = for (b <- Similarity.SweepBeams; np <- Similarity.SweepNprobes)
      yield (b, np)
    assert(rows.map(t => (t._1, t._2)) == grid.sorted,
      "one row per grid point, ordered")
    rows.foreach { t =>
      assert(t._3 >= 0 && t._3 <= 25, s"hits out of range: $t")
      assert(t._4 >= t._3, s"visited set smaller than its hits: $t")
    }
    // the registered operating point (beam 16, nprobe 2) must
    // reproduce s38's recall EXACTLY — the sweep is the same serving
    // path parameterized, not a reimplementation
    val s38hits = Similarity.queries("s38_graph_serve")(spark, sf).collect()
      .map(_.getAs[Int]("hit")).sum.toLong
    assert(rows.find(t => t._1 == 16 && t._2 == 2).get._3 == s38hits,
      "the (16, 2) sweep point must equal the registered s38 recall")
    // the knobs must actually buy something: candidate cost varies
    // across the grid, and the widest point visits at least as many
    // candidates as the narrowest
    val costs = rows.map(_._4)
    assert(costs.distinct.length > 1, "a flat sweep prices nothing")
    assert(rows.maxBy(t => (t._1, t._2))._4 >= rows.minBy(t => (t._1, t._2))._4)
  }

  test("s42: the auto-tuner's choice honors the published curves, and it serves the chosen point") {
    val out = Similarity.queries("s42_serve_autotune")(spark, sf).collect()
      .map(r => (r.getAs[Int]("beam"), r.getAs[Int]("nprobe"), r.getAs[Int]("hops"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"),
        r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Int]("rnk"))).toSeq
    // one choice, dense served ranks per query
    val choice = out.map(t => (t._1, t._2, t._3, t._4, t._5)).distinct
    assert(choice.length == 1, s"the tuner must pick ONE point: $choice")
    out.groupBy(_._6).values.foreach { rs =>
      assert(rs.map(_._8).sorted == (1 to rs.length), "served ranks must be dense")
    }
    // the choice must be exactly what the RULE says over the union of
    // the two PUBLISHED curves (s40's beam × nprobe plane at 4 hops,
    // s43's hops axis at nprobe 2 — the tuner's grid is their union):
    // cheapest point meeting the floor; else best recall, cheapest
    // first; grid order breaks ties
    val c40 = Similarity.queries("s40_serve_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Int]("beam"), r.getAs[Int]("nprobe"), 4,
        r.getAs[Long]("hits"), r.getAs[Long]("cands"))).toSeq
    val c43 = Similarity.queries("s43_hops_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Int]("beam"), 2, r.getAs[Int]("hops"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"))).toSeq
    val curve = (c40 ++ c43).distinct
    assert(curve.length == Similarity.S42Grid.length,
      "the published curves must tile the tuner's grid exactly")
    val expected = curve.minBy { case (b, np, h, hits, c) =>
      val meets = hits >= Similarity.S42RecallFloor
      (if (meets) 0 else 1, if (meets) c else -hits, c, b, np, h)
    }
    assert(choice.head == expected,
      s"tuner chose ${choice.head}, the curves say $expected")
    if (curve.exists(_._4 >= Similarity.S42RecallFloor))
      assert(choice.head._4 >= Similarity.S42RecallFloor,
        "a floor-meeting point exists but the tuner picked below the floor")
  }

  test("s43: the hops sweep prices the second recovery lever on the same serving path") {
    val rows = Similarity.queries("s43_hops_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Int]("hops"), r.getAs[Int]("beam"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"))).toSeq
    val grid = for (h <- Similarity.SweepHops; b <- Similarity.S43Beams) yield (h, b)
    assert(rows.map(t => (t._1, t._2)) == grid.sorted, "one row per grid point, ordered")
    rows.foreach { t =>
      assert(t._3 >= 0 && t._3 <= 25, s"hits out of range: $t")
      assert(t._4 >= t._3, s"visited set smaller than its hits: $t")
    }
    // the visited set only accumulates: cost is monotone in BOTH axes
    Similarity.S43Beams.foreach { b =>
      val byHops = rows.filter(_._2 == b).sortBy(_._1).map(_._4)
      assert(byHops.zip(byHops.tail).forall { case (a, c) => a <= c },
        s"cands must be monotone in hops at beam $b")
    }
    Similarity.SweepHops.foreach { h =>
      val byBeam = rows.filter(_._1 == h).sortBy(_._2).map(_._4)
      assert(byBeam.zip(byBeam.tail).forall { case (a, c) => a <= c },
        s"cands must be monotone in beam at hops $h")
    }
    // the (hops 4, beam 16) point IS the registered s38 configuration —
    // the sweep is the same serving path parameterized
    val s38hits = Similarity.queries("s38_graph_serve")(spark, sf).collect()
      .map(_.getAs[Int]("hit")).sum.toLong
    assert(rows.find(t => t._1 == 4 && t._2 == 16).get._3 == s38hits,
      "the (4, 16) sweep point must equal the registered s38 recall")
  }

  test("s41: phase-0 stored IVF serving is bit-identical to p5's in-plan composition") {
    // The stored cell table holds the same cells, codes and vectors
    // p5's in-plan frames derive, and every stage is integer-exact —
    // so serving p5's configuration FROM STORAGE must reproduce p5's
    // output exactly (s39's phase-0 equality, for the IVF family).
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Double]("adc_score"), r.getAs[Double]("cos"), r.getAs[Int]("rnk"))
    val stored = Similarity.queries("s41_ivf_serve_stored")(spark, sf)
      .collect().filter(_.getAs[Int]("phase") == 0).map(key).toSeq
    val inPlan = graft.ops.Pipeline.queries("p5_retrieval")(spark, sf)
      .collect().map(key).toSeq
    assert(stored.nonEmpty && stored == inPlan,
      "stored IVF serving must equal the in-plan composition bit-for-bit")
  }

  test("s41: the stored IVF index serves through deletes and the physical fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s41-spec-")
    try {
      val out = Similarity.s41WithDir(spark, sf, dir.toString).collect()
        .map(r => (r.getAs[Int]("phase"), r.getAs[Long]("qid"),
          r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
          r.getAs[Double]("adc_score"), r.getAs[Double]("cos"),
          r.getAs[Int]("rnk"))).toSeq
      // the dead set, recomputed from the fixture: phase-0 rank-1 ids
      // (served-then-deleted — the unfakeable flip) plus the mod slice
      val served = out.filter(t => t._1 == 0 && t._7 == 1).map(_._3).toSet
      val mod = Similarity.quantized(spark, sf).collect().map(_.getLong(0))
        .filter(v => v >= 5 &&
          v % Similarity.GraphDeleteMod == Similarity.GraphDeleteRem).toSet
      assert(served.nonEmpty && mod.nonEmpty, "both delete sources must fire")
      val dead = served ++ mod
      val p1 = out.filter(_._1 == 1)
      assert(p1.nonEmpty, "phase 1 must serve")
      assert(p1.forall(t => !dead(t._3)),
        "the masked serve surfaced a tombstoned id")
      // the physical fold must be invisible to the read path
      val p2 = out.filter(_._1 == 2).map(t => t.copy(_1 = 1))
      assert(p2 == p1, "post-fold serve must equal the masked serve")
      // every phase keeps the serving shape: exact-rerank order, dense
      // ranks per (phase, query)
      out.groupBy(t => (t._1, t._2)).values.foreach { rs =>
        val sorted = rs.sortBy(_._7)
        assert(sorted.map(_._7).toSeq == (1 to rs.length))
        val cs = sorted.map(_._6)
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
          "final order must be the exact rerank")
      }
      // ON DISK after the gate: the tombstones are applied (cleared,
      // not merely masked), the dead rows are physically gone, and the
      // serving codes + cold vectors still ride the folded table
      assert(IndexCompaction.dataFileCount(s"$dir/dels") == 0,
        "applied tombstones must clear")
      val cells = spark.read.parquet(s"$dir/cells")
      val ids = cells.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(dead.forall(!ids(_)), "a dead row survived the physical fold")
      assert(Seq("q", "cid", "ver", "c0", "c7").forall(cells.columns.contains),
        "the folded table must keep the hot codes and the cold vectors")
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s44: the IVF tuner's choice honors its own sweep, anchored to the registered serve") {
    val out = Similarity.queries("s44_ivf_serve_autotune")(spark, sf).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Int]("fetch_k"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"), r.getAs[Long]("refines"),
        r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Int]("rnk"))).toSeq
    // one choice, dense served ranks per query
    val choice = out.map(t => (t._1, t._2, t._3, t._4, t._5)).distinct
    assert(choice.length == 1, s"the tuner must pick ONE point: $choice")
    out.groupBy(_._6).values.foreach { rs =>
      assert(rs.map(_._8).sorted == (1 to rs.length), "served ranks must be dense")
    }
    // recompute the full curve from the same pristine stored build and
    // check the RULE: cheapest (cands + refines) point meeting the
    // floor; else best recall, cheapest first; grid order breaks ties
    val dir = java.nio.file.Files.createTempDirectory("graft-s44-spec-")
    val pts = try Similarity.ivfSweepPoints(spark, sf, dir.toString, Similarity.S44Grid)
      finally graft.Fs.deleteRecursively(dir)
    val curve = pts.map(p => (p.nprobe, p.fetch, p.hits, p.cands, p.refines))
    val expected = curve.minBy { case (np, f, hits, c, r) =>
      val meets = hits >= Similarity.S44RecallFloor
      (if (meets) 0 else 1, if (meets) c + r else -hits, c + r, np, f)
    }
    assert(choice.head == expected,
      s"tuner chose ${choice.head}, the sweep says $expected")
    if (curve.exists(_._3 >= Similarity.S44RecallFloor))
      assert(choice.head._3 >= Similarity.S44RecallFloor,
        "a floor-meeting point exists but the tuner picked below the floor")
    // the knobs price what they claim: the ADC scan volume moves with
    // nprobe ONLY (fetch never re-probes), the refine volume is
    // monotone in fetch and capped by it
    Similarity.S44Grid.groupBy(_._1).foreach { case (np, g) =>
      val cs = g.map(p => curve.find(c => c._1 == np && c._2 == p._2).get._4)
      assert(cs.distinct.length == 1, s"cands must not move with fetch at nprobe $np")
    }
    Similarity.SweepNprobes.foreach { np =>
      val byF = curve.filter(_._1 == np).sortBy(_._2)
      val rs = byF.map(_._5)
      assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
        s"refines must be monotone in fetch at nprobe $np")
      byF.foreach(p => assert(p._5 <= p._2.toLong * 5,
        "refines must be capped by fetch per query"))
    }
    val byNp = Similarity.S44Fetches.map { f =>
      curve.filter(_._2 == f).sortBy(_._1).map(_._4)
    }
    byNp.foreach(cs => assert(cs.zip(cs.tail).forall { case (a, b) => a <= b },
      "cands must be monotone in nprobe"))
    // the (registered nprobe 2, fetch 20) sweep point IS s41's phase-0
    // serve — the sweep parameterizes the audited pass, nothing new
    val s41p0 = Similarity.queries("s41_ivf_serve_stored")(spark, sf).collect()
      .filter(_.getAs[Int]("phase") == 0)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Int]("rnk")))
      .toSeq.sorted
    val reg = pts.find(p => p.nprobe == 2 && p.fetch == 20).get.served.sorted
    assert(reg == s41p0,
      "the (2, 20) sweep point must equal the registered stored serve")
  }

  test("s45: the IVF filtered sweep prices the knobs it claims, on the graph family's task") {
    val out = Similarity.queries("s45_ivf_filtered_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Int]("fetch_k"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"), r.getAs[Long]("refines"))).toSeq
    assert(out.length == Similarity.S44Grid.length, "one row per grid point")
    // cands is the ADC scan volume: moves with nprobe only (fetch
    // never re-probes), monotone in nprobe (cells only accumulate)
    Similarity.SweepNprobes.foreach { np =>
      val cs = out.filter(_._1 == np).map(_._4)
      assert(cs.distinct.length == 1, s"cands must not move with fetch at nprobe $np")
    }
    Similarity.S44Fetches.foreach { f =>
      val cs = out.filter(_._2 == f).sortBy(_._1).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a <= b },
        "cands must be monotone in nprobe")
    }
    // refines is the rerank read-back volume: fetch-capped per query,
    // monotone in fetch
    Similarity.SweepNprobes.foreach { np =>
      val byF = out.filter(_._1 == np).sortBy(_._2)
      val rs = byF.map(_._5)
      assert(rs.zip(rs.tail).forall { case (a, b) => a <= b },
        s"refines must be monotone in fetch at nprobe $np")
      byF.foreach(p => assert(p._5 <= p._2.toLong * 5,
        "refines must be capped by fetch per query"))
    }
    // the sweep prices THE GRAPH CURVES' TASK: its hits column is
    // recall against the same exact label-filtered truth s40/s42/s43
    // grade against (5 queries x top-5), so the rows are directly
    // comparable across families — s46 makes that comparison in-plan
    assert(out.forall(p => p._3 >= 0L && p._3 <= 25L),
      "hits is recall@5 over 5 queries against the filtered truth")
  }

  test("graph walk: each hop-prefix snapshot equals the standalone walk of that depth") {
    import org.apache.spark.sql.functions.col
    // s40/s42/s43 read every hops point of a (beam, nprobe) family off
    // ONE walk's snapshots — the int8 walk at beam 16, set up as
    // graphSweepPoints runs it
    val base = Similarity.serveBaseOf(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, iters = 2))
    val coded = Similarity.withQ8(base)
    val corpus = coded.filter(col("vec_id") >= 5).localCheckpoint(true)
    val qs = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("q8").as("qq8"))
    val edges8 = Similarity.int8Edges(corpus, cents)
    val entries = Similarity.probeEntries(qs, cents,
      Similarity.cellMinEntries(corpus.select(col("vec_id"), col("q")), cents))
      .localCheckpoint(true)
    def walk(hops: Seq[Int]) = Similarity.graphWalk(corpus, edges8, qs, cents,
      hops, Some(entries), Similarity.Int8Walk, beam = 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("dot8")))
      .sorted.toSeq
    val snaps = walk(Similarity.SweepHops)
    assert(snaps.keySet == Similarity.SweepHops.toSet)
    val byHop = Similarity.SweepHops.map { h =>
      val got = rows(snaps(h))
      assert(got == rows(walk(Seq(h))(h)), s"the $h-hop snapshot differs from a $h-hop walk")
      got
    }
    assert(byHop.map(_.length) == byHop.map(_.length).sorted && byHop.head != byHop.last,
      s"the visited set must grow with depth: ${byHop.map(_.length)}")
  }

  test("s46: the cross-family advisor picks the cheapest floor-meeting stack from BOTH curves") {
    val out = Similarity.queries("s46_index_advisor")(spark, sf).collect()
      .map(r => (r.getAs[String]("family"), r.getAs[Int]("beam"),
        r.getAs[Int]("nprobe"), r.getAs[Int]("hops"), r.getAs[Int]("fetch_k"),
        r.getAs[Long]("hits"), r.getAs[Long]("cands"), r.getAs[Long]("refines"),
        r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Int]("rnk"))).toSeq
    val choice = out.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8)).distinct
    assert(choice.length == 1, s"the advisor must pick ONE stack: $choice")
    out.groupBy(_._9).values.foreach { rs =>
      assert(rs.map(_._11).sorted == (1 to rs.length), "served ranks must be dense")
    }
    // recompute both families' sweeps once over the same basis and
    // check the RULE over their union: cheapest (cands + refines)
    // stack meeting the floor; else best recall, cheapest first;
    // family then grid order breaks exact ties
    val base = Similarity.serveBaseOf(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, iters = 2))
    val g = Similarity.graphSweepPoints(base, cents, Similarity.S42Grid,
      withRefines = true)
    val v = Similarity.ivfFilteredSweepPoints(base, cents,
      Similarity.pqTrain(Similarity.pqSubs(spark, sf)), Similarity.S44Grid)
    val union =
      g.map(p => ("graph", p.beam, p.nprobe, p.hops, 20, p.hits, p.cands, p.refines)) ++
      v.map(p => ("ivf", 0, p.nprobe, 0, p.fetch, p.hits, p.cands, p.refines))
    val floor = Similarity.S42RecallFloor
    val expected = union.minBy { case (fam, b, np, h, f, hits, c, r) =>
      val meets = hits >= floor
      (if (meets) 0L else 1L, if (meets) c + r else -hits, c + r, fam, b, np, h, f)
    }
    assert(choice.head == expected,
      s"advisor chose ${choice.head}, the union curve says $expected")
    if (union.exists(_._6 >= floor))
      assert(choice.head._6 >= floor,
        "a floor-meeting stack exists but the advisor picked below it")
    // the served rows ARE the winning family's own sweep serve at the
    // chosen point — the advisor never re-walks or re-probes
    val win = choice.head
    val srv =
      (if (win._1 == "graph")
        g.find(p => p.beam == win._2 && p.nprobe == win._3 && p.hops == win._4).get.served
      else v.find(p => p.nprobe == win._3 && p.fetch == win._5).get.served).sorted
    assert(out.map(t => (t._9, t._10, t._11)).sorted == srv,
      "the advisor must serve the chosen stack's own rows")
    // the graph leg's refine pricing is QuantFetch-capped per query,
    // like the IVF leg's fetch cap — the comparable common term
    g.foreach(p => assert(p.refines <= 20L * 5,
      "graph refines must be capped by QuantFetch per query"))
  }
}
