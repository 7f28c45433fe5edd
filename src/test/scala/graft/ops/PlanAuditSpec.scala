package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md as enforced contracts: the load-bearing physical-plan
  * properties — the ones that make operators survive 100× data — are
  * asserted here so a refactor that silently regresses a plan (a lost
  * pushdown, a reintroduced join explosion, a dropped runtime filter)
  * fails the build instead of only the bench.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Left-key lines of the SHUFFLE joins only (SMJ/SHJ detail
    * sections) — broadcast joins may key on whatever their bounded
    * build side needs, so they are exempt from shuffle-key contracts.
    */
  private def shuffleJoinKeys(plan: String): Seq[String] =
    plan.split("\n\\(").toSeq
      .filter(c => c.matches("(?s)\\d+\\) (SortMergeJoin|ShuffledHashJoin).*"))
      .flatMap(_.linesIterator.find(_.startsWith("Left keys")))

  test("q2: predicates and projection reach the parquet scan") {
    val plan = formatted("q2_filter_pushdown")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThan(l_discount"), "discount filter must push down")
    // column pruning: untouched wide columns never enter the scan
    assert(!plan.contains("l_tax"), "ReadSchema must not include unused columns")
  }

  test("q21: the as-of is join-free — one window pass, no pair explosion") {
    val plan = formatted("q21_asof_join")
    val joins = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    joins.foreach(j => assert(!plan.contains(j), s"unexpected $j in as-of plan"))
    assert(plan.contains("Window"), "the running-frame window must remain")
  }

  test("q44: the runtime bloom filter is injected into the fact side") {
    val df = graft.SparkEntry.queries("q44_bloom_join")(spark, sf)
    // q44 materializes via localCheckpoint (conf-scoped); re-derive the
    // optimized plan under the same confs to audit injection
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val q = graft.Tables.lineitem(spark, sf)
        .join(graft.Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"), "runtime bloom filter must inject")
      assert(optimized.contains("bloom_filter_agg"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(df.columns.contains("n_orders")) // and the query itself still runs
  }

  test("d1: the dedup shuffle key is the digest, never the raw text") {
    val plan = formatted("d1_exact_dedup")
    assert(plan.contains("md5"), "the digest key must be computed below the agg")
    assert(!plan.matches("(?s).*hashpartitioning\\(text#.*"),
      "raw text must not be an exchange key")
  }

  test("d4: the fingerprint phase is a scan projection — no exchange below the band join") {
    val plan = formatted("d4_simhash")
    // the codegen'd scalars appear as projections; the first exchange
    // in the plan must be the band join's, not a fingerprint shuffle
    assert(plan.contains("simhash32") && plan.contains("simhash37"))
    val firstExchange = plan.indexOf("Exchange")
    val joinIdx = plan.indexOf("Join")
    assert(firstExchange >= 0 && joinIdx >= 0)
  }

  test("q38: salted aggregation is two-phase — (key, salt) exchange before (key)") {
    val plan = formatted("q38_salted_agg")
    val saltIdx = plan.indexOf("hashpartitioning(grp")
    assert(plan.contains("salt"), "the salt column must reach the plan")
    assert(plan.split("HashAggregate").length - 1 >= 4,
      "partial+final for both phases = at least 4 HashAggregate nodes")
    assert(saltIdx >= 0 || plan.contains("hashpartitioning"))
  }

  test("sk1: the KMV sketch aggregates partially before the exchange") {
    val plan = formatted("sk1_kmv_distinct")
    // ObjectHashAggregate appears for partial and final mode — the
    // sketch merges map-side, shipping <=k values per partition
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial"), "partial aggregation must precede the shuffle")
  }

  test("sk9: the total's count subtree rides exchange reuse — one corpus scan") {
    // The sk9 doc commits to a single token-count exchange; `tot`
    // duplicates the `cnts` subtree in the logical plan, so the claim
    // holds only through exchange reuse deduping the shuffle — and
    // under AQE that dedup is a RUNTIME stage decision (the initial
    // plan legitimately shows two scans), so the assertion runs the
    // query and audits the FINAL adaptive plan: the total's subtree
    // must read a ReusedExchange of the token count, leaving exactly
    // one documents scan.
    val df = graft.SparkEntry.queries("sk9_heavy_hitters")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    val fin = plan.substring(0, plan.indexOf("== Initial Plan ==") match {
      case -1 => plan.length; case i => i })
    assert(fin.contains("ReusedExchange"),
      "the total must reuse the token-count exchange, not rescan")
    val scans = fin.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected one documents scan in the final plan, saw $scans")
  }

  test("d2: the verifier block bound reaches the scan — corpus skew cannot enter the pair join") {
    // d2 is the quadratic verifier: its cost contract is that the
    // 100-doc block filter cuts BEFORE the self-join, so a corpus-
    // sized near-dup clique (the adversarial skew case) can never
    // reach the pairwise stage. Enforced structurally: every
    // documents scan in the plan carries the doc_id bound as a pushed
    // filter, and no scan feeds the join unfiltered.
    val plan = formatted("d2_ngram_jaccard")
    assert(plan.contains("LessThan(doc_id,100)"),
      "block bound must push into the documents scan")
    val scans = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("LessThan(doc_id,")),
      s"every documents scan must carry a doc_id bound:\n${scans.mkString("\n")}")
  }

  test("d2: pair-join input is block-bounded under a planted corpus-wide clique") {
    // Dynamic twin of the structural check: a 20k-doc corpus where
    // EVERY doc is a near-copy of one template — the giant clique.
    // The d2 shape (block filter -> shingle -> self-join) must feed
    // the join exactly block² candidate pairs, not corpus²; 20k docs
    // unbounded would be 2·10^8 pairs and this test would not return.
    import org.apache.spark.sql.functions._
    val n = 20000L
    val block = 100L
    val corpus = spark.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa doc "),
          col("id")).as("text"))
    val sh = corpus
      .filter(col("doc_id") < block) // the bound under test
      .withColumn("words", Text.wordsCol(col("text")))
      .withColumn("sh", expr(
        """CASE WHEN size(words) >= 3 THEN
          |  array_distinct(transform(sequence(1, size(words)-2),
          |    i -> concat(element_at(words, CAST(i AS INT)), ' ',
          |                element_at(words, CAST(i AS INT)+1), ' ',
          |                element_at(words, CAST(i AS INT)+2))))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(col("doc_id"), col("sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(pairs == block * (block - 1) / 2,
      s"pair join must see exactly the block's pairs, got $pairs")
  }

  test("q51: AQE splits the planted skewed partition (skew=true on the executed join)") {
    // sf0.01: the hot partition must be big enough in BYTES to trip
    // the (lowered) skew threshold — plan contracts elsewhere audit
    // static shape, this one audits a runtime re-plan, so it needs
    // the execution, not just the plan
    val df = graft.SparkEntry.queries("q51_aqe_skew")(spark, "/root/testdata/sf0.01")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("skew=true"),
      s"OptimizeSkewedJoin must split the hot partition; executed plan:\n" +
        executed.take(3000))
  }

  test("q45: the bucketed sort-merge join plans with zero exchanges on the join keys") {
    // the whole point of the bucketed layout: the orderkey join must
    // NOT shuffle either side — the only exchanges left in the plan
    // belong to the 5-group rollup and final sort above the join
    val plan = formatted("q45_bucketed_join")
    assert(plan.contains("SortMergeJoin"), "merge hint must pin SMJ")
    assert(!plan.contains("hashpartitioning(l_orderkey"),
      "lineitem side must read pre-bucketed, not shuffle")
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      "orders side must read pre-bucketed, not shuffle")
    assert(plan.contains("Bucketed: true"), "both scans must select bucketed reading")
  }

  test("q49: the dim filter prunes fact partitions at runtime (DPP)") {
    // no literal month predicate exists on the fact side; the scan
    // must still carry a dynamic pruning subquery fed by the dim
    val plan = formatted("q49_dpp")
    assert(plan.contains("dynamicpruning"),
      "fact scan must carry a runtime partition-pruning subquery")
    assert(plan.contains("PartitionFilters"),
      "the pruning must land in the scan's partition filters")
  }

  // d9's returned frame is an eager localCheckpoint (persist-release
  // pattern), so its interesting plan is not audit-able post-hoc; its
  // shuffle-key contract is inherited from the d1/d6 family tests.

  test("t32: the LM scan is pruned to (doc_id, text); no cartesian anywhere") {
    val plan = formatted("t32_bigram_lm")
    assert(!plan.contains("n_chars") && !plan.contains("source"),
      "ReadSchema must carry only the scored columns")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "model scoring must stay an equi-join on the bigram key")
  }

  test("q46: z-order is a scan projection — pruned read, one aggregation shuffle") {
    val plan = formatted("q46_zorder")
    // column pruning: the z-value needs exactly two columns
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_orderkey"),
      "ReadSchema must carry only partkey/suppkey")
    // no join, no extra shuffle: z is row-local arithmetic
    assert(!plan.contains("Join"))
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"z-bucket agg + final sort only, got $exchanges exchanges")
  }

  test("d11: the pairwise phase is an equi-join on the cell id — never corpus-wide") {
    // SemDeDup's quadratic work must be confined to a cluster: the
    // self-join's equi-key is cid, so the only pair work Spark plans
    // is within a cell's partition. A cartesian/BNLJ here would be
    // the O(n²) corpus-wide compare the clustering exists to avoid.
    val base = Dedup.d11Base(spark, sf)
    val assigned = Similarity.assignCells(base, Similarity.trainCodebook(base, 2))
    val plan = Dedup.d11From(assigned).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in semantic-dedup plan"))
    assert(plan.contains("cid"), "the pair join must key on the cell id")
  }

  test("t34: tertile ranking has no global sort — bounded sides only go single-partition") {
    // The rank decomposes through the score distribution: only the
    // distribution cumsum (≤10^6 rows) and its grand total may plan a
    // SinglePartition exchange; the corpus side must reach its rank
    // via a broadcast join + per-score window, never a global sort.
    val plan = Text.t34From(Text.bigramScores(spark, sf)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val single = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2, s"only the bounded dist cumsum/total may single-partition, got $single")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the cutoff table must broadcast to the corpus side")
  }

  test("d10: span dedup is linear — keyed shuffles only, no pair explosion") {
    val plan = formatted("d10_span_dedup")
    // first-occurrence election must be an equi-join on the span key,
    // never any flavor of pairwise work
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in span-dedup plan"))
    // map-side combinable election: partial min-struct before the
    // segment exchange
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      "first-occurrence election must partial-aggregate map-side")
  }

  test("s9: ADC search joins codes to a BROADCAST query side — codes never shuffle") {
    val plan = formatted("s9_pq_adc")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the 5-row query/LUT side must broadcast under the code scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the corpus side must not shuffle for the search join")
    // the only bounded product allowed is codes × the broadcast 5-row
    // query side; an unbounded two-sided shuffle product is never ok
    assert(!plan.contains("CartesianProduct"))
    // encoding is a pure scan projection: the SINGLE hash exchange in
    // the whole search plan is the per-query top-k window (qid) — a
    // refactor that reintroduces assignment-by-join or shuffles the
    // sub-vector arrays would add one and fail here
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(qid")),
      s"only the qid window may shuffle:\n${hashes.mkString("\n")}")
  }

  test("s11: the corpus never shuffles — probe list broadcasts, only the qid window exchanges") {
    // The point of an IVF index: the corpus side is a scan projection
    // (assignment against broadcast centroid literals) + a broadcast
    // join with the tiny probe list. The only legal hash exchange is
    // the per-query top-k window on qid — s9's contract, same reason.
    val plan = formatted("s11_ivf_search")
    assert(plan.contains("BroadcastHashJoin"),
      "the probe list must broadcast under the corpus scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "the corpus side must not shuffle for the probe join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(qid")),
      s"only the qid windows may shuffle:\n${hashes.mkString("\n")}")
  }

  test("p5: the serving plan's only exchanges are the two qid top-k windows") {
    // IVF-PQ + refine as one plan: index frame and refine reads are
    // scan projections, every data join broadcasts a control-plane
    // side (probes, LUTs, the 20-row refine list), and the only hash
    // exchanges are the ADC and rerank windows — both on qid.
    val plan = formatted("p5_retrieval")
    assert(plan.contains("BroadcastHashJoin"),
      "probe/LUT/refine sides must broadcast under the scans")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "no data-sized side may shuffle in the serving path")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(qid")),
      s"only the qid windows may shuffle:\n${hashes.mkString("\n")}")
  }

  test("s10: incremental coding is scan-shaped — codes and drift shuffle on bounded keys only") {
    // Maintenance must stay cheaper than retraining: new vectors are
    // coded against BROADCAST standing-codebook literals (a scan
    // projection, like s9), and the drift statistic's exchanges are
    // agg-shaped on (m[, c]) — bounded at m×k rows after partial
    // aggregation — never on vector data. The search subtree keeps
    // s9's contract: broadcast query side, qid window.
    val plan = formatted("s10_pq_incremental")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "no corpus-sized side may shuffle-join in the maintenance plan")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty &&
      hashes.forall(h => h.contains("hashpartitioning(qid") ||
        h.contains("hashpartitioning(m")),
      s"only the qid window and the m-keyed drift aggs may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("sub") || h.contains("embedding")),
      "sub-vector arrays must never be an exchange key")
  }

  test("mm7: the band exchange carries ids only — fingerprints never shuffle corpus-wide") {
    // Banding exists to bound the pair set; shuffling the 64-element
    // fingerprint arrays alongside the band keys would silently turn
    // the exchange into a corpus-wide array shuffle. The verifier
    // fetches bits per candidate id AFTER the pair set is tiny.
    val plan = formatted("mm7_image_dedup")
    assert(!plan.contains("CartesianProduct"),
      "banding must keep the pair join an equi-join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the band join must exchange on its keys")
    assert(!hashes.exists(_.contains("bits")),
      s"fingerprint arrays must never ride an exchange:\n${hashes.mkString("\n")}")
  }

  test("p7: the change batch rides broadcast; corpus minhash aggregates partially; text never keys a shuffle") {
    val (lazyPlan, corpusShs) = Pipeline.p7CurationPlan(spark, sf)
    val plan = lazyPlan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    corpusShs.unpersist(blocking = false)
    // equi-joins only: band probe, shingle fetch, ledger join
    assert(!plan.contains("CartesianProduct"), "no corpus-wide pair explosion")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "every join must stay keyed")
    // the bounded delta is the broadcast side of the probe
    assert(plan.contains("BroadcastExchange"),
      "the change batch must broadcast — an increment never shuffles the corpus")
    // the corpus-side minhash signature is a two-phase aggregation:
    // 16 map-side partial minima, one row per (doc, partition) shuffled
    assert(plan.contains("partial_min"),
      "minhash minima must combine map-side before the exchange")
    // raw text is projected into shingle hashes before any exchange
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(!hashes.exists(_.contains("text")),
      s"raw text must never key an exchange:\n${hashes.mkString("\n")}")
  }

  test("mm8: pair work is keyed and df-capped — fingerprint arrays never ride an exchange") {
    // The pair phase over a synthetic fingerprint frame (the gate's
    // eager checkpoint hides the interesting plan): banding-by-
    // landmark must stay an equi-join; the only exchange keys are the
    // landmark key and the group-by composite; the lms arrays must
    // never be a shuffle key; and the stop-landmark df cap must sit
    // between the explode and the pair join.
    import org.apache.spark.sql.functions._
    val lmDocs = spark.range(100)
      .select(col("id").as("doc_id"),
        expr("transform(sequence(0, 19), t -> (id * 31 + t) % 97)").as("lms"))
      .select(col("doc_id"), size(col("lms")).as("n_lm"), col("lms"))
    val (out, live) = Multimodal.mm8Pairs(lmDocs)
    val plan = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    live.unpersist(blocking = false)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the landmark pair join must stay an equi-join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(key") ||
      h.contains("hashpartitioning(doc_id")),
      s"only the landmark key and the pair-group composite may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(_.contains("lms")),
      "landmark arrays must never be an exchange key")
    assert(plan.contains("dfk") && plan.contains("<= 8"),
      "the stop-landmark df cap must survive into the physical plan")
  }

  test("mm8: a corpus-hot landmark is dropped before the pair join — buckets stay df-bounded") {
    // Dynamic twin of the df-cap check, d2's pattern: 2000 docs ALL
    // sharing landmark 0 (the hot key — unfiltered it alone feeds
    // ~2·10^6 pairs into the join), plus 1000 planted (i, i+1000)
    // twins sharing 6 private landmarks each. The result must be
    // EXACTLY the planted pairs with n_shared == 6 — the hot key
    // contributes nothing, so within-key work stays df-bounded.
    import org.apache.spark.sql.functions._
    val lmDocs = spark.range(2000)
      .select(col("id").as("doc_id"),
        expr("""array_union(array(0L),
                transform(sequence(1, 6), t -> 10 + (id % 1000) * 6 + t))""")
          .as("lms"))
      .select(col("doc_id"), size(col("lms")).as("n_lm"), col("lms"))
    val (out, live) = Multimodal.mm8Pairs(lmDocs)
    val rows = try out.collect() finally live.unpersist(blocking = false)
    assert(rows.length == 1000, s"expected the 1000 planted twins, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1000L)
      assert(r.getAs[Long]("n_shared") == 6L,
        "the hot landmark must not count as shared evidence")
    }
  }

  test("t35: segment df is digest-keyed and map-side combined — raw text never shuffles") {
    val plan = formatted("t35_boilerplate")
    // exchanges: segment digest (df agg + join back), doc_id (rollup);
    // the 1-row corpus-vocabulary count broadcasts (the only BNLJ)
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(k#") ||
      h.contains("hashpartitioning(doc_id")),
      s"only the segment digest and doc_id may key an exchange:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("seg") || h.contains("text")),
      "raw segments must be digested below every exchange")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.linesIterator.count(_.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*")) == 1,
      "exactly one unkeyed join: the broadcast 1-row vocabulary count")
    assert(plan.contains("partial_count(distinct doc_id"),
      "segment df must combine map-side before the digest exchange")
  }

  test("s13: the corpus never shuffles — qid windows and the <=k cid agg only") {
    // Two searches + truth + drift in one plan: every corpus read is
    // a scan projection against broadcast codebook literals; shuffle
    // keys are per-query (qid[, vec_id]) or the bounded cell id; the
    // embedding arrays never ride an exchange key.
    val plan = formatted("s13_recall_drift")
    assert(!plan.contains("CartesianProduct"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(qid") ||
      h.contains("hashpartitioning(cid")),
      s"only qid windows/joins and the cid drift agg may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q#") || h.contains("qv") ||
      h.contains("embedding")),
      "vector arrays must never be an exchange key")
    // shuffle joins (the per-query hit/recall joins) key on qid only
    val keys = shuffleJoinKeys(plan)
    assert(keys.forall(_.contains("qid")),
      s"every shuffle join must lead with the query id:\n${keys.mkString("\n")}")
  }

  test("s14: labeling rides the s11 read path — eval sample broadcast, bounded vote rollups") {
    val plan = formatted("s14_knn_label")
    assert(!plan.contains("CartesianProduct"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(qid") ||
      h.contains("hashpartitioning(label")),
      s"only the qid vote windows and the per-label rollup may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q#") || h.contains("qv") ||
      h.contains("embedding")),
      "vector arrays must never be an exchange key")
    val keys = shuffleJoinKeys(plan)
    assert(keys.forall(_.contains("qid")),
      s"every shuffle join must lead with the query id:\n${keys.mkString("\n")}")
  }

  test("p8: increments shuffle, the corpus only scans — every exchange leads with the digest") {
    // The incremental-maintenance contract: both df aggregations are
    // semi-join-filtered to the batch's touched keys BEFORE their
    // exchange (the touched-key set rides broadcast), the Δ legs
    // dedup as bounded distincts, and NO exchange is keyed by
    // doc_id-first or raw text — i.e. the corpus contributes scans,
    // never a corpus-wide shuffle.
    val plan = formatted("p8_df_maint")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "every join must stay keyed")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "touched keys / filtered df tables must broadcast, never shuffle-join")
    assert(plan.contains("BroadcastExchange"),
      "the touched-key set must broadcast under the corpus scans")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(_.contains("hashpartitioning(k#")),
      s"every hash exchange must lead with the segment digest:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("seg#")),
      "raw segments must be digested below every exchange")
  }

  test("d13: substring marking shuffles digests and integers only — no pair work, no text keys") {
    val plan = formatted("d13_substring_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the mark-back must stay an equi-join on the gram digest")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(gh") ||
      h.contains("hashpartitioning(doc_id")),
      s"only the gram digest and the per-doc window may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("ws")),
      "raw text must be digested below every exchange")
    assert(plan.contains("partial_count(distinct doc_id"),
      "gram df must combine map-side before the digest exchange")
  }

  test("s15: the label pre-filter rides the broadcast join — no new exchange over s11") {
    // Filtered ANN must cost what unfiltered ANN costs: the label
    // comparison is one extra key inside the existing broadcast hash
    // join (probe side carries qlabel), so the only shuffles are the
    // probe-selection and top-k windows on qid.
    val plan = formatted("s15_filtered_ann")
    assert(!plan.contains("CartesianProduct"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(_.contains("hashpartitioning(qid")),
      s"only the qid windows may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q#") || h.contains("qv") ||
      h.contains("embedding")),
      "vector arrays must never be an exchange key")
    assert(shuffleJoinKeys(plan).isEmpty,
      "the corpus side joins only against broadcast builds")
  }

  test("s16: both towers broadcast the query side; exchanges are keyed on word/doc/qid") {
    val plan = formatted("s16_hybrid_rrf")
    assert(!plan.contains("CartesianProduct"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(h => h.contains("hashpartitioning(qid") ||
      h.contains("hashpartitioning(doc_id") ||
      h.contains("hashpartitioning(w#")),
      s"exchanges must key on the word, the doc, or the query:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("q#") ||
      h.contains("embedding")),
      "raw text and vectors must never ride an exchange key")
    // the rank-fusion join happens after both towers truncate to top-20
    // per query — bounded rows — and must stay an equi-join
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BuildRight"), "the only BNLJ allowed is the s1-shape query broadcast")
  }

  test("mm9: segmentation is join-free — only the per-asset windows exchange") {
    val plan = formatted("mm9_scene_detect")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j — scene detection needs no join"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(_.contains("hashpartitioning(doc_id")),
      s"every exchange must lead with the asset id:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("sl#")),
      "slice text must be fingerprinted below every exchange")
  }

  test("p9: index maintenance assigns by scan projection — only ≤k cid rollups exchange") {
    // Every corpus read assigns against the broadcast codebook literal
    // (no shuffle to assign); the delta rides broadcast into the
    // semi/anti joins; reconciliation joins are broadcast onto the
    // k-row cell universe. The only legal exchanges are the cid
    // rollups (≤k rows after partial aggregation).
    val plan = formatted("p9_index_maint")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty)
    assert(hashes.forall(_.contains("hashpartitioning(cid")),
      s"only the cid rollups may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q#") || h.contains("embedding")),
      "vector arrays must never ride an exchange key")
    assert(shuffleJoinKeys(plan).isEmpty,
      "every join must be broadcast — nothing here is corpus-sized on both sides")
    assert(plan.contains("partial_count"),
      "cell rollups must combine map-side before their exchange")
  }

  test("mm10: pair curation is keyed end-to-end — caption join, fp election, id status join") {
    val plan = formatted("mm10_pair_curation")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pair curation must never go pairwise")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.forall(h => h.contains("hashpartitioning(cap_id") ||
      h.contains("hashpartitioning(fp") ||
      h.contains("hashpartitioning(img_id")),
      s"exchanges must key on cap_id/fp/img_id only:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("gi#") ||
      h.contains("gcap")),
      "raw text and gram arrays must never ride an exchange key")
  }

  test("cdc_time_travel: the AS OF predicate reaches the state scan as a pushed filter") {
    // "read yesterday's state" must cost one PRUNED scan: pos <= asOf
    // evaluated by the parquet reader (row-group stats skip newer
    // deltas), not an in-memory filter over the full history
    val plan = formatted("cdc_time_travel")
    val scans = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("LessThanOrEqual(pos,")),
      s"every state scan must push pos <= asOf:\n${scans.mkString("\n")}")
    // two probed versions = two pruned scans with DIFFERENT horizons
    assert(scans.map(s => s.substring(s.indexOf("LessThanOrEqual(pos,"))).distinct.size == 2,
      "the two AS OF probes must carry distinct pos horizons")
  }

  test("cdc_snapshot_resume: the resume scan prunes to the MISSING chunk ranges only") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/planresume-${System.nanoTime()}"
    val store = new graft.cdc.WatermarkStore(s"$base/wm")
    graft.Tables.customer(spark, sf).select(
      lit(0L).as("pos"), lit(new java.sql.Timestamp(0L)).as("ts"),
      col("c_custkey").as("pk"), lit("insert").as("op"),
      col("c_acctbal").cast("double").as("value"))
      .write.parquet(s"$base/snap")
    val feed = spark.read.parquet(s"$base/snap") // a REAL scan, so pushdown is visible
    // first run: chunk 0 commits, then the run stops before chunk 1's write
    intercept[IllegalStateException](graft.cdc.CdcPipeline.resumableSnapshot(
      spark, store, s"$base/state", "src", feed, "pk", 5, "src:1-1", failAfterChunks = 1))
    // capture every plan the RESUME executes. The listener bus is async
    // and FIFO: the crashed first run's chunk-0 write event can be
    // delivered after this listener registers, so plans count only
    // after a marker query that runs once the listener is in place.
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    @volatile var armed = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (armed) plans.add(plan) else if (plan.contains("resume_marker")) armed = true
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).selectExpr("id AS resume_marker").collect()
      graft.cdc.CdcPipeline.resumableSnapshot(
        spark, store, s"$base/state", "src", feed, "pk", 5, "src:1-1")
      // poll until the chunk-write plans land, and compare DISTINCT
      // chunk lower bounds, not raw plan counts
      import scala.jdk.CollectionConverters._
      def chunkLos() = plans.asScala.toSeq
        .flatMap("GreaterThanOrEqual\\(pk,(\\d+)\\)".r
          .findAllMatchIn(_).map(_.group(1).toLong))
        .distinct.sorted
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (chunkLos().size < 4 && System.nanoTime() < deadline) Thread.sleep(50)
      val los = chunkLos()
      // customer pks are 0..149 → 5 chunks of width 30; chunk 0 = [0,29]
      // was committed before the crash, so resume must scan ONLY chunks
      // 1-4 — each as a pushed range — and never re-read chunk 0
      assert(los == Seq(30L, 60L, 90L, 120L),
        s"resume must scan exactly the 4 missing chunk ranges, saw bounds $los")
    } finally spark.listenerManager.unregister(listener)
  }

  test("s18: binary search scans sketches — queries broadcast, exchanges carry qid integers only") {
    // The binary index exists so search touches 16 bytes/vector: the
    // signature pass must stay a scan projection, the 5-row query
    // side must broadcast (never shuffle the corpus against it), and
    // the only hash exchanges are the two per-qid top-k windows —
    // carrying (qid, vec_id, ham) integers, never the vectors or the
    // 64 dot columns.
    val plan = formatted("s18_hamming")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the query signatures must broadcast under the corpus scan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "the corpus must not shuffle for the sketch or rerank joins")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(qid")),
      s"only the qid windows may shuffle:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("hdot") || h.contains("v#")),
      "dot columns and raw vectors must never key an exchange")
  }

  test("mm11: interleave exchanges key on doc_id/word-free ids only — no pair work, no text keys") {
    // Assembly is an equi-join on doc_id (co-partitionable both sides
    // at scale) + a row-local chunk explode + the per-doc offset
    // window. Nothing may join pairwise, and no exchange may key on
    // text or word arrays.
    val plan = formatted("mm11_interleave")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the asset join must stay an equi-join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("doc_id")),
      s"only doc_id may key an exchange:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("text") || h.contains("ws#")),
      "text and word arrays must never ride an exchange key")
  }

  test("t37: the vocab rank runs over the distinct-word frame; docs shuffle on bounded keys only") {
    // The top-K vocabulary ranks (word, count) rows — bounded by
    // vocabulary size, not corpus size — and broadcasts back into the
    // per-doc rollup. The corpus-sized exchanges must key on w (the
    // count agg) or doc_id (the rollup); the vocab side must
    // broadcast into the membership join.
    val plan = formatted("t37_vocab_coverage")
    assert(plan.contains("BroadcastHashJoin"),
      "the vocab must broadcast into the membership join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "neither corpus side may shuffle-join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty &&
      hashes.forall(h => h.contains("hashpartitioning(w#") || h.contains("doc_id")),
      s"only w and doc_id may key exchanges:\n${hashes.mkString("\n")}")
  }

  test("cdc_chunk_checksum: no row-level join — both sides aggregate to chunks before comparing") {
    // The operator's reason to exist: comparing two tables costs one
    // row per chunk. Every join input must already be chunk-grained
    // (the full-outer compare joins two chunk-count-sized frames);
    // the only corpus-sized exchanges are the two chunk-keyed
    // partial-aggregated groupBys.
    val plan = formatted("cdc_chunk_checksum")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // the chunk key is a derived expression (`c_custkey DIV 50`), so
    // its exchange keys print as `_groupingexpression#N` — accept
    // either spelling, reject anything keyed on a raw column
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty &&
      hashes.forall(h => h.contains("chunk_id") || h.contains("_groupingexpression")),
      s"only the chunk key may key an exchange:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("c_custkey#") || h.contains("c_name")),
      "row-level columns must never key an exchange")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "chunk digests must aggregate map-side before the exchange")
  }

  test("s19: the graph join is cell-keyed — corpus may shuffle, but only on cid/qid keys") {
    // The one similarity op where the corpus legitimately shuffles
    // (every vector must meet its cell peers). The contract is that
    // the shuffle is the KEYED equi-join on the cell id plus the
    // per-vector windows — never a cartesian, and no exchange keyed
    // on the vector arrays.
    val plan = formatted("s19_knn_graph")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the pair phase must stay a cell equi-join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(h =>
      h.contains("cid") || h.contains("pcid") || h.contains("qid") ||
        h.contains("nbr_id")),
      s"only cell and vector ids may key exchanges:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q#") || h.contains("qv#")),
      "vector arrays must never be an exchange key")
    // the slim-window contract: the rank window (and so the exchange
    // feeding it) must NOT carry the neighbor vectors — nbr_q attaches
    // to the ≤degree winners after the window, so no exchange row is
    // pair-count × vector wide. The window's Output lines are the ones
    // carrying rnk.
    val windowOut = plan.linesIterator
      .filter(l => l.trim.startsWith("Output") && l.contains("rnk#")).toSeq
    assert(windowOut.nonEmpty && !windowOut.exists(_.contains("nbr_q")),
      s"the rank window must carry ids and cosines only:\n${windowOut.mkString("\n")}")
  }

  test("d14: the bloom probe is a scan filter — bench broadcasts, corpus keys on gram/doc only") {
    // The funnel's reason to exist: the corpus side never joins until
    // grams have passed the broadcast bit array row-locally. The only
    // join is the candidate-set × broadcast exact-gram verify; the
    // corpus-sized exchanges are the (doc_id, gram) distinct-count
    // aggregations.
    val plan = formatted("d14_bloom_decontam")
    assert(plan.contains("BroadcastHashJoin"),
      "the exact verify must broadcast the bench gram set")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      "the corpus must not shuffle-join anywhere in the funnel")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(h => h.contains("doc_id") || h.contains("gram")),
      s"only doc_id/gram may key exchanges:\n${hashes.mkString("\n")}")
  }

  test("q52: pointer doubling reproduces the closed-form heap-tree depths") {
    // parent(c) = (c-1) DIV 2 is a binary heap: depth(c) =
    // floor(log2(c+1)), so level d holds exactly the keys
    // [2^d - 1, 2^(d+1) - 2] — the log-step iteration must land on
    // that closed form exactly (any truncated doubling round or
    // off-by-one in distance accumulation breaks a whole level)
    val rows = graft.SparkEntry.queries("q52_hierarchy")(spark, sf).collect()
    val n = graft.Tables.customer(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == n)
    val maxDepth = rows.map(_.getAs[Long]("depth")).max
    rows.sortBy(_.getAs[Long]("depth")).foreach { r =>
      val d = r.getAs[Long]("depth")
      val lo = (1L << d) - 1
      val hi = math.min((1L << (d + 1)) - 2, n - 1)
      assert(r.getAs[Long]("min_node") == lo, s"depth $d: wrong first node")
      assert(r.getAs[Long]("max_node") == hi, s"depth $d: wrong last node")
      assert(r.getAs[Long]("n_nodes") == hi - lo + 1, s"depth $d: wrong level size")
    }
    assert(maxDepth == (63 - java.lang.Long.numberOfLeadingZeros(n)),
      "the deepest level must match floor(log2(n))")
  }

  test("p11: data-sized work is ONE source rollup; allocation runs on the bounded frame") {
    val plan = formatted("p11_mixture")
    // no joins of any kind: the closed form is windows over the
    // #sources-row rollup, not a self-join fixpoint
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
      "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in mixture plan"))
    // the only corpus-sized exchange is the source-keyed rollup;
    // later exchanges (ordering window, whole-frame sums, final sort)
    // operate on the #sources-row frame (the t34 argument). doc-level
    // columns must never key an exchange.
    assert(plan.matches("(?s).*hashpartitioning\\(source.*"),
      "the rollup must exchange on the source key")
    Seq("hashpartitioning(doc_id", "hashpartitioning(text").foreach(k =>
      assert(!plan.contains(k), s"corpus column must not key an exchange: $k"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
      plan.contains("HashAggregate"),
      "the token rollup must partial-aggregate map-side")
  }

  test("t39: novelty shuffles on the gram key only — text never enters an exchange") {
    // audit the pre-checkpoint plan (the gate's localCheckpoint
    // presents only an RDD scan)
    val plan = Text.t39From(Text.t39Exploded(spark, sf)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in novelty plan"))
    assert(!plan.matches("(?s).*hashpartitioning\\(text#.*"),
      "raw text must not key an exchange")
    // first-occurrence election is map-side combinable
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      "min(doc_id) election must partial-aggregate before its exchange")
    // the join back to documents is gram-keyed
    shuffleJoinKeys(plan).foreach(k =>
      assert(k.contains("gram"), s"shuffle join must key on the gram: $k"))
  }

  test("d15: the weighting window keys on the digest, never the raw text") {
    val plan = formatted("d15_soft_dedup")
    assert(plan.contains("md5"), "the digest key must be computed below the window")
    assert(!plan.matches("(?s).*hashpartitioning\\(text#.*"),
      "raw text must not be an exchange key")
    Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in soft-dedup plan"))
  }

  test("t40: bpe round plans touch only the word table — text never keys an exchange") {
    // the per-round topology is the scale contract: pair counting
    // shuffles on the two bigint symbol ids with a map-side partial
    // agg; the word-table build's one corpus-sized exchange keys on
    // the bounded word column; document text keys nothing
    val words = Text.bpeWordTable(spark, sf)
    val wordsPlan = words.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!wordsPlan.matches("(?s).*hashpartitioning\\(text#.*"),
      "document text must not key the word-count exchange")
    assert(wordsPlan.contains("partial_count") || wordsPlan.contains("HashAggregate"),
      "word count must partial-aggregate map-side")
    val pcPlan = Text.bpePairCounts(words.localCheckpoint(true)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!pcPlan.contains(j), s"unexpected $j in pair-count plan"))
    assert(pcPlan.matches("(?s).*hashpartitioning\\(l#\\d+L?, r#\\d+L?.*"),
      "pair counting must shuffle on the symbol-id pair")
    assert(pcPlan.contains("partial_sum"),
      "pair counting must partial-aggregate map-side")
  }

  test("mm14: election is doc-keyed — no global exchange, no pair explosion") {
    val plan = formatted("mm14_keyframes")
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in keyframe plan"))
    // every shuffle join keys on the (doc_id, scene_id) pair
    shuffleJoinKeys(plan).foreach(k =>
      assert(k.contains("doc_id"), s"shuffle join must key on doc_id: $k"))
    assert(!plan.linesIterator.exists(_.contains("Exchange SinglePartition")) ||
      plan.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      "election must not plan corpus-sized single-partition work")
  }

  test("s23: the corpus never shuffles — stats rollup on cid is the only hash exchange") {
    // Radius search rides the s11 read-path contract: the corpus side
    // is a scan projection + broadcast pick join; the ONE permitted
    // hash exchange is the ≤k-row per-cell stats aggregation (map-side
    // combined, keyed on cid). No shuffle join, no top-k window at all.
    val plan = formatted("s23_radius_search")
    assert(plan.contains("BroadcastHashJoin"),
      "the (query, cell) pick list must broadcast under the corpus scan")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in radius-search plan"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.forall(_.contains("hashpartitioning(cid")),
      s"only the cell-stats rollup may hash-exchange:\n${hashes.mkString("\n")}")
  }

  test("q53: ranking work shuffles only candidate-bucket rows — never a full sort") {
    // Exact quantiles without a global sort: the only hash exchange is
    // the within-bucket ranking window keyed on the bucket id, fed by
    // a broadcast semi-reduction to the target buckets (~3/1024 of the
    // data); everything else is scan + map-side-combined aggregation.
    val plan = formatted("q53_exact_quantile")
    assert(plan.contains("BroadcastHashJoin"),
      "the target-bucket list must broadcast into the scan")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in quantile plan"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(b")),
      s"only the bucket window may hash-exchange:\n${hashes.mkString("\n")}")
  }

  test("p13: sampling is one scan — rates broadcast, only source-keyed rollups exchange") {
    val plan = formatted("p13_mixture_sample")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-source rate table must broadcast into the document scan")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in mixture-sample plan"))
    // permitted exchanges: the source rollups (p11's and p13's) and the
    // bounded #sources-row single-partition windows of the allocation
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(h =>
      h.contains("source") || h.contains("epoch")),
      s"hash exchanges must key on source/epoch only:\n${hashes.mkString("\n")}")
  }

  test("s24: the split never shuffles the corpus — hot members only, seeds broadcast") {
    // Rebalancing reads ONE over-bound cell: every join broadcasts a
    // control-plane side (hot ids, seed vectors) and the only hash
    // exchanges key on the cell id (hot-member windows + the cell
    // rollups) — the standing index never re-partitions.
    val plan = formatted("s24_ivf_rebalance")
    assert(plan.contains("BroadcastHashJoin"),
      "seed vectors must broadcast under the hot-member scan")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in rebalance plan"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("cid")),
      s"only cell-keyed exchanges are allowed:\n${hashes.mkString("\n")}")
  }

  test("t43: packing is shard-local — the prefix sum exchanges on shard, nothing global") {
    // Concat-and-split packing at 100 TB only works if the token
    // prefix sum never goes corpus-global: the window partitions on
    // the shard id, so the ONLY exchange keys on shard and there is
    // no SinglePartition anywhere in the plan.
    val plan = formatted("t43_seq_pack")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
      "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in packing plan"))
    assert(!plan.contains("Exchange SinglePartition"),
      "the packing prefix sum must never collapse to one partition")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("shard")),
      s"only the shard window may hash-exchange:\n${hashes.mkString("\n")}")
  }

  test("d16: render and normalize are scan-local — the one exchange keys on the digest") {
    val plan = formatted("d16_template_dedup")
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
      "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in template-dedup plan"))
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("tmpl_key")),
      s"the only hash exchange is the md5-skeleton groupBy:\n${hashes.mkString("\n")}")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "the template rollup must partial-aggregate map-side")
  }

  test("t44: exchanges key on the feature bucket or doc_id — never word text") {
    val plan = formatted("t44_dsir")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in DSIR plan"))
    // the per-occurrence weight join must broadcast the B-row table
    assert(plan.contains("BroadcastHashJoin"),
      "the bucket-weight table must broadcast into the corpus scan")
    // corpus-sized exchanges key on b (distribution fits) or doc_id
    // (final rollup); the raw word never keys an exchange
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("b#") || l.contains("doc_id#"),
        s"exchange must key on bucket or doc_id: $l")
    }
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "distribution counts must partial-aggregate map-side")
  }

  test("q54: a power-iteration round is one edge join plus one dst rollup") {
    import org.apache.spark.sql.functions._
    // pin the pair list as the shipped operator does — the audited
    // round plan starts from the materialized graph, not the distinct
    val pairs = Relational3.prPairs(spark, sf).localCheckpoint(true)
    val edges = Relational3.prEdges(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src")
    val ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    val plan = Relational3.prRound(edgesDeg, ranks, 1000L).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in PageRank round plan"))
    // the contribution join keys on the graph keys (src/node), and
    // any shuffle exchange keys on src, node, or the dst rollup — the
    // rank frame never fans out beyond one row per node
    shuffleJoinKeys(plan).foreach(k =>
      assert(k.contains("src") || k.contains("node"),
        s"round join must key on the graph node: $k"))
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("src#") || l.contains("node#") || l.contains("dst#"),
        s"round exchange must key on src/node/dst: $l")
    }
    assert(plan.contains("partial_sum"),
      "the in-mass rollup must partial-aggregate map-side before its exchange")
  }

  test("q54/q59: the round loop shuffles the edge table ONCE — later rounds reuse the exchange") {
    import org.apache.spark.sql.functions._
    // The shipped loop keeps all PrRounds rounds in ONE lazy plan (no
    // per-round pin), so every round's identical edge-side exchange
    // dedups into a single materialized shuffle. Two pinned variants
    // were probed and rejected in round 21: a localCheckpoint pin
    // records UnknownPartitioning under AQE (every round re-exchanged
    // — the first version of this test caught it), and a persist() pin
    // pays a columnar cache build that measured slower than the reuse
    // at bench SF. This test replays the shipped loop shape in the SMJ
    // regime (broadcast off — the 100 TB join shape) and asserts on
    // the EXECUTED plan: exactly one real src-keyed exchange; every
    // other src exchange is a ReusedExchange.
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bcPrev = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      val pairs = Relational3.prPairs(spark, sf).localCheckpoint(true)
      val edges = Relational3.prEdges(pairs)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val edgesDeg = edges.join(deg, "src").localCheckpoint(false)
      var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
      (1 to 5).foreach { _ => ranks = Relational3.prRound(edgesDeg, ranks, 1000L) }
      ranks.collect() // reuse is an execution-time (AQE) property
      // the adaptive plan prints BOTH its final and initial forms —
      // the reuse claim is about what executed, so read the final one
      val full = ranks.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==")(0)
      val srcEx = plan.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning(src")).toSeq
      val real = srcEx.filterNot(_.contains("ReusedExchange"))
      val reused = srcEx.size - real.size
      // the analyzer's self-reference dedup re-aliases all but one copy
      // of the checkpoint scan, which canonicalizes the original copy's
      // exchange apart from the re-aliased ones — O(1) real exchanges
      // (2), not O(rounds) (5): rounds past the second all reuse
      assert(real.size <= 2,
        s"the edge table may shuffle at most twice across all rounds, saw ${real.size}:\n${
          real.mkString("\n")}")
      assert(reused >= 3,
        s"later rounds must REUSE the edge exchange (saw $reused ReusedExchange of ${srcEx.size})")
    } finally spark.conf.set(bcKey, bcPrev)
  }

  test("s25: the funnel's corpus never shuffles — broadcast joins, qid-only exchanges") {
    val plan = formatted("s25_ivf_pq_funnel")
    // every join in the search path carries a broadcast side (query
    // probes/LUTs into the index scan, the 5·64-row candidate list
    // back onto the vector scan) — a shuffle join anywhere means the
    // corpus moved
    Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
      "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in funnel plan"))
    assert(plan.contains("BroadcastHashJoin"),
      "the query side must broadcast into the index scan")
    // the only hash exchanges are the per-query top-k windows
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("qid#"), s"funnel exchange must key on qid: $l")
    }
  }

  test("t46: exchanges key on words/bigrams, document text never moves, top-k is a TakeOrdered") {
    val plan = formatted("t46_collocations")
    // the 1-row corpus-total broadcast is a BroadcastNestedLoopJoin by
    // construction (scalar crossJoin, the t35/q52 pattern) — only a
    // genuine pair explosion is forbidden
    assert(!plan.contains("CartesianProduct"),
      "unexpected CartesianProduct in collocation plan")
    // corpus exchanges carry single words or bigram keys (wordcount
    // topology); the raw document text never keys an exchange
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("w#") || l.contains("bg#") ||
        l.contains("w1#") || l.contains("w2#"),
        s"exchange must key on a word/bigram: $l")
      assert(!l.contains("text#"), s"document text must never key an exchange: $l")
    }
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-100 must be a TakeOrdered, not a global sort")
    assert(plan.contains("partial_count"),
      "both rollups must partial-aggregate map-side")
  }

  test("q57: corpus exchanges key on orderkey or day; the running sum rides the date rollup") {
    val plan = formatted("q57_concurrency")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in sweep plan"))
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      // _groupingexpression is the computed `close_d + 1` end boundary —
      // the only expression-valued grouping key in this plan
      assert(l.contains("okey#") || l.contains("l_orderkey#") || l.contains("day#") ||
        l.contains("open_d#") || l.contains("close_d#") ||
        l.contains("_groupingexpression#"),
        s"sweep exchange must key on the orderkey or a day boundary: $l")
    }
    assert(plan.contains("Window"), "the cumulative sweep window must remain")
    assert(plan.contains("partial_count"),
      "boundary deltas must partial-aggregate map-side before the date exchange")
  }

  test("d17: one canonical-URL key carries the dedup — group, elect, and join share it") {
    val plan = formatted("d17_url_dedup")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"unexpected $j in URL-dedup plan"))
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("canon#"),
        s"the only shuffle key is the canonical URL: $l")
    }
    shuffleJoinKeys(plan).foreach(k =>
      assert(k.contains("canon"), s"the cluster join must key on canon: $k"))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "keeper election must partial-aggregate map-side")
  }

  test("s27: the corpus never shuffles to be scored — queries broadcast, exchanges key on (dim, qid)") {
    val plan = formatted("s27_mrl_eval")
    assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
    // the 8-row query sample rides a broadcast; the per-width fan-out
    // is a row-local explode, so no exchange may carry a vector column
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("qid#") || l.contains("dim#"),
        s"exchange must key on qid/dim integers: $l")
      assert(!l.contains("v#") && !l.contains("qv#") && !l.contains("embedding#"),
        s"a vector column must never key an exchange: $l")
    }
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the query sample must broadcast under the corpus scan")
  }

  test("t48: the vocabulary broadcasts; the only corpus exchange keys on lang") {
    val plan = formatted("t48_fertility")
    assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-bounded word table must broadcast")
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("lang#"), s"corpus exchange must key on lang: $l")
      assert(!l.contains("text#") && !l.contains("w#"),
        s"word/document text must never key an exchange: $l")
    }
    assert(plan.contains("partial_count"),
      "the lang rollup must partial-aggregate map-side")
  }

  test("t49: first-occurrence election keys on the word; the curve window rides 10 rows") {
    val plan = formatted("t49_vocab_growth")
    assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
    // corpus exchanges carry the word (election) or the 10-value
    // bucket (curve) — never doc text; the 1-row corpus-total
    // crossJoin broadcasts (BNLJ on a scalar is the q52/t46 pattern)
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("w#") || l.contains("bucket#"),
        s"exchange must key on the word or the bucket: $l")
      assert(!l.contains("text#"), s"document text must never key an exchange: $l")
    }
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      "both the election and the rollups must partial-aggregate map-side")
    assert(plan.contains("Window"), "the cumulative curve window must remain")
  }

  test("d18: the pair table broadcasts under the corpus both times; the matrix keys on sources") {
    val plan = formatted("d18_overlap_matrix")
    // the corpus-side lookups must be broadcast joins (the pair table
    // is tiny); shuffle joins on doc_id would re-exchange the corpus
    val bcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bcasts >= 2, s"both source lookups must broadcast, saw $bcasts")
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(l.contains("src_1#") || l.contains("src_2#") ||
        l.contains("doc_id#") || l.contains("band#") ||
        l.contains("id_a#") || l.contains("id_b#"),
        s"exchange must key on the source pair or d3's own keys: $l")
      assert(!l.contains("text#"), s"document text must never key an exchange: $l")
    }
  }

  test("p16: cascade exchanges key on canon/digest/band/doc_id; the removal set broadcasts") {
    // inspect the PRE-checkpoint shape (the registered query eagerly
    // materializes — its plan is just the checkpoint scan)
    val (funnel, pinned) = Pipeline.p16Lazy(spark, sf)
    try {
      val plan = funnel.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"), "unexpected CartesianProduct")
      plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
        // _groupingexpression is the md5(text) digest key computed in
        // the grouping itself (the documented derived-key spelling)
        assert(l.contains("canon#") || l.contains("tkey#") || l.contains("band#") ||
          l.contains("doc_id#") || l.contains("id_a#") || l.contains("id_b#") ||
          l.contains("_groupingexpression#"),
          s"cascade exchange must key on a stage key: $l")
        assert(!l.contains("text#"), s"raw text must never KEY an exchange: $l")
      }
      // the near-dup removal list anti-joins as a broadcast — the
      // surviving corpus must not shuffle to subtract a tiny set;
      // formatted mode prints the operator and its join type on
      // separate lines, so check the BroadcastHashJoin detail blocks
      val antiBroadcast = plan.split("\n\\(").toSeq.exists(c =>
        c.matches("(?s)\\d+\\) BroadcastHashJoin.*") &&
          c.contains("Join type: LeftAnti"))
      assert(antiBroadcast, "stage-3 removal must be a broadcast anti-join")
    } finally pinned.foreach(_.unpersist(blocking = false))
  }

  test("s28: a graph-search hop is broadcast-only — exchanges key on qid") {
    import org.apache.spark.sql.functions._
    // A hop against the STANDING edge table must read it with one
    // broadcast join (frontier broadcasts, edges stream), fetch query
    // vectors by broadcast, and exchange only qid-keyed frontier-
    // bounded frames (the beam window + the visited-set fold). The
    // corpus itself must appear nowhere — search cost is independent
    // of corpus size, which is the graph index's whole point.
    val base = Similarity.quantized(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, 2))
    val corpus = base.filter(col("vec_id") >= 5)
    val edges = Similarity.knnEdges(corpus, cents)
      .select(col("src"), col("nbr_id"), col("nbr_q"))
      .localCheckpoint(true) // the stored index: audit the READ path only
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
      .localCheckpoint(true)
    val cand = qs.select(col("qid"), (col("qid") + 5L).as("vec_id"),
      lit(0.5).as("cos")).localCheckpoint(true)
    val plan = Similarity.s28Hop(edges, qs, cand).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "a hop must never go pairwise")
    assert(shuffleJoinKeys(plan).isEmpty,
      "every hop join must be broadcast — the edge table never shuffles to be read")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the beam window and visited-set fold must appear")
    assert(hashes.forall(_.contains("hashpartitioning(qid")),
      s"every exchange must lead with qid:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("nbr_q") || h.contains("qv#")),
      "vector arrays must never ride an exchange key")
  }

  test("s29: insert repair is broadcast-only — exchanges key on src/qid, never a vector") {
    // The maintenance tail past the (separately audited) walk: the
    // new-edge window, the reciprocal-candidate fold, and each touched
    // neighbor's re-prune must exchange only batch-bounded frames
    // keyed on src/qid, and the standing edge table must be read by
    // broadcast joins only — insert cost must stay independent of
    // corpus size, like the search it rides on.
    val plan = Similarity.queries("s29_graph_insert")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "repair must never go pairwise")
    assert(shuffleJoinKeys(plan).isEmpty,
      "every repair join must be broadcast — the edge table never shuffles")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.forall(l => l.contains("hashpartitioning(src") ||
      l.contains("hashpartitioning(qid")),
      s"every exchange must lead with src/qid:\n${hashes.mkString("\n")}")
    assert(!plan.linesIterator.exists(l =>
      l.contains("partitioning(") && (l.contains("nbr_q") || l.contains("qv#"))),
      "vector arrays must never ride an exchange key")
  }

  test("s30: delete repair broadcasts the tombstones — the corpus never shuffles") {
    // Tombstone filtering and hub-routed candidate generation must
    // all be broadcast joins against the pinned edge table / corpus
    // scan; the only exchanges are the src-keyed dedup/rank over the
    // affected-bounded frame.
    val plan = Similarity.queries("s30_graph_delete")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "repair must never go pairwise")
    assert(shuffleJoinKeys(plan).isEmpty,
      "tombstones and candidates must broadcast — nothing corpus-sized shuffles to join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the adjacency re-rank must appear")
    assert(hashes.forall(_.contains("hashpartitioning(src")),
      s"every exchange must lead with src:\n${hashes.mkString("\n")}")
    assert(!plan.linesIterator.exists(l =>
      l.contains("partitioning(") && (l.contains("nbr_q") || l.contains("cand_q"))),
      "vector arrays must never ride an exchange key")
  }

  test("s31: the descent round exchanges on node ids only — never all-pairs, never a vector key") {
    // A BUILD-side op: corpus-sized shuffles are legitimate (s19's
    // stance) but must all key on node ids — the edge⋈edge local join
    // on the shared mid, the vector fetch on src, the (src, nbr) fold
    // and the per-node rank. Nothing cartesian, no vector array ever
    // a partitioning key.
    val plan = Similarity.queries("s31_graph_refine")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "descent must never go pairwise")
    shuffleJoinKeys(plan).foreach { l =>
      assert(l.contains("mid#") || l.contains("src#") || l.contains("vec_id#"),
        s"a descent shuffle join must key on a node id: $l")
    }
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the fold and rank must appear")
    assert(hashes.forall(l => l.contains("hashpartitioning(src") ||
      l.contains("hashpartitioning(mid") || l.contains("hashpartitioning(vec_id")),
      s"every exchange must lead with a node id:\n${hashes.mkString("\n")}")
    assert(!plan.linesIterator.exists(l =>
      l.contains("partitioning(") && (l.contains("nbr_q") || l.contains("cand_q"))),
      "vector arrays must never ride an exchange key")
  }

  test("s32: the freshness composition stays broadcast-only past the pinned walks") {
    // Post-checkpoint plan: the two searches' rank windows, the final
    // union and sort. The walks and graph compositions are pinned
    // (audited via s28Hop/s29/s30); what remains must exchange only
    // qid-keyed frontier-bounded frames and join nothing by shuffle.
    val plan = Similarity.queries("s32_graph_freshness")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "the serve path must never go pairwise")
    assert(shuffleJoinKeys(plan).isEmpty,
      "every serve-path join must be broadcast")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.forall(_.contains("hashpartitioning(qid")),
      s"every exchange must lead with qid:\n${hashes.mkString("\n")}")
  }

  test("t51: a training round is join-free — the only corpus exchange keys on the bucket") {
    // The weight vector rides the plan as a 257-element LITERAL array,
    // so margins/errors are row-local: a gradient round over the
    // pinned feature frame must contain NO join of any kind and
    // exactly one corpus-sized exchange — the B-bounded bucket rollup
    // (map-side combined). This is the broadcast-weights/tree-reduce-
    // gradients layout distributed GD needs at 100 TB.
    val feats = Text.t51Feats(spark, sf).localCheckpoint(true)
    val featsPlan = Text.t51Feats(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // The one-time feature build is the linear explode->rollup shape:
    // join-free (the bias feature rides a union, not a join) and every
    // exchange doc-keyed — (doc_id, b) for the occurrence rollup, then
    // doc_id for the per-doc array regroup. Each word is hashed ONCE;
    // the earlier row-local nested-transform build was quadratic per
    // doc and dominated the whole query.
    assert(!featsPlan.contains("Join") && !featsPlan.contains("CartesianProduct"),
      "the feature build must be join-free (bias rides a union)")
    val fHashes = featsPlan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(fHashes.nonEmpty && fHashes.forall(_.contains("hashpartitioning(doc_id")),
      s"every feature-build exchange must lead with doc_id:\n${fHashes.mkString("\n")}")
    val w = Array.tabulate(Text.T51Buckets + 1)(b => (b % 7).toLong - 3L)
    val plan = Text.t51Grad(feats, w).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      "a gradient round must be join-free (weights are a literal array)")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(b")),
      s"the only exchange must key on the bucket:\n${hashes.mkString("\n")}")
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      "the bucket rollup must combine map-side")
  }

  test("q59: graph maintenance never shuffles the edge table — delta frames broadcast, src-led exchanges only") {
    // The incremental weld's whole point at 100 TB: the standing
    // degree-folded edge table (the big frame) is SCANNED — its
    // untouched half survives through a broadcast anti-join, its
    // touched slice is rebuilt through broadcast joins — and the only
    // shuffle joins/exchanges in the derivation lead with src (the
    // N-row degree resolve and the delta aggregate).
    import org.apache.spark.sql.functions._
    val cutoff = lit("2000-01-01").cast("timestamp")
    val pairs0 = Relational3.prPairsWhere(spark, sf,
      col("o_orderdate") < cutoff).localCheckpoint(true)
    val deg0 = Relational3.prEdges(pairs0)
      .groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val edgesDeg0 = Relational3.prEdges(pairs0).join(deg0, "src")
      .localCheckpoint(true)
    val dels = pairs0.filter((col("c") * 31 + col("sk"))
      % Relational3.PrDelMod === Relational3.PrDelRem).localCheckpoint(true)
    val ins = Relational3.prPairsWhere(spark, sf, col("o_orderdate") >= cutoff)
      .join(pairs0, Seq("c", "sk"), "left_anti").localCheckpoint(true)
    val (edgesDeg1, _) = Relational3.q59MaintainGraph(
      edgesDeg0, deg0, ins, dels, pin = false)
    val plan = edgesDeg1.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "maintenance must stay keyed")
    val keys = shuffleJoinKeys(plan)
    assert(keys.forall(_.contains("[src#")),
      s"every shuffle join must lead with src:\n${keys.mkString("\n")}")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty && hashes.forall(_.contains("hashpartitioning(src")),
      s"every exchange must lead with src:\n${hashes.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"),
      "the touched/tombstone legs must broadcast")
  }

  test("s34/graphLiveEdges: the stored read path is one src-keyed fold — tombstone drops broadcast") {
    // The resolve every stored-graph search and maintenance batch
    // rides: max-version-per-src plus the tombstone source/target
    // anti-joins. The fold may shuffle (src-led keys only); the
    // tombstone table is delete-batch-sized and must BROADCAST into
    // both drops — at 100 TB the edge table must never re-shuffle to
    // learn what died.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s34-plan-")
    try {
      Seq((1L, 2L, Seq(1.0, 0.0), 0.9, 0L), (2L, 1L, Seq(0.5, 0.5), 0.8, 1L))
        .toDF("src", "nbr_id", "nbr_q", "cos", "ver")
        .write.parquet(s"$dir/edges")
      Seq(Tuple1(9L)).toDF("dead_id").write.parquet(s"$dir/tombs")
      val plan = Similarity.graphLiveEdges(spark, dir.toString)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), "the resolve must stay keyed")
      assert(shuffleJoinKeys(plan).forall(_.contains("[src#")),
        "any shuffle join in the resolve must lead with src")
      val antis = plan.linesIterator.count(_.contains("LeftAnti"))
      assert(antis >= 2 && plan.contains("BroadcastHashJoin"),
        s"both tombstone drops must be broadcast anti-joins (saw $antis)")
      val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(hashes.forall(_.contains("hashpartitioning(src")),
        s"every exchange must lead with src:\n${hashes.mkString("\n")}")
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s36: filtered search keeps the walk contract — the predicate adds no exchange") {
    // Route-through filtering's scale promise: the label is a
    // broadcast-side predicate on the SAME hop joins s28 runs, never
    // a new exchange, and the strict variant differs only by that
    // predicate. Post-checkpoint plan: selection windows (qid), the
    // result-label fetch (an id-keyed slim join), the truth leg's
    // broadcast evaluation scan (the one permitted unkeyed join), and
    // the 25-row truth left-join (broadcast). Nothing may key an
    // exchange on a vector or a raw label column alone.
    val plan = Similarity.queries("s36_graph_filtered")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), "no unbounded pair explosion")
    assert(plan.linesIterator.count(_.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*")) <= 1,
      "at most one unkeyed join: the 5-query broadcast truth scan")
    shuffleJoinKeys(plan).foreach { l =>
      assert(l.contains("vec_id#") || l.contains("qid#"),
        s"a shuffle join must key on an id: $l")
    }
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the selection windows must appear")
    assert(hashes.forall(l => l.contains("hashpartitioning(qid") ||
      l.contains("hashpartitioning(vec_id")),
      s"every exchange must lead with qid/vec_id:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("nbr_q") || h.contains("qv#") ||
      h.contains("q#")),
      "vector arrays must never ride an exchange key")
  }

  test("s37: the rerank fetch is an id-keyed bounded join — codes never shuffle") {
    // Post-checkpoint plan (the walk is pinned; its hops carry s28's
    // audited shape with int8 arithmetic): the fetch window (qid),
    // ONE id-keyed join of the 20-per-query candidate list against
    // the full-precision corpus — DiskANN's SSD read — and the exact
    // rerank window (qid). No pairwise join anywhere, and neither the
    // int8 codes nor the float vectors may key an exchange.
    val plan = Similarity.queries("s37_graph_quant")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the fetch/rerank tail must stay keyed")
    shuffleJoinKeys(plan).foreach { l =>
      assert(l.contains("vec_id#") || l.contains("qid#"),
        s"a shuffle join must key on an id: $l")
    }
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the fetch and rerank windows must appear")
    assert(hashes.forall(l => l.contains("hashpartitioning(qid") ||
      l.contains("hashpartitioning(vec_id")),
      s"every exchange must lead with qid/vec_id:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q8") || h.contains("qq8") ||
      h.contains("qvf") || h.contains("nbr_q8")),
      "codes and vectors must never ride an exchange key")
  }

  test("s38: the assembled serving plan is the union of its members' contracts") {
    // Filter + compression + rerank in one plan must add NO contract
    // surface beyond s36/s37's: at most one unkeyed join (the 5-query
    // broadcast truth scan), shuffle joins on ids only, exchanges on
    // qid/vec_id, codes and vectors never keys.
    val plan = Similarity.queries("s38_graph_serve")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), "no unbounded pair explosion")
    assert(plan.linesIterator.count(_.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*")) <= 1,
      "at most one unkeyed join: the truth evaluation scan")
    shuffleJoinKeys(plan).foreach { l =>
      assert(l.contains("vec_id#") || l.contains("qid#"),
        s"a shuffle join must key on an id: $l")
    }
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the selection windows must appear")
    assert(hashes.forall(l => l.contains("hashpartitioning(qid") ||
      l.contains("hashpartitioning(vec_id")),
      s"every exchange must lead with qid/vec_id:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("q8") || h.contains("qq8") ||
      h.contains("qvf") || h.contains("nbr_q8")),
      "codes and vectors must never ride an exchange key")
  }

  test("s39: the stored serve pass — pruned masked resolve + the s38 contract, nothing new") {
    // The serving read path must pay ONLY its own bytes and shuffles:
    // the edge-table resolve reads src/nbr_id/nbr_q8 (never the
    // maintenance basis nbr_q — column pruning is the DiskANN
    // hot/cold split here), its fold keys on src, the tombstone masks
    // broadcast, and past the pinned resolve the plan is s38's: at
    // most the one unkeyed truth scan, id-keyed shuffle joins,
    // qid/vec_id exchanges, codes never keys.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-s39-plan-")
    try {
      val cents = Similarity.graphBootstrapServe(spark, sf, dir.toString, 8)
      // a tombstone layer so the masked resolve shape is under audit
      import spark.implicits._
      Seq(Tuple1(999999L)).toDF("dead_id").write.parquet(s"$dir/tombs")
      val resolve = Similarity.graphLiveEdges(spark, dir.toString, Seq("nbr_q8"))
      val rplan = resolve.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!rplan.contains("nbr_q#") && !rplan.contains("cos#"),
        "the serve resolve must never read the maintenance columns")
      assert(rplan.linesIterator.count(_.contains("LeftAnti")) >= 2 &&
        rplan.contains("BroadcastHashJoin"),
        "both tombstone drops must be broadcast anti-joins")
      assert(rplan.linesIterator.filter(_.contains("hashpartitioning("))
        .forall(_.contains("hashpartitioning(src")),
        "every resolve exchange must lead with src")
      val qs = Similarity.s39QueriesOf(spark, sf)
      val plan = Similarity.s39ServePass(spark, dir.toString, qs, cents)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"), "no unbounded pair explosion")
      assert(plan.linesIterator.count(_.matches("\\(\\d+\\) BroadcastNestedLoopJoin.*")) <= 1,
        "at most one unkeyed join: the truth evaluation scan")
      shuffleJoinKeys(plan).foreach { l =>
        assert(l.contains("vec_id#") || l.contains("qid#"),
          s"a shuffle join must key on an id: $l")
      }
      val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(hashes.nonEmpty, "the selection windows must appear")
      assert(hashes.forall(l => l.contains("hashpartitioning(qid") ||
        l.contains("hashpartitioning(vec_id")),
        s"every exchange must lead with qid/vec_id:\n${hashes.mkString("\n")}")
      assert(!hashes.exists(h => h.contains("q8") || h.contains("qq8") ||
        h.contains("qvf") || h.contains("nbr_q8")),
        "codes and vectors must never ride an exchange key")
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("s41: the stored IVF serve pass — hot/cold column split + p5's contract, nothing new") {
    // The serving read path against the stored cell table must pay
    // only its own bytes and shuffles: the ADC scan reads cell id +
    // codes (never the 64-dim vectors — column pruning is the
    // hot/cold split), the refine scan reads the vectors (never the
    // codes), the versioned tombstone masks broadcast, and the only
    // exchanges in the whole plan are p5's two qid-keyed windows.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-s41-plan-")
    try {
      Similarity.ivfBootstrapServe(spark, sf, dir.toString, 8)
      // a tombstone layer so the masked read shape is under audit
      import spark.implicits._
      Seq((999999L, Long.MaxValue)).toDF("vec_id", "upto")
        .write.parquet(s"$dir/dels")
      val base = Similarity.quantized(spark, sf)
      val cents = Similarity.collectCents(
        Similarity.loadCodebook(spark, s"$dir/codebook"))
      val cbP = Similarity.loadPqCodebook(spark, s"$dir/pqcodebook")
      val probes = Similarity.ivfProbes(base, cents, nprobe = 2)
        .select(col("qid"), col("pcid"))
      val luts = Similarity.pqLuts(
        Similarity.pqSubCols(base.filter(col("vec_id") < 5)), cbP)
      val qvecs = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qv"))
      val plan = Similarity
        .s41ServePass(spark, dir.toString, probes, luts, cbP, qvecs)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // hot/cold split: no single scan of the cell table reads BOTH
      // the codes and the vectors
      val schemas = plan.linesIterator
        .filter(_.contains("ReadSchema")).filter(_.contains("c0")).toSeq
      assert(schemas.nonEmpty, "the ADC scan must appear")
      assert(schemas.forall(!_.contains("q:")),
        s"the ADC scan must never read the vectors:\n${schemas.mkString("\n")}")
      val cold = plan.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("q:")).toSeq
      assert(cold.nonEmpty && cold.forall(!_.contains("c0")),
        "the refine scan must never read the codes")
      // both tombstone masks broadcast
      assert(plan.linesIterator.count(_.contains("LeftAnti")) >= 2 &&
        plan.contains("BroadcastHashJoin"),
        "both versioned tombstone masks must be broadcast anti-joins")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), "no unkeyed joins")
      // every JOIN broadcasts — the corpus-sized sides never exchange
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        "every join in the serve plan must broadcast")
      // the only exchanges: the two qid-keyed selection windows plus
      // the per-key max-upto rollup of the (delete-batch-sized)
      // tombstone table on its way INTO a broadcast
      val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
      assert(hashes.exists(_.contains("hashpartitioning(qid")),
        "the selection windows must appear")
      assert(hashes.forall(l => l.contains("hashpartitioning(qid") ||
        l.contains("hashpartitioning(vec_id")),
        s"every exchange must be a qid window or the tombstone rollup:\n${hashes.mkString("\n")}")
    } finally graft.Fs.deleteRecursively(dir)
  }
  test("s45: the routed IVF sweep point — label predicate at selection, qid-only exchanges") {
    // The cross-family pricing rests on this plan: the coded corpus
    // never shuffles (cells/codes are scan projections against
    // literal codebooks; probes, query labels, LUTs and rerank
    // queries all broadcast), the label predicate prunes BEFORE the
    // ADC scoring, and the only exchanges are the two qid-keyed
    // selection windows — vectors, LUTs and codes never ride an
    // exchange key.
    import org.apache.spark.sql.functions._
    val base = Similarity.serveBaseOf(spark, sf)
    val cents = Similarity.collectCents(Similarity.trainCodebook(base, iters = 2))
    val cbP = Similarity.pqTrain(Similarity.pqSubs(spark, sf))
    val corpus = Similarity.ivfFilteredCorpus(base, cents, cbP).localCheckpoint(true)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("v").as("qvf"), col("label").as("qlabel"))
      .localCheckpoint(true)
    val luts = Similarity.pqLuts(
      Similarity.pqSubCols(base.filter(col("vec_id") < 5)), cbP)
      .localCheckpoint(true)
    val cand = Similarity.ivfFilteredCand(corpus, qs, cents, np = 2)
    val plan = Similarity.ivfFilteredServeFrom(cand, qs, luts, cbP, f = 10)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), "no unbounded pair explosion")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "every join is keyed: probes on cell, labels/LUTs/queries on qid")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "every join in the point plan must broadcast — the corpus never exchanges for a join")
    val hashes = plan.linesIterator.filter(_.contains("hashpartitioning(")).toSeq
    assert(hashes.nonEmpty, "the selection windows must appear")
    assert(hashes.forall(_.contains("hashpartitioning(qid")),
      s"every exchange must lead with qid:\n${hashes.mkString("\n")}")
    assert(!hashes.exists(h => h.contains("qv") || h.contains("sub") ||
      h.contains("lut") || h.contains("c0")),
      "vectors, LUTs and codes must never ride an exchange key")
    assert(plan.contains("label#") && plan.contains("qlabel#"),
      "the routed label predicate must be visible in the plan")
  }
}
