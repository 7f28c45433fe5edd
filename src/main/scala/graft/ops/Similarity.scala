package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline, a
  * random-hyperplane LSH bucket index as the scale path, and
  * LSH-bucketed near-duplicate detection.
  *
  * Determinism contract with the DuckDB oracle:
  *   - cosine similarity accumulates left-to-right in double
  *     ([[graft.functions.CosineSimilarity]]); DuckDB's
  *     `list_cosine_similarity` over `DOUBLE[]` computes the same
  *     sequence, verified bit-identical on the harness data;
  *   - LSH signatures never touch floating point: vectors are
  *     quantized to integers (`floor(x*1000)`) and hyperplanes are
  *     integer-valued pseudo-random ((j*64+i)*2654435761 % 1000003 -
  *     500001), so the bucket of every vector is exact integer
  *     arithmetic — identical in any engine.
  *
  * Scale notes: the brute-force path is O(|Q| x N) with a broadcast
  * of the query set — correct for small Q, the verifier role. The
  * bucket index is the 100 TB route: one narrow signature pass, one
  * shuffle on bucket id, candidate sets ~N/2^bits per probe. The
  * signature table persists because the band join reads it twice and
  * interpreted HOFs would otherwise re-evaluate the quantization
  * chain per reference.
  */
object Similarity {

  /** Bit width used by the registered s2 query — fixed so the DuckDB
    * oracle evaluates the identical index. Library callers size the
    * index with [[suggestedBits]] instead.
    */
  private val bits = 6

  /** s3 (all-pairs near-dup) uses a finer index: its cost is the sum
    * of squared bucket sizes, so halving bucket population pays
    * quadratically (at sf0.1, 2^10 buckets cut the within-bucket pair
    * count ~16× vs 2^6). Planted re-embeddings are scaled copies whose
    * quantized signatures coincide, so recall of true near-dups is
    * unaffected by the finer index — `suggestedBits(50k) = 10` is
    * exactly this value.
    */
  private val dedupBits = 10

  /** Index sizing: bits grows with log2(N) so the expected bucket
    * population stays ~`targetBucket` regardless of corpus size —
    * the fix for a fixed 2^6 index whose buckets grow linearly with
    * N (and whose within-bucket joins then go quadratic). At 100 TB
    * this is the knob that keeps per-bucket work constant.
    */
  def suggestedBits(n: Long, targetBucket: Int = 64): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** Double-cast view of the vectors (floats widen exactly). */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables
      .embeddings(s, d)
      .select(
        col("vec_id"),
        col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")
      )

  /** Attach the integer LSH signature: quantize, then one exact
    * integer dot per hyperplane; bit j set iff dot > 0. Public (with
    * an explicit width) so callers can size the index to their
    * corpus; the registered queries pin `bits = 6` for the oracle.
    *
    * The dots run through the codegen'd [[VectorFunctions.dot_product]]
    * against constant hyperplane arrays — an interpreted
    * `aggregate(sequence(...))` HOF here costs nBits×64 lambda evals
    * per row (CodegenFallback, no CSE), which dominated the signature
    * pass. Arithmetic is integer-valued doubles throughout: |q|≤~10^3,
    * plane ∈ (−500001, 500001], 64 terms → |dot| < 2^35, far inside
    * double's exact range, so buckets are bit-identical to the
    * oracle's BIGINT evaluation.
    */
  def bucketed(df: DataFrame, nBits: Int): DataFrame = {
    val q = df.withColumn("q",
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))"))
    val dots = (0 until nBits).foldLeft(q) { (acc, j) =>
      // typedlit, not array(lit...): CreateArray would rebuild the
      // 64-element plane per row; a typed literal is one shared
      // ArrayData constant
      val plane = typedlit((0 until 64).map { i =>
        (((j * 64L + i) * 2654435761L) % 1000003L - 500001L).toDouble
      })
      acc.withColumn(s"dot$j", VectorFunctions.dot_product(col("q"), plane))
    }
    val bucketExpr = (0 until nBits)
      .map(j => s"(CASE WHEN dot$j > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    dots
      .withColumn("bucket", expr(bucketExpr))
      .drop("q" +: (0 until nBits).map(j => s"dot$j"): _*)
  }

  private def withBucket(df: DataFrame): DataFrame = bucketed(df, bits)

  /** Multi-probe set: the query's own bucket plus every single-bit
    * flip (Hamming distance ≤ 1). A neighbour lands in a different
    * bucket exactly when some hyperplane separates the pair; flipping
    * one bit recovers all single-plane misses at a candidate cost of
    * (1+nBits)/2^nBits of the corpus — the standard recall/cost knob
    * of multi-probe LSH (probe count, not index rebuild).
    */
  def probeBuckets(bucket: Column, nBits: Int): Column =
    array(bucket +: (0 until nBits).map(j => bucket.bitwiseXOR(lit(1 << j))): _*)

  /** Double-cast corpus view, exposed for the recall spec. */
  def corpus(s: SparkSession, d: String): DataFrame = vecs(s, d)

  /** Oracle-side CTE producing (vec_id, label, v, bucket) from a
    * relation named `rel` with columns (vec_id, label, v DOUBLE[]).
    */
  private def bucketSqlFrom(rel: String, nBits: Int = bits): String = {
    val dots = (0 until nBits)
      .map(j => s"""list_sum(list_transform(generate_series(0, 63),
                   |           i -> q[i+1] * ((($j*64 + i) * 2654435761) % 1000003 - 500001))) AS dot$j""".stripMargin)
      .mkString(",\n         ")
    val bucket = (0 until nBits)
      .map(j => s"(CASE WHEN dot$j > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT vec_id, label, v, $bucket AS bucket FROM (
       |  SELECT vec_id, label, v,
       |         $dots
       |  FROM (SELECT vec_id, label, v,
       |               list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |        FROM $rel))""".stripMargin
  }

  // ---- s1: brute-force cosine top-k ---------------------------------------

  /** Exact top-10 neighbours for the first five vectors: broadcast
    * the tiny query side under the full scan — the fact table never
    * shuffles; the final per-query top-k is a 5-partition window.
    */
  private def s1CosineTopk(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = all
      .filter(col("vec_id") >= 5)
      .join(broadcast(queries))
      .select(
        col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .orderBy("qid", "rnk")
  }

  private val s1Oracle: String =
    """SELECT qid, vec_id, cos, rnk FROM (
      |  SELECT qid, vec_id, cos,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rnk
      |  FROM (
      |    SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |           list_cosine_similarity(q.v, c.v) AS cos
      |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5) q,
      |         (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5) c))
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // ---- s2: LSH-bucketed approximate top-k ---------------------------------

  /** IVF-style probe: each query searches only its own LSH bucket
    * (nprobe = 1). Candidate sets shrink by 2^bits, trading recall
    * for a constant-factor scan — the structure that still works when
    * N no longer fits a cross join.
    */
  private def s2AnnBucket(s: SparkSession, d: String): DataFrame = {
    val bucketed = withBucket(vecs(s, d)).persist()
    val queries = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket").as("qb"))
    val scored = bucketed
      .join(queries, col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id"), col("bucket"),
        VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos")
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val out = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
      // materialize the top-k while the bucketed cache is hot, then
      // release it — the operator owns its persist() lifecycle
      .localCheckpoint(true)
    bucketed.unpersist(blocking = false)
    out
  }

  private val s2Oracle: String =
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |bucketed AS (${bucketSqlFrom("base")})
       |SELECT qid, vec_id, bucket, cos, rnk FROM (
       |  SELECT qid, vec_id, bucket, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS vec_id, c.bucket AS bucket,
       |           list_cosine_similarity(q.v, c.v) AS cos
       |    FROM bucketed q JOIN bucketed c
       |      ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5))
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // ---- s3: embedding near-duplicate detection -----------------------------

  /** Near-dup pairs via LSH buckets: the corpus plus planted
    * re-embeddings (first 20 vectors scaled by 1.0001 under shifted
    * ids — cosine to the original ~1.0). Pairs sharing a bucket are
    * verified exactly; only cos >= 0.999 survives. One shuffle on
    * bucket id; pairwise cost is per-bucket, never corpus-wide.
    */
  private def s3EmbeddingDedup(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val planted = Tables.embeddings(s, d)
      .filter(col("vec_id") < 20)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) * 1.0001)").as("v")
      )
    val bucketed = Similarity.bucketed(base.union(planted), dedupBits).persist()
    val out = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        VectorFunctions.cosine_similarity(col("a.v"), col("b.v")).as("cos")
      )
      .filter(col("cos") >= 0.999)
      .orderBy("id_a", "id_b")
      // materialize the pair list while the bucketed cache is hot,
      // then release it — no leaked blocks outside the harness loop
      .localCheckpoint(true)
    bucketed.unpersist(blocking = false)
    out
  }

  private val s3Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, label,
       |         list_transform(embedding::DOUBLE[], x -> x * 1.0001)
       |  FROM embeddings WHERE vec_id < 20),
       |bucketed AS (${bucketSqlFrom("base", dedupBits)})
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       list_cosine_similarity(a.v, b.v) AS cos
       |FROM bucketed a JOIN bucketed b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= 0.999
       |ORDER BY id_a, id_b""".stripMargin

  // ---- s4: IVF cell assignment (trained codebook) --------------------------

  /** Quantized corpus view for IVF training: integer-valued doubles
    * (`floor(x*1000)`), the same exactness trick the LSH signatures
    * use — every downstream sum and dot is an exact integer carried in
    * doubles (max |dot(q, sumvec)| < 2^42, far inside 2^53), so the
    * trained codebook is bit-identical in any engine.
    */
  def quantized(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))").as("q"))

  /** Seed codebook: the first 8 quantized vectors as singleton cells.
    * Centroids are carried UN-normalized as `(sv = Σ members, n)` so
    * all training arithmetic stays integer-exact; the only float op is
    * the assignment score `dot(q, sv) / n` — one exactly-rounded IEEE
    * division, deterministic across engines.
    */
  def seedCodebook(base: DataFrame, k: Int = 8): DataFrame =
    base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("q").as("sv"), lit(1L).as("n"))

  /** Nearest-cell assignment by max mean-dot (ties → lowest cid),
    * computed WITHOUT any shuffle: the codebook is collected to the
    * driver (control-plane — ≤k rows of 64 sums, the same pattern as
    * the watermark store) and shipped as ONE whole-codebook array
    * literal, so assignment is a pure scan projection with a
    * row-local score pass + argmax. The cross-join + per-vector
    * window formulation would re-shuffle the whole corpus once per
    * training pass — at 100 TB that is 3 full-corpus shuffles for
    * nothing, since every per-row decision only needs k broadcast
    * constants.
    *
    * `array_position(scores, array_max(scores))` takes the FIRST
    * maximal position; the codebook is sorted by cid, so ties break
    * to the lowest cid — identical semantics to `ORDER BY score DESC,
    * cid`.
    */
  /** Codebook rows collected to the driver, sorted by cid — the one
    * control-plane round-trip [[assignCells]] and [[ivfProbes]]
    * share (collect once, pass to both).
    */
  def collectCents(codebook: DataFrame): Array[(Long, Seq[Double], Long)] =
    codebook.select("cid", "sv", "n").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
      .sortBy(_._1)

  def assignCells(base: DataFrame, codebook: DataFrame): DataFrame =
    assignCellsFrom(base, collectCents(codebook))

  /** [[assignCells]] against pre-collected centroids. The input frame
    * must carry `q` and must NOT already carry `scores` or `cid`:
    * `scores` is built and dropped as scratch, `cid` is the output —
    * a frame arriving with either would have it silently clobbered.
    */
  def assignCellsFrom(base: DataFrame, cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    require(!base.columns.contains("scores") && !base.columns.contains("cid"),
      "assignCells input must not already carry 'scores' or 'cid'")
    // The WHOLE codebook rides two array literals (sums, counts)
    // scored by the native [[VectorFunctions.codebook_scores]]
    // expression — plan size and codegen compile time are O(1) in k
    // (the generated code is one fixed nested loop; k only appears as
    // literal data), and the projection stays inside whole-stage
    // codegen. The earlier shape (one literal score column per
    // centroid) made the expression tree ∝ k, and WSCG compile with
    // it: at SemDeDup's k ∝ corpus that was super-linear in data
    // (d11 k-scaled stress measured 25× at 10× data, compile-bound).
    // Arithmetic is unchanged — per centroid one exact integer dot and
    // one IEEE division, in cid order — so results stay bit-identical.
    val svs = typedlit(cents.map(_._2).toSeq)
    val ns = typedlit(cents.map(_._3.toDouble).toSeq)
    val cids = typedlit(cents.map(_._1).toSeq)
    base
      .withColumn("scores", VectorFunctions.codebook_scores(col("q"), svs, ns))
      .withColumn("cid",
        element_at(cids, array_position(col("scores"), array_max(col("scores"))).cast("int")))
      .drop("scores") // keep carry-through columns (p5 rides sub0..7 here)
  }

  /** Lloyd update: per-cell element-wise sum + count. 64 map-side
    * partial sums in ONE tiny groupBy (8 output rows) — no per-dim
    * explode, no extra shuffle.
    */
  def updateCodebook(assigned: DataFrame): DataFrame = {
    val sums = (0 until 64).map(i => sum(expr(s"q[$i]")).as(s"s$i"))
    assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cid"),
        array((0 until 64).map(i => col(s"s$i")): _*).as("sv"), col("n"))
  }

  /** `iters` deterministic Lloyd iterations from the seeded codebook.
    * `k` is the cluster count — the scale knob for every consumer
    * that bounds work per cell (s4 probing, d11's pairwise phase):
    * grow k with the corpus and expected cell size stays constant.
    */
  def trainCodebook(base: DataFrame, iters: Int, k: Int = 8): DataFrame =
    (1 to iters).foldLeft(seedCodebook(base, k)) { (cb, _) =>
      updateCodebook(assignCells(base, cb))
    }

  /** Persist a trained codebook beside the data (train once, probe
    * many — at corpus scale retraining per query would rescan
    * everything the index exists to avoid). A codebook is ≤k rows of
    * exact integer sums, so one parquet file is the whole artifact.
    */
  def saveCodebook(codebook: DataFrame, path: String): Unit =
    codebook.coalesce(1).write.mode("overwrite").parquet(path)

  def loadCodebook(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The IVF half of the ANN toolbox (s2/s3 are the LSH half): a
    * TRAINED codebook — two deterministic k-means (Lloyd) iterations
    * seeded from the first 8 vectors — then every vector assigned to
    * its max-mean-dot cell, cells summarized. At scale this is the
    * partition function of an IVF index: training touches the corpus
    * 2× with a broadcast codebook (classic distributed k-means: all
    * heavy work is map-side partial sums), and a query probes only its
    * own cell. Dots ride the codegen'd [[VectorFunctions.dot_product]];
    * every quantity is integer-exact except the single score division,
    * which both engines round identically — that is what keeps a
    * 2-iteration iterative algorithm oracle-checkable.
    */
  private def s4IvfCells(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    assignCells(base, trainCodebook(base, iters = 2))
      .groupBy(col("cid").as("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec")
      )
      .orderBy("cell")
  }

  /** Oracle fragment shared by s4 and d11: the two-iteration Lloyd
    * chain over a CTE named `base` (columns `vec_id`, `q` BIGINT
    * list) — seeds `c0` from the first 8 vectors, alternates
    * assignment (`a1`/`a2`/`a3`) with centroid update (`c1`/`c2`),
    * ending in the final assignment CTE `a3(vec_id, q, cid)`. Kept
    * as ONE string so the d11 semantic-dedup oracle trains the
    * byte-identical codebook the s4 oracle does.
    */
  private[ops] val ivfOracleChain: String = {
    val sumList = (1 to 64).map(i => s"sum(q[$i])").mkString("[", ", ", "]")
    def dotSql(q: String, sv: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> $q[i] * $sv[i]))"
    def assignSql(cents: String) =
      s"""SELECT vec_id, q, cid FROM (
         |    SELECT vec_id, q, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rnk
         |    FROM (SELECT b.vec_id, b.q, c.cid,
         |                 CAST(${dotSql("b.q", "c.sv")} AS DOUBLE) / c.n AS score
         |          FROM base b, $cents c)) WHERE rnk = 1""".stripMargin
    s"""c0 AS (SELECT vec_id AS cid, q AS sv, CAST(1 AS BIGINT) AS n FROM base WHERE vec_id < 8),
       |a1 AS (${assignSql("c0")}),
       |c1 AS (SELECT cid, $sumList AS sv, count(*) AS n FROM a1 GROUP BY cid),
       |a2 AS (${assignSql("c1")}),
       |c2 AS (SELECT cid, $sumList AS sv, count(*) AS n FROM a2 GROUP BY cid),
       |a3 AS (${assignSql("c2")})""".stripMargin
  }

  private val s4Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain
       |SELECT cid AS cell, count(*) AS n_vecs,
       |       min(vec_id) AS min_vec, max(vec_id) AS max_vec
       |FROM a3 GROUP BY cid ORDER BY cell""".stripMargin

  // ---- s5: int8 embedding quantization ------------------------------------

  /** The absmax int8 quantizer over a DOUBLE[] column — ONE
    * expression shared (modulo the engine's transform-function name
    * and the code integer width) by s5, s6's coarse scan and s37's
    * compressed adjacency, on BOTH engine sides, so the three gates
    * provably run the same scheme. `fn` is `transform` (Spark) or
    * `list_transform` (DuckDB); `amax` must reference the row's
    * absmax; zero vectors quantize to zero (guard, not NaN).
    */
  private def absmaxQ8Sql(v: String, amax: String, fn: String,
      cast: String): String =
    s"""CASE WHEN $amax > 0
       |THEN $fn($v, x -> CAST(floor((x / $amax) * 127) AS $cast))
       |ELSE $fn($v, x -> CAST(0 AS $cast)) END""".stripMargin

  /** `df` with s5's absmax int8 codes `q8` of its float basis `v` —
    * the code column the graph family's compressed hops read.
    */
  private[ops] def withQ8(df: DataFrame): DataFrame =
    df.withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q8", expr(absmaxQ8Sql("v", "amax", "transform", "BIGINT")))
      .drop("amax")

  /** Symmetric int8 quantization — the storage/serving compression
    * every large embedding store runs (4× smaller than float32, 8×
    * smaller than the double working type). Per-vector absmax scale:
    * `q_i = floor(x_i/amax · 127) ∈ [−127, 127]`. Row-local scan
    * projection, no shuffle. Determinism: one IEEE division + one
    * multiplication + floor per element, the same expression shape in
    * both engines (the trained-IVF trick) — then all OUTPUTS are
    * integers, so the compare is exact. Zero vectors quantize to zero
    * (guard, not NaN).
    */
  private def s5EmbedQuant(s: SparkSession, d: String): DataFrame =
    Tables
      .embeddings(s, d)
      .withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("amax", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("q", expr(absmaxQ8Sql("e", "amax", "transform", "INT")))
      .select(
        col("vec_id"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("q_sum"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))").as("q_l1"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"),
        expr("size(filter(q, x -> x = 127 OR x = -127))").as("n_sat")
      )
      .orderBy("vec_id")

  private val s5Oracle: String =
    s"""SELECT vec_id,
       |       CAST(list_sum(q) AS BIGINT) AS q_sum,
       |       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       |       list_min(q) AS q_min, list_max(q) AS q_max,
       |       CAST(len(list_filter(q, x -> x = 127 OR x = -127)) AS INT) AS n_sat
       |FROM (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("e", "amax", "list_transform", "INT")} AS q
       |  FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax
       |        FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)))
       |ORDER BY vec_id""".stripMargin

  // ---- s6: quantized coarse scan + exact rerank ----------------------------

  /** Two-stage retrieval — the shape a 100 TB vector store actually
    * serves: a COARSE pass scores every corpus vector against the
    * query in int8 (s5's absmax quantization — the store reads 4×
    * fewer bytes and the dot product is integer arithmetic), keeps
    * the top 20 candidates per query, and only those are RERANKED
    * with full-precision cosine for the final top 5. The expensive
    * exact math runs on 20 rows per query instead of the corpus.
    * Exactness of the gate: integer dot products (≤ 64·127² — far
    * inside the exact-double range) and one final IEEE cosine, both
    * reproduced by the oracle bit-for-bit.
    */
  private def s6QuantRerank(s: SparkSession, d: String): DataFrame = {
    val quant = vecs(s, d)
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q", expr(absmaxQ8Sql("v", "amax", "transform", "BIGINT")))
    val queries = quant.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("q").as("qq"))
    val coarse = quant.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("v"), col("q"))
      .join(broadcast(queries))
      .withColumn("dot_q", expr(
        "aggregate(zip_with(qq, q, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
    val wCoarse = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot_q").desc, col("vec_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    coarse
      .withColumn("crk", row_number().over(wCoarse))
      .filter(col("crk") <= 20)
      .withColumn("cos", VectorFunctions.cosine_similarity(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= 5)
      .select("qid", "vec_id", "dot_q", "cos", "rnk")
      .orderBy("qid", "rnk")
  }

  private val s6Oracle: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |quant AS (
      |  SELECT vec_id, v,
      |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q
      |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
      |        FROM base)),
      |coarse AS (
      |  SELECT qs.vec_id AS qid, c.vec_id, c.v, qs.v AS qv,
      |         CAST(list_sum(list_transform(generate_series(1, len(c.q)),
      |                i -> c.q[i] * qs.q[i])) AS BIGINT) AS dot_q
      |  FROM quant c JOIN quant qs ON qs.vec_id < 5 AND c.vec_id >= 5),
      |cands AS (
      |  SELECT qid, vec_id, v, qv, dot_q,
      |         row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS crk
      |  FROM coarse)
      |SELECT qid, vec_id, dot_q, cos, rnk FROM (
      |  SELECT qid, vec_id, dot_q, list_cosine_similarity(qv, v) AS cos,
      |         CAST(row_number() OVER (PARTITION BY qid
      |                ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS INT) AS rnk
      |  FROM cands WHERE crk <= 20)
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // ---- s7: bucket-diverse top-k (diversified retrieval) -------------------

  /** Diversified retrieval as an IN-PLAN constraint instead of a
    * post-hoc rerank loop: results per query are capped at 2 per LSH
    * cell before the global top-10, so one dense semantic
    * neighborhood (in training-data terms: one over-crawled template)
    * cannot monopolize the result list — the declarative cousin of
    * MMR, with the diversity radius set by the cell width. Two
    * stacked windows on the same (qid)-partitioned shuffle: the cell
    * cap prunes before the global rank, both deterministic
    * (cos DESC, vec_id tiebreak). Scoring reuses s1's shape —
    * broadcast queries, codegen'd [[VectorFunctions.cosine_similarity]],
    * fact side never shuffles for the scoring itself.
    */
  private def s7DiverseTopk(s: SparkSession, d: String): DataFrame = {
    val all = withBucket(vecs(s, d))
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = all
      .filter(col("vec_id") >= 5)
      .join(broadcast(queries))
      .select(col("qid"), col("vec_id"), col("bucket"),
        VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("bucket"))
      .orderBy(col("cos").desc, col("vec_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("cell_rnk", row_number().over(wCell))
      .filter(col("cell_rnk") <= 2)
      .withColumn("rnk", row_number().over(wAll))
      .filter(col("rnk") <= 10)
      .select("qid", "vec_id", "bucket", "cell_rnk", "cos", "rnk")
      .orderBy("qid", "rnk")
  }

  private val s7Oracle: String =
    s"""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |bucketed AS (${bucketSqlFrom("base")}),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vec_id, c.bucket AS bucket,
       |         list_cosine_similarity(q.v, c.v) AS cos
       |  FROM bucketed q JOIN bucketed c ON c.vec_id >= 5
       |  WHERE q.vec_id < 5),
       |capped AS (
       |  SELECT qid, vec_id, bucket, cos,
       |         CAST(row_number() OVER (PARTITION BY qid, bucket
       |              ORDER BY cos DESC, vec_id) AS INT) AS cell_rnk
       |  FROM scored)
       |SELECT qid, vec_id, bucket, cell_rnk, cos, rnk FROM (
       |  SELECT qid, vec_id, bucket, cell_rnk, cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |              ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM capped WHERE cell_rnk <= 2)
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // ---- s8: exact MMR re-ranking (unrolled greedy, oracle-checked) ---------

  /** Maximal Marginal Relevance, the exact greedy form: from each
    * query's top-20 relevance candidates, pick 5 results one at a
    * time maximizing `0.7·rel − 0.3·max_sim(picked)` — relevance
    * traded against redundancy with what's already chosen. Greedy
    * selection is inherently sequential, but k is a CONSTANT (5), so
    * the loop unrolls into k bounded plan steps — a driver loop like
    * d7's, each step a (candidates × picked) join that is at most
    * 20·step rows per query, followed by a per-query argmax window.
    * Each step localCheckpoints, so lineage stays k-deep, not
    * k²-deep. Every arithmetic op (cosine, 0.7·x − 0.3·y, argmax with
    * vec_id tiebreak) is IEEE-identical in DuckDB, which recomputes
    * the full greedy unrolled as chained CTEs — the oracle checks the
    * SELECTION SEQUENCE, not just the final set. s7 is the cheap
    * in-plan diversity cap; this is the exact reranker you run on the
    * final-stage candidates it leaves behind.
    */
  private def s8MmrRerank(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wRel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rel").desc, col("vec_id"))
    val cand = all.filter(col("vec_id") >= 5)
      .join(broadcast(queries))
      .select(col("qid"), col("vec_id"), col("v"),
        VectorFunctions.cosine_similarity(col("qv"), col("v")).as("rel"))
      .withColumn("rn", row_number().over(wRel))
      .filter(col("rn") <= 20)
      .drop("rn")
      .localCheckpoint(true)
    val wMmr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("mmr").desc, col("vec_id"))
    var picked = cand
      .withColumn("mmr", col("rel"))
      .withColumn("rn", row_number().over(wMmr))
      .filter(col("rn") === 1)
      .select(col("qid"), col("vec_id"), col("v"), col("rel"), col("mmr"),
        lit(1).as("step"))
      .localCheckpoint(true)
    for (step <- 2 to 5) {
      val remaining = cand.join(
        picked.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_anti")
      val maxsim = remaining
        .join(picked.select(col("qid"), col("v").as("pv")), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_similarity(col("v"), col("pv")).as("sim"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(max(col("sim")).as("maxsim"))
      val next = remaining
        .join(maxsim, Seq("qid", "vec_id"))
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("maxsim"))
        .withColumn("rn", row_number().over(wMmr))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("v"), col("rel"), col("mmr"),
          lit(step).as("step"))
      picked = picked.unionByName(next).localCheckpoint(true)
    }
    picked.select("qid", "step", "vec_id", "rel", "mmr").orderBy("qid", "step")
  }

  private val s8Oracle: String = {
    // unrolled greedy: pick_i = argmax over (cand minus picks<i) of
    // 0.7·rel − 0.3·max sim to picks<i; chained CTEs, no recursion
    def pickStep(i: Int): String = {
      val prev = (1 until i).map(j => s"p$j").mkString(" UNION ALL SELECT * FROM ")
      s"""r$i AS (
         |  SELECT c.qid, c.vec_id, c.v, c.rel,
         |         0.7 * c.rel - 0.3 * max(list_cosine_similarity(c.v, p.v)) AS mmr
         |  FROM cand c
         |  JOIN (SELECT * FROM $prev) p ON c.qid = p.qid
         |  WHERE NOT EXISTS (SELECT 1 FROM (SELECT * FROM $prev) x
         |                    WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
         |  GROUP BY c.qid, c.vec_id, c.v, c.rel),
         |p$i AS (
         |  SELECT qid, vec_id, v, rel, mmr, $i AS step FROM (
         |    SELECT qid, vec_id, v, rel, mmr,
         |           row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id) AS rn
         |    FROM r$i) WHERE rn = 1)""".stripMargin
    }
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cand AS (
       |  SELECT qid, vec_id, v, rel FROM (
       |    SELECT q.vec_id AS qid, c.vec_id, c.v,
       |           list_cosine_similarity(q.v, c.v) AS rel,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rn
       |    FROM base q JOIN base c ON c.vec_id >= 5
       |    WHERE q.vec_id < 5) WHERE rn <= 20),
       |p1 AS (
       |  SELECT qid, vec_id, v, rel, rel AS mmr, 1 AS step FROM (
       |    SELECT qid, vec_id, v, rel,
       |           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |${(2 to 5).map(pickStep).mkString(",\n")}
       |SELECT qid, step, vec_id, rel, mmr
       |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL
       |      SELECT * FROM p3 UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
       |ORDER BY qid, step""".stripMargin
  }

  // ---- s9: product quantization + asymmetric-distance search ---------------

  /** Number of PQ subspaces (64 dims → 8 subvectors of 8) and
    * centroids per subspace. 8×8 keeps the oracle tractable; the
    * production knob is the same code with m=8, k=256 (one byte per
    * subspace — 64-dim float32 compressed 32×).
    */
  private[ops] val pqM = 8
  private[ops] val pqK = 8

  /** The third leg of the ANN toolbox (LSH s2/s3, IVF s4, int8 s5/s6):
    * PRODUCT QUANTIZATION with asymmetric-distance scoring — the
    * compression that makes billion-vector search feasible, and at
    * 100 TB the difference between scanning vectors and scanning
    * CODES. Each vector is cut into [[pqM]] subvectors; a per-subspace
    * codebook (one deterministic Lloyd pass over seed cells, the s4
    * recipe) maps every subvector to a centroid id, so the stored
    * corpus is pqM small ints per vector. A query stays FULL precision
    * (asymmetric): per subspace it precomputes a k-entry lookup table
    * of `dot(querySub, centroid)` scores, and a corpus vector's
    * approximate dot is just pqM table lookups summed in fixed order —
    * `dot(q, reconstruction(x))` without ever reconstructing.
    *
    * Scale shape: training is map-side partial sums into a ≤ m·k-row
    * control-plane collect (the s4 pattern, one explode-shuffle);
    * encoding is a pure scan projection against broadcast literal
    * codebooks (no shuffle, no join); search broadcasts the query LUTs
    * and scans CODES ONLY — the 64-dim arrays never move. Determinism:
    * integer-exact sums and dots, one exactly-rounded division per
    * (query, subspace, centroid), totals added in fixed subspace
    * order — the same bit pattern in both engines.
    */
  private[ops] type Cb = Array[(Long, Seq[Double], Long)]

  /** All vectors cut into [[pqM]] subvector columns (quantized ints),
    * checkpointed once — every PQ pass slices from here.
    */
  /** Adds `sub0..sub{m-1}` subvector columns to any frame carrying a
    * quantized `q` — the projection-only PQ slicing, reusable by
    * consumers that need other columns alongside (p5 keeps `cid`).
    */
  private[ops] def pqSubCols(df: DataFrame): DataFrame =
    (0 until pqM).foldLeft(df) { (acc, m) =>
      acc.withColumn(s"sub$m", expr(s"slice(q, ${m * 8 + 1}, 8)"))
    }

  private[ops] def pqSubs(s: SparkSession, d: String): DataFrame =
    pqSubCols(quantized(s, d)).drop("q").localCheckpoint(true)

  /** Nearest-centroid assignment as PURE scan projections against
    * literal codebook columns — no shuffle, no join (the shuffle-free
    * s4 recipe): adds `c0..c{m-1}` code columns.
    */
  private[ops] def pqCodeCols(df: DataFrame, cb: Int => Cb): DataFrame =
    (0 until pqM).foldLeft(df) { (acc, m) =>
      val cents = cb(m)
      val scores = array(cents.map { case (_, sv, n) =>
        VectorFunctions.dot_product(col(s"sub$m"), typedlit(sv)) / lit(n.toDouble)
      }.toIndexedSeq: _*)
      acc
        .withColumn(s"scores$m", scores)
        .withColumn(s"c$m", element_at(typedlit(cents.map(_._1).toSeq),
          array_position(col(s"scores$m"), array_max(col(s"scores$m"))).cast("int")))
        .drop(s"scores$m")
    }

  /** One deterministic Lloyd pass over `train`: seed cells are the
    * first [[pqK]] vectors' subvectors; assignment is one scan; the
    * element-wise centroid sums come out of ONE explode + ≤ m·k-row
    * groupBy collect (control-plane only — the corpus never moves).
    */
  private[ops] def pqTrain(train: DataFrame): Int => Cb = {
    val seedRows = train.filter(col("vec_id") < pqK)
      .select(col("vec_id") +: (0 until pqM).map(m => col(s"sub$m")): _*)
      .collect().sortBy(_.getLong(0))
    def seedCb(m: Int): Cb =
      seedRows.map(r => (r.getLong(0), r.getSeq[Double](m + 1), 1L))
    val a1 = pqCodeCols(train, seedCb)
    val longForm = a1.select(explode(array((0 until pqM).map(m =>
      struct(lit(m).as("m"), col(s"sub$m").as("sub"), col(s"c$m").as("c"))): _*)).as("x"))
      .select(col("x.m"), col("x.sub"), col("x.c"))
    val cbRows = longForm.groupBy(col("m"), col("c"))
      .agg(count(lit(1)).as("n"),
        (0 until 8).map(i => sum(expr(s"sub[$i]")).as(s"s$i")): _*)
      .collect()
    m => cbRows.filter(_.getInt(0) == m)
      .map(r => (r.getLong(1),
        (0 until 8).map(i => r.getDouble(3 + i)).toSeq: Seq[Double],
        r.getLong(2)))
      .sortBy(_._1)
  }

  /** ADC search against `cb`: queries (vec_id < 5) stay full
    * precision with per-subspace LUT columns; the corpus side scans
    * CODES only, joined to the broadcast 5-row query side; fixed
    * subspace order keeps the double sum bit-identical.
    */
  /** Per-query ADC lookup tables: one `lut0..lut{m-1}` row per query
    * (vec_id < 5) — `lut_m[j] = dot(querySub_m, centroid_j)/n_j`.
    */
  private[ops] def pqLuts(subs: DataFrame, cb: Int => Cb): DataFrame =
    (0 until pqM).foldLeft(subs.filter(col("vec_id") < 5)) {
      (acc, m) =>
        acc.withColumn(s"lut$m", array(cb(m).map { case (_, sv, n) =>
          VectorFunctions.dot_product(col(s"sub$m"), typedlit(sv)) / lit(n.toDouble)
        }.toIndexedSeq: _*))
    }.select(col("vec_id").as("qid") +: (0 until pqM).map(m => col(s"lut$m")): _*)

  /** The ADC approximate dot: pqM table lookups summed in fixed
    * subspace order (bit-identical to the oracle's pivot sum).
    * Expects `lut*` (from [[pqLuts]]) and `c*` code columns in scope.
    */
  private[ops] def pqAdcScore(cb: Int => Cb): Column =
    (0 until pqM).map { m =>
      element_at(col(s"lut$m"),
        array_position(typedlit(cb(m).map(_._1).toSeq), col(s"c$m")).cast("int"))
    }.reduceLeft(_ + _)

  private def pqSearch(subs: DataFrame, coded: DataFrame, cb: Int => Cb): DataFrame = {
    val queries = pqLuts(subs, cb)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    coded.filter(col("vec_id") >= 5)
      .join(broadcast(queries))
      .withColumn("score", pqAdcScore(cb))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "vec_id", "score", "rnk")
  }

  private def s9PqAdc(s: SparkSession, d: String): DataFrame = {
    val subs = pqSubs(s, d)
    val cb1 = pqTrain(subs)
    val coded = pqCodeCols(subs, cb1)
      .select(col("vec_id") +: (0 until pqM).map(m => col(s"c$m")): _*)
    pqSearch(subs, coded, cb1).orderBy("qid", "rnk")
  }

  // ---- s10: incremental PQ index maintenance -------------------------------

  /** Batch boundary for the standing index: vectors below it trained
    * the codebook, vectors at/above it arrive LATER and are coded
    * against it without retraining.
    */
  private val pqSplit = 250

  /** The d8 pattern applied to PQ: a STANDING codebook codes newly
    * arrived vectors as a pure scan projection — no retraining, no
    * shuffle, O(new batch) — which is the only affordable shape when
    * the index holds billions of vectors and a few million arrive
    * daily. The codebook here is trained on batch 1 (vec_id <
    * [[pqSplit]]) ONLY; batch 2 is coded and searched against it
    * untouched. Drift rides along as a per-subspace assignment-
    * distribution shift — the total-variation distance between batch
    * 1's and batch 2's centroid usage, in integer per-mille
    * (`500·Σ|n1·N2 − n2·N1| DIV (N1·N2)`) — and `retrain` flags when
    * the worst subspace drifts past 10%: the metric that tells an
    * operator when the standing codebook has gone stale. Search
    * results and the drift scalar are one hash-checked result.
    */
  private def s10PqIncremental(s: SparkSession, d: String): DataFrame = {
    val subs = pqSubs(s, d)
    val cb = pqTrain(subs.filter(col("vec_id") < pqSplit)) // standing index
    val coded = pqCodeCols(subs, cb) // batch 2 coded by batch 1's codebook
      .select(col("vec_id") +: (0 until pqM).map(m => col(s"c$m")): _*)
    val longCodes = coded.select(col("vec_id"),
      explode(array((0 until pqM).map(m =>
        struct(lit(m).as("m"), col(s"c$m").as("c"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.c").as("c"))
    // Per-subspace totals are `tot1`/`tot2`, NOT `N1`/`N2`: the
    // case-insensitive resolver makes `withColumn("N1", ...)` REPLACE
    // `n1` (and DuckDB's binder resolves a same-select-list `N1` back
    // to `n1` the same way), so the `N1` spelling silently turned the
    // whole metric into |n1·n2 − n2·n1| ≡ 0 ON BOTH SIDES — green by
    // twin bugs, caught when s13 hit the Spark half of it alone.
    val wm = org.apache.spark.sql.expressions.Window.partitionBy("m")
    val drift = longCodes.groupBy("m", "c")
      .agg(
        sum(when(col("vec_id") < pqSplit, 1L).otherwise(0L)).as("n1"),
        sum(when(col("vec_id") >= pqSplit, 1L).otherwise(0L)).as("n2"))
      .withColumn("tot1", sum("n1").over(wm))
      .withColumn("tot2", sum("n2").over(wm))
      .groupBy(col("m"), col("tot1"), col("tot2"))
      .agg(sum(abs(col("n1") * col("tot2") - col("n2") * col("tot1"))).as("S"))
      // same empty-batch boundary as [[usageDriftPm]]: DIV-by-zero
      // would ride a NULL pm into max() and silently un-flag retrain
      .select(expr(
        """CAST(CASE WHEN tot2 = 0 THEN 0
          |          WHEN tot1 = 0 THEN 1000
          |          ELSE (500 * S) DIV (tot1 * tot2) END AS INT)""".stripMargin)
        .as("pm"))
      .agg(max("pm").as("drift_pm"))
      .withColumn("retrain", col("drift_pm") > 100)
    pqSearch(subs, coded, cb)
      .join(broadcast(drift)) // 1-row scalar rides every result row
      .orderBy("qid", "rnk")
  }

  private val s10Oracle: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, 8), i -> $a[i] * $b[i]))"
    def assign(cb: String, src: String) =
      s"""SELECT vec_id, m, sub, cid FROM (
         |    SELECT s.vec_id, s.m, s.sub, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY CAST(${dot("s.sub", "c.sv")} AS DOUBLE) / c.n DESC, c.cid) AS rnk
         |    FROM $src s JOIN $cb c ON c.m = s.m) WHERE rnk = 1""".stripMargin
    val svSums = (1 to 8).map(i => s"sum(sub[$i])").mkString("[", ", ", "]")
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id, g.m, list_slice(q, g.m * 8 + 1, g.m * 8 + 8) AS sub
       |  FROM base CROSS JOIN generate_series(0, ${pqM - 1}) AS g(m)),
       |train AS (SELECT * FROM subs WHERE vec_id < $pqSplit),
       |seed AS (
       |  SELECT m, vec_id AS cid, sub AS sv, CAST(1 AS BIGINT) AS n
       |  FROM subs WHERE vec_id < $pqK),
       |a1 AS (${assign("seed", "train")}),
       |c1 AS (SELECT m, cid, $svSums AS sv, count(*) AS n FROM a1 GROUP BY m, cid),
       |codes AS (${assign("c1", "subs")}),
       |counts AS (
       |  SELECT m, cid,
       |         sum(CASE WHEN vec_id < $pqSplit THEN 1 ELSE 0 END) AS n1,
       |         sum(CASE WHEN vec_id >= $pqSplit THEN 1 ELSE 0 END) AS n2
       |  FROM codes GROUP BY m, cid),
       |dsub AS (
       |  SELECT m, CAST(CASE WHEN tot2 = 0 THEN 0 WHEN tot1 = 0 THEN 1000
       |                 ELSE (500 * sum(abs(n1 * tot2 - n2 * tot1))) // (tot1 * tot2) END AS INT) AS pm
       |  FROM (SELECT m, cid, n1, n2,
       |               sum(n1) OVER (PARTITION BY m) AS tot1,
       |               sum(n2) OVER (PARTITION BY m) AS tot2 FROM counts)
       |  GROUP BY m, tot1, tot2),
       |dsum AS (SELECT CAST(max(pm) AS INT) AS drift_pm, max(pm) > 100 AS retrain FROM dsub),
       |terms AS (
       |  SELECT q.vec_id AS qid, x.vec_id, x.m,
       |         CAST(${dot("q.sub", "c.sv")} AS DOUBLE) / c.n AS t
       |  FROM codes x
       |  JOIN c1 c ON c.m = x.m AND c.cid = x.cid
       |  JOIN subs q ON q.m = x.m AND q.vec_id < 5
       |  WHERE x.vec_id >= 5),
       |piv AS (
       |  SELECT qid, vec_id,
       |         $pivots
       |  FROM terms GROUP BY qid, vec_id)
       |SELECT qid, vec_id, score, rnk, drift_pm, retrain FROM (
       |  SELECT qid, vec_id, $total AS score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY $total DESC, vec_id) AS INT) AS rnk
       |  FROM piv) CROSS JOIN dsum WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** Oracle fragment: the 8-dim subvector dot both PQ oracles use. */
  private[ops] def pqDot8(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 8), i -> $a[i] * $b[i]))"

  /** Oracle fragment: the `subs` CTE — every vector cut into [[pqM]]
    * subvectors — over a CTE named `base(vec_id, q)`.
    */
  private[ops] val pqSubsOracleCte: String =
    s"""subs AS (
       |  SELECT vec_id, g.m, list_slice(q, g.m * 8 + 1, g.m * 8 + 8) AS sub
       |  FROM base CROSS JOIN generate_series(0, ${pqM - 1}) AS g(m))""".stripMargin

  /** Oracle fragment shared by s9/p5: one PQ Lloyd pass + the final
    * code assignment over `subs(vec_id, m, sub)`. Ends in
    * `codes(vec_id, m, sub, cid)` with the trained per-subspace
    * codebook in `pc1(m, cid, sv, n)`. CTE names carry a `p` prefix
    * so the fragment composes beside [[ivfOracleChain]] (which owns
    * a1/c1/a2/c2). ONE string so every consumer trains the
    * byte-identical PQ codebook. (s10's oracle trains on a SPLIT of
    * subs — a different seed relation — so it keeps its own chain.)
    */
  private[ops] val pqOracleChain: String = {
    def assign(cb: String) =
      s"""SELECT vec_id, m, sub, cid FROM (
         |    SELECT s.vec_id, s.m, s.sub, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY CAST(${pqDot8("s.sub", "c.sv")} AS DOUBLE) / c.n DESC, c.cid) AS rnk
         |    FROM subs s JOIN $cb c ON c.m = s.m) WHERE rnk = 1""".stripMargin
    val svSums = (1 to 8).map(i => s"sum(sub[$i])").mkString("[", ", ", "]")
    s"""pseed AS (
       |  SELECT m, vec_id AS cid, sub AS sv, CAST(1 AS BIGINT) AS n
       |  FROM subs WHERE vec_id < $pqK),
       |pa1 AS (${assign("pseed")}),
       |pc1 AS (SELECT m, cid, $svSums AS sv, count(*) AS n FROM pa1 GROUP BY m, cid),
       |codes AS (${assign("pc1")})""".stripMargin
  }

  private val s9Oracle: String = {
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |terms AS (
       |  SELECT q.vec_id AS qid, x.vec_id, x.m,
       |         CAST(${pqDot8("q.sub", "c.sv")} AS DOUBLE) / c.n AS t
       |  FROM codes x
       |  JOIN pc1 c ON c.m = x.m AND c.cid = x.cid
       |  JOIN subs q ON q.m = x.m AND q.vec_id < 5
       |  WHERE x.vec_id >= 5),
       |piv AS (
       |  SELECT qid, vec_id,
       |         $pivots
       |  FROM terms GROUP BY qid, vec_id)
       |SELECT qid, vec_id, score, rnk FROM (
       |  SELECT qid, vec_id, $total AS score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY $total DESC, vec_id) AS INT) AS rnk
       |  FROM piv) WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  // ---- s11: IVF cell-pruned search (nprobe = 2) ----------------------------

  /** The SEARCH half of the IVF index s4 builds: a query scores the
    * k trained centroids, probes its top-`nprobe` cells, and ranks
    * candidates by exact cosine ONLY within those cells — the
    * classic FAISS `IndexIVFFlat` read path, and the reason the
    * index exists: per query the corpus scan shrinks to ~nprobe/k of
    * the data. s2 is the LSH flavor of this pruning; this one probes
    * a TRAINED partition function so cell population tracks the data
    * distribution rather than random hyperplanes.
    *
    * Scale shape: probe selection is (queries × k) — both sides tiny
    * (control-plane); the probe list broadcasts to the corpus join
    * keyed on the cell id, so the corpus side is one scan projection
    * (assignment against broadcast centroid literals, the s4 trick)
    * + one broadcast hash join + the per-query top-k window on qid
    * (the only exchange, s9's contract). The corpus vectors never
    * shuffle. At billion-vector scale the assignment is precomputed
    * (s4's output is the stored index; s10 maintains it
    * incrementally) and this query reads it — recomputing here keeps
    * the gate self-contained.
    *
    * Same integer-exact arithmetic as s4/d11 (quantized corpus,
    * exact dots, one IEEE division per centroid score), so DuckDB
    * reproduces probe choice and ranking bit-for-bit.
    */
  /** Probe list for IVF search: each query vector (vec_id < qMax;
    * the registered search gates pin 5, the eval gates sample wider)
    * paired with its `nprobe` best cells by centroid mean-dot.
    * Centroid scores come off one whole-codebook array literal (the
    * assignCells trick) — the probe side never joins; (queries × k)
    * rows total.
    * Takes the [[collectCents]] result so one driver round-trip feeds
    * both this and the corpus assignment, and the Lloyd aggregation
    * never enters the search plan. Returns (qid, qv, pcid).
    */
  private[ops] def ivfProbes(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], nprobe: Int,
      qMax: Long = 5L): DataFrame =
    ivfProbesOf(base.filter(col("vec_id") < qMax)
      .select(col("vec_id").as("qid"), col("q").as("qv")), cents, nprobe)

  /** [[ivfProbes]] for an arbitrary query frame (qid, qv) — the seam
    * that lets the s29 insert batch probe its entry cells with the
    * exact literal-codebook shape the read path uses.
    */
  private[graft] def ivfProbesOf(qs: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], nprobe: Int): DataFrame = {
    // Same O(1)-in-k literal shape as assignCellsFrom: the whole
    // codebook scored in one codebook_scores pass, posexploded, the
    // position mapped back to its cid through the literal cid list.
    val svs = typedlit(cents.map(_._2).toSeq)
    val ns = typedlit(cents.map(_._3.toDouble).toSeq)
    val cids = typedlit(cents.map(_._1).toSeq)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("pcid"))
    qs
      .select(col("qid"), col("qv"),
        posexplode(VectorFunctions.codebook_scores(col("qv"), svs, ns)).as(Seq("pos", "score")))
      .select(col("qid"), col("qv"),
        element_at(cids, col("pos").cast("int") + 1).as("pcid"), col("score"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("pcid"))
  }

  private def s11IvfSearch(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    // collect the trained codebook ONCE (k tiny rows): the same
    // driver-side artifact feeds probe scoring and corpus assignment
    val cents = collectCents(trainCodebook(base, iters = 2))
    val probes = ivfProbes(base, cents, nprobe = 2)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assignCellsFrom(base, cents)
      .filter(col("vec_id") >= 5)
      .join(broadcast(probes), col("cid") === col("pcid"))
      .select(col("qid"), col("vec_id"), col("cid").as("cell"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .orderBy("qid", "rnk")
  }

  /** Oracle fragment shared by s11/p5: probe selection — each query
    * (vec_id < 5) scored against the final IVF codebook `c2`, top-2
    * cells kept. Ends in `probes(qid, cid)`; needs `base` and the
    * [[ivfOracleChain]] CTEs in scope.
    */
  private[ops] val ivfProbeOracleCtes: String =
    s"""qsc AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qsc) WHERE pr <= 2)""".stripMargin

  private val s11Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |cand AS (
       |  SELECT p.qid, a.vec_id, a.cid,
       |         list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) AS cos
       |  FROM a3 a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN base qb ON qb.vec_id = p.qid
       |  WHERE a.vec_id >= 5)
       |SELECT qid, vec_id, cell, cos, rnk FROM (
       |  SELECT qid, vec_id, cid AS cell, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM cand)
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // ---- s12: ANN recall evaluation (the index-quality metric, as a query) ---

  /** Recall@10 of the IVF search against the exact truth — the number
    * an ANN index is actually judged by, computed as ONE query so the
    * metric ships with the index instead of living in a notebook.
    * Both rankings score the same quantized basis with the same
    * tie-break, so "recall" measures exactly what the cell pruning
    * discards, nothing else. The truth side is the s1 shape (corpus
    * scan under broadcast queries + qid window); the approx side is
    * s11's plan verbatim (same codebook, same probes); the comparison
    * is a 50-row semi join. Per-query hits stay integers, and the
    * corpus-level mean is ONE division off an integer sum — no
    * float-accumulation-order coupling between engines.
    *
    * At 100 TB you run this on a sampled query set against the stored
    * index (a3/probes read, not retrained) on a schedule — recall
    * drift is the signal that the codebook needs retraining, the
    * observability twin of s10's code-distribution drift.
    */
  /** (qid, vec_id) of the IVF cell-pruned top-k per query vector —
    * s11's read path as a reusable block, shared by the eval queries
    * (s12 measures its recall, s13 runs it under two codebooks, s14
    * labels through it). One definition so a tie-break or probe
    * change cannot silently diverge between the search gate and its
    * evaluators.
    *
    * `qMax` sizes the query sample (vec_id < qMax, threaded into the
    * probe scoring). Corpus exclusion is the one knob the two eval
    * styles disagree on: the recall gates hold the query sample OUT
    * of the corpus entirely (`excludeSelf = false` → vec_id >= qMax),
    * while kNN labeling searches the full corpus and only excludes
    * the vector itself (`excludeSelf = true` → vec_id ≠ qid in the
    * probe join, so a labeled neighbor with id < qMax still votes).
    */
  private def ivfApproxTop(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], nprobe: Int, k: Int,
      qMax: Long = 5L, excludeSelf: Boolean = false): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val corpus =
      if (excludeSelf) assignCellsFrom(base, cents)
      else assignCellsFrom(base, cents).filter(col("vec_id") >= qMax)
    val joinCond =
      if (excludeSelf) col("cid") === col("pcid") && col("vec_id") =!= col("qid")
      else col("cid") === col("pcid")
    corpus
      .join(broadcast(ivfProbes(base, cents, nprobe, qMax)), joinCond)
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= k)
      .select("qid", "vec_id")
  }

  /** (qid, vec_id) of the exact brute-force top-k — the ground-truth
    * side (s1's shape: corpus scan under the broadcast query sample).
    */
  private def exactTruthTop(base: DataFrame, k: Int): DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    base.filter(col("vec_id") >= 5)
      .join(broadcast(qs))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= k)
      .select("qid", "vec_id")
  }

  /** Per-qid count of `ap` members that are in the truth set. */
  private def recallHits(truth: DataFrame, ap: DataFrame, cname: String): DataFrame =
    truth.join(ap, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as(cname))

  private def s12AnnRecall(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2))
    val truth = exactTruthTop(base, 10)
    val perQ = base.filter(col("vec_id") < 5).select(col("vec_id").as("qid"))
      .join(recallHits(truth, ivfApproxTop(base, cents, nprobe = 2, k = 10), "n_hit"),
        Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / 10.0)
    val mean = perQ.agg((sum("n_hit").cast("double") / 50.0).as("mean_recall"))
    perQ.join(broadcast(mean)).orderBy("qid")
  }

  private val s12Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |approx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id,
       |           row_number() OVER (PARTITION BY p.qid
       |             ORDER BY list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
       |                      a.vec_id) AS rnk
       |    FROM a3 a
       |    JOIN probes p ON a.cid = p.cid
       |    JOIN base qb ON qb.vec_id = p.qid
       |    WHERE a.vec_id >= 5) WHERE rnk <= 10),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.vec_id AS qid, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(c.q::DOUBLE[], q.q::DOUBLE[]) DESC,
       |                      c.vec_id) AS rnk
       |    FROM base q, base c WHERE q.vec_id < 5 AND c.vec_id >= 5) WHERE rnk <= 10),
       |hits AS (
       |  SELECT t.qid, count(*) AS n_hit
       |  FROM truth t JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
       |  GROUP BY t.qid),
       |perq AS (
       |  SELECT q.vec_id AS qid, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |         CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall
       |  FROM (SELECT vec_id FROM base WHERE vec_id < 5) q
       |  LEFT JOIN hits h ON h.qid = q.vec_id)
       |SELECT qid, n_hit, recall,
       |       (SELECT CAST(sum(n_hit) AS DOUBLE) / 50.0 FROM perq) AS mean_recall
       |FROM perq ORDER BY qid""".stripMargin

  // ---- s13: recall under index drift (s12 × s10) ---------------------------

  /** The composed index-maintenance loop: s10 flags codebook staleness
    * from the code-usage distribution, s12 measures what staleness
    * actually costs — this query runs BOTH against the same standing
    * IVF index so the two signals are one hash-checked row set. A
    * STALE codebook (trained only on the first arrival batch,
    * vec_id < [[pqSplit]] — s10's split) and a FRESH one (trained on
    * the full corpus, s11's codebook) each serve the s11 cell-pruned
    * search over the whole corpus; recall@10 vs the exact truth is
    * computed per query for both, and the stale index's cell-usage
    * drift (total-variation distance between batch-1 and batch-2
    * assignment distributions, integer per-mille — s10's metric with
    * one subspace) rides along with its retrain flag. Agreement is
    * the point: drift below threshold ⇒ stale ≈ fresh recall; drift
    * past it ⇒ the recall gap is the operator's evidence the flag
    * fired for a reason.
    *
    * Scale shape: each search is s11's plan verbatim (scan projection
    * assignment against broadcast literals, broadcast probe join, qid
    * window); the truth side is s1's broadcast scan; drift counts are
    * one groupBy over ≤k cells with the totals broadcast back — the
    * corpus never shuffles, and the whole evaluation reads the corpus
    * a constant number of times regardless of size.
    */
  /** Cell-usage drift of a standing index: total-variation distance
    * between the batch-1 (`id < split`) and batch-2 (`id >= split`)
    * assignment distributions over `assigned(vec_id, cid)`, in integer
    * per-mille — `500·Σ|n1·tot2 − n2·tot1| DIV (tot1·tot2)` — with the
    * `retrain` flag at 10%. One groupBy over ≤k cell rows, totals via
    * an all-rows window over those same ≤k rows (SinglePartition is
    * control-plane here; no self-join of `counts` against its own
    * aggregate — the ambiguous-lineage trap).
    *
    * Totals are named `tot1`/`tot2`, NOT `N1`/`N2`: with the default
    * case-insensitive resolver, `withColumn("N1", ...)` REPLACES the
    * existing `n1` instead of adding a column, which silently zeroes
    * the whole metric (|n1·n2 − n2·n1| ≡ 0) — and DuckDB's binder
    * resolves a same-select-list `N1` back to `n1` the same way, so
    * the bug was green-by-twin-bugs in s10 until s13 exposed it.
    * [[graft.ops.SimilarityDriftSpec]] pins nonzero-on-skew.
    */
  private[ops] def usageDriftPm(assigned: DataFrame, split: Long): DataFrame = {
    val counts = assigned
      .groupBy("cid")
      .agg(
        sum(when(col("vec_id") < split, 1L).otherwise(0L)).as("n1"),
        sum(when(col("vec_id") >= split, 1L).otherwise(0L)).as("n2"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    counts
      .withColumn("tot1", sum("n1").over(wAll))
      .withColumn("tot2", sum("n2").over(wAll))
      .groupBy("tot1", "tot2")
      .agg(sum(abs(col("n1") * col("tot2") - col("n2") * col("tot1"))).as("S"))
      // Empty-batch boundary, NOT left to DIV-by-zero (which yields a
      // NULL drift_pm and a silently-false retrain — worst exactly when
      // the index is most stale): no batch-2 data ⇒ no drift evidence
      // (0); a batch-2 with an EMPTY training batch ⇒ everything is
      // new ⇒ maximal drift (1000, the metric's upper bound).
      .select(expr(
        """CAST(CASE WHEN tot2 = 0 THEN 0
          |          WHEN tot1 = 0 THEN 1000
          |          ELSE (500 * S) DIV (tot1 * tot2) END AS INT)""".stripMargin)
        .as("drift_pm"))
      .withColumn("retrain", col("drift_pm") > 100)
  }

  private def s13RecallDrift(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    val stale = collectCents(trainCodebook(base.filter(col("vec_id") < pqSplit), iters = 2))
    val fresh = collectCents(trainCodebook(base, iters = 2))
    val truth = exactTruthTop(base, 10)
    val drift = usageDriftPm(assignCellsFrom(base, stale), pqSplit)
    val perQ = base.filter(col("vec_id") < 5).select(col("vec_id").as("qid"))
      .join(recallHits(truth, ivfApproxTop(base, stale, nprobe = 2, k = 10),
        "n_hit_stale"), Seq("qid"), "left")
      .join(recallHits(truth, ivfApproxTop(base, fresh, nprobe = 2, k = 10),
        "n_hit_fresh"), Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit_stale", "n_hit_fresh"))
      .withColumn("recall_stale", col("n_hit_stale").cast("double") / 10.0)
      .withColumn("recall_fresh", col("n_hit_fresh").cast("double") / 10.0)
    val means = perQ.agg(
      (sum("n_hit_stale").cast("double") / 50.0).as("mean_stale"),
      (sum("n_hit_fresh").cast("double") / 50.0).as("mean_fresh"))
    perQ.join(broadcast(means)).join(broadcast(drift)).orderBy("qid")
  }

  private val s13Oracle: String = {
    def dotSql(q: String, sv: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> $q[i] * $sv[i]))"
    def assignSql(src: String, cents: String) =
      s"""SELECT vec_id, q, cid FROM (
         |    SELECT vec_id, q, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rnk
         |    FROM (SELECT b.vec_id, b.q, c.cid,
         |                 CAST(${dotSql("b.q", "c.sv")} AS DOUBLE) / c.n AS score
         |          FROM $src b, $cents c)) WHERE rnk = 1""".stripMargin
    val sumList = (1 to 64).map(i => s"sum(q[$i])").mkString("[", ", ", "]")
    def probesSql(cents: String) =
      s"""SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
         |    FROM (SELECT q.vec_id AS qid, c.cid,
         |                 CAST(${dotSql("q.q", "c.sv")} AS DOUBLE) / c.n AS score
         |          FROM base q, $cents c WHERE q.vec_id < 5)) WHERE pr <= 2""".stripMargin
    def approxSql(assigned: String, probes: String) =
      s"""SELECT qid, vec_id FROM (
         |    SELECT p.qid, a.vec_id,
         |           row_number() OVER (PARTITION BY p.qid
         |             ORDER BY list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                      a.vec_id) AS rnk
         |    FROM $assigned a
         |    JOIN $probes p ON a.cid = p.cid
         |    JOIN base qb ON qb.vec_id = p.qid
         |    WHERE a.vec_id >= 5) WHERE rnk <= 10""".stripMargin
    def hitsSql(approx: String) =
      s"""SELECT t.qid, count(*) AS n_hit
         |  FROM truth t JOIN $approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
         |  GROUP BY t.qid""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |strain AS (SELECT * FROM base WHERE vec_id < $pqSplit),
       |sc0 AS (SELECT vec_id AS cid, q AS sv, CAST(1 AS BIGINT) AS n FROM base WHERE vec_id < 8),
       |sa1 AS (${assignSql("strain", "sc0")}),
       |sc1 AS (SELECT cid, $sumList AS sv, count(*) AS n FROM sa1 GROUP BY cid),
       |sa2 AS (${assignSql("strain", "sc1")}),
       |sc2 AS (SELECT cid, $sumList AS sv, count(*) AS n FROM sa2 GROUP BY cid),
       |sa3 AS (${assignSql("base", "sc2")}),
       |probesS AS (${probesSql("sc2")}),
       |probesF AS (${probesSql("c2")}),
       |approxS AS (${approxSql("sa3", "probesS")}),
       |approxF AS (${approxSql("a3", "probesF")}),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.vec_id AS qid, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(c.q::DOUBLE[], q.q::DOUBLE[]) DESC,
       |                      c.vec_id) AS rnk
       |    FROM base q, base c WHERE q.vec_id < 5 AND c.vec_id >= 5) WHERE rnk <= 10),
       |hitsS AS (${hitsSql("approxS")}),
       |hitsF AS (${hitsSql("approxF")}),
       |counts AS (
       |  SELECT cid,
       |         sum(CASE WHEN vec_id < $pqSplit THEN 1 ELSE 0 END) AS n1,
       |         sum(CASE WHEN vec_id >= $pqSplit THEN 1 ELSE 0 END) AS n2
       |  FROM sa3 GROUP BY cid),
       |drf AS (
       |  SELECT drift_pm, drift_pm > 100 AS retrain FROM (
       |    SELECT CAST(CASE WHEN tot2 = 0 THEN 0 WHEN tot1 = 0 THEN 1000
       |                ELSE (500 * sum(abs(n1 * tot2 - n2 * tot1))) // (tot1 * tot2) END AS INT) AS drift_pm
       |    FROM counts CROSS JOIN (SELECT sum(n1) AS tot1, sum(n2) AS tot2 FROM counts)
       |    GROUP BY tot1, tot2)),
       |perq AS (
       |  SELECT q.vec_id AS qid,
       |         CAST(COALESCE(hs.n_hit, 0) AS BIGINT) AS n_hit_stale,
       |         CAST(COALESCE(hf.n_hit, 0) AS BIGINT) AS n_hit_fresh,
       |         CAST(COALESCE(hs.n_hit, 0) AS DOUBLE) / 10.0 AS recall_stale,
       |         CAST(COALESCE(hf.n_hit, 0) AS DOUBLE) / 10.0 AS recall_fresh
       |  FROM (SELECT vec_id FROM base WHERE vec_id < 5) q
       |  LEFT JOIN hitsS hs ON hs.qid = q.vec_id
       |  LEFT JOIN hitsF hf ON hf.qid = q.vec_id)
       |SELECT qid, n_hit_stale, n_hit_fresh, recall_stale, recall_fresh,
       |       (SELECT CAST(sum(n_hit_stale) AS DOUBLE) / 50.0 FROM perq) AS mean_stale,
       |       (SELECT CAST(sum(n_hit_fresh) AS DOUBLE) / 50.0 FROM perq) AS mean_fresh,
       |       drift_pm, retrain
       |FROM perq CROSS JOIN drf ORDER BY qid""".stripMargin
  }

  // ---- s14: kNN auto-labeling + its accuracy (label propagation, evaluated) -

  /** Embedding-neighborhood auto-labeling — the semi-supervised
    * workhorse of large-corpus curation (propagate sparse human labels
    * to the unlabeled mass through embedding similarity) — run and
    * EVALUATED as one query: a 50-vector eval sample is classified by
    * the majority label of its 5 nearest neighbors (self excluded),
    * nearest-neighbor search rides the s11 IVF read path (probe top-2
    * trained cells, exact-rank only their members), and the prediction
    * is scored against the fixture's ground-truth `label` column —
    * per-label counts/accuracy with the corpus-level accuracy riding
    * every row, s12's eval pattern applied to classification.
    *
    * Determinism: majority vote is an integer count with ties broken
    * to the smallest label; the neighbor ranking is the s11 contract
    * (identical IEEE cosine in both engines, ties to lowest vec_id) —
    * so the confusion outcome is bit-stable, whatever the accuracy
    * value says about the fixture's label geometry.
    *
    * Scale shape: the eval sample is the broadcast side everywhere
    * (probes, vote window, truth join); the corpus contributes the
    * stored-index scan s11 reads (recomputed here to stay
    * self-contained). Votes and the per-label rollup are bounded by
    * (sample × k) rows — control-plane. Nothing scans corpus pairs.
    */
  private def s14KnnLabel(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val cents = collectCents(trainCodebook(base, iters = 2))
    // the s11/s12/s13 read path verbatim (shared block) — a wider
    // query sample and self-exclusion are its two knobs
    val neigh = ivfApproxTop(base, cents, nprobe = 2, k = 5,
      qMax = 50L, excludeSelf = true)
    val wVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("n_votes").desc, col("label"))
    val pred = neigh.join(labels, Seq("vec_id"))
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("n_votes"))
      .withColumn("r", row_number().over(wVote)).filter(col("r") === 1)
      .select(col("qid"), col("label").as("pred_label"))
    // LEFT join: an eval vector that retrieved zero neighbors (both
    // probed cells degenerate to only itself) still counts in n_eval —
    // as a miss — instead of silently shrinking the accuracy
    // denominator. `when` treats the NULL pred_label as not-equal.
    val perLabel = labels.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label"))
      .join(pred, Seq("qid"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc", col("n_correct").cast("double") / col("n_eval"))
    val overall = perLabel.agg(
      (sum("n_correct").cast("double") / sum("n_eval")).as("overall_acc"))
    perLabel.join(broadcast(overall)).orderBy("label")
  }

  private val s14Oracle: String = {
    def dotSql(q: String, sv: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> $q[i] * $sv[i]))"
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM (SELECT q.vec_id AS qid, c.cid,
       |                 CAST(${dotSql("q.q", "c.sv")} AS DOUBLE) / c.n AS score
       |          FROM base q, c2 c WHERE q.vec_id < 50)) WHERE pr <= 2),
       |top5 AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id,
       |           row_number() OVER (PARTITION BY p.qid
       |             ORDER BY list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
       |                      a.vec_id) AS rnk
       |    FROM a3 a
       |    JOIN probes p ON a.cid = p.cid
       |    JOIN base qb ON qb.vec_id = p.qid
       |    WHERE a.vec_id <> p.qid) WHERE rnk <= 5),
       |pred AS (
       |  SELECT qid, label AS pred_label FROM (
       |    SELECT qid, label,
       |           row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS r
       |    FROM (SELECT t.qid, e.label, count(*) AS n_votes
       |          FROM top5 t JOIN embeddings e ON e.vec_id = t.vec_id
       |          GROUP BY t.qid, e.label)) WHERE r = 1),
       |perl AS (
       |  SELECT e.label, count(*) AS n_eval,
       |         sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS n_correct
       |  FROM embeddings e LEFT JOIN pred p ON p.qid = e.vec_id
       |  WHERE e.vec_id < 50 GROUP BY e.label)
       |SELECT CAST(label AS INT) AS label, CAST(n_eval AS BIGINT) AS n_eval,
       |       CAST(n_correct AS BIGINT) AS n_correct,
       |       CAST(n_correct AS DOUBLE) / n_eval AS acc,
       |       (SELECT CAST(sum(n_correct) AS DOUBLE) / sum(n_eval) FROM perl) AS overall_acc
       |FROM perl ORDER BY label""".stripMargin
  }

  // ---- s15: attribute-filtered ANN (pre-filter inside the index read) -----

  /** Metadata-constrained vector search — "nearest neighbors WHERE
    * attribute = x", the shape every production retrieval API exposes
    * (tenant, language, license, class filters). The filter is applied
    * PRE-ranking, inside the probed-cell candidate read: each query's
    * label rides the broadcast probe row and becomes a second equi-key
    * of the candidate join, so only matching-label members of the
    * probed cells are ever scored and the top-k window ranks a full k
    * from the constrained corpus. The alternative — post-filtering an
    * unconstrained top-k — silently returns < k (here ~90% of any
    * cell carries a different label; a filtered top-10 would keep ~1
    * row), which is why pre-filter is the contract worth gating.
    *
    * Scale shape: identical to s11's read path plus one extra
    * broadcast-side join key — the label comparison happens inside
    * the same broadcast hash join, no new exchange, and at 100 TB a
    * selective attribute can additionally prune at the storage layer
    * (partition the stored index by the attribute). The corpus never
    * shuffles; the only exchange is the per-query rank window.
    */
  private def s15FilteredAnn(s: SparkSession, d: String): DataFrame = {
    // quantized basis WITH the filter attribute carried through the
    // assignment projection (assignCells passes non-q columns along)
    val base = labeledQuantized(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2))
    val qlab = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"))
    val probes = ivfProbes(base, cents, nprobe = 2).join(broadcast(qlab), Seq("qid"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assignCellsFrom(base, cents)
      .filter(col("vec_id") >= 5)
      .join(broadcast(probes),
        col("cid") === col("pcid") && col("label") === col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("cid").as("cell"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  private val s15Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |cand AS (
       |  SELECT p.qid, ql.label AS qlabel, a.vec_id, a.cid,
       |         list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) AS cos
       |  FROM a3 a
       |  JOIN probes p ON a.cid = p.cid
       |  JOIN base qb ON qb.vec_id = p.qid
       |  JOIN base ql ON ql.vec_id = p.qid
       |  JOIN base cl ON cl.vec_id = a.vec_id AND cl.label = ql.label
       |  WHERE a.vec_id >= 5)
       |SELECT qid, CAST(qlabel AS INT) AS qlabel, vec_id, cell, cos, rnk FROM (
       |  SELECT qid, qlabel, vec_id, cid AS cell, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM cand)
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // ---- s16: hybrid lexical+vector retrieval fused by RRF ------------------

  /** Hybrid retrieval — the standard two-tower serving pattern:
    * a lexical ranking (distinct-word overlap with the query document)
    * and a vector ranking (embedding cosine, s1's shape) fused by
    * Reciprocal Rank Fusion, `score = Σ 1/(60 + rank)`. RRF is the
    * fusion every hybrid search engine defaults to because it needs
    * no score calibration between the towers — only ranks — which is
    * also what makes it oracle-stable: both ranks are integers under
    * deterministic tie-breaks, and the fused score is two exact IEEE
    * divisions and one add.
    *
    * The lexical tower is integer-exact on purpose: overlap of
    * DISTINCT word sets (a BM25-style weighted sum would accumulate
    * doubles in engine-dependent order). Monotone in relevance,
    * bit-stable across engines.
    *
    * Scale shape: the query side (5 docs) broadcasts into both
    * towers — the lexical overlap is a broadcast hash join on the
    * word followed by a (qid, doc_id)-keyed count, the vector tower
    * is the s1 broadcast scan — and each tower keeps only its top-20
    * per query before the rank-join, so the fusion join and final
    * window touch ≤ 40 rows per query (control-plane). The corpus is
    * scanned twice (once per tower over different columns), never
    * shuffled; the only corpus-sized exchange is the distinct-word
    * aggregation keyed on (doc_id, word).
    */
  private def s16HybridRrf(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.wordsCol(col("text"))).as("w"))
      .distinct()
    val qWords = words.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("w"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("overlap").desc, col("doc_id"))
    val lex = words.filter(col("doc_id") >= 5)
      .join(broadcast(qWords), Seq("w"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("lex_rnk", row_number().over(wLex))
      .filter(col("lex_rnk") <= 20)
      .select(col("qid"), col("doc_id"), col("lex_rnk"))
    val base = quantized(s, d)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val wVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
    val vec = base.filter(col("vec_id") >= 5)
      .join(broadcast(qs))
      .select(col("qid"), col("vec_id").as("doc_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("vec_rnk", row_number().over(wVec))
      .filter(col("vec_rnk") <= 20)
      .select(col("qid"), col("doc_id"), col("vec_rnk"))
    val wRrf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rnk")), lit(0.0)))
      .withColumn("rnk", row_number().over(wRrf))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("doc_id"), col("lex_rnk"), col("vec_rnk"),
        col("rrf"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  private val s16Oracle: String = {
    val ws = Text.wordsSql("text")
    s"""WITH words AS (
       |  SELECT DISTINCT doc_id, unnest($ws) AS w FROM documents),
       |lex AS (
       |  SELECT qid, doc_id, lex_rnk FROM (
       |    SELECT q.doc_id AS qid, c.doc_id AS doc_id,
       |           CAST(row_number() OVER (PARTITION BY q.doc_id
       |             ORDER BY count(*) DESC, c.doc_id) AS INT) AS lex_rnk
       |    FROM words c JOIN words q ON c.w = q.w
       |    WHERE c.doc_id >= 5 AND q.doc_id < 5
       |    GROUP BY q.doc_id, c.doc_id)
       |  WHERE lex_rnk <= 20),
       |base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS DOUBLE)) AS q
       |  FROM embeddings),
       |vec AS (
       |  SELECT qid, doc_id, vec_rnk FROM (
       |    SELECT qs.vec_id AS qid, c.vec_id AS doc_id,
       |           CAST(row_number() OVER (PARTITION BY qs.vec_id
       |             ORDER BY list_cosine_similarity(c.q, qs.q) DESC, c.vec_id) AS INT) AS vec_rnk
       |    FROM base c, base qs
       |    WHERE c.vec_id >= 5 AND qs.vec_id < 5)
       |  WHERE vec_rnk <= 20),
       |fused AS (
       |  SELECT COALESCE(l.qid, v.qid) AS qid,
       |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |         l.lex_rnk, v.vec_rnk,
       |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rnk), CAST(0.0 AS DOUBLE)) +
       |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rnk), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.qid = v.qid AND l.doc_id = v.doc_id)
       |SELECT qid, doc_id, lex_rnk, vec_rnk, CAST(rrf AS DOUBLE) AS rrf, rnk FROM (
       |  SELECT qid, doc_id, lex_rnk, vec_rnk, rrf,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INT) AS rnk
       |  FROM fused)
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  // ---- s17: streaming vector ingestion into the stored IVF index ----------

  /** A freshly-embedded vector as it reaches the ingestion stream. */
  final case class NewVec(vec_id: Long, q: Seq[Double])

  /** A delete request as it reaches the maintenance stream — ids
    * only, the shape a production tombstone feed actually carries.
    */
  final case class Tomb(vec_id: Long)

  /** The d12 loop for the VECTOR index: embedding waves arrive as a
    * stream, each micro-batch is assigned against the STANDING
    * codebook (the broadcast-literal scan projection — no shuffle to
    * ingest) and appended to the stored cell table, so the next
    * search sees everything already ingested. This closes the index
    * lifecycle the s-family covers piecewise: build (s4), persist
    * (save/loadCodebook), search (s11/s15), evaluate (s12/s13),
    * batch-maintain (p9/s10) — and now continuous ingestion, the
    * shape a live embedding pipeline actually runs.
    *
    * The gate proves MID-STREAM growth, not just final state: a
    * search for query 0 runs after each wave, and wave 1 plants
    * exact re-embeddings of the query vector (cos 1.0) that the
    * wave-1 snapshot must surface while wave 2's plants must appear
    * ONLY in the wave-2 snapshot — possible only because the stored
    * index grew between the two searches. Restart-survivability is
    * d12's: the index is parquet + a persisted codebook, so a fresh
    * session re-enters the same dir and continues (spec-asserted).
    *
    * Scale shape: ingestion is an O(wave) scan projection + append
    * (no index rewrite — cells are append-only under a fixed
    * codebook; re-centering is s13's retrain decision); each search
    * is the s11 read path over storage (probes broadcast, the only
    * exchange is the per-query rank window). Only bounded top-k
    * results are ever collected.
    */
  private def s17StreamIndex(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s17-idx-")
    try s17StreamIndexWithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private[graft] def s17StreamIndexWithDir(
      s: SparkSession, d: String, idxDir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val cellsPath = s"$idxDir/cells"
    val cbPath = s"$idxDir/codebook"
    val base = quantized(s, d)
    // bootstrap: train + persist the codebook and assign the corpus
    // (the query sample vec_id < 5 stays out — s11's recall stance)
    // only if this dir was never seeded; a restarted ingestion
    // session keeps the grown index and continues from it
    if (!new java.io.File(cellsPath).isDirectory) {
      saveCodebook(trainCodebook(base, iters = 2), cbPath)
      val cents0 = collectCents(loadCodebook(s, cbPath))
      assignCellsFrom(base.filter(col("vec_id") >= 5), cents0)
        .select("vec_id", "q", "cid")
        .write.mode("overwrite").parquet(cellsPath)
    }
    val cents = collectCents(loadCodebook(s, cbPath))
    val snaps = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Double, Int)]()
    def searchTop(wave: Int): Unit = {
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val out = s.read.parquet(cellsPath)
        .join(broadcast(ivfProbes(base, cents, nprobe = 2, qMax = 1L)),
          col("cid") === col("pcid"))
        .select(col("qid"), col("vec_id"), col("cid"),
          VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .collect()
      snaps ++= out.map(r => (wave, r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("cid"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    }
    // one collect serves both waves' plants (was one job per wave)
    val plantEmbs = base.filter(col("vec_id") < 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    def vecsOf(ids: Seq[Long], shift: Long): Seq[NewVec] =
      ids.map(i => NewVec(shift + i, plantEmbs(i))).sortBy(_.vec_id)
    val wave1 = vecsOf(Seq(0L, 1L, 2L), 8000000L)
    val wave2 = vecsOf(Seq(0L, 3L, 4L), 9000000L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-s17-")
    try {
      val input = MemoryStream[NewVec](
        org.apache.spark.sql.Encoders.product[NewVec], s)
      val q = input.toDS().writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[NewVec], _: Long) =>
            if (!batch.isEmpty) {
              // ingest = one scan projection against the broadcast
              // codebook literal + append; no index rewrite
              assignCellsFrom(batch.toDF(), cents)
                .select("vec_id", "q", "cid")
                .write.mode("append").parquet(cellsPath)
              // small-files backstop: no-op listing under threshold,
              // content-identical fold above it (IndexCompactionSpec)
              IndexCompaction.compact(s, cellsPath)
              ()
            }
          }
          .option("checkpointLocation", ckpt.toString)
          .start()
      // ONE long-lived streaming query serves both waves (addData +
      // processAllAvailable per wave) instead of a full AvailableNow
      // start/stop per wave — same batches, same appends, same
      // checkpoint; only the per-wave stream bootstrap cost drops.
      try {
        input.addData(wave1); q.processAllAvailable(); searchTop(1)
        input.addData(wave2); q.processAllAvailable(); searchTop(2)
      } finally q.stop()
    } finally graft.Fs.deleteRecursively(ckpt)
    import s.implicits._
    snaps.toSeq.toDF("wave", "qid", "vec_id", "cell", "cos", "rnk")
      .orderBy("wave", "rnk")
  }

  private val s17Oracle: String = {
    def assignQSql(rel: String) =
      s"""SELECT vec_id, q, cid FROM (
         |  SELECT x.vec_id, x.q, c.cid,
         |         row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |                i -> x.q[i] * c.sv[i])) AS DOUBLE) / c.n DESC,
         |           c.cid) AS rnk
         |  FROM $rel x, c2 c) WHERE rnk = 1""".stripMargin
    def searchSql(cells: String, wave: Int) =
      s"""SELECT $wave AS wave, qid, vec_id, cid AS cell, cos, rnk FROM (
         |  SELECT p.qid, c.vec_id, c.cid,
         |         list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) AS cos,
         |         CAST(row_number() OVER (PARTITION BY p.qid
         |           ORDER BY list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                    c.vec_id) AS INT) AS rnk
         |  FROM $cells c
         |  JOIN probes0 p ON c.cid = p.cid
         |  JOIN base qb ON qb.vec_id = p.qid)
         |WHERE rnk <= 5""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |probes0 AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM (SELECT q.vec_id AS qid, c.cid,
       |                 CAST(list_sum(list_transform(generate_series(1, 64),
       |                      i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |          FROM base q, c2 c WHERE q.vec_id < 1)) WHERE pr <= 2),
       |w1 AS (SELECT vec_id + 8000000 AS vec_id, q FROM base WHERE vec_id < 3),
       |w2 AS (SELECT vec_id + 9000000 AS vec_id, q FROM base WHERE vec_id IN (0, 3, 4)),
       |aw1 AS (${assignQSql("w1")}),
       |aw2 AS (${assignQSql("w2")}),
       |cells1 AS (
       |  SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5
       |  UNION ALL SELECT vec_id, q, cid FROM aw1),
       |cells2 AS (
       |  SELECT vec_id, q, cid FROM cells1
       |  UNION ALL SELECT vec_id, q, cid FROM aw2)
       |SELECT * FROM (
       |  ${searchSql("cells1", 1)}
       |  UNION ALL
       |  ${searchSql("cells2", 2)})
       |ORDER BY wave, rnk""".stripMargin
  }

  // ---- s21: streaming DELETES in the vector index (MOR tombstones) --------

  /** A vector-stream event: an upsert carries the embedding, a delete
    * carries only the KEY — which is why deletes cannot prune to a
    * cell: nothing in the event says where the vector lives, and a
    * per-tombstone O(index) scan-and-rewrite is the thing a live
    * pipeline must never do.
    */
  final case class VecEvent(vec_id: Long, q: Seq[Double], op: String)

  /** s17's ingestion loop extended with TOMBSTONES — the merge-on-read
    * deletion model (Lucene live-docs / Hudi delete-blocks): a delete
    * appends its key to a tombstone table (O(1) write), every search
    * masks the index with a broadcast anti-join against the
    * accumulated tombstones (bounded by delete-rate × compaction
    * cadence — control-plane sized), and the periodic
    * [[IndexCompaction.compactWithTombstones]] fold makes deletes
    * physical and clears the mask. The gate proves all three phases
    * under the oracle: wave 1 plants an exact re-embedding of the
    * query (cos 1.0, rank 1), wave 2 deletes it — the snapshot-2
    * search must drop it and refill rank 5 from the corpus while the
    * row is still PHYSICALLY in the cell table (mask semantics) —
    * then a compaction folds the tombstone in and snapshot 3 must be
    * byte-identical to snapshot 2 with the mask gone (physical
    * semantics). p9 retracts batch-wise under the same fixed-codebook
    * contract; this is its streaming form.
    */
  private def s21StreamDelete(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s21-idx-")
    try s21StreamDeleteWithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private[graft] def s21StreamDeleteWithDir(
      s: SparkSession, d: String, idxDir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val cellsPath = s"$idxDir/cells"
    val delsPath = s"$idxDir/dels"
    val cbPath = s"$idxDir/codebook"
    val base = quantized(s, d)
    if (!new java.io.File(cellsPath).isDirectory) {
      saveCodebook(trainCodebook(base, iters = 2), cbPath)
      val cents0 = collectCents(loadCodebook(s, cbPath))
      assignCellsFrom(base.filter(col("vec_id") >= 5), cents0)
        .select("vec_id", "q", "cid")
        .write.mode("overwrite").parquet(cellsPath)
    }
    val cents = collectCents(loadCodebook(s, cbPath))
    val snaps = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Double, Int)]()
    def searchTop(wave: Int): Unit = {
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      // the tombstone mask: a broadcast anti-join, present only while
      // unapplied tombstones exist (the existence check is one listing)
      val live =
        if (IndexCompaction.dataFileCount(delsPath) > 0)
          s.read.parquet(cellsPath).join(
            broadcast(s.read.parquet(delsPath).select("vec_id").distinct()),
            Seq("vec_id"), "left_anti")
        else s.read.parquet(cellsPath)
      val out = live
        .join(broadcast(ivfProbes(base, cents, nprobe = 2, qMax = 1L)),
          col("cid") === col("pcid"))
        .select(col("qid"), col("vec_id"), col("cid"),
          VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .collect()
      snaps ++= out.map(r => (wave, r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("cid"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    }
    // one collect serves both waves' plants (was one job per wave)
    val plantEmbs = base.filter(col("vec_id") < 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    def upsertsOf(ids: Seq[Long], shift: Long): Seq[VecEvent] =
      ids.map(i => VecEvent(shift + i, plantEmbs(i), "upsert")).sortBy(_.vec_id)
    // wave 1: three plants, including the query's own embedding
    val wave1 = upsertsOf(Seq(0L, 1L, 2L), 8000000L)
    // wave 2: DELETE the rank-1 plant; one unrelated upsert rides along
    // (mixed batches are the production case)
    val wave2 = Seq(VecEvent(8000000L, Seq.empty, "delete")) ++
      upsertsOf(Seq(4L), 9000000L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-s21-")
    try {
      val input = MemoryStream[VecEvent](
        org.apache.spark.sql.Encoders.product[VecEvent], s)
      val q = input.toDS().writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[VecEvent], _: Long) =>
            val b = batch.localCheckpoint(true) // two slices, one upstream eval
            val ups = b.filter(col("op") === "upsert").drop("op")
            if (!ups.isEmpty)
              assignCellsFrom(ups, cents)
                .select("vec_id", "q", "cid")
                .write.mode("append").parquet(cellsPath)
            val tomb = b.filter(col("op") === "delete").select("vec_id")
            if (!tomb.isEmpty)
              tomb.write.mode("append").parquet(delsPath)
            // in-stream cadence: the file-count backstop only — the
            // tombstone fold is the OPERATOR'S periodic compaction
            // call, exercised explicitly below so the gate checks the
            // masked phase before the physical one
            IndexCompaction.compact(s, cellsPath)
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .start()
      // one long-lived query, one micro-batch per wave (see s17)
      try {
        input.addData(wave1); q.processAllAvailable(); searchTop(1)
        input.addData(wave2); q.processAllAvailable(); searchTop(2) // masked delete
      } finally q.stop()
      // periodic maintenance fires: the tombstone becomes physical
      require(IndexCompaction.compactWithTombstones(
        s, cellsPath, delsPath, "vec_id"), "tombstones must force a fold")
      require(IndexCompaction.dataFileCount(delsPath) == 0,
        "applied tombstones must clear")
      searchTop(3) // physical delete: must equal snapshot 2
    } finally graft.Fs.deleteRecursively(ckpt)
    import s.implicits._
    snaps.toSeq.toDF("wave", "qid", "vec_id", "cell", "cos", "rnk")
      .orderBy("wave", "rnk")
  }

  private val s21Oracle: String = {
    def assignQSql(rel: String) =
      s"""SELECT vec_id, q, cid FROM (
         |  SELECT x.vec_id, x.q, c.cid,
         |         row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |                i -> x.q[i] * c.sv[i])) AS DOUBLE) / c.n DESC,
         |           c.cid) AS rnk
         |  FROM $rel x, c2 c) WHERE rnk = 1""".stripMargin
    def searchSql(cells: String, wave: Int) =
      s"""SELECT $wave AS wave, qid, vec_id, cid AS cell, cos, rnk FROM (
         |  SELECT p.qid, c.vec_id, c.cid,
         |         list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) AS cos,
         |         CAST(row_number() OVER (PARTITION BY p.qid
         |           ORDER BY list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                    c.vec_id) AS INT) AS rnk
         |  FROM $cells c
         |  JOIN probes0 p ON c.cid = p.cid
         |  JOIN base qb ON qb.vec_id = p.qid)
         |WHERE rnk <= 5""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |probes0 AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM (SELECT q.vec_id AS qid, c.cid,
       |                 CAST(list_sum(list_transform(generate_series(1, 64),
       |                      i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |          FROM base q, c2 c WHERE q.vec_id < 1)) WHERE pr <= 2),
       |w1 AS (SELECT vec_id + 8000000 AS vec_id, q FROM base WHERE vec_id < 3),
       |w2 AS (SELECT vec_id + 9000000 AS vec_id, q FROM base WHERE vec_id = 4),
       |aw1 AS (${assignQSql("w1")}),
       |aw2 AS (${assignQSql("w2")}),
       |cells1 AS (
       |  SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5
       |  UNION ALL SELECT vec_id, q, cid FROM aw1),
       |cells2 AS (
       |  SELECT vec_id, q, cid FROM cells1 WHERE vec_id <> 8000000
       |  UNION ALL SELECT vec_id, q, cid FROM aw2)
       |SELECT * FROM (
       |  ${searchSql("cells1", 1)}
       |  UNION ALL
       |  ${searchSql("cells2", 2)}
       |  UNION ALL
       |  ${searchSql("cells2", 3)})
       |ORDER BY wave, rnk""".stripMargin
  }

  // ---- s22: streaming UPDATE (re-embed) in the vector index ---------------

  /** s21's deletion model extended to in-place UPDATES — the missing
    * index lifecycle event: a document gets re-embedded (same vec_id,
    * new vector) and the new row must atomically supersede the old
    * one, which may live in a DIFFERENT cell (the new embedding
    * re-assigns). Mechanism: every row carries a monotone `ver` (the
    * micro-batch ordinal); an update appends the new row at ver v AND
    * a VERSIONED tombstone `(vec_id, upto=v)` in the same batch —
    * "mask every row of this key strictly older than v". The read
    * path's broadcast anti-join keys on (vec_id, ver < upto), so the
    * replacement row that rode in with the tombstone is never masked,
    * and [[IndexCompaction.compactWithVersionedTombstones]] applies
    * the same predicate physically. A plain delete is the same record
    * with upto = Long.MaxValue — one tombstone model covers s21 and
    * s22.
    *
    * The gate makes the supersede observable in the top-k: wave 1
    * plants query 0's own embedding at vec_id 8000000 (rank 1 for
    * qid 0); wave 2 re-embeds THAT key with query 1's embedding —
    * snapshot 2 must drop it from qid 0's list and surface the SAME
    * vec_id at rank 1 of qid 1's list while the stale row is still
    * physically present (mask semantics); the versioned fold then
    * removes the stale row and snapshot 3 must equal snapshot 2
    * byte-identically (physical semantics).
    */
  private def s22StreamUpdate(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s22-idx-")
    try s22StreamUpdateWithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private[graft] def s22StreamUpdateWithDir(
      s: SparkSession, d: String, idxDir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val cellsPath = s"$idxDir/cells"
    val delsPath = s"$idxDir/dels"
    val cbPath = s"$idxDir/codebook"
    val base = quantized(s, d)
    if (!new java.io.File(cellsPath).isDirectory) {
      saveCodebook(trainCodebook(base, iters = 2), cbPath)
      val cents0 = collectCents(loadCodebook(s, cbPath))
      assignCellsFrom(base.filter(col("vec_id") >= 5), cents0)
        .select("vec_id", "q", "cid")
        .withColumn("ver", lit(0L))
        .write.mode("overwrite").parquet(cellsPath)
    }
    val cents = collectCents(loadCodebook(s, cbPath))
    val snaps = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Double, Int)]()
    def searchTop(wave: Int): Unit = {
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val live =
        if (IndexCompaction.dataFileCount(delsPath) > 0) {
          val cells = s.read.parquet(cellsPath)
          val tombs = s.read.parquet(delsPath)
            .groupBy("vec_id").agg(max(col("upto")).as("upto"))
          // versioned mask: strictly-older rows of a tombstoned key
          cells.join(broadcast(tombs),
            cells("vec_id") === tombs("vec_id") && cells("ver") < tombs("upto"),
            "left_anti")
        } else s.read.parquet(cellsPath)
      val out = live
        .join(broadcast(ivfProbes(base, cents, nprobe = 2, qMax = 2L)),
          col("cid") === col("pcid"))
        .select(col("qid"), col("vec_id"), col("cid"),
          VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .collect()
      snaps ++= out.map(r => (wave, r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("cid"), r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    }
    // one collect serves every plant below (5 driver-side lookups were
    // 5 separate jobs over the same ≤5 rows)
    val embs = base.filter(col("vec_id") < 5).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    def embOf(id: Long): Seq[Double] = embs(id)
    // wave 1: three plants, including query 0's own embedding
    val wave1 = Seq(0L, 1L, 2L).map(i => VecEvent(8000000L + i, embOf(i), "upsert"))
    // wave 2: RE-EMBED the rank-1 plant with query 1's vector; one
    // unrelated upsert rides along (mixed batches are the production
    // case, and it proves plain inserts don't tombstone)
    val wave2 = Seq(VecEvent(8000000L, embOf(1L), "update"),
      VecEvent(9000004L, embOf(4L), "upsert"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-s22-")
    try {
      val input = MemoryStream[VecEvent](
        org.apache.spark.sql.Encoders.product[VecEvent], s)
      val q = input.toDS().writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[VecEvent], bid: Long) =>
            val ver = bid + 1 // corpus load is ver 0
            val b = batch.localCheckpoint(true)
            val rows = b.filter(col("op").isin("upsert", "update")).drop("op")
            if (!rows.isEmpty)
              assignCellsFrom(rows, cents)
                .select("vec_id", "q", "cid")
                .withColumn("ver", lit(ver))
                .write.mode("append").parquet(cellsPath)
            // the tombstone rides in the SAME batch as its replacement
            val tombs = b.filter(col("op") === "update")
              .select(col("vec_id"), lit(ver).as("upto"))
            if (!tombs.isEmpty)
              tombs.write.mode("append").parquet(delsPath)
            IndexCompaction.compact(s, cellsPath)
            ()
          }
          .option("checkpointLocation", ckpt.toString)
          .start()
      // one long-lived query, one micro-batch per wave (see s17);
      // batch ids still run 0, 1 — `ver` is unchanged
      try {
        input.addData(wave1); q.processAllAvailable(); searchTop(1)
        input.addData(wave2); q.processAllAvailable(); searchTop(2) // masked supersede
      } finally q.stop()
      require(IndexCompaction.compactWithVersionedTombstones(
        s, cellsPath, delsPath, "vec_id", "ver"), "tombstones must force a fold")
      require(IndexCompaction.dataFileCount(delsPath) == 0,
        "applied tombstones must clear")
      searchTop(3) // physical supersede: must equal snapshot 2
    } finally graft.Fs.deleteRecursively(ckpt)
    import s.implicits._
    snaps.toSeq.toDF("wave", "qid", "vec_id", "cell", "cos", "rnk")
      .orderBy("wave", "qid", "rnk")
  }

  private val s22Oracle: String = {
    def assignQSql(rel: String) =
      s"""SELECT vec_id, q, cid FROM (
         |  SELECT x.vec_id, x.q, c.cid,
         |         row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |                i -> x.q[i] * c.sv[i])) AS DOUBLE) / c.n DESC,
         |           c.cid) AS rnk
         |  FROM $rel x, c2 c) WHERE rnk = 1""".stripMargin
    def searchSql(cells: String, wave: Int) =
      s"""SELECT $wave AS wave, qid, vec_id, cid AS cell, cos, rnk FROM (
         |  SELECT p.qid, c.vec_id, c.cid,
         |         list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) AS cos,
         |         CAST(row_number() OVER (PARTITION BY p.qid
         |           ORDER BY list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                    c.vec_id) AS INT) AS rnk
         |  FROM $cells c
         |  JOIN probes0 p ON c.cid = p.cid
         |  JOIN base qb ON qb.vec_id = p.qid)
         |WHERE rnk <= 5""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |probes0 AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM (SELECT q.vec_id AS qid, c.cid,
       |                 CAST(list_sum(list_transform(generate_series(1, 64),
       |                      i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |          FROM base q, c2 c WHERE q.vec_id < 2)) WHERE pr <= 2),
       |w1 AS (SELECT vec_id + 8000000 AS vec_id, q FROM base WHERE vec_id < 3),
       |wu AS (SELECT CAST(8000000 AS BIGINT) AS vec_id, q FROM base WHERE vec_id = 1),
       |w2 AS (SELECT vec_id + 9000000 AS vec_id, q FROM base WHERE vec_id = 4),
       |aw1 AS (${assignQSql("w1")}),
       |awu AS (${assignQSql("wu")}),
       |aw2 AS (${assignQSql("w2")}),
       |cells1 AS (
       |  SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5
       |  UNION ALL SELECT vec_id, q, cid FROM aw1),
       |cells2 AS (
       |  SELECT vec_id, q, cid FROM cells1 WHERE vec_id <> 8000000
       |  UNION ALL SELECT vec_id, q, cid FROM awu
       |  UNION ALL SELECT vec_id, q, cid FROM aw2)
       |SELECT * FROM (
       |  ${searchSql("cells1", 1)}
       |  UNION ALL
       |  ${searchSql("cells2", 2)}
       |  UNION ALL
       |  ${searchSql("cells2", 3)})
       |ORDER BY wave, qid, rnk""".stripMargin
  }

  // ---- s18: binary-sketch Hamming search (sign random projection) ----------

  /** The fourth index family of the ANN toolbox — BINARY sketches
    * (FAISS `IndexBinaryFlat` read path), completing LSH buckets
    * (s2/s3: signature EQUALITY), IVF cells (s4/s11), and PQ codes
    * (s9): every vector compresses to 64 sign bits of the s2
    * hyperplane family, packed into two BIGINT words, and candidates
    * are RANKED by Hamming distance — `bit_count(xor)` per word, the
    * cheapest distance there is (two xors + two popcounts vs 64
    * multiply-adds), which is why binary sketches are the standard
    * first funnel stage when even PQ lookup tables are too hot.
    * Ranking (not bucket equality) is what s2 cannot express: every
    * corpus vector gets a comparable coarse score, so recall degrades
    * gracefully instead of cliff-dropping when a neighbour lands one
    * bucket over. The Hamming top-20 shortlist is then reranked by
    * exact cosine (top-5) — the s11/p5 refine idiom.
    *
    * Scale shape: signatures are one scan projection (64 codegen'd
    * dots against constant plane literals — at 100 TB the sketch is
    * computed once at ingest and STORED, 16 bytes/vector, and search
    * scans sketches only); the 5-row query side broadcasts (s1
    * shape); the exchanges are the two per-qid top-k windows, which
    * carry `(qid, vec_id, ham)` integers — no arrays. The rerank
    * fetches full vectors for 20 rows/query via a broadcast lookup.
    *
    * Determinism: dots are exact-integer doubles (the bucketed
    * contract), sign bits and Hamming counts are exact integers, and
    * the rerank cosine is s1's proven expression shape — bit-identical
    * in DuckDB (`^` spelled `xor()` there; same values).
    */
  private def s18Hamming(s: SparkSession, d: String): DataFrame = {
    // All 64 plane dots come out of ONE codebook_scores call (the
    // planes ride as a single whole-codebook literal with unit
    // counts), and the halves pack with a weighted zip_with+aggregate
    // over the scores array. Two hard-won shapes here, both measured
    // at the 10× stress: (a) 64 separate dot_product COLUMNS cost 8 s
    // where the single array expression costs 0.6 s bit-identically —
    // 64 independent codegen'd loops plus a 64-double-column
    // UnsafeRow materialization lose to one fused pass; (b) the
    // signature table is localCheckpoint'ed because three legs read
    // it (corpus, query, rerank fetch) — it IS the stored binary
    // index, and recomputing it per leg made the first cut the bench
    // tail (the mm7/mm8 fingerprint lesson). The HOF lambdas bind
    // only lambda variables and the scores column is referenced once
    // per half — the Round-12b inlining trap does not bite.
    val planes = typedlit((0 until 64).map { j =>
      (0 until 64).map(i => (((j * 64L + i) * 2654435761L) % 1000003L - 500001L).toDouble)
    })
    val ones = typedlit((0 until 64).map(_ => 1.0))
    val w32 = (0 until 32).map(j => 1L << j).mkString(",")
    def packHalf(off: Int): String =
      s"""aggregate(zip_with(slice(sc, ${off + 1}, 32), array($w32),
         |  (x, w) -> IF(x > 0, w, CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, b) -> a + b)""".stripMargin
    val sigs = vecs(s, d)
      .withColumn("hq", expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))"))
      .withColumn("sc", VectorFunctions.codebook_scores(col("hq"), planes, ones))
      .select(col("vec_id"), col("v"),
        expr(packHalf(0)).as("lo"), expr(packHalf(32)).as("hi"))
      .localCheckpoint(true)
    val qs = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
    val wHam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ham"), col("vec_id"))
    val short = sigs.filter(col("vec_id") >= 5).drop("v")
      .join(broadcast(qs))
      .withColumn("ham", expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS INT)"))
      .withColumn("hr", row_number().over(wHam)).filter(col("hr") <= 20)
      .select("qid", "vec_id", "ham")
    val qv = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    sigs.filter(col("vec_id") >= 5).select("vec_id", "v")
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("ham"),
        VectorFunctions.cosine_similarity(col("v"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  private val s18Oracle: String = {
    val dots = (0 until 64)
      .map(j => s"""list_sum(list_transform(generate_series(0, 63),
                   |           i -> hq[i+1] * ((($j*64 + i) * 2654435761) % 1000003 - 500001))) AS hdot$j""".stripMargin)
      .mkString(",\n         ")
    def pack(lows: Range): String = lows
      .map(j => s"(CASE WHEN hdot$j > 0 THEN CAST(${1L << (j % 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dotted AS (
       |  SELECT vec_id, v,
       |         $dots
       |  FROM (SELECT vec_id, v,
       |               list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS hq
       |        FROM base)),
       |sigs AS (
       |  SELECT vec_id, v, ${pack(0 until 32)} AS lo, ${pack(32 until 64)} AS hi
       |  FROM dotted),
       |cand AS (
       |  SELECT q.vec_id AS qid, c.vec_id,
       |         CAST(bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi)) AS INT) AS ham
       |  FROM sigs c, sigs q WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |short AS (
       |  SELECT qid, vec_id, ham FROM (
       |    SELECT qid, vec_id, ham,
       |           row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS hr
       |    FROM cand) WHERE hr <= 20),
       |scored AS (
       |  SELECT s.qid, s.vec_id, s.ham, list_cosine_similarity(b.v, qb.v) AS cos
       |  FROM short s
       |  JOIN base b ON b.vec_id = s.vec_id
       |  JOIN base qb ON qb.vec_id = s.qid)
       |SELECT qid, vec_id, ham, cos, rnk FROM (
       |  SELECT qid, vec_id, ham, cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  // ---- s19: k-NN graph construction (multi-probe cell join) ----------------

  /** The all-corpus neighbor graph — each vector's top-3 neighbors —
    * the artifact SemDeDup clustering, diversity sampling, and
    * graph-based indexes (NN-descent seeding, HNSW layer 0) are built
    * FROM. Distinct from the search gates (s11/s18: a tiny query
    * sample against the corpus) and from d11 (threshold pairs within
    * one cell for a dedup verdict): here EVERY vector is a query, and
    * each probes its top-2 trained cells so near-boundary neighbors —
    * which single-cell confinement provably loses — are recovered.
    *
    * Scale shape: this is the one similarity op where the corpus
    * legitimately shuffles — a vector must meet its cell peers, so
    * the probe list (corpus-sized, NOT broadcast) equi-joins the cell
    * assignment on the cell id. Work per cell is |cell| × |members|,
    * bounded by the d11 argument: k ∝ corpus holds expected cell size
    * constant, so the join is linear in the corpus at fixed density.
    * Exchanges: the cell-keyed join and the per-vector top-k window —
    * both keyed, nothing cartesian.
    *
    * Determinism: s11's integer-exact basis (quantized dots for cell
    * choice, one IEEE division per centroid score, exact cosine with
    * vec_id tie-break).
    */
  /** The graph body against a trained codebook — split out so the
    * 10× stress can run it at production shape (k ∝ corpus, the d11
    * knob: per-cell population — and so per-vector candidate work —
    * stays constant as the corpus grows). The gate pins k = 8.
    */
  /** The edge list itself — (src, nbr_id, nbr_q, cos, rnk), each
    * vector's top-3 multi-probe-cell neighbors WITH the neighbor's
    * vector denormalized in. Factored out of [[s19From]] so the s28
    * graph walk can read it as a standing index whose hops never
    * rejoin the corpus for vectors (nbr_q rides the edge row; the
    * denormalization triples edge width but keeps every search hop a
    * single broadcast join against this one table).
    */
  private[graft] def knnEdges(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], degree: Int = 3): DataFrame = {
    val probes = ivfProbes(base, cents, nprobe = 2, qMax = Long.MaxValue)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr_id"))
    // the rank exchange carries (qid, nbr_id, cos) ONLY — the top-k
    // winners rejoin their vectors afterward (one slim node-id-keyed
    // join of N·degree rows against the corpus). Carrying nbr_q
    // through the window shuffled ~1 KB per candidate PAIR — at
    // production shape that exchange dominated every graph build
    // (22 s of s35's 48 s at 10× — the s35 decomposition, PLANS.md
    // round 19).
    assignCellsFrom(base, cents)
      .join(probes, col("cid") === col("pcid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= degree)
      .join(base.select(col("vec_id").as("nbr_id"), col("q").as("nbr_q")),
        Seq("nbr_id"))
      .select(col("qid").as("src"), col("nbr_id"), col("nbr_q"),
        col("cos"), col("rnk"))
  }

  private[graft] def s19From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame =
    knnEdges(base, cents)
      .select(col("src").as("vec_id"), col("nbr_id"), col("cos"), col("rnk"))
      .orderBy("vec_id", "rnk")

  private def s19KnnGraph(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s19From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s19Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |qsc AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qsc) WHERE pr <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nbr_id,
       |         list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]) AS cos
       |  FROM probes p
       |  JOIN a3 a ON a.cid = p.cid AND a.vec_id <> p.qid
       |  JOIN base b ON b.vec_id = p.qid)
       |SELECT vec_id, nbr_id, cos, rnk FROM (
       |  SELECT qid AS vec_id, nbr_id, cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, nbr_id) AS INT) AS rnk
       |  FROM cand)
       |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  // ---- s20: nprobe recall/cost sweep ---------------------------------------

  /** The tuning curve an IVF deployment is actually configured from:
    * recall@10 AND candidate cost at nprobe ∈ {1, 2, 4}, one result.
    * s12 reports the operating point; this sweeps the knob — the
    * recall/cost trade is THE decision an operator makes (each
    * probed cell buys recall at a linear scan-cost price), and
    * making it a single oracle-checked query means the curve ships
    * with the index, reproducibly.
    *
    * One corpus pass for all three points: the probe list is built
    * once at the WIDEST nprobe with its probe rank kept, the
    * candidate join runs once, and each sweep point filters
    * `pr <= nprobe` from the same checkpointed candidate frame
    * (query-sample-bounded: ≤ queries × corpus/k × 4 rows) — three
    * sweep points for one scan, which is how a sweep stays affordable
    * against a billion-vector stored index.
    */
  private def s20NprobeSweep(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2))
    // widest probe list, keeping the probe rank (ivfProbes drops it)
    val svs = typedlit(cents.map(_._2).toSeq)
    val ns = typedlit(cents.map(_._3.toDouble).toSeq)
    val cids = typedlit(cents.map(_._1).toSeq)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("pcid"))
    val probes4 = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(VectorFunctions.codebook_scores(col("qv"), svs, ns)).as(Seq("pos", "score")))
      .select(col("qid"), col("qv"),
        element_at(cids, col("pos").cast("int") + 1).as("pcid"), col("score"))
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= 4)
      .select("qid", "qv", "pcid", "pr")
    val cand = assignCellsFrom(base, cents).filter(col("vec_id") >= 5)
      .join(broadcast(probes4), col("cid") === col("pcid"))
      .select(col("qid"), col("vec_id"), col("pr"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .localCheckpoint(true) // one corpus pass feeds all sweep points
    val truth = exactTruthTop(base, 10)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val points = Seq(1, 2, 4).map { np =>
      val slice = cand.filter(col("pr") <= np)
      val top = slice
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 10)
        .select("qid", "vec_id")
      val hits = truth.join(top, Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      slice.agg(count(lit(1)).as("n_cand"))
        .join(hits)
        .select(lit(np).as("nprobe"), col("n_cand"),
          (col("n_hits").cast("double") / 50.0).as("mean_recall"))
    }
    points.reduce(_ unionByName _).orderBy("nprobe")
  }

  private val s20Oracle: String = {
    def point(np: Int): String =
      s"""SELECT $np AS nprobe,
         |       (SELECT count(*) FROM cand WHERE pr <= $np) AS n_cand,
         |       CAST((SELECT count(*) FROM truth t
         |             JOIN approx$np a ON a.qid = t.qid AND a.vec_id = t.vec_id)
         |            AS DOUBLE) / 50.0 AS mean_recall""".stripMargin
    def approx(np: Int): String =
      s"""approx$np AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
         |    FROM cand WHERE pr <= $np) WHERE rnk <= 10)""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |qsc AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probes4 AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qsc) WHERE pr <= 4),
       |cand AS (
       |  SELECT p.qid, a.vec_id, p.pr,
       |         list_cosine_similarity(a.q::DOUBLE[], qb.q::DOUBLE[]) AS cos
       |  FROM a3 a
       |  JOIN probes4 p ON a.cid = p.cid
       |  JOIN base qb ON qb.vec_id = p.qid
       |  WHERE a.vec_id >= 5),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.vec_id AS qid, c.vec_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(c.q::DOUBLE[], q.q::DOUBLE[]) DESC,
       |                      c.vec_id) AS rnk
       |    FROM base q, base c WHERE q.vec_id < 5 AND c.vec_id >= 5) WHERE rnk <= 10),
       |${approx(1)},
       |${approx(2)},
       |${approx(4)}
       |${Seq(1, 2, 4).map(point).mkString("", "\nUNION ALL\n", "")}
       |ORDER BY nprobe""".stripMargin
  }

  // ---- s24: IVF rebalancing — hot-cell split (index lifecycle close) -------

  /** Exact squared distance |x − y|² expanded through the codegen'd
    * dots: `x·x − 2·x·y + y·y`. Every term is an exact integer carried
    * in doubles (quantized basis), so the value is the same integer
    * DuckDB reaches by summing (x_i − y_i)² — different op order,
    * identical exact result.
    */
  private def sqDist(x: Column, y: Column): Column =
    VectorFunctions.dot_product(x, x) - lit(2.0) * VectorFunctions.dot_product(x, y) +
      VectorFunctions.dot_product(y, y)

  /** s24: REBALANCE the IVF index by splitting hot cells — the
    * lifecycle step s17/s21/s22 make necessary: streaming ingest runs
    * against a FIXED codebook, so a burst of similar content piles
    * into one cell and every probe of that cell scans the pile
    * (per-probe cost is exactly what cell size bounds). The fixture
    * stages that story: the codebook trains on the base corpus, THEN
    * a 60-vector burst of near-copies of vector 0 lands (s17's shape,
    * jitter on one dimension keeps arithmetic integer-exact), pushing
    * one cell past the size bound `n > 3·total/(2·k)` (1.5× the mean).
    * Each hot cell splits by one deterministic 2-means step with
    * farthest-point seeding: seed A = min-vec_id member, seed B = the
    * member farthest from A (ties → lowest vec_id), members assign to
    * the nearer seed by EXACT integer squared distance (ties → A).
    * Cold cells pass through untouched.
    *
    * Scale shape: sizes and the hot set are index metadata (≤k rows,
    * driver-side — the watermark-store pattern); the split touches
    * ONLY hot-cell members — reading exactly the cell the size cap
    * keeps bounded (cell-partitioned storage prunes the rest, the
    * cdc_topk_maint cohort discipline) — with both seeds broadcast;
    * the cold side is the standing index summary. Output is the
    * post-split cell inventory, i.e. the new codebook's population
    * map.
    */
  private def s24IvfRebalance(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = quantized(s, d)
    // trained BEFORE the burst — the stale codebook is the premise
    val cents = collectCents(trainCodebook(base, iters = 2))
    // ingest burst: 60 near-copies of vector 0, jitter j on dim 2
    // (Spark transform index i is 0-BASED: i = 1 here == the oracle's
    // 1-based q[2])
    val burst = base.filter(col("vec_id") === 0)
      .crossJoin(s.range(1, 61).select(col("id").as("j")))
      .select((lit(10000L) + col("j")).as("vec_id"),
        expr("transform(q, (x, i) -> x + CAST(IF(i = 1, j, 0) AS DOUBLE))").as("q"))
    val assigned = assignCellsFrom(base.select("vec_id", "q").union(burst), cents)
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = sizes.map(_._2).sum
    val bound = 3 * total / (2 * cents.length)
    val hotCids = sizes.filter(_._2 > bound).map(_._1).toSeq
    val hot = assigned.filter(col("cid").isin(hotCids: _*))
    val aIds = hot.groupBy(col("cid")).agg(min(col("vec_id")).as("vec_id"))
    val seedA = hot.join(broadcast(aIds), Seq("cid", "vec_id"))
      .select(col("cid"), col("q").as("qa"))
    val dA = hot.join(broadcast(seedA), "cid")
      .withColumn("dist_a", sqDist(col("q"), col("qa")))
    val seedB = dA
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("dist_a").desc, col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("cid"), col("q").as("qb"))
    val splitCells = dA.join(broadcast(seedB), "cid")
      .withColumn("sub",
        when(col("dist_a") <= sqDist(col("q"), col("qb")), lit("a")).otherwise(lit("b")))
      .groupBy(col("cid"), col("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
      .select(concat(col("cid").cast("string"), col("sub")).as("cell_key"),
        col("cid").as("parent_cid"), col("n_vecs"), col("min_vec"), col("max_vec"),
        lit(1).as("was_split"))
    val coldCells = assigned.filter(!col("cid").isin(hotCids: _*))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
      .select(col("cid").cast("string").as("cell_key"), col("cid").as("parent_cid"),
        col("n_vecs"), col("min_vec"), col("max_vec"), lit(0).as("was_split"))
    splitCells.union(coldCells).orderBy("cell_key")
  }

  private val s24Oracle: String = {
    def dist(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> ($x[i] - $y[i]) * ($x[i] - $y[i])))"
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |burst AS (
       |  SELECT 10000 + j AS vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> q[i] + CASE WHEN i = 2 THEN j ELSE 0 END) AS q
       |  FROM base, (SELECT unnest(generate_series(1, 60)) AS j) WHERE vec_id = 0),
       |ing AS (SELECT vec_id, q FROM base UNION ALL SELECT vec_id, q FROM burst),
       |a3x AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rnk
       |    FROM (SELECT b.vec_id, b.q, c.cid,
       |                 CAST(list_sum(list_transform(generate_series(1, 64),
       |                      i -> b.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |          FROM ing b, c2 c)) WHERE rnk = 1),
       |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a3x GROUP BY cid),
       |kb AS (SELECT CAST(sum(n) AS BIGINT) AS total,
       |              (SELECT CAST(count(*) AS BIGINT) FROM c2) AS k FROM sz),
       |hot AS (SELECT cid FROM sz, kb WHERE n > (3 * total) // (2 * k)),
       |hm AS (SELECT a.* FROM a3x a JOIN hot USING (cid)),
       |sa AS (
       |  SELECT h.cid, h.q AS qa FROM hm h
       |  JOIN (SELECT cid, min(vec_id) AS v FROM hm GROUP BY cid) m
       |    ON h.cid = m.cid AND h.vec_id = m.v),
       |da AS (
       |  SELECT h.cid, h.vec_id, h.q, ${dist("h.q", "s.qa")} AS dist_a
       |  FROM hm h JOIN sa s ON h.cid = s.cid),
       |sb AS (
       |  SELECT cid, q AS qb FROM (
       |    SELECT cid, q,
       |           row_number() OVER (PARTITION BY cid ORDER BY dist_a DESC, vec_id) AS rn
       |    FROM da) WHERE rn = 1),
       |sp AS (
       |  SELECT d.cid, d.vec_id,
       |         CASE WHEN d.dist_a <= ${dist("d.q", "b.qb")} THEN 'a' ELSE 'b' END AS sub
       |  FROM da d JOIN sb b ON d.cid = b.cid)
       |SELECT CAST(cid AS VARCHAR) || sub AS cell_key, cid AS parent_cid,
       |       CAST(count(*) AS BIGINT) AS n_vecs,
       |       min(vec_id) AS min_vec, max(vec_id) AS max_vec,
       |       CAST(1 AS INT) AS was_split
       |FROM sp GROUP BY cid, sub
       |UNION ALL
       |SELECT CAST(cid AS VARCHAR) AS cell_key, cid AS parent_cid,
       |       CAST(count(*) AS BIGINT) AS n_vecs,
       |       min(vec_id) AS min_vec, max(vec_id) AS max_vec,
       |       CAST(0 AS INT) AS was_split
       |FROM a3x WHERE cid NOT IN (SELECT cid FROM hot)
       |GROUP BY cid
       |ORDER BY cell_key""".stripMargin
  }

  // ---- s23: radius (range) search with provably lossless cell pruning ------

  /** Tiny broadcast frame of a collected codebook: (cid, sv, n, svsv)
    * with svsv = |sv|² precomputed on the driver — ≤k rows, the
    * control-plane artifact [[radiusCellStats]] and [[radiusCellPick]]
    * share.
    */
  private[ops] def centFrame(s: SparkSession,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    import s.implicits._
    cents.toSeq
      .map { case (cid, sv, n) => (cid, sv, n, sv.map(x => x * x).sum) }
      .toDF("cid", "sv", "n", "svsv")
  }

  /** Per-cell pruning statistics for [[s23RadiusSearch]]: for each
    * populated cell, `r2max = max_x |n·x − sv|²` (member distance to
    * the centroid sv/n, scaled by n² so every term stays an exact
    * integer — members and sums are integer-valued doubles, all terms
    * < 2^45 here) and `m2min = min_x |x|²`. ONE tiny groupBy over the
    * assigned corpus (≤k output rows); at 100 TB these stats are
    * maintained WITH the stored index (s10's maintenance shape), not
    * recomputed per query — computing them here keeps the gate
    * self-contained, the s11 argument.
    */
  private[ops] def radiusCellStats(assigned: DataFrame, centDf: DataFrame): DataFrame =
    assigned
      .join(broadcast(centDf), "cid")
      .select(col("cid"), col("n"), col("svsv"),
        VectorFunctions.dot_product(col("q"), col("q")).as("xx"),
        VectorFunctions.dot_product(col("q"), col("sv")).as("xsv"))
      .groupBy(col("cid"))
      .agg(
        max(col("n") * col("n") * col("xx") - lit(2.0) * col("n") * col("xsv")
          + col("svsv")).as("r2max"),
        min(col("xx")).as("m2min"))

  /** Query→cell admission: keep (query, cell) pairs whose UPPER BOUND
    * on any member's cosine clears τ. Cauchy-Schwarz on x = c + (x−c):
    * `q·x ≤ q·sv/n + |q|·√r2max/n`, and `|x| ≥ √m2min` for every
    * member, so for positive numerators
    * `cos(q,x) ≤ (q·sv/n + |q|·√r2max/n) / (|q|·√m2min)`; a negative
    * numerator means every member cosine is negative, which τ > 0
    * prunes correctly through the same (then-negative) expression.
    * The +1e-6 slack absorbs the ≤ ulp-scale rounding of the
    * sqrt/division chain, so the IEEE-evaluated bound remains a true
    * upper bound and the pruning is LOSSLESS — which is exactly what
    * the oracle checks: it brute-forces the radius search, so any
    * wrongly pruned vector is a hash mismatch.
    * `greatest(m2min, 1)` only guards the division: a hypothetical
    * all-zero member has undefined cosine and cannot match, and every
    * nonzero quantized member has |x|² ≥ 1, so the substitution never
    * shrinks the bound below a real member's value.
    * Both inputs are control-plane (queries × k rows).
    */
  private[ops] def radiusCellPick(queriesDf: DataFrame, stats: DataFrame,
      centDf: DataFrame, tau: Double): DataFrame =
    queriesDf
      .crossJoin(broadcast(stats.join(centDf, "cid")))
      .withColumn("qq", VectorFunctions.dot_product(col("qv"), col("qv")))
      .withColumn("qsv", VectorFunctions.dot_product(col("qv"), col("sv")))
      .withColumn("bound",
        (col("qsv") / col("n") + sqrt(col("qq")) * sqrt(col("r2max")) / col("n"))
          / (sqrt(col("qq")) * sqrt(greatest(col("m2min"), lit(1.0)))) + lit(1e-6))
      .filter(col("bound") >= tau)
      .select(col("qid"), col("qv"), col("cid"))

  /** s23: RADIUS search — every corpus vector with cosine ≥ τ of each
    * query, the range twin of s11's top-k (recall-critical dedup and
    * contamination sweeps want "everything this similar", not "the 10
    * most similar"). Same IVF read path: per query only the cells
    * whose [[radiusCellPick]] bound clears τ are scanned, and the
    * bound is PROVABLY lossless, so the oracle can be the brute-force
    * scan — oracle equality IS the losslessness proof on real data.
    *
    * Scale shape: cell stats ride the stored index (≤k rows), probe
    * admission is queries × k on broadcast frames, and the corpus side
    * is one scan projection + broadcast join + row-local cosine — the
    * corpus never shuffles (s11's plan contract). Pruning power grows
    * with k: cells shrink, r2max falls, bounds tighten — the same
    * k ∝ corpus knob as d11/s19.
    */
  private def s23RadiusSearch(s: SparkSession, d: String): DataFrame = {
    val tau = 0.3
    val base = quantized(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2))
    val centDf = centFrame(s, cents)
    val assigned = assignCellsFrom(base, cents).filter(col("vec_id") >= 5)
    val qdf = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val picks = radiusCellPick(qdf, radiusCellStats(assigned, centDf), centDf, tau)
    assigned
      .join(broadcast(picks), "cid")
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .filter(col("cos") >= lit(tau))
      .orderBy("qid", "vec_id")
  }

  /** Brute force on purpose — see [[s23RadiusSearch]]: the pruned plan
    * must reproduce the unpruned answer exactly.
    */
  private val s23Oracle: String =
    """WITH base AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS qid, b.vec_id,
      |         list_cosine_similarity(b.q::DOUBLE[], a.q::DOUBLE[]) AS cos
      |  FROM base a, base b WHERE a.vec_id < 5 AND b.vec_id >= 5)
      |SELECT qid, vec_id, cos FROM pairs
      |WHERE cos >= CAST(0.3 AS DOUBLE) ORDER BY qid, vec_id""".stripMargin

  // ---- s25: IVF → PQ-ADC → exact re-rank, the production funnel ------------

  /** ADC candidates kept per query for the exact re-rank leg. */
  private val FunnelCand = 64

  /** The complete production ANN read path as ONE composed plan — the
    * FAISS `IndexIVFPQ + refine` funnel: (1) the query probes its
    * top-2 IVF cells (s11's coarse quantizer), (2) within probed
    * cells candidates are scored by PQ ADC against the 8-byte codes
    * ONLY (s9's scan — the 64-dim vectors never move), (3) the top
    * [[FunnelCand]] candidates per query — and only those — rejoin
    * the full-precision vectors for an exact-cosine re-rank of the
    * final top-10. s11 re-ranks whole cells exactly and s9 scans the
    * whole corpus approximately; the funnel is what deployments
    * actually run, because each leg shrinks the next leg's input:
    * corpus → nprobe/k of the corpus (codes only) → [[FunnelCand]]
    * rows → 10 rows. `adc_rank` rides the output so the gate shows the
    * re-rank genuinely reorders the ADC candidates.
    *
    * Scale shape: both codebooks are control-plane (≤ k rows
    * collected once); the probe list and per-query LUTs broadcast;
    * the stored index (cell id + codes, pinned once — at billions of
    * vectors this is s17's standing table) is scanned with a
    * broadcast join and its only exchange is the qid window over the
    * probed-cell candidates; the exact leg broadcasts ≤ 5·[[FunnelCand]]
    * rows back onto the vector scan. The corpus never shuffles — the s9
    * and s11 contracts composed.
    */
  private def s25IvfPqFunnel(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2))
    val subs = pqSubs(s, d)
    val cb = pqTrain(subs)
    // the stored index: IVF cell + PQ codes per vector, pinned once
    val index = pqCodeCols(pqSubCols(assignCellsFrom(base, cents)), cb)
      .select(col("vec_id") +: col("cid") +: (0 until pqM).map(m => col(s"c$m")): _*)
      .localCheckpoint(true)
    // query side: probe list × ADC lookup tables — ≤ 5·nprobe rows
    val qside = ivfProbes(base, cents, nprobe = 2).join(pqLuts(subs, cb), Seq("qid"))
    val wCand = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
    val cand = index.filter(col("vec_id") >= 5)
      .join(broadcast(qside), col("cid") === col("pcid"))
      .withColumn("adc", pqAdcScore(cb))
      .withColumn("adc_rank", row_number().over(wCand))
      .filter(col("adc_rank") <= FunnelCand)
      .select(col("qid"), col("vec_id"), col("cid").as("cell"),
        col("adc_rank"), col("qv"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    base.join(broadcast(cand), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("cell"), col("adc_rank"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .orderBy("qid", "rnk")
  }

  private val s25Oracle: String = {
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |cand0 AS (
       |  SELECT p.qid, a.vec_id, a.cid
       |  FROM a3 a JOIN probes p ON a.cid = p.cid WHERE a.vec_id >= 5),
       |terms AS (
       |  SELECT cd.qid, cd.vec_id, cd.cid, x.m,
       |         CAST(${pqDot8("q.sub", "c.sv")} AS DOUBLE) / c.n AS t
       |  FROM cand0 cd
       |  JOIN codes x ON x.vec_id = cd.vec_id
       |  JOIN pc1 c ON c.m = x.m AND c.cid = x.cid
       |  JOIN subs q ON q.m = x.m AND q.vec_id = cd.qid),
       |piv AS (
       |  SELECT qid, vec_id, cid,
       |         $pivots
       |  FROM terms GROUP BY qid, vec_id, cid),
       |cand AS (
       |  SELECT qid, vec_id, cid, adc_rank FROM (
       |    SELECT qid, vec_id, cid,
       |           CAST(row_number() OVER (PARTITION BY qid
       |                  ORDER BY ($total) DESC, vec_id) AS INT) AS adc_rank
       |    FROM piv) WHERE adc_rank <= $FunnelCand),
       |ex AS (
       |  SELECT cand.qid, cand.vec_id, cand.cid AS cell, cand.adc_rank,
       |         list_cosine_similarity(b.q::DOUBLE[], qb.q::DOUBLE[]) AS cos
       |  FROM cand JOIN base b ON b.vec_id = cand.vec_id
       |  JOIN base qb ON qb.vec_id = cand.qid)
       |SELECT qid, vec_id, cell, adc_rank, cos, rnk FROM (
       |  SELECT qid, vec_id, cell, adc_rank, cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM ex) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  // ---- s26: triplet mining (hardest positive / hardest negative) -----------

  /** Hard-example mining for contrastive training — the pass that
    * turns an embedding table into triplet batches: for each anchor,
    * the hardest POSITIVE (most-similar same-label vector — the one
    * the loss must keep close), the hardest NEGATIVE (most-similar
    * other-label vector — the imposter), the count of SEMI-HARD
    * negatives (closer than the hardest positive — each one a
    * violated margin), and whether the anchor's margin is violated
    * outright. FaceNet-style mining expressed declaratively: one
    * scored scan, one window, no pair materialization beyond the
    * anchor fan-out.
    *
    * Scale shape: the anchor table broadcasts under the corpus scan
    * (the corpus never shuffles to be scored — s1's discipline); the
    * hardest-example election is one window keyed (qid, is_pos); the
    * semi-hard count re-joins the ≤|anchors|-row positive table back
    * as a broadcast. Exchanges carry qid integers only.
    */
  private def s26TripletMining(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val anchors = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val scored = all
      .filter(col("vec_id") >= 8)
      .join(broadcast(anchors))
      .select(col("qid"), col("qlabel"), col("vec_id"),
        (col("label") === col("qlabel")).cast("int").as("is_pos"),
        VectorFunctions.cosine_similarity(col("qv"), col("v")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("is_pos"))
      .orderBy(col("cos").desc, col("vec_id"))
    val best = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val hp = best.filter(col("is_pos") === 1)
      .select(col("qid"), col("qlabel"), col("vec_id").as("hp_id"), col("cos").as("hp_cos"))
    val hn = best.filter(col("is_pos") === 0)
      .select(col("qid"), col("vec_id").as("hn_id"), col("cos").as("hn_cos"))
    val semi = scored.filter(col("is_pos") === 0)
      .join(broadcast(hp.select(col("qid"), col("hp_cos"))), Seq("qid"))
      .filter(col("cos") > col("hp_cos"))
      .groupBy("qid").agg(count(lit(1)).as("n_semihard"))
    hp.join(hn, Seq("qid"))
      .join(semi, Seq("qid"), "left")
      .select(col("qid"), col("qlabel"),
        col("hp_id"), col("hp_cos"), col("hn_id"), col("hn_cos"),
        coalesce(col("n_semihard"), lit(0L)).as("n_semihard"),
        (col("hn_cos") > col("hp_cos")).cast("int").as("margin_violated"))
      .orderBy("qid")
  }

  private val s26Oracle: String =
    """WITH a AS (SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |      FROM embeddings WHERE vec_id >= 8),
      |scored AS (
      |  SELECT a.qid, a.qlabel, c.vec_id,
      |         CAST(c.label = a.qlabel AS INT) AS is_pos,
      |         list_cosine_similarity(a.qv, c.v) AS cos
      |  FROM a, c),
      |best AS (
      |  SELECT * FROM (
      |    SELECT qid, qlabel, vec_id, is_pos, cos,
      |           row_number() OVER (PARTITION BY qid, is_pos
      |             ORDER BY cos DESC, vec_id) AS rn
      |    FROM scored) WHERE rn = 1),
      |hp AS (SELECT qid, qlabel, vec_id AS hp_id, cos AS hp_cos FROM best WHERE is_pos = 1),
      |hn AS (SELECT qid, vec_id AS hn_id, cos AS hn_cos FROM best WHERE is_pos = 0),
      |sh AS (
      |  SELECT s.qid, CAST(count(*) AS BIGINT) AS n_semihard
      |  FROM scored s JOIN hp ON s.qid = hp.qid
      |  WHERE s.is_pos = 0 AND s.cos > hp.hp_cos
      |  GROUP BY s.qid)
      |SELECT hp.qid, hp.qlabel, hp.hp_id, hp.hp_cos, hn.hn_id, hn.hn_cos,
      |       COALESCE(sh.n_semihard, 0) AS n_semihard,
      |       CAST(hn.hn_cos > hp.hp_cos AS INT) AS margin_violated
      |FROM hp JOIN hn USING (qid) LEFT JOIN sh USING (qid)
      |ORDER BY hp.qid""".stripMargin

  // ---- s27: matryoshka truncation evaluation --------------------------------

  /** Matryoshka (MRL) truncation evaluation — the dimension-budget
    * curve an embedding deployment reads before shipping truncated
    * vectors (half the dims = half the index bytes and twice the ANN
    * throughput, IF recall holds): for each prefix width d ∈ {8, 16,
    * 32, 64}, the top-10 by truncated cosine per query versus the
    * full-width ground truth, reported per (dim, qid) as hits-in-10.
    * The dim=64 row is the built-in sanity anchor (it IS the truth, so
    * n_hit = 10 by construction — the spec pins it).
    *
    * Scale shape: the corpus is scanned ONCE under the broadcast
    * query sample (s1's discipline — the corpus never shuffles to be
    * scored); the 4 widths fan out row-locally from the same scored
    * pair via a dims-array explode, so adding a width costs zero
    * extra scans; the rank windows and the hit rollup key on
    * (dim, qid) — bounded integers, never vectors.
    */
  private def s27MrlEval(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val qs = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = all.filter(col("vec_id") >= 8)
      .join(broadcast(qs))
      .select(col("qid"), col("vec_id"),
        explode(array(lit(8), lit(16), lit(32), lit(64))).as("dim"),
        col("qv"), col("v"))
      .select(col("qid"), col("vec_id"), col("dim"),
        VectorFunctions.cosine_similarity(
          expr("slice(qv, 1, dim)"), expr("slice(v, 1, dim)")).as("cos"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dim"), col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = scored
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 10)
      .select("dim", "qid", "vec_id")
    val truth = top.filter(col("dim") === 64)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    // left join, not semi: a width whose top-10 misses the truth
    // ENTIRELY must still report its zero — every (dim, qid) cell has
    // exactly 10 left rows, so the grid is complete by construction
    top.join(truth, Seq("qid", "vec_id"), "left")
      .groupBy("dim", "qid").agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("dim"), col("qid"), col("n_hit"),
        expr("(n_hit * 100) DIV 10").as("recall_pct"))
      .orderBy("dim", "qid")
  }

  private val s27Oracle: String =
    """WITH a AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |      FROM embeddings WHERE vec_id >= 8),
      |scored AS (
      |  SELECT a.qid, c.vec_id, dim,
      |         list_cosine_similarity(a.qv[1:dim], c.v[1:dim]) AS cos
      |  FROM a, c, (SELECT unnest([8, 16, 32, 64]) AS dim)),
      |top AS (
      |  SELECT dim, qid, vec_id FROM (
      |    SELECT dim, qid, vec_id,
      |           row_number() OVER (PARTITION BY dim, qid
      |             ORDER BY cos DESC, vec_id) AS rnk
      |    FROM scored) WHERE rnk <= 10),
      |truth AS (SELECT qid, vec_id, CAST(1 AS BIGINT) AS hit FROM top WHERE dim = 64)
      |SELECT CAST(t.dim AS INTEGER) AS dim, t.qid,
      |       CAST(sum(COALESCE(tr.hit, 0)) AS BIGINT) AS n_hit,
      |       (CAST(sum(COALESCE(tr.hit, 0)) AS BIGINT) * 100) // 10 AS recall_pct
      |FROM top t LEFT JOIN truth tr ON t.qid = tr.qid AND t.vec_id = tr.vec_id
      |GROUP BY t.dim, t.qid
      |ORDER BY t.dim, t.qid""".stripMargin

  // ---- s28: graph-ANN search (beam walk over the s19 kNN graph) ------------

  /** Frontier width per hop — candidates carried forward per query.
    * ≥ [[GraphK]] (HNSW's ef ≥ k rule: a frontier narrower than the
    * result starves it).
    */
  private[ops] val GraphBeam = 16

  /** Bounded hop count — each hop is one broadcast join against the
    * edge table, so the whole search is [[GraphHops]] + 1 joins deep.
    */
  private[ops] val GraphHops = 4

  /** Out-degree of the SEARCH graph — wider than s19's 3 (HNSW
    * layer-0 runs 2·M ≈ 16-32; a sparse graph strands the walk, the
    * measured reason the first cut's recall sat at 0.30). Degree is
    * the graph index's memory/recall knob: index bytes scale linearly
    * with it, per-hop work is beam × degree.
    */
  private[ops] val GraphDegree = 8

  /** Result size per query. */
  private val GraphK = 10

  /** The READ half of the graph index family — s19 builds the kNN
    * graph, this searches it: a greedy/beam walk (the HNSW layer-0 /
    * DiskANN read model; Malkov & Yashunin 2016, best-first with a
    * bounded frontier) that every production vector store ships
    * alongside the IVF/PQ read paths (s11/s9/s25). Entry points come
    * from the coarse quantizer: each query's top-2 IVF cells
    * (s11's probe selection), each represented by its min-id member.
    * Each hop expands the per-query top-[[GraphBeam]] frontier
    * through the standing edge table, scores the neighbors exactly,
    * and folds them into the visited set; after [[GraphHops]] hops
    * the top-[[GraphK]] visited candidates are the answer. Unlike
    * bucket/cell/code pruning, the walk prunes by NEIGHBORHOOD — it
    * can leave the entry cell entirely, which is exactly what the
    * recall spec shows (hop candidates the probed cells don't
    * contain).
    *
    * Scale shape: the searchable corpus never shuffles and is never
    * even scanned per hop — the edge table carries each neighbor's
    * vector denormalized in ([[knnEdges]]), so a hop is ONE broadcast
    * join of the (queries × beam)-row frontier against the standing
    * edge table plus a broadcast join of the ≤5-row query vectors;
    * the only exchanges anywhere are qid-keyed windows/rollups over
    * frontier-bounded frames (s11's contract, kept per hop —
    * [[s28Hop]] is the audited unit). At billion-vector scale the
    * edge table is the STORED graph index (s19's output is the build;
    * building it here keeps the gate self-contained) and search cost
    * is hops × beam × degree edge lookups per query — independent of
    * corpus size, THE property that makes graph indexes the
    * low-latency serving choice.
    *
    * Determinism: s11's integer-exact basis — quantized vectors, one
    * IEEE division per centroid score, exact cosine with vec_id
    * tie-breaks on every window — so the oracle replays the walk
    * hop-for-hop (unrolled CTEs, the t40 recipe).
    */
  private[graft] def s28From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val corpus = base.filter(col("vec_id") >= 5)
    // the standing graph index: built once, pinned; hops only read it
    val edges = knnEdges(corpus, cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"))
      .localCheckpoint(true)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val cand = graphWalk(corpus, edges, qs, cents)(GraphHops)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= GraphK)
      .orderBy("qid", "rnk")
  }

  /** A walk's scoring: the score column it ranks and folds by, the
    * function computing it from two vector columns, and the vector
    * columns it reads on the corpus (entry scoring), query and edge
    * (neighbor) sides. Two instances serve every registered walk:
    * exact cosine on the build basis ([[CosineWalk]]) and s5's int8
    * codes ([[Int8Walk]]).
    */
  private[ops] final case class WalkScore(name: String, corpusVec: String,
      qVec: String, nbrVec: String, fn: (String, String) => Column) {
    def entry: Column = fn(corpusVec, qVec).as(name)
    def nbr: Column = fn(nbrVec, qVec).as(name)
  }

  private[ops] val CosineWalk = WalkScore("cos", "q", "qv", "nbr_q",
    (a, b) => VectorFunctions.cosine_similarity(col(a), col(b)))

  /** Integer dot products of int8 codes — exact in BIGINT (≤ 64·127²
    * per term) in both engines.
    */
  private[ops] val Int8Walk = WalkScore("dot8", "q8", "qq8", "nbr_q8",
    (a, b) => expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))

  /** Each cell's entry point: its min-id member. */
  private[ops] def cellMinEntries(corpus: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame =
    assignCellsFrom(corpus, cents)
      .groupBy("cid").agg(min(col("vec_id")).as("vec_id"))

  /** Walk entry points (qid, vec_id): each query's top-`nprobe` cells
    * (s11's probe selection) joined to a (cid, vec_id) cell-entry
    * table. A cid may map to several entries — s35's rebalance gives
    * every subcell of a split cell its own — so the probe join fans
    * out and the DISTINCT folds.
    */
  private[ops] def probeEntries(qs: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], cellEntry: DataFrame,
      nprobe: Int = 2): DataFrame =
    ivfProbesOf(qs, cents, nprobe)
      .join(broadcast(cellEntry), col("pcid") === col("cid"))
      .select(col("qid"), col("vec_id")).distinct()

  /** The beam walk every graph-family member runs: walk the standing
    * pinned edge table for a query frame (qid, qv, plus the scoring's
    * query vector) and return the visited set (qid, vec_id, score)
    * after each hop count in `hops`, walking once to the deepest. The
    * walk is a pure fold, so its state after h hops IS the h-hop
    * walk's result — one walk serves a whole hops axis. The edge
    * frame is passed in (not rebuilt) so an insert can keep the
    * cos-bearing adjacency it repairs against pinned once and hand
    * the walk a projection of the same checkpoint.
    *
    * Entries default to each query's top-2 trained cells, each
    * represented by its min-id member (control-plane: ≤ queries ×
    * nprobe rows); a caller may pass its own (qid, vec_id) entry frame
    * (s35's per-subcell entries, s36's matching-member entries, the
    * sweeps' nprobe axis). `score` and the neighbor-visibility
    * predicate `nbrPred` keep every registered walk — cosine (s28),
    * label-strict (s36), int8 (s37) — on this ONE audited hop
    * implementation ([[s28Hop]]).
    */
  private[graft] def graphWalk(corpus: DataFrame, edges: DataFrame,
      qs0: DataFrame, cents: Array[(Long, Seq[Double], Long)],
      hops: Seq[Int] = Seq(GraphHops),
      entries: Option[DataFrame] = None,
      score: WalkScore = CosineWalk,
      nbrPred: Option[Column] = None,
      beam: Int = GraphBeam): Map[Int, DataFrame] = {
    val qs = qs0.localCheckpoint(true) // query-batch-sized, read once per hop
    val cand0 = corpus
      .join(broadcast(entries.getOrElse(
        probeEntries(qs, cents, cellMinEntries(corpus, cents)))), Seq("vec_id"))
      .join(broadcast(qs), Seq("qid"))
      .select(col("qid"), col("vec_id"), score.entry)
    // LAZY pins (the q54 trick): hop k plans against a materialized
    // recent hop instead of the doubled lineage (cand feeds both the
    // frontier and the union), and the cut rides the next hop's job.
    // Pinning every SECOND hop (and every returned one) halves the pin
    // count — one unpinned level doubles the plan once (bounded), while
    // each pin is a separate AQE job whose ~40-60 ms driver latency the
    // sequential gates pay per hop.
    var cand = cand0.localCheckpoint(false)
    (1 to hops.max).flatMap { h =>
      cand = s28Hop(edges, qs, cand, score, nbrPred, beam)
      if (h % 2 == 0 || hops.contains(h)) cand = cand.localCheckpoint(false)
      if (hops.contains(h)) Some(h -> cand) else None
    }.toMap
  }

  /** One beam hop, exposed pre-checkpoint for the plan audit: take
    * the per-query top-[[GraphBeam]] frontier, expand it through the
    * edge table (edge side streams, frontier broadcasts), score the
    * neighbors against the broadcast query vectors, fold into the
    * visited set keyed on (qid, vec_id). The max() is over identical
    * recomputed values — the score is deterministic — it is the
    * dedup, not an aggregation. `nbrPred` drops neighbors before they
    * enter the visited set (s36's strict visibility — a broadcast-
    * side predicate, never a new exchange); `score` swaps the hop
    * arithmetic (s37 scores int8 codes).
    */
  private[ops] def s28Hop(edges: DataFrame, qs: DataFrame,
      cand: DataFrame, score: WalkScore = CosineWalk,
      nbrPred: Option[Column] = None, beam: Int = GraphBeam): DataFrame = {
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col(score.name).desc, col("vec_id"))
    val frontier = cand
      .withColumn("br", row_number().over(wBeam)).filter(col("br") <= beam)
      .select(col("qid"), col("vec_id").as("src"))
    val expanded = edges
      .join(broadcast(frontier), Seq("src"))
      .join(broadcast(qs), Seq("qid"))
    val nbrs = nbrPred.fold(expanded)(p => expanded.filter(p))
      .select(col("qid"), col("nbr_id").as("vec_id"), score.nbr)
    // ONE qid-keyed exchange per hop instead of two: the explicit
    // repartition on qid satisfies BOTH the visited-set fold's
    // clustering (hash(qid) ⊆ (qid, vec_id) — subset rule) and the
    // next hop's frontier window (partitionBy qid), so the fold runs
    // exchange-free on top of it and the window needs only a local
    // sort. The frame is query-batch-bounded (≤ queries × beam ×
    // degree — the walk's standing contract), so the keyed exchange
    // is control-plane sized at any corpus scale, and leaving the
    // partition count to the conf/AQE keeps it scale-adaptive.
    cand.unionByName(nbrs)
      .repartition(col("qid"))
      .groupBy("qid", "vec_id").agg(max(col(score.name)).as(score.name))
  }

  private def s28GraphSearch(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s28From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  /** The unrolled beam-walk hop CTEs (t40's recipe) — the ONE oracle
    * twin of [[s28Hop]], shared by the s28/s29/s32/s35/s36/s37
    * oracles; needs `w0$sfx`, `$gedge(src, nbr, $nbrVec, ...)` and
    * `$qv(qid, ...)` in scope, ends in `w[[GraphHops]]$sfx`. The
    * suffix keeps independent walks addressable inside one WITH
    * chain. The seams mirror the Spark hop's: `scoreCol`/`scoreSel`
    * swap the hop arithmetic (s37's int8 dot), `extraJoin` +
    * `gedgePred` add the visibility predicate (s36's strict policy).
    * `scoreSel` receives the qualified neighbor-vector reference and
    * the `qv` alias.
    */
  private def graphHopOracleCtes(sfx: String = "", gedge: String = "gedge",
      qv: String = "qv", hops: Int = GraphHops,
      scoreCol: String = "cos",
      scoreSel: (String, String) => String = (n, q) =>
        s"list_cosine_similarity($n::DOUBLE[], $q.q::DOUBLE[])",
      nbrVec: String = "nbr_q",
      extraJoin: String = "", gedgePred: String = "",
      beam: Int = GraphBeam): String =
    (1 to hops).map { k =>
      s"""f$k$sfx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY $scoreCol DESC, vec_id) AS br
         |    FROM w${k - 1}$sfx) WHERE br <= $beam),
         |w$k$sfx AS MATERIALIZED (
         |  SELECT qid, vec_id, max($scoreCol) AS $scoreCol FROM (
         |    SELECT qid, vec_id, $scoreCol FROM w${k - 1}$sfx
         |    UNION ALL
         |    SELECT f.qid, e.nbr,
         |           ${scoreSel(s"e.$nbrVec", "qv")}
         |    FROM f$k$sfx f$extraJoin
         |    JOIN $gedge e ON e.src = f.vec_id$gedgePred
         |    JOIN $qv qv ON qv.qid = f.qid)
         |  GROUP BY qid, vec_id)""".stripMargin
    }.mkString(",\n")

  private val s28Oracle: String = {
    val hops = graphHopOracleCtes()
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |corp AS (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |gsc AS (
       |  SELECT g.vec_id AS gid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> g.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base g, c2 c WHERE g.vec_id >= 5),
       |gpr AS (
       |  SELECT gid, cid FROM (
       |    SELECT gid, cid,
       |           row_number() OVER (PARTITION BY gid ORDER BY score DESC, cid) AS pr
       |    FROM gsc) WHERE pr <= 2),
       |gedge AS (
       |  SELECT src, nbr, nbr_q FROM (
       |    SELECT p.gid AS src, a.vec_id AS nbr, a.q AS nbr_q,
       |           row_number() OVER (PARTITION BY p.gid
       |             ORDER BY list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]) DESC,
       |                      a.vec_id) AS rnk
       |    FROM gpr p
       |    JOIN corp a ON a.cid = p.cid AND a.vec_id <> p.gid
       |    JOIN base b ON b.vec_id = p.gid) WHERE rnk <= $GraphDegree),
       |qv AS (SELECT vec_id AS qid, q FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |w0 AS (
       |  SELECT e.qid, e.vec_id,
       |         list_cosine_similarity(cb.q::DOUBLE[], qv.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cmin m ON m.cid = p.cid) e
       |  JOIN base cb ON cb.vec_id = e.vec_id
       |  JOIN qv ON qv.qid = e.qid),
       |$hops
       |SELECT qid, vec_id, cos, rnk FROM (
       |  SELECT qid, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM w$GraphHops)
       |WHERE rnk <= $GraphK ORDER BY qid, rnk""".stripMargin
  }

  // ---- s29: online insert into the graph index (walk-link + repair) -------

  /** The insert batch: corpus vectors carved out by this modulus so
    * the oracle sees the same deterministic split (≈6% of the table
    * arrives as "new" vectors against the standing graph of the
    * rest).
    */
  private[ops] val GraphInsertMod = 17L
  private[ops] val GraphInsertRem = 9L

  /** The WRITE half of the graph index the s28 read model needs — the
    * HNSW/DiskANN insert: a new vector finds its approximate
    * neighborhood BY THE WALK ITSELF (the same beam walk s28 serves
    * reads with, [[graphWalk]]), links to its top-[[GraphDegree]]
    * results, and each linked neighbor takes the reciprocal edge and
    * re-prunes its adjacency back to [[GraphDegree]] by exact cosine
    * (HNSW's shrink step — Malkov & Yashunin 2016 Alg. 1; reference
    * vector stores run exactly this loop per insert). Batch
    * semantics, the distributed choice: every insert in the
    * micro-batch walks the PRE-BATCH graph and all repairs apply at
    * once — order-free and deterministic, where sequential inserts
    * would make the result depend on arrival order inside the batch
    * (intra-batch edges then appear at the next rebuild/compaction,
    * s23's story). Output: the post-insert adjacency — each new
    * node's out-edges (`side = 'new'`) and every touched neighbor's
    * re-pruned adjacency (`side = 'repair'`, which may equal its old
    * one when no insert makes the cut: shrink keeps the best).
    *
    * Scale shape: per-insert cost is the s28 walk — hops × beam ×
    * degree edge lookups, INDEPENDENT of corpus size — plus a repair
    * bounded by batch × degree touched nodes, each re-ranking ≤
    * degree + batch candidates. The standing corpus never shuffles:
    * the walk inherits s28's broadcast-only hop contract, the repair
    * joins the insert-batch-sized frames INTO the pinned edge table
    * (affected set broadcasts), and the only exchanges are
    * src/qid-keyed windows over batch-bounded frames. At 100 TB the
    * edge table is the stored index and an insert micro-batch is
    * delta-sized — nothing here grows with the corpus.
    */
  /** The batch-insert core shared by s29 and the s32 composition:
    * walk each batch vector over the standing graph, take its
    * top-[[GraphDegree]] links, and re-prune every touched neighbor's
    * adjacency with the reciprocal edges folded in. Returns
    * (newEdges(src, nbr_id, cos, rnk) — pinned,
    *  repaired(src, nbr_id, nbr_q, cos, rnk),
    *  affected(src)).
    * Repaired rows keep the neighbor vector (needed when the caller
    * composes the post-insert graph, as s32 does); the reciprocal
    * legs fetch it from the batch-sized `qs` by broadcast, and a
    * caller that drops it (s29's gate output) gets it column-pruned
    * out of the union for free.
    */
  private[graft] def graphInsertCore(nodes: DataFrame, edges: DataFrame,
      batch: DataFrame, cents: Array[(Long, Seq[Double], Long)],
      hops: Int = GraphHops): (DataFrame, DataFrame, DataFrame) = {
    val qs = batch.select(col("vec_id").as("qid"), col("q").as("qv"))
    val visited = graphWalk(nodes,
      edges.select(col("src"), col("nbr_id"), col("nbr_q")), qs, cents, Seq(hops))(hops)
    graphInsertTail(visited, edges, qs)
  }

  /** The insert tail past a finished walk — split out so a caller
    * holding an equivalent visited set already (s32: the previous
    * search's walk, relabeled) skips the walk entirely.
    */
  private[graft] def graphInsertTail(visited: DataFrame, edges: DataFrame,
      qs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    // the new node's out-edges: its top-degree walk results (pinned —
    // feeds the output, the reciprocal candidates, and the repair)
    val newEdges = visited
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= GraphDegree)
      .select(col("qid").as("src"), col("vec_id").as("nbr_id"),
        col("cos"), col("rnk"))
      .localCheckpoint(true)
    // reciprocal candidates: cosine is bitwise symmetric (per-term
    // products commute under the same summation order), so the back
    // edge reuses the walk's score — no recompute
    val backCand = newEdges
      .select(col("nbr_id").as("src"), col("src").as("nbr_id"), col("cos"))
      .join(broadcast(qs.select(col("qid").as("nbr_id"), col("qv").as("nbr_q"))),
        Seq("nbr_id"))
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
    val affected = backCand.select(col("src")).distinct()
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("nbr_id"))
    val repaired = edges
      .join(broadcast(affected), Seq("src")) // only touched nodes re-rank
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .unionByName(backCand)
      .withColumn("rnk", row_number().over(wAdj))
      .filter(col("rnk") <= GraphDegree)
    (newEdges, repaired, affected)
  }

  private[graft] def s29From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val member = col("vec_id") >= 5
    val standing = base.filter(member &&
      col("vec_id") % GraphInsertMod =!= GraphInsertRem)
    val batch = base.filter(member &&
      col("vec_id") % GraphInsertMod === GraphInsertRem)
    // the standing adjacency, cos kept: the walk reads a projection
    // of this one pinned frame, the repair re-ranks against it
    val edges = knnEdges(standing, cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .localCheckpoint(true)
    val (newEdges, repaired, _) = graphInsertCore(standing, edges, batch, cents)
    newEdges.withColumn("side", lit("new"))
      .unionByName(repaired.drop("nbr_q").withColumn("side", lit("repair")))
      .orderBy("side", "src", "rnk")
  }

  private def s29GraphInsert(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s29From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  /** The cos-bearing standing-graph oracle fragment shared by s29/s30:
    * multi-probe kNN edges over `corp`, ending in
    * `gedge(src, nbr, nbr_q, cos)`; needs `base`, `corp(vec_id, q,
    * cid)` and the [[ivfOracleChain]] CTEs in scope.
    */
  private def gedgeOracleCtes: String =
    s"""gsc AS (
       |  SELECT g.vec_id AS gid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> g.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM corp g, c2 c),
       |gpr AS (
       |  SELECT gid, cid FROM (
       |    SELECT gid, cid,
       |           row_number() OVER (PARTITION BY gid ORDER BY score DESC, cid) AS pr
       |    FROM gsc) WHERE pr <= 2),
       |gedge AS MATERIALIZED (
       |  SELECT src, nbr, nbr_q, cos FROM (
       |    SELECT p.gid AS src, a.vec_id AS nbr, a.q AS nbr_q,
       |           list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]) AS cos,
       |           row_number() OVER (PARTITION BY p.gid
       |             ORDER BY list_cosine_similarity(a.q::DOUBLE[], b.q::DOUBLE[]) DESC,
       |                      a.vec_id) AS rnk
       |    FROM gpr p
       |    JOIN corp a ON a.cid = p.cid AND a.vec_id <> p.gid
       |    JOIN base b ON b.vec_id = p.gid) WHERE rnk <= $GraphDegree)""".stripMargin

  private val s29Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS (SELECT vec_id, q, cid FROM a3
       |         WHERE vec_id >= 5 AND vec_id % $GraphInsertMod <> $GraphInsertRem),
       |$gedgeOracleCtes,
       |qv AS (SELECT vec_id AS qid, q FROM base
       |       WHERE vec_id >= 5 AND vec_id % $GraphInsertMod = $GraphInsertRem),
       |qsc AS (
       |  SELECT q.qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM qv q, c2 c),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qsc) WHERE pr <= 2),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |w0 AS (
       |  SELECT e.qid, e.vec_id,
       |         list_cosine_similarity(cb.q::DOUBLE[], qv.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cmin m ON m.cid = p.cid) e
       |  JOIN base cb ON cb.vec_id = e.vec_id
       |  JOIN qv ON qv.qid = e.qid),
       |${graphHopOracleCtes()},
       |newe AS (
       |  SELECT qid AS src, vec_id AS nbr_id, cos, rnk FROM (
       |    SELECT qid, vec_id, cos,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, vec_id) AS rnk
       |    FROM w$GraphHops) WHERE rnk <= $GraphDegree),
       |backc AS (SELECT nbr_id AS src, src AS nbr_id, cos FROM newe),
       |aff AS (SELECT DISTINCT src FROM backc),
       |rep AS (
       |  SELECT src, nbr_id, cos, rnk FROM (
       |    SELECT src, nbr_id, cos,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |      SELECT e.src, e.nbr AS nbr_id, e.cos
       |      FROM gedge e JOIN aff a ON a.src = e.src
       |      UNION ALL
       |      SELECT src, nbr_id, cos FROM backc))
       |  WHERE rnk <= $GraphDegree)
       |SELECT src, nbr_id, cos, CAST(rnk AS INT) AS rnk, 'new' AS side FROM newe
       |UNION ALL
       |SELECT src, nbr_id, cos, CAST(rnk AS INT) AS rnk, 'repair' AS side FROM rep
       |ORDER BY side, src, rnk""".stripMargin

  // ---- s30: delete from the graph index (tombstone + edge repair) ---------

  /** The tombstone set: ≈2% of the corpus by this modulus — a
    * delete micro-batch against the standing graph.
    */
  private[ops] val GraphDeleteMod = 53L
  private[ops] val GraphDeleteRem = 6L

  /** The DELETE half of the graph index lifecycle — DiskANN's
    * consolidation (Jayaram Subramanya et al. 2019, FreshDiskANN's
    * delete rule): tombstoned nodes drop out of the adjacency, and
    * every surviving node that pointed AT a deleted node repairs by
    * adopting the deleted node's own out-neighbors as candidates
    * (the walk stays connected through the hole: u → d → w becomes
    * u → w), then re-prunes to its best [[GraphDegree]] by exact
    * cosine. A candidate may duplicate a surviving edge or arrive
    * through two deleted hubs — the (src, nbr) dedup takes max(cos)
    * over bitwise-identical values (cosine is symmetric and both
    * engines reuse it). Output: the post-repair adjacency of every
    * affected node.
    *
    * Scale shape: the tombstone set is delta-sized and BROADCASTS —
    * dropping dead edges is a broadcast semi/anti filter over the
    * pinned edge table, never a corpus shuffle. Repair routes
    * through the deleted hub: edges INTO the dead set join edges OUT
    * of it keyed on the hub id (≤ in-degree × out-degree candidates
    * per deleted node, degree²-bounded), and the candidate frame —
    * delta-sized — broadcasts into the corpus scan that supplies the
    * repairing node's vector for fresh cosines. The only exchanges
    * are the src-keyed dedup/rank over the affected-bounded frame.
    * At 100 TB this is exactly the index-maintenance cost model a
    * production store budgets: proportional to the delete batch and
    * the graph degree, independent of the corpus.
    */
  private[graft] def s30From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val corpus = base.filter(col("vec_id") >= 5)
    val edges = knnEdges(corpus, cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .localCheckpoint(true)
    // the tombstone set as a FRAME (a real delete batch arrives as
    // ids, not a predicate) — delta-sized, broadcast everywhere
    val dead = corpus.filter(col("vec_id") % GraphDeleteMod === GraphDeleteRem)
      .select(col("vec_id").as("dead_id"))
    graphDeleteCore(corpus, edges, dead).orderBy("src", "rnk")
  }

  /** The delete-repair core shared by s30 and the stored lifecycle
    * (s34): given the standing nodes (`vec_id`, `q`), the cos-bearing
    * pinned adjacency (`src`, `nbr_id`, `nbr_q`, `cos`) and a
    * tombstone frame (`dead_id`), returns the post-delete re-pruned
    * adjacency of every affected node (`src`, `nbr_id`, `cos`,
    * `rnk`). All the scale commitments of the s30 doc hold here: the
    * dead set broadcasts, repair candidates route through the deleted
    * hub (degree²-bounded), the candidate frame broadcasts into the
    * node scan, and the only exchange is the src-keyed fold/rank over
    * the affected-bounded frame.
    */
  private[graft] def graphDeleteCore(corpus: DataFrame, edges: DataFrame,
      dead: DataFrame): DataFrame = {
    // edges u -> d into the dead set, from surviving u: the repair list
    val intoDead = edges
      .join(broadcast(dead), col("nbr_id") === col("dead_id"))
      .join(broadcast(dead.select(col("dead_id").as("src_dead"))),
        col("src") === col("src_dead"), "left_anti")
      .select(col("src"), col("nbr_id").as("hub"))
    // edges d -> w out of the dead set, to surviving w (vector rides)
    val outOfDead = edges
      .join(broadcast(dead), col("src") === col("dead_id"))
      .join(broadcast(dead.select(col("dead_id").as("nbr_dead"))),
        col("nbr_id") === col("nbr_dead"), "left_anti")
      .select(col("src").as("hub"), col("nbr_id").as("cand_id"),
        col("nbr_q").as("cand_q"))
    // candidates u -> w through the hub, scored fresh against u's
    // vector: the delta-sized candidate frame broadcasts into the
    // corpus scan — the corpus never shuffles. A (u, w) pair reached
    // through two deleted hubs duplicates here with an identical
    // cosine; the final (src, nbr_id) max-fold collapses it, so no
    // vector column ever keys an exchange for dedup.
    val cand = corpus
      .join(broadcast(intoDead.join(broadcast(outOfDead), Seq("hub"))
        .filter(col("cand_id") =!= col("src"))
        .select(col("src"), col("cand_id"), col("cand_q"))),
        col("vec_id") === col("src"))
      .select(col("src"), col("cand_id").as("nbr_id"),
        VectorFunctions.cosine_similarity(col("cand_q"), col("q")).as("cos"))
    val affected = intoDead.select(col("src")).distinct()
    // surviving adjacency of affected nodes: dead targets drop
    val survivors = edges
      .join(broadcast(affected), Seq("src"))
      .join(broadcast(dead), col("nbr_id") === col("dead_id"), "left_anti")
      .select(col("src"), col("nbr_id"), col("cos"))
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("nbr_id"))
    survivors.unionByName(cand)
      .groupBy(col("src"), col("nbr_id")).agg(max(col("cos")).as("cos"))
      .withColumn("rnk", row_number().over(wAdj))
      .filter(col("rnk") <= GraphDegree)
  }

  private def s30GraphDelete(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s30From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  // ---- s32: maintained-graph freshness (insert waves ∪ search) ------------

  /** Wave id shifts — far above any fixture vec_id, so inserted nodes
    * never collide and never change a cell's min-id entry member.
    */
  private[ops] val GraphWave1Shift = 8000000L
  private[ops] val GraphWave2Shift = 9000000L

  /** The graph-lifecycle capstone — FRESHNESS of the maintained
    * index: a baseline search over the standing graph, then two
    * insert micro-batches (s29's batch semantics) threaded through
    * it, with an s28 search after each wave — the second wave's
    * maintenance runs over the FIRST wave's output graph, so
    * maintenance provably composes, and the searches prove the read
    * path serves its own maintenance (what s17 proved for the IVF
    * index, now for the graph). The waves are exact re-embeddings of
    * the query vectors under shifted ids (s17's plant): each copy
    * scores cos 1.0 against its query, so wave 0 NOT surfacing any
    * shifted id while wave k surfaces exactly waves 1..k's copies is
    * unfakeable before/after evidence the graph GREW and the walk
    * reaches each new node through the reciprocal edges its insert
    * repaired in.
    *
    * Because every wave re-embeds the very vectors the searches
    * query, wave k's INSERT walk is wave k-1's SEARCH walk under a
    * qid relabel — identical vectors, identical entry sets (the
    * shifted ids never displace a cell's min-id member), identical
    * graph, and the walk is deterministic — so each wave reuses the
    * previous search's visited set ([[graphInsertTail]]) instead of
    * walking again: 3 walks serve 2 inserts + 3 searches. A general
    * batch (≠ the just-served queries) walks for itself; the reuse is
    * the plant's dividend, asserted exact by the oracle, which
    * replays the same relabel.
    *
    * Scale shape: one standing-graph build, then per wave the
    * batch-bounded insert tail plus one graph composition — the
    * unaffected adjacency passes through a broadcast anti-join,
    * repairs and new edges union in (all delta-sized), exactly how a
    * stored edge table takes a batch (s21's MOR append+compact is
    * the storage form; the composition here is its logical content).
    * Searches are s28's corpus-independent read: hops × beam ×
    * degree broadcast lookups.
    */
  private[graft] def s32From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val corpus = base.filter(col("vec_id") >= 5).select(col("vec_id"), col("q"))
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val gedge0 = knnEdges(corpus, cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .localCheckpoint(true)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def top5(wv: Int, cand: DataFrame): DataFrame =
      cand.withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .select(lit(wv).as("wave"), col("qid"), col("vec_id"),
          col("cos"), col("rnk"))
    // apply one insert wave — the walk is the previous search's
    // visited set relabeled to the wave's ids — and compose the
    // post-insert graph: unaffected adjacency passes through a
    // broadcast anti-join, repairs swap in, the new nodes' edges
    // append with neighbor vectors attached (batch-bounded frames
    // broadcast into the nodes scan)
    def applyWave(nodes: DataFrame, edges: DataFrame, searched: DataFrame,
        shift: Long): (DataFrame, DataFrame) = {
      val batchQs = qs.select((col("qid") + shift).as("qid"), col("qv"))
      val visited = searched
        .select((col("qid") + shift).as("qid"), col("vec_id"), col("cos"))
      val (newE, repaired, affected) = graphInsertTail(visited, edges, batchQs)
      val newEQ = nodes.select(col("vec_id").as("nbr_id"), col("q").as("nbr_q"))
        .join(broadcast(newE.drop("rnk")), Seq("nbr_id"))
        .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      val gedgeNext = edges
        .join(broadcast(affected), Seq("src"), "left_anti")
        .unionByName(repaired.drop("rnk"))
        .unionByName(newEQ)
        .localCheckpoint(true)
      (gedgeNext,
        nodes.unionByName(batchQs.select(col("qid").as("vec_id"), col("qv").as("q"))))
    }
    def search(nodes: DataFrame, edges: DataFrame): DataFrame =
      graphWalk(nodes,
        edges.select(col("src"), col("nbr_id"), col("nbr_q")), qs, cents)(GraphHops)
        .localCheckpoint(true) // reused: this wave's result + next wave's insert
    val c0 = search(corpus, gedge0)
    val (g1, n1) = applyWave(corpus, gedge0, c0, GraphWave1Shift)
    val c1 = search(n1, g1)
    val (g2, n2) = applyWave(n1, g1, c1, GraphWave2Shift)
    val c2 = search(n2, g2)
    top5(0, c0).unionByName(top5(1, c1)).unionByName(top5(2, c2))
      .orderBy("wave", "qid", "rnk")
  }

  private def s32GraphFreshness(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s32From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  /** Probe-selection CTEs over an arbitrary query rel (qid, q),
    * suffixed so the s32 composition can hold several.
    */
  private def probeOracleCtes(sfx: String, qv: String): String =
    s"""qsc$sfx AS (
       |  SELECT q.qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM $qv q, c2 c),
       |probes$sfx AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qsc$sfx) WHERE pr <= 2)""".stripMargin

  /** Min-id-per-cell entry table over an arbitrary node rel (vec_id,
    * q), assignment recomputed against the final codebook `c2` (the
    * same argmax [[assignCellsFrom]] evaluates).
    */
  private def cminOracleCte(name: String, nodes: String): String =
    s"""$name AS (
       |  SELECT cid, min(vec_id) AS vec_id FROM (
       |    SELECT vec_id, cid FROM (
       |      SELECT n.vec_id, c.cid,
       |             row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |               CAST(list_sum(list_transform(generate_series(1, 64),
       |                    i -> n.q[i] * c.sv[i])) AS DOUBLE) / c.n DESC, c.cid) AS rnk
       |      FROM $nodes n, c2 c) WHERE rnk = 1)
       |  GROUP BY cid)""".stripMargin

  /** Walk seed (w0$sfx): entry members per query with exact cosines;
    * entry vectors come from the CURRENT node rel (an entry may be an
    * inserted node in a later wave).
    */
  private def entryOracleCte(sfx: String, probes: String, cmin: String,
      nodes: String, qv: String): String =
    s"""w0$sfx AS (
       |  SELECT e.qid, e.vec_id,
       |         list_cosine_similarity(nb.q::DOUBLE[], qv.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM $probes p JOIN $cmin m ON m.cid = p.cid) e
       |  JOIN $nodes nb ON nb.vec_id = e.vec_id
       |  JOIN $qv qv ON qv.qid = e.qid)""".stripMargin

  /** Insert tail past a finished walk (w[[GraphHops]]$sfx): the new
    * nodes' top-degree links, reciprocal candidates (vector from the
    * batch rel), affected set, and the re-pruned repairs with vectors.
    */
  private def insertTailOracleCtes(sfx: String, gedge: String,
      batch: String, walk: String): String =
    s"""newe$sfx AS (
       |  SELECT qid AS src, vec_id AS nbr_id, cos FROM (
       |    SELECT qid, vec_id, cos,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, vec_id) AS rnk
       |    FROM $walk) WHERE rnk <= $GraphDegree),
       |backc$sfx AS (
       |  SELECT n.nbr_id AS src, n.src AS nbr_id, b.q AS nbr_q, n.cos
       |  FROM newe$sfx n JOIN $batch b ON b.vec_id = n.src),
       |aff$sfx AS (SELECT DISTINCT src FROM backc$sfx),
       |rep$sfx AS (
       |  SELECT src, nbr_id, nbr_q, cos FROM (
       |    SELECT src, nbr_id, nbr_q, cos,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |      SELECT e.src, e.nbr AS nbr_id, e.nbr_q, e.cos
       |      FROM $gedge e JOIN aff$sfx a ON a.src = e.src
       |      UNION ALL
       |      SELECT src, nbr_id, nbr_q, cos FROM backc$sfx))
       |  WHERE rnk <= $GraphDegree)""".stripMargin

  // ---- s33: streaming ingest into the STORED graph index ------------------

  /** s32's semantics through the storage layer — the graph analogue
    * of s17's streaming IVF ingestion: the standing graph bootstraps
    * into parquet (nodes + a versioned edge table), the same two
    * re-embedding waves arrive over a Structured Streaming source,
    * and each micro-batch runs the REAL insert (walk + link + repair,
    * [[graphInsertCore]] — no relabel shortcut here: the stream
    * doesn't know its payload equals the served queries) against the
    * stored state, appending the batch's rows with a version stamp —
    * merge-on-read, s21's discipline: an affected node's adjacency is
    * REWRITTEN under the new version and the read path resolves
    * latest-version-per-src (s34 folds the version layers down
    * physically — [[IndexCompaction.foldSwapped]] on this same edge
    * table; this gate keeps the resolve visible). A search runs
    * against storage after each wave.
    *
    * The payoff is the equality this construction forces: walks are
    * deterministic and the stored graph equals s32's composed frames
    * wave for wave, so the OUTPUT IS BIT-IDENTICAL TO s32's — one
    * oracle serves both (registered so), and the spec asserts
    * stored == in-plan directly. Restart-survivability is d12/s17's
    * (parquet + a persisted codebook) made real for the WRITE path
    * too: a re-entering session seeds its version counter from the
    * stored max(ver) — never colliding with rows a dead session
    * wrote — and an at-least-once redelivered batch is recognized by
    * its already-stored vec_ids and skipped (idempotent replay, no
    * duplicate node rows, no stale-version shadowing). The spec
    * proves it: stream wave 1, "crash", re-enter re-delivering wave 1
    * plus a new wave 2 — final stored state and search results are
    * bit-identical to the single-session run.
    */
  private def s33GraphStream(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s33-idx-")
    try s33WithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  /** Persist/verify the k a stored index was built under. The
    * already-built path used to return whatever codebook the dir
    * held, so a caller re-entering a directory with a DIFFERENT k got
    * an index trained at another k with no error. A `_k` sidecar pins
    * it at build; every re-entry must match. (Derived k — codebook
    * row count — would false-positive the first time a cell came up
    * empty at tiny sf, so the REQUESTED k is what's pinned.)
    */
  private def pinK(idxDir: String, k: Int): Unit = {
    val f = java.nio.file.Paths.get(idxDir, "_k")
    if (java.nio.file.Files.exists(f)) {
      val stored = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      require(stored == k,
        s"stored index at $idxDir was built with k=$stored, requested k=$k")
    } else {
      java.nio.file.Files.write(f,
        k.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
  }

  /** Seed a stored graph index at `idxDir` (nodes parquet + the
    * versioned edge table at ver 0 + the persisted codebook) unless
    * one already exists there — the shared bootstrap of the stored
    * lifecycle gates (s33 ingest, s34 delete). Returns the collected
    * codebook either way, so a re-entering session probes the SAME
    * cells the index was built under. The pristine build is cached
    * per JVM ([[graft.IndexSeed]]) — deterministic, so seeding by
    * copy is bit-identical to building in place, and the per-call
    * cost is the copy, not the |cell|²-bounded edge build.
    */
  private[graft] def graphBootstrapStored(s: SparkSession, d: String,
      idxDir: String, k: Int): Array[(Long, Seq[Double], Long)] = {
    if (!new java.io.File(s"$idxDir/nodes").isDirectory)
      graft.IndexSeed.seed(s"graph-stored|$d|$k", idxDir) { dir =>
        val base = quantized(s, d)
        saveCodebook(trainCodebook(base, iters = 2, k = k), s"$dir/codebook")
        val cents0 = collectCents(loadCodebook(s, s"$dir/codebook"))
        val corpus = base.filter(col("vec_id") >= 5).select(col("vec_id"), col("q"))
        corpus.write.mode("overwrite").parquet(s"$dir/nodes")
        knnEdges(corpus, cents0, GraphDegree)
          .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
          .withColumn("ver", lit(0L))
          .write.mode("overwrite").parquet(s"$dir/edges")
        pinK(dir, k)
      }
    pinK(idxDir, k)
    collectCents(loadCodebook(s, s"$idxDir/codebook"))
  }

  /** The stored graph's READ-path resolve shared by s33/s34: the
    * live adjacency is each source's max-version rows (an insert or
    * repair rewrites a node's WHOLE adjacency under its batch
    * version), minus tombstoned sources and targets when a tombstone
    * table exists beside the edge table. The target filter is
    * belt-and-suspenders: every affected survivor's rewrite already
    * carries no dead targets, but the pathological survivor whose
    * repair came up EMPTY (no surviving edges, no candidates through
    * the hubs) has no ver-bumped rows, and without it the stale rows
    * would win the resolve still pointing at the dead set. One
    * src-keyed exchange (the version fold); the tombstone joins
    * broadcast. Callers pin the result per use.
    *
    * `valueCols` selects which stored value columns ride the resolve —
    * maintenance reads the default (`nbr_q`, `cos`) full-precision
    * basis, the s39 serving path reads ONLY `nbr_q8` (parquet column
    * pruning: each path pays for just its own bytes, the DiskANN
    * hot/cold split expressed as a projection).
    */
  private[graft] def graphLiveEdges(s: SparkSession, idxDir: String,
      valueCols: Seq[String] = Seq("nbr_q", "cos")): DataFrame = {
    val e = s.read.parquet(s"$idxDir/edges")
    val r = e.join(e.groupBy(col("src")).agg(max(col("ver")).as("ver")),
      Seq("src", "ver"))
      .select((Seq("src", "nbr_id") ++ valueCols).map(col): _*)
    if (!new java.io.File(s"$idxDir/tombs").isDirectory) r
    else {
      val t = s.read.parquet(s"$idxDir/tombs")
      r.join(broadcast(t), col("src") === col("dead_id"), "left_anti")
        .join(broadcast(t.select(col("dead_id").as("dead_nbr"))),
          col("nbr_id") === col("dead_nbr"), "left_anti")
    }
  }

  /** The live node set: the stored node table minus tombstones. */
  private[graft] def graphLiveNodes(s: SparkSession, idxDir: String): DataFrame = {
    val n = s.read.parquet(s"$idxDir/nodes")
    if (!new java.io.File(s"$idxDir/tombs").isDirectory) n
    else n.join(broadcast(s.read.parquet(s"$idxDir/tombs")),
      col("vec_id") === col("dead_id"), "left_anti")
  }

  private[graft] def s33WithDir(s: SparkSession, d: String,
      idxDir: String, k: Int = 8,
      waves: Seq[Long] = Seq(GraphWave1Shift, GraphWave2Shift)): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val nodesPath = s"$idxDir/nodes"
    val edgesPath = s"$idxDir/edges"
    val base = quantized(s, d)
    val cents = graphBootstrapStored(s, d, idxDir, k)
    // merge-on-read resolve ([[graphLiveEdges]] — tombstone-free here,
    // s33 only inserts); pinned per use since each wave appends
    def liveEdges(): DataFrame =
      graphLiveEdges(s, idxDir).localCheckpoint(true)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val snaps = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Double, Int)]()
    def searchTop(wave: Int): Unit = {
      val cand = graphWalk(s.read.parquet(nodesPath),
        liveEdges().select(col("src"), col("nbr_id"), col("nbr_q")), qs, cents)(GraphHops)
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      snaps ++= cand.withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5).collect()
        .map(r => (wave, r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
    }
    // ONE collect serves every wave (the waves are the same 5 query
    // vectors under different id shifts — re-collecting per wave paid
    // a job for bytes already on the driver)
    val waveBase = base.filter(col("vec_id") < 5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1)))
    def vecsOf(shift: Long): Seq[NewVec] =
      waveBase.map { case (id, q) => NewVec(shift + id, q) }
        .sortBy(_.vec_id).toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft-s33-")
    try {
      val input = MemoryStream[NewVec](
        org.apache.spark.sql.Encoders.product[NewVec], s)
      // restart-safe version counter: a re-entering session continues
      // from the stored high-water mark instead of re-issuing ver=1
      // (which would shadow its own repairs under a dead session's
      // equal-or-higher versions in the max-ver resolve)
      var batchVer = s.read.parquet(edgesPath)
        .agg(max(col("ver"))).head.getLong(0)
      def mkQuery() = {
        input.toDS().writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[NewVec], _: Long) =>
            val all = b.toDF().select(col("vec_id"), col("q"))
              .localCheckpoint(true) // sourced from the stream: pin before reuse
            val ids = all.select(col("vec_id"))
            val nodes = s.read.parquet(nodesPath)
            // idempotent replay across BOTH stores, each recognized
            // against the store it writes (batch-sized control-plane
            // collects of ids only): the insert decision keys on the
            // EDGE table — a batch id appears as src exactly when its
            // insert layer landed — and the node append keys on the
            // NODE table. A session dying BETWEEN the two appends
            // (edge layer durable, node rows lost) therefore replays
            // to the single-delivery state: the edge layer is
            // recognized and not re-repaired (which would double-rank
            // the already-written back-edges), while the missing node
            // rows are healed. Both recognitions AND the batch's own
            // id list ride ONE job: the two stores' id columns and the
            // batch ids union under a side tag and share the broadcast
            // semi-join against the batch ids — emptiness of the
            // admitted slices is then driver-side set arithmetic, not
            // two more isEmpty jobs.
            val seen = s.read.parquet(edgesPath)
              .select(col("src").as("vec_id"), lit(1).as("side"))
              .unionByName(nodes.select(col("vec_id"), lit(2).as("side")))
              .unionByName(all.select(col("vec_id"), lit(3).as("side")))
              .join(broadcast(ids), Seq("vec_id"), "left_semi")
              .select(col("vec_id"), col("side")).distinct().collect()
            val edgeSeen = seen.filter(_.getInt(1) == 1).map(_.getLong(0)).toSet
            val nodeSeen = seen.filter(_.getInt(1) == 2).map(_.getLong(0)).toSet
            val batchIds = seen.filter(_.getInt(1) == 3).map(_.getLong(0)).toSet
            val batchDf = (if (edgeSeen.isEmpty) all
              else all.filter(!col("vec_id").isin(edgeSeen.toSeq: _*))
                .localCheckpoint(true))
            if ((batchIds -- edgeSeen).nonEmpty) {
              batchVer += 1
              val edges = liveEdges()
              val (newE, repaired, affected) =
                graphInsertCore(nodes, edges, batchDf, cents)
              val newEQ = nodes
                .select(col("vec_id").as("nbr_id"), col("q").as("nbr_q"))
                .join(broadcast(newE.drop("rnk")), Seq("nbr_id"))
                .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
              // MOR append: ONLY the touched adjacency ships — the
              // affected nodes' rewritten rows and the new nodes' rows
              repaired.drop("rnk").unionByName(newEQ)
                .withColumn("ver", lit(batchVer))
                .write.mode("append").parquet(edgesPath)
            }
            if ((batchIds -- nodeSeen).nonEmpty) {
              val nodeNew = (if (nodeSeen.isEmpty) all
                else all.filter(!col("vec_id").isin(nodeSeen.toSeq: _*)))
              nodeNew.write.mode("append").parquet(nodesPath)
              ()
            }
          }
          .option("checkpointLocation", ckpt.toString)
          .start()
      }
      // ONE long-lived streaming query serves every wave — each wave
      // is addData + processAllAvailable (a barrier: the micro-batch
      // containing exactly that wave's rows has committed when it
      // returns), where the old per-wave AvailableNow query paid a
      // full stream start/stop (offset log bootstrap, trigger setup,
      // shutdown) per wave. Batch boundaries, foreachBatch content and
      // the on-disk layers are identical; restart recognition never
      // depended on the trigger mode (it keys on the stored tables).
      searchTop(0)
      val q = mkQuery()
      try {
        waves.zipWithIndex.foreach { case (shift, i) =>
          input.addData(vecsOf(shift)); q.processAllAvailable(); searchTop(i + 1)
        }
      } finally q.stop()
    } finally graft.Fs.deleteRecursively(ckpt)
    import s.implicits._
    snaps.toSeq.toDF("wave", "qid", "vec_id", "cos", "rnk")
      .orderBy("wave", "qid", "rnk")
  }

  private val s32Oracle: String = {
    def rankedSearch(wv: Int, sfx: String): String =
      s"""SELECT $wv AS wave, qid, vec_id, cos, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vec_id) AS rnk
         |  FROM w$GraphHops$sfx) WHERE rnk <= 5""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |qv AS MATERIALIZED (SELECT vec_id AS qid, q FROM base WHERE vec_id < 5),
       |wv1 AS MATERIALIZED (SELECT vec_id + $GraphWave1Shift AS vec_id, q FROM base WHERE vec_id < 5),
       |wv2 AS MATERIALIZED (SELECT vec_id + $GraphWave2Shift AS vec_id, q FROM base WHERE vec_id < 5),
       |n0 AS MATERIALIZED (SELECT vec_id, q FROM corp),
       |n1 AS MATERIALIZED (SELECT vec_id, q FROM n0 UNION ALL SELECT vec_id, q FROM wv1),
       |n2 AS MATERIALIZED (SELECT vec_id, q FROM n1 UNION ALL SELECT vec_id, q FROM wv2),
       |cm0 AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |${cminOracleCte("cm1", "n1")},
       |${cminOracleCte("cm2", "n2")},
       |${probeOracleCtes("_s", "qv")},
       |${entryOracleCte("_s0", "probes_s", "cm0", "n0", "qv")},
       |${graphHopOracleCtes("_s0", "gedge", "qv")},
       |wlk_i1 AS (SELECT qid + $GraphWave1Shift AS qid, vec_id, cos
       |           FROM w${GraphHops}_s0),
       |${insertTailOracleCtes("_i1", "gedge", "wv1", "wlk_i1")},
       |g1 AS MATERIALIZED (
       |  SELECT src, nbr, nbr_q, cos FROM gedge
       |  WHERE src NOT IN (SELECT src FROM aff_i1)
       |  UNION ALL
       |  SELECT src, nbr_id AS nbr, nbr_q, cos FROM rep_i1
       |  UNION ALL
       |  SELECT n.src, n.nbr_id AS nbr, nd.q AS nbr_q, n.cos
       |  FROM newe_i1 n JOIN n0 nd ON nd.vec_id = n.nbr_id),
       |${entryOracleCte("_s1", "probes_s", "cm1", "n1", "qv")},
       |${graphHopOracleCtes("_s1", "g1", "qv")},
       |wlk_i2 AS (SELECT qid + $GraphWave2Shift AS qid, vec_id, cos
       |           FROM w${GraphHops}_s1),
       |${insertTailOracleCtes("_i2", "g1", "wv2", "wlk_i2")},
       |g2 AS MATERIALIZED (
       |  SELECT src, nbr, nbr_q, cos FROM g1
       |  WHERE src NOT IN (SELECT src FROM aff_i2)
       |  UNION ALL
       |  SELECT src, nbr_id AS nbr, nbr_q, cos FROM rep_i2
       |  UNION ALL
       |  SELECT n.src, n.nbr_id AS nbr, nd.q AS nbr_q, n.cos
       |  FROM newe_i2 n JOIN n1 nd ON nd.vec_id = n.nbr_id),
       |${entryOracleCte("_s2", "probes_s", "cm2", "n2", "qv")},
       |${graphHopOracleCtes("_s2", "g2", "qv")}
       |SELECT wave, qid, vec_id, cos, rnk FROM (
       |  ${rankedSearch(0, "_s0")}
       |  UNION ALL
       |  ${rankedSearch(1, "_s1")}
       |  UNION ALL
       |  ${rankedSearch(2, "_s2")})
       |ORDER BY wave, qid, rnk""".stripMargin
  }

  // ---- s34: delete + compaction through the STORED graph index ------------

  /** The DELETE half of the stored graph lifecycle — s30's
    * tombstone+repair driven through s33's versioned edge table
    * (FreshDiskANN's delete consolidation as a storage protocol, not
    * just a plan shape): a baseline search runs against the stored
    * graph, then ONE delete batch arrives over a Structured Streaming
    * source — the queries' own rank-1 results (the unfakeable flip:
    * phase 0 provably served those ids, phase 1 provably cannot)
    * plus the [[GraphDeleteMod]] modulus slice (a production-sized
    * batch). The micro-batch appends the ids to a tombstone table and
    * REWRITES every affected survivor's adjacency under a new version
    * ([[graphDeleteCore]] against the stored state — MOR, only the
    * touched adjacency ships); the read path resolves
    * latest-version-per-src and drops tombstoned sources/targets. A
    * search proves the hole repaired, then the COMPACTOR folds the
    * version + tombstone layers physically ([[IndexCompaction.foldSwapped]]:
    * resolve once, atomic sibling swap; dead nodes drop from the node
    * table, tombstones retire) and a final search against the
    * compacted files must be bit-identical — required in-gate AND
    * pinned by the oracle (phase 2 replays phase 1's walk).
    *
    * Idempotent replay is s33's, for deletes: a redelivered tombstone
    * batch is recognized against the stored tombstone table and
    * skipped — no version bump, no double repair (spec-staged crash:
    * redelivery is bit-identical to single delivery).
    *
    * Scale shape: everything the s30 doc commits to, against
    * storage — the tombstone batch broadcasts, repair is
    * degree²-bounded through the deleted hubs, the corpus never
    * shuffles for maintenance; compaction reads the edge table once
    * and rewrites it at scan-task width with no exchange beyond the
    * resolve's own src-keyed fold.
    */
  private def s34GraphDeleteStored(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s34-idx-")
    try s34WithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private[graft] def s34WithDir(s: SparkSession, d: String, idxDir: String,
      k: Int = 8, redeliver: Boolean = false): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val nodesPath = s"$idxDir/nodes"
    val edgesPath = s"$idxDir/edges"
    val tombsPath = s"$idxDir/tombs"
    val cents = graphBootstrapStored(s, d, idxDir, k)
    val base = quantized(s, d)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    def tombsDf(): Option[DataFrame] =
      if (new java.io.File(tombsPath).isDirectory)
        Some(s.read.parquet(tombsPath)) else None
    // the shared read path ([[graphLiveEdges]]/[[graphLiveNodes]]):
    // max-version resolve plus the tombstone source/target drops;
    // edges pinned per use since each batch appends
    def liveNodes(): DataFrame = graphLiveNodes(s, idxDir)
    def liveEdges(): DataFrame =
      graphLiveEdges(s, idxDir).localCheckpoint(true)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def searchTop(): Seq[(Long, Long, Double, Int)] =
      graphWalk(liveNodes(),
        liveEdges().select(col("src"), col("nbr_id"), col("nbr_q")), qs, cents)(GraphHops)
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cos"), r.getAs[Int]("rnk")))
        .sortBy(t => (t._1, t._4)).toSeq
    val s0 = searchTop()
    // the delete batch: what the index just SERVED (each query's
    // rank-1 id) plus the modulus slice — delete-batch-sized control
    // plane, exactly what a tombstone feed would carry
    val top1 = s0.filter(_._4 == 1).map(_._2)
    val modIds = base.filter(col("vec_id") >= 5 &&
        col("vec_id") % GraphDeleteMod === GraphDeleteRem)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val deadIds = (top1 ++ modIds).distinct.sorted
    val ckpt = java.nio.file.Files.createTempDirectory("graft-s34-")
    var deleteVer = 0L
    try {
      val input = MemoryStream[Tomb](
        org.apache.spark.sql.Encoders.product[Tomb], s)
      var batchVer = s.read.parquet(edgesPath)
        .agg(max(col("ver"))).head.getLong(0)
      def drain(): Unit = {
        val q = input.toDS().writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Tomb], _: Long) =>
            val all = b.toDF().select(col("vec_id").as("dead_id"))
              .localCheckpoint(true)
            // idempotent replay: ids already tombstoned by a dead
            // session drop; an all-replay batch writes nothing
            val dead = tombsDf().fold(all)(t =>
              all.join(broadcast(t.select(col("dead_id").as("seen_id"))),
                col("dead_id") === col("seen_id"), "left_anti")
                .localCheckpoint(true))
            if (!dead.isEmpty) {
              batchVer += 1; deleteVer = batchVer
              val nodes = liveNodes().localCheckpoint(true)
              val repaired = graphDeleteCore(nodes, liveEdges(), dead)
                .localCheckpoint(true) // pinned BEFORE tombs land below
              // TOMBSTONES FIRST: the tombstone table is the
              // correctness layer (the read path's source/target
              // anti-joins make the resolve exact the instant it
              // lands) while the repair layer below only restores the
              // affected survivors' degree — so a session dying
              // between the two appends degrades to thinner adjacency,
              // never to a dead id surfacing, and the redelivery
              // recognition (keyed on this table) already sees the
              // batch. Written the other way round, a crash in the gap
              // left an orphan repair layer that a redelivery would
              // not recognize and would re-repair emptily.
              dead.write.mode("append").parquet(tombsPath)
              // MOR rewrite of the touched adjacency only, vectors
              // re-attached from the node table (repair broadcasts)
              nodes.select(col("vec_id").as("nbr_id"), col("q").as("nbr_q"))
                .join(broadcast(repaired.drop("rnk")), Seq("nbr_id"))
                .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
                .withColumn("ver", lit(batchVer))
                .write.mode("append").parquet(edgesPath)
              ()
            }
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      input.addData(deadIds.map(Tomb(_)))
      drain()
      if (redeliver) { input.addData(deadIds.map(Tomb(_))); drain() }
    } finally graft.Fs.deleteRecursively(ckpt)
    // phase-1 repair rows read back FROM STORAGE: the gate's claim is
    // about what the bytes on disk now say, not a plan it remembers
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("nbr_id"))
    val repairRows = s.read.parquet(edgesPath)
      .filter(col("ver") === deleteVer)
      .select(col("src"), col("nbr_id"), col("cos"))
      .withColumn("rnk", row_number().over(wAdj))
      .collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rnk"))).toSeq
    val s1 = searchTop()
    val deadSet = deadIds.toSet
    require(s1.forall(t => !deadSet(t._2)),
      "search after delete surfaced a tombstoned id")
    // compact: fold the version layers + tombstones down physically —
    // resolved content pinned FIRST (eager blocks, not files) and that
    // ONE resolve feeds both the fold input and the post-swap equality
    // requires (the resolve is the compaction's dominant scan; running
    // it twice doubled the gate's compaction cost)
    val preEdges = liveEdges()
    val preNodes = liveNodes().localCheckpoint(true)
    IndexCompaction.foldSwapped(edgesPath,
      preEdges.withColumn("ver", lit(0L)))
    IndexCompaction.foldSwapped(nodesPath, preNodes)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(tombsPath))
    val postEdges = liveEdges()
    // each multiset equality is ONE action (the two except directions
    // union under one isEmpty) instead of two — same check, half the
    // driver round-trips
    require(postEdges.exceptAll(preEdges)
      .unionByName(preEdges.exceptAll(postEdges)).isEmpty,
      "compaction changed the resolved edge content")
    val postNodes = liveNodes()
    require(postNodes.exceptAll(preNodes)
      .unionByName(preNodes.exceptAll(postNodes)).isEmpty,
      "compaction changed the node content")
    val s2 = searchTop()
    require(s2 == s1, "search over compacted files drifted")
    import s.implicits._
    (s0.map(t => (0, "search", t._1, t._2, t._3, t._4)) ++
      repairRows.map(t => (1, "repair", t._1, t._2, t._3, t._4)) ++
      s1.map(t => (1, "search", t._1, t._2, t._3, t._4)) ++
      s2.map(t => (2, "search", t._1, t._2, t._3, t._4)))
      .toDF("phase", "kind", "src", "nbr_id", "cos", "rnk")
      .orderBy("phase", "kind", "src", "rnk")
  }

  private val s34Oracle: String = {
    def ranked(walk: String): String =
      s"""SELECT qid, vec_id, cos, rnk FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vec_id) AS rnk
         |  FROM $walk) WHERE rnk <= 5""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |qv AS MATERIALIZED (SELECT vec_id AS qid, q FROM base WHERE vec_id < 5),
       |${probeOracleCtes("_s", "qv")},
       |cm0 AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |${entryOracleCte("_s0", "probes_s", "cm0", "corp", "qv")},
       |${graphHopOracleCtes("_s0", "gedge", "qv")},
       |srch0 AS MATERIALIZED (${ranked(s"w${GraphHops}_s0")}),
       |dead AS MATERIALIZED (
       |  SELECT vec_id AS dead_id FROM srch0 WHERE rnk = 1
       |  UNION
       |  SELECT vec_id FROM corp WHERE vec_id % $GraphDeleteMod = $GraphDeleteRem),
       |intodead AS (
       |  SELECT e.src, e.nbr AS hub FROM gedge e
       |  WHERE e.nbr IN (SELECT dead_id FROM dead)
       |    AND e.src NOT IN (SELECT dead_id FROM dead)),
       |outofdead AS (
       |  SELECT e.src AS hub, e.nbr AS cand_id, e.nbr_q AS cand_q FROM gedge e
       |  WHERE e.src IN (SELECT dead_id FROM dead)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead)),
       |candd AS (
       |  SELECT c.src, c.cand_id AS nbr_id,
       |         list_cosine_similarity(c.cand_q::DOUBLE[], b.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT i.src, o.cand_id, o.cand_q
       |        FROM intodead i JOIN outofdead o USING (hub)
       |        WHERE o.cand_id <> i.src) c
       |  JOIN base b ON b.vec_id = c.src),
       |aff AS (SELECT DISTINCT src FROM intodead),
       |surv AS (
       |  SELECT e.src, e.nbr AS nbr_id, e.cos FROM gedge e
       |  WHERE e.src IN (SELECT src FROM aff)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead)),
       |repg AS MATERIALIZED (
       |  SELECT src, nbr_id, cos, rnk FROM (
       |    SELECT src, nbr_id, cos,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |      SELECT src, nbr_id, max(cos) AS cos FROM (
       |        SELECT src, nbr_id, cos FROM surv
       |        UNION ALL
       |        SELECT src, nbr_id, cos FROM candd)
       |      GROUP BY src, nbr_id))
       |  WHERE rnk <= $GraphDegree),
       |n1 AS MATERIALIZED (
       |  SELECT vec_id, q FROM corp
       |  WHERE vec_id NOT IN (SELECT dead_id FROM dead)),
       |g1 AS MATERIALIZED (
       |  SELECT src, nbr, nbr_q, cos FROM gedge
       |  WHERE src NOT IN (SELECT dead_id FROM dead)
       |    AND src NOT IN (SELECT src FROM aff)
       |  UNION ALL
       |  SELECT r.src, r.nbr_id AS nbr, n.q AS nbr_q, r.cos
       |  FROM repg r JOIN corp n ON n.vec_id = r.nbr_id),
       |cm1 AS (SELECT cid, min(vec_id) AS vec_id FROM corp
       |        WHERE vec_id NOT IN (SELECT dead_id FROM dead) GROUP BY cid),
       |${entryOracleCte("_s1", "probes_s", "cm1", "n1", "qv")},
       |${graphHopOracleCtes("_s1", "g1", "qv")},
       |srch1 AS MATERIALIZED (${ranked(s"w${GraphHops}_s1")})
       |SELECT phase, kind, src, nbr_id, cos, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT 0 AS phase, 'search' AS kind, qid AS src, vec_id AS nbr_id, cos, rnk FROM srch0
       |  UNION ALL
       |  SELECT 1, 'repair', src, nbr_id, cos, rnk FROM repg
       |  UNION ALL
       |  SELECT 1, 'search', qid, vec_id, cos, rnk FROM srch1
       |  UNION ALL
       |  SELECT 2, 'search', qid, vec_id, cos, rnk FROM srch1)
       |ORDER BY phase, kind, src, rnk""".stripMargin
  }

  // ---- s35: graph-index rebalance — hot-cell split + local rewire ----------

  /** The ingest burst that overloads one cell: near-copies of vector
    * 0 (s17/s24's shape — jitter j on dim 2 keeps arithmetic
    * integer-exact), sized ∝ corpus (max(60, |base|/5)) so the
    * size-bound plant fires at every sf.
    */
  private[graft] def s35Burst(s: SparkSession, base: DataFrame): DataFrame = {
    val nb = math.max(60L, base.count() / 5L)
    base.filter(col("vec_id") === 0)
      .crossJoin(s.range(1, nb + 1).select(col("id").as("j")))
      .select((lit(10000000L) + col("j")).as("vec_id"),
        expr("transform(q, (x, i) -> x + CAST(IF(i = 1, j, 0) AS DOUBLE))").as("q"))
  }

  // (the q0-reaches-a-burst-copy outcome is returned by
  // [[s35WithKFlag]] — it used to live in a shared @volatile field,
  // which any interleaved s35 invocation could overwrite, so the
  // stress harness's recorded booleans were attributable only by
  // luck of scheduling)

  /** Split rounds: enough to fold a pile 2^8 = 256× past the bound
    * back under it. The oracle unrolls all 8 unconditionally (a round
    * with no over-bound group passes everything through — a no-op);
    * the Spark loop exits early the first time no group exceeds the
    * bound, so the clamp costs nothing when depth 1–2 suffices.
    */
  private[ops] val RebalanceDepth = 8

  /** REBALANCE the graph index when cell populations skew — the
    * lifecycle member s24 gives the IVF family, for the graph: the
    * standing graph's build and refresh cost is bounded by cell size
    * (knnEdges pairs within probed cells), so a burst piling into one
    * cell makes that cell's every rebuild |hot|² — and entry
    * selection offers the whole pile ONE entry point. The rebalance:
    * detect cells past the s24 size bound (index metadata, ≤k rows,
    * driver-side), split each by the s24 deterministic 2-means step
    * (farthest-point seeding, exact integer distances) applied
    * RECURSIVELY — up to [[RebalanceDepth]] rounds, a group splitting
    * again only while it still exceeds the bound — then REWIRE only
    * the split cells' members, each node's adjacency rebuilt within
    * its final subcell, and give every subcell its own entry point
    * (min-id member, so a probe of the parent cell enters the pile
    * from every side). The recursion is the scale point: one split
    * halves a pile that may have grown 10×, leaving |pile/2|²
    * rewire pair-work (measured 8.6× at the 10× derivative before
    * this landed); splitting TO THE BOUND restores Σ|subcell|² ≈
    * bound · |pile| — linear in the pile, the same contract the
    * cell-keyed build rests on. Cold adjacency survives untouched
    * (broadcast anti on the hot member set); searches run before and
    * after, and the oracle replays every split round, the rewire, and
    * both walks exactly.
    *
    * Scale shape: group counts/seeds are control-plane (≤ groups
    * rows, broadcast); the rewire join keys on (cid, path) —
    * cell-bounded pair work, the very bound rebalancing restores; the
    * standing edge table never shuffles (anti-join rides the
    * broadcast hot set). Reference intent: FreshDiskANN's split/merge
    * maintenance, cited at s30; the IVF twin is s24.
    */
  private def s35GraphRebalance(s: SparkSession, d: String): DataFrame =
    s35WithKFlag(s, d)._1

  /** The s35 gate at codebook size `k`, plus the q0-burst-rank-1
    * outcome as a RETURN value (not shared mutable state): the boolean
    * the stress harness records in its emitted JSON when the rank-1
    * check relaxes from require() to a report at off-shape k (recall
    * vs fixed serving knobs — see the rebalance doc below).
    */
  private[graft] def s35WithKFlag(s: SparkSession, d: String,
      k: Int = 8): (DataFrame, Boolean) = {
    import org.apache.spark.sql.expressions.Window
    val base = quantized(s, d)
    // trained BEFORE the burst — the stale codebook is the premise
    val cents = collectCents(trainCodebook(base, iters = 2, k = k))
    val corpus = base.filter(col("vec_id") >= 5).select(col("vec_id"), col("q"))
      .unionByName(s35Burst(s, base))
    val assigned = assignCellsFrom(corpus, cents)
      .select(col("vec_id"), col("q"), col("cid")).localCheckpoint(true)
    // standing graph under the stale codebook: the hot cell pays
    // |hot|² pair work here — the cost rebalancing bounds
    val gedge = knnEdges(assigned.select("vec_id", "q"), cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .localCheckpoint(true)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
      .localCheckpoint(true) // both walks and the post-rebalance probes read it
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    def top5(walk: DataFrame): DataFrame = walk
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
      .select(col("qid").as("src"), col("vec_id").as("nbr_id"),
        col("cos"), col("rnk"))
    val s0 = top5(graphWalk(assigned.select("vec_id", "q"),
      gedge.select("src", "nbr_id", "nbr_q"), qs, cents)(GraphHops))
    // hot detection: index metadata, ≤k rows (the s24 bound)
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = sizes.map(_._2).sum
    val bound = 3 * total / (2 * cents.length)
    val hotCids = sizes.filter(_._2 > bound).map(_._1).toSeq
    require(hotCids.nonEmpty, "fixture must overload at least one cell")
    // recursive 2-means (s24's step, applied to the bound): each round
    // splits every group still past the bound — seed A = min-id
    // member, seed B = farthest from A, assign to the nearer by exact
    // integer distance — and passes compliant groups through. A round
    // is a pure (cid, path)-local fold, so it runs as WINDOW arithmetic
    // over one group-keyed exchange per round — `first(q)` over the
    // ordered group window IS the seed row's vector for every member —
    // instead of a per-round control plane of two eager checkpoints, an
    // isEmpty probe and four broadcast joins (~6 driver round-trips ×
    // depth). All RebalanceDepth rounds unroll unconditionally into ONE
    // lineage, exactly like the oracle's sp1..sp8 CTE chain: a round
    // whose groups all comply keeps every path unchanged (the
    // `when(n > bound)` guard), so the early-exit the old loop bought
    // with per-round actions costs only bounded no-op exchanges of the
    // hot pile — and the whole recursion executes as a single Spark job
    // at the final pin.
    var sub = assigned.filter(col("cid").isin(hotCids: _*))
      .withColumn("path", lit(""))
    (1 to RebalanceDepth).foreach { _ =>
      val wg = Window.partitionBy(col("cid"), col("path"))
      sub = sub
        .withColumn("n", count(lit(1)).over(wg))
        .withColumn("qa", first(col("q")).over(wg.orderBy(col("vec_id"))))
        .withColumn("dist_a", sqDist(col("q"), col("qa")))
        .withColumn("qb", first(col("q")).over(
          wg.orderBy(col("dist_a").desc, col("vec_id"))))
        .select(col("vec_id"), col("q"), col("cid"),
          when(col("n") > bound,
            concat(col("path"), when(col("dist_a") <= sqDist(col("q"), col("qb")),
              lit("a")).otherwise(lit("b"))))
            .otherwise(col("path")).as("path"))
    }
    sub = sub.localCheckpoint(true)
    // rewire: adjacency rebuilt WITHIN each final subcell — the pair
    // join keys on (cid, path), restoring the cell-size bound. The
    // rank exchange carries (src, nbr_id, cos) ONLY — vectors rejoin
    // the ≤degree winners from the broadcast pile afterward (carrying
    // nbr_q through the window shuffled ~1 KB/pair and dominated the
    // whole gate at 10× — the s35 decomposition, PLANS.md round 19)
    val wAdj = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr_id"))
    val rewired = sub
      .select(col("cid"), col("path"), col("vec_id").as("src"), col("q").as("sq"))
      .join(sub.select(col("cid"), col("path"),
        col("vec_id").as("nbr_id"), col("q").as("nbr_q")), Seq("cid", "path"))
      .filter(col("src") =!= col("nbr_id"))
      .select(col("src"), col("nbr_id"),
        VectorFunctions.cosine_similarity(col("sq"), col("nbr_q")).as("cos"))
      .withColumn("rnk", row_number().over(wAdj))
      .filter(col("rnk") <= GraphDegree)
      .join(broadcast(sub.select(col("vec_id").as("nbr_id"), col("q").as("nbr_q"))),
        Seq("nbr_id"))
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"), col("rnk"))
      .localCheckpoint(true)
    // cold adjacency untouched; hot adjacency replaced — EXCEPT a
    // singleton subcell's member (farthest-point seeding peels
    // outliers into their own group), whose within-subcell rewire
    // would be empty: it keeps its pre-split out-edges, so an outlier
    // never drops to degree 0, and it remains its subcell's entry
    val rewireable = sub.join(
      sub.groupBy(col("cid"), col("path")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select("cid", "path"),
      Seq("cid", "path"), "left_semi")
    val g1 = gedge
      .join(broadcast(rewireable.select(col("vec_id").as("src"))),
        Seq("src"), "left_anti")
      .unionByName(rewired.drop("rnk"))
      .localCheckpoint(true)
    // post-rebalance entries: one per final SUBCELL of a split cell
    // (keyed by the parent cid the probes know), parent minima elsewhere
    val cellEntry1 = sub.groupBy(col("cid"), col("path"))
      .agg(min(col("vec_id")).as("vec_id")).select(col("cid"), col("vec_id"))
      .unionByName(assigned.filter(!col("cid").isin(hotCids: _*))
        .groupBy("cid").agg(min(col("vec_id")).as("vec_id")))
    val s1 = top5(graphWalk(assigned.select("vec_id", "q"),
      g1.select("src", "nbr_id", "nbr_q"), qs, cents,
      entries = Some(probeEntries(qs, cents, cellEntry1)))(GraphHops))
      .localCheckpoint(true)
    // the rebalanced index must still serve the pile: vector 0's query
    // resolves to a burst copy at rank 1 (cos ≈ 1 — unfakeable).
    // Enforced at the registered shape (k = 8), where it is
    // oracle-checked and fixture-verified at every sf. At
    // production-shape k (the stress harness's k ∝ corpus) rank-1
    // reachability becomes a RECALL property of the fixed serving
    // knobs (nprobe 2, beam 16, 4 hops) against the adversarial
    // corpus-proportional pile — measured (2026-08-16 fixtures, 10×
    // derivative, k=80): the probe reaches the hot cell but the walk
    // can strand among the mixed subcell's real vectors. Recall under
    // scale is s12/s20/s36's measured territory; the harness's claim
    // for s35 is the rebalance COST shape, so off-shape the outcome
    // is reported, not required.
    val q0top = s1.filter(col("src") === 0 && col("rnk") === 1)
      .head.getAs[Long]("nbr_id")
    val burstRank1 = q0top >= 10000000L
    if (cents.length <= 8)
      require(burstRank1,
        s"query 0's rank-1 after rebalance is $q0top, not a burst copy")
    val out = s0.withColumn("phase", lit(0)).withColumn("kind", lit("search"))
      .unionByName(rewired.select(col("src"), col("nbr_id"), col("cos"), col("rnk"))
        .withColumn("phase", lit(1)).withColumn("kind", lit("rewire")))
      .unionByName(s1.withColumn("phase", lit(1)).withColumn("kind", lit("search")))
      .select(col("phase"), col("kind"), col("src"), col("nbr_id"),
        col("cos"), col("rnk"))
      .orderBy("phase", "kind", "src", "rnk")
    (out, burstRank1)
  }

  /** The unrolled recursive-split rounds sp1..sp[[RebalanceDepth]]:
    * each round splits every (cid, path) group still past the s24
    * bound (needs `kb(total, k)` and `sp0(cid, path, vec_id, q)` in
    * scope) by one deterministic 2-means step, and passes compliant
    * groups through unchanged.
    */
  private def splitRoundCtes(dist: (String, String) => String): String =
    (1 to RebalanceDepth).map { r =>
      s"""big$r AS (
         |  SELECT cid, path FROM (
         |    SELECT cid, path, count(*) AS n FROM sp${r - 1} GROUP BY cid, path), kb
         |  WHERE n > (3 * total) // (2 * k)),
         |sa$r AS (
         |  SELECT g.cid, g.path, g.q AS qa FROM sp${r - 1} g
         |  JOIN (SELECT cid, path, min(vec_id) AS v FROM sp${r - 1} GROUP BY cid, path) m
         |    ON g.cid = m.cid AND g.path = m.path AND g.vec_id = m.v
         |  JOIN big$r x ON x.cid = g.cid AND x.path = g.path),
         |da$r AS (
         |  SELECT h.cid, h.path, h.vec_id, h.q, ${dist("h.q", "s.qa")} AS dist_a
         |  FROM sp${r - 1} h
         |  JOIN sa$r s ON s.cid = h.cid AND s.path = h.path),
         |sb$r AS (
         |  SELECT cid, path, q AS qb FROM (
         |    SELECT cid, path, q,
         |           row_number() OVER (PARTITION BY cid, path
         |             ORDER BY dist_a DESC, vec_id) AS rn
         |    FROM da$r) WHERE rn = 1),
         |sp$r AS MATERIALIZED (
         |  SELECT d.cid,
         |         d.path || CASE WHEN d.dist_a <= ${dist("d.q", "b.qb")}
         |                        THEN 'a' ELSE 'b' END AS path,
         |         d.vec_id, d.q
         |  FROM da$r d JOIN sb$r b ON b.cid = d.cid AND b.path = d.path
         |  UNION ALL
         |  SELECT h.cid, h.path, h.vec_id, h.q FROM sp${r - 1} h
         |  WHERE NOT EXISTS (SELECT 1 FROM big$r x
         |                    WHERE x.cid = h.cid AND x.path = h.path))""".stripMargin
    }.mkString(",\n")

  private val s35Oracle: String = {
    def dist(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> ($x[i] - $y[i]) * ($x[i] - $y[i])))"
    def ranked(walk: String): String =
      s"""SELECT qid, vec_id, cos, rnk FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vec_id) AS rnk
         |  FROM $walk) WHERE rnk <= 5""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |burst AS MATERIALIZED (
       |  SELECT 10000000 + j AS vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> q[i] + CASE WHEN i = 2 THEN j ELSE 0 END) AS q
       |  FROM base,
       |       (SELECT unnest(generate_series(1,
       |          (SELECT CAST(greatest(60, count(*) // 5) AS BIGINT) FROM base))) AS j)
       |  WHERE vec_id = 0),
       |ba AS (
       |  SELECT vec_id, q, cid FROM (
       |    SELECT vec_id, q, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rnk
       |    FROM (SELECT b.vec_id, b.q, c.cid,
       |                 CAST(list_sum(list_transform(generate_series(1, 64),
       |                      i -> b.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |          FROM burst b, c2 c)) WHERE rnk = 1),
       |corp AS MATERIALIZED (
       |  SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5
       |  UNION ALL SELECT vec_id, q, cid FROM ba),
       |$gedgeOracleCtes,
       |qv AS MATERIALIZED (SELECT vec_id AS qid, q FROM base WHERE vec_id < 5),
       |${probeOracleCtes("_s", "qv")},
       |cm0 AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |${entryOracleCte("_s0", "probes_s", "cm0", "corp", "qv")},
       |${graphHopOracleCtes("_s0", "gedge", "qv")},
       |srch0 AS MATERIALIZED (${ranked(s"w${GraphHops}_s0")}),
       |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM corp GROUP BY cid),
       |kb AS (SELECT CAST(sum(n) AS BIGINT) AS total,
       |              (SELECT CAST(count(*) AS BIGINT) FROM c2) AS k FROM sz),
       |hot AS (SELECT cid FROM sz, kb WHERE n > (3 * total) // (2 * k)),
       |sp0 AS (SELECT c.cid, '' AS path, c.vec_id, c.q FROM corp c JOIN hot USING (cid)),
       |${splitRoundCtes(dist)},
       |rewired AS MATERIALIZED (
       |  SELECT src, nbr_id, nbr_q, cos, rnk FROM (
       |    SELECT p.vec_id AS src, o.vec_id AS nbr_id, o.q AS nbr_q,
       |           list_cosine_similarity(p.q::DOUBLE[], o.q::DOUBLE[]) AS cos,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY list_cosine_similarity(p.q::DOUBLE[], o.q::DOUBLE[]) DESC,
       |                      o.vec_id) AS rnk
       |    FROM sp$RebalanceDepth p JOIN sp$RebalanceDepth o
       |      ON o.cid = p.cid AND o.path = p.path AND o.vec_id <> p.vec_id)
       |  WHERE rnk <= $GraphDegree),
       |multi AS (SELECT cid, path FROM sp$RebalanceDepth
       |          GROUP BY cid, path HAVING count(*) > 1),
       |g1 AS MATERIALIZED (
       |  SELECT src, nbr, nbr_q, cos FROM gedge
       |  WHERE src NOT IN (SELECT s.vec_id FROM sp$RebalanceDepth s
       |                    JOIN multi m ON m.cid = s.cid AND m.path = s.path)
       |  UNION ALL
       |  SELECT src, nbr_id AS nbr, nbr_q, cos FROM rewired),
       |cm1 AS (
       |  SELECT cid, min(vec_id) AS vec_id FROM sp$RebalanceDepth GROUP BY cid, path
       |  UNION ALL
       |  SELECT cid, min(vec_id) AS vec_id FROM corp
       |  WHERE cid NOT IN (SELECT cid FROM hot) GROUP BY cid),
       |${entryOracleCte("_s1", "probes_s", "cm1", "corp", "qv")},
       |${graphHopOracleCtes("_s1", "g1", "qv")},
       |srch1 AS MATERIALIZED (${ranked(s"w${GraphHops}_s1")})
       |SELECT phase, kind, src, nbr_id, cos, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT 0 AS phase, 'search' AS kind, qid AS src, vec_id AS nbr_id, cos, rnk FROM srch0
       |  UNION ALL
       |  SELECT 1, 'rewire', src, nbr_id, cos, rnk FROM rewired
       |  UNION ALL
       |  SELECT 1, 'search', qid, vec_id, cos, rnk FROM srch1)
       |ORDER BY phase, kind, src, rnk""".stripMargin
  }

  // ---- s31: NN-descent graph refinement (one local-join round) ------------

  /** The IMPROVE step of the graph-index lifecycle — one NN-descent
    * round (Dong, Moses & Li 2011, the standard distributed kNN-graph
    * construction): every node proposes its neighbors' neighbors as
    * candidates ("a neighbor of my neighbor is likely my neighbor"),
    * scores them exactly, and keeps the best [[GraphDegree]] of
    * (current ∪ candidates). The multi-probe build (s19/[[knnEdges]])
    * can only see candidates inside a vector's probed cells; the
    * descent round recovers cross-cell neighbors by FOLLOWING EDGES,
    * which is exactly the recall s28's walk depends on. Production
    * builds run this round to convergence; one round is the unit —
    * composable, measurable, and the oracle replays it exactly.
    *
    * Scale shape: this is a BUILD-side op (s19's stance — the corpus
    * legitimately shuffles), and its cost model is NN-descent's
    * selling point: one edge⋈edge self-join keyed on the shared
    * middle node (corpus × degree rows per side, degree²-bounded
    * candidates per node — never all-pairs), one keyed join to fetch
    * the proposing node's vector, and the (src, nbr)-keyed max-fold +
    * per-node top-k window. Everything exchanges on node ids;
    * vectors ride as values, never as keys.
    *
    * Determinism: a candidate duplicating a current edge dedups by
    * max over bitwise-identical cosines (same operand order both
    * sides, both engines).
    */
  private[graft] def s31From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val corpus = base.filter(col("vec_id") >= 5)
    val edges = knnEdges(corpus, cents, GraphDegree)
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
      .localCheckpoint(true)
    // u -> v -> w proposes (u, w): the local join, keyed on the mid
    val cand = edges.select(col("src"), col("nbr_id").as("mid"))
      .join(edges.select(col("src").as("mid"), col("nbr_id").as("cand_id"),
        col("nbr_q").as("cand_q")), Seq("mid"))
      .filter(col("cand_id") =!= col("src"))
      .select(col("src"), col("cand_id"), col("cand_q"))
    // score against the proposing node's vector (one keyed join; the
    // corpus never goes pairwise)
    val scored = cand
      .join(corpus.select(col("vec_id").as("src"), col("q")), Seq("src"))
      .select(col("src"), col("cand_id").as("nbr_id"),
        VectorFunctions.cosine_similarity(col("cand_q"), col("q")).as("cos"))
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("nbr_id"))
    edges.select(col("src"), col("nbr_id"), col("cos"))
      .unionByName(scored)
      .groupBy(col("src"), col("nbr_id")).agg(max(col("cos")).as("cos"))
      .withColumn("rnk", row_number().over(wAdj))
      .filter(col("rnk") <= GraphDegree)
      .orderBy("src", "rnk")
  }

  private def s31GraphRefine(s: SparkSession, d: String): DataFrame = {
    val base = quantized(s, d)
    s31From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s31Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |cand AS (
       |  SELECT e.src, f.nbr AS cand_id, f.nbr_q AS cand_q
       |  FROM gedge e JOIN gedge f ON f.src = e.nbr
       |  WHERE f.nbr <> e.src),
       |sc AS (
       |  SELECT c.src, c.cand_id AS nbr_id,
       |         list_cosine_similarity(c.cand_q::DOUBLE[], b.q::DOUBLE[]) AS cos
       |  FROM cand c JOIN base b ON b.vec_id = c.src)
       |SELECT src, nbr_id, cos, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT src, nbr_id, cos,
       |         row_number() OVER (PARTITION BY src
       |           ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |    SELECT src, nbr_id, max(cos) AS cos FROM (
       |      SELECT src, nbr AS nbr_id, cos FROM gedge
       |      UNION ALL
       |      SELECT src, nbr_id, cos FROM sc)
       |    GROUP BY src, nbr_id))
       |WHERE rnk <= $GraphDegree ORDER BY src, rnk""".stripMargin

  private val s30Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |dead AS (SELECT vec_id AS dead_id FROM corp
       |         WHERE vec_id % $GraphDeleteMod = $GraphDeleteRem),
       |intodead AS (
       |  SELECT e.src, e.nbr AS hub FROM gedge e
       |  WHERE e.nbr IN (SELECT dead_id FROM dead)
       |    AND e.src NOT IN (SELECT dead_id FROM dead)),
       |outofdead AS (
       |  SELECT e.src AS hub, e.nbr AS cand_id, e.nbr_q AS cand_q FROM gedge e
       |  WHERE e.src IN (SELECT dead_id FROM dead)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead)),
       |cand AS (
       |  SELECT c.src, c.cand_id AS nbr_id,
       |         list_cosine_similarity(c.cand_q::DOUBLE[], b.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT i.src, o.cand_id, o.cand_q
       |        FROM intodead i JOIN outofdead o USING (hub)
       |        WHERE o.cand_id <> i.src) c
       |  JOIN base b ON b.vec_id = c.src),
       |aff AS (SELECT DISTINCT src FROM intodead),
       |surv AS (
       |  SELECT e.src, e.nbr AS nbr_id, e.cos FROM gedge e
       |  WHERE e.src IN (SELECT src FROM aff)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead))
       |SELECT src, nbr_id, cos, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT src, nbr_id, cos,
       |         row_number() OVER (PARTITION BY src
       |           ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |    SELECT src, nbr_id, max(cos) AS cos FROM (
       |      SELECT src, nbr_id, cos FROM surv
       |      UNION ALL
       |      SELECT src, nbr_id, cos FROM cand)
       |    GROUP BY src, nbr_id))
       |WHERE rnk <= $GraphDegree ORDER BY src, rnk""".stripMargin

  // ---- s36: filtered graph search (route-through vs strict traversal) -----

  /** Result size per filtered query. */
  private[ops] val FilteredK = 5

  /** Predicate-aware graph-ANN — the filtered-search mode every
    * production vector store serves ("top-k neighbors WHERE label =
    * …"), which the IVF family already has (s15) and graph indexes
    * famously get wrong. Two traversal policies over the SAME
    * standing label-blind graph, judged against exact filtered
    * ground truth in one result:
    *
    *  - `routed` — the ACORN stance (Patel et al., SIGMOD 2024) /
    *    filtered-DiskANN (Gollapudi et al., WWW 2023): the walk
    *    ROUTES THROUGH non-matching nodes (s28's beam walk,
    *    unchanged — non-matching nodes score, carry the frontier,
    *    and keep the graph connected) and the predicate applies at
    *    RESULT selection. Selectivity costs recall only through
    *    ranking depth, never through connectivity.
    *  - `strict` — the naive policy (the one ACORN exists to beat):
    *    non-matching nodes are invisible — entries are the min
    *    MATCHING member per (cell, label) and hops drop non-matching
    *    neighbors before they enter the visited set. At ~10%
    *    selectivity the matching subgraph fragments and the walk
    *    strands; the per-row `hit` flags (membership in the exact
    *    filtered top-[[FilteredK]]) make the recall gap part of the
    *    oracle-checked output.
    *
    * Scale shape: both walks keep s28's contract — the corpus never
    * shuffles per hop, a hop is one broadcast join of the
    * queries×beam frontier against the pinned edge table (the label
    * rides denormalized beside the neighbor vector, so the strict
    * filter is a broadcast-side predicate, not a new exchange), and
    * the only hash exchanges are qid-keyed windows/folds over
    * frontier-bounded frames. The exact-truth leg is the s1 recall
    * harness (5 broadcast queries over one corpus scan) — an
    * EVALUATION leg, not the serving path.
    *
    * Determinism: s28's integer-exact basis; the label equality is
    * exact in both engines, so the oracle replays both walks
    * hop-for-hop.
    */
  private[graft] def s36From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val corpus = base.filter(col("vec_id") >= 5)
    val labels = corpus.select(col("vec_id"), col("label"))
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("label").as("qlabel"))
      .localCheckpoint(true)
    // the standing graph: label-blind build (one graph serves every
    // predicate — the ACORN premise), neighbor label denormalized
    val edges = knnEdges(corpus, cents, GraphDegree)
      .join(labels.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), Seq("nbr_id"))
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("nbr_label"))
      .localCheckpoint(true)
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    // routed: the unmodified s28 walk, predicate applied at selection
    val routed = routedMatches(
        graphWalk(corpus, edges, qs.select(col("qid"), col("qv")), cents)(GraphHops),
        corpus, qs)
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= FilteredK)
      .select(lit("routed").as("mode"), col("qid"), col("qlabel"),
        col("vec_id"), col("cos"), col("rnk"))
    // strict: matching-only visibility — filtered entries, and the
    // SAME audited hop with the label predicate dropping neighbors
    // before the visited fold
    val cellEntryF = assignCellsFrom(corpus, cents)
      .groupBy(col("cid"), col("label")).agg(min(col("vec_id")).as("vec_id"))
    val entriesF = ivfProbesOf(qs.select(col("qid"), col("qv")), cents, nprobe = 2)
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), Seq("qid"))
      .join(broadcast(cellEntryF),
        col("pcid") === col("cid") && col("qlabel") === col("label"))
      .select(col("qid"), col("vec_id")).distinct()
    val strictCand = graphWalk(corpus, edges, qs, cents,
      entries = Some(entriesF),
      nbrPred = Some(col("nbr_label") === col("qlabel")))(GraphHops)
    val strict = strictCand
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), Seq("qid"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= FilteredK)
      .select(lit("strict").as("mode"), col("qid"), col("qlabel"),
        col("vec_id"), col("cos"), col("rnk"))
    // exact filtered ground truth (evaluation leg): brute-force
    // cosine over the matching corpus, per query
    val truth = corpus
      .join(broadcast(qs))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("tcos"))
      .withColumn("trk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("qid")).orderBy(col("tcos").desc, col("vec_id"))))
      .filter(col("trk") <= FilteredK)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    routed.unionByName(strict)
      .join(truth, Seq("qid", "vec_id"), "left")
      .select(col("mode"), col("qid"), col("qlabel"), col("vec_id"),
        col("cos"), col("rnk"), coalesce(col("hit"), lit(0)).as("hit"))
      .orderBy("mode", "qid", "rnk")
  }

  /** The quantized basis WITH the filter attribute — shared by s15's
    * filtered IVF read and s36's filtered graph search (exposed for
    * the k-scaled stress harness).
    */
  private[graft] def labeledQuantized(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), col("label"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))").as("q"))

  private def s36GraphFiltered(s: SparkSession, d: String): DataFrame = {
    val base = labeledQuantized(s, d)
    s36From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  /** Strict-traversal hop CTEs: [[graphHopOracleCtes]] with the
    * label-visibility predicate on the neighbor expansion. Needs
    * `w0$sfx`, `$gedge(src, nbr, nbr_q, nbr_label)`, `$qv(qid, q)`
    * and `qlab(qid, qlabel)` in scope.
    */
  private def strictHopOracleCtes(sfx: String, gedge: String,
      qv: String): String =
    graphHopOracleCtes(sfx, gedge, qv,
      extraJoin = "\n    JOIN qlab l ON l.qid = f.qid",
      gedgePred = " AND e.nbr_label = l.qlabel")

  private val s36Oracle: String = {
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |corp AS (
       |  SELECT a.vec_id, a.q, a.cid, b.label
       |  FROM a3 a JOIN base b ON b.vec_id = a.vec_id WHERE a.vec_id >= 5),
       |$gedgeOracleCtes,
       |gedgel AS (
       |  SELECT e.src, e.nbr, e.nbr_q, c.label AS nbr_label
       |  FROM gedge e JOIN corp c ON c.vec_id = e.nbr),
       |qv AS (SELECT vec_id AS qid, q FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |${entryOracleCte("_r", "probes", "cmin", "corp", "qv")},
       |${graphHopOracleCtes("_r", "gedgel", "qv")},
       |rtop AS (
       |  SELECT qid, qlabel, vec_id, cos, rnk FROM (
       |    SELECT w.qid, l.qlabel, w.vec_id, w.cos,
       |           row_number() OVER (PARTITION BY w.qid
       |             ORDER BY w.cos DESC, w.vec_id) AS rnk
       |    FROM w${GraphHops}_r w
       |    JOIN corp c ON c.vec_id = w.vec_id
       |    JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
       |  WHERE rnk <= $FilteredK),
       |cminf AS (
       |  SELECT cid, label, min(vec_id) AS vec_id FROM corp GROUP BY cid, label),
       |w0_s AS (
       |  SELECT e.qid, e.vec_id,
       |         list_cosine_similarity(nb.q::DOUBLE[], qv.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p
       |        JOIN qlab l ON l.qid = p.qid
       |        JOIN cminf m ON m.cid = p.cid AND m.label = l.qlabel) e
       |  JOIN corp nb ON nb.vec_id = e.vec_id
       |  JOIN qv ON qv.qid = e.qid),
       |${strictHopOracleCtes("_s", "gedgel", "qv")},
       |stop AS (
       |  SELECT qid, qlabel, vec_id, cos, rnk FROM (
       |    SELECT w.qid, l.qlabel, w.vec_id, w.cos,
       |           row_number() OVER (PARTITION BY w.qid
       |             ORDER BY w.cos DESC, w.vec_id) AS rnk
       |    FROM w${GraphHops}_s w
       |    JOIN qlab l ON l.qid = w.qid)
       |  WHERE rnk <= $FilteredK),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.q::DOUBLE[], qv.q::DOUBLE[]) DESC,
       |                      c.vec_id) AS trk
       |    FROM corp c
       |    JOIN qlab l ON c.label = l.qlabel
       |    JOIN qv ON qv.qid = l.qid)
       |  WHERE trk <= $FilteredK)
       |SELECT r.mode, r.qid, CAST(r.qlabel AS INT) AS qlabel, r.vec_id, r.cos,
       |       CAST(r.rnk AS INT) AS rnk,
       |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |FROM (
       |  SELECT 'routed' AS mode, qid, qlabel, vec_id, cos, rnk FROM rtop
       |  UNION ALL
       |  SELECT 'strict', qid, qlabel, vec_id, cos, rnk FROM stop) r
       |LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
       |ORDER BY r.mode, r.qid, r.rnk""".stripMargin
  }

  // ---- s37: compressed-traversal graph search + exact rerank ---------------

  /** Candidates whose full-precision vectors the rerank "fetches from
    * disk" — the s6 refine width.
    */
  private[ops] val QuantFetch = 20

  /** The compressed stored index: the full-precision kNN topology
    * (offline, s19's stance) with ONLY the neighbors' int8 codes
    * beside it, pinned. `corpus` carries (vec_id, q, q8).
    */
  private[ops] def int8Edges(corpus: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame =
    knnEdges(corpus.select(col("vec_id"), col("q")), cents, GraphDegree)
      .select(col("src"), col("nbr_id"))
      .join(corpus.select(col("vec_id").as("nbr_id"), col("q8").as("nbr_q8")),
        Seq("nbr_id"))
      .select(col("src"), col("nbr_id"), col("nbr_q8"))
      .localCheckpoint(true)

  /** The routed policy's predicate at candidate selection (s36):
    * keep the visited candidates whose `label` in `corpus` matches
    * their query's `qlabel` — non-matching nodes still carried the
    * walk.
    */
  private def routedMatches(cand: DataFrame, corpus: DataFrame,
      qs: DataFrame): DataFrame =
    cand
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), Seq("qid"))
      .filter(col("label") === col("qlabel"))

  /** The full-precision fetch + exact rerank (s6's refine shape): each
    * query's top-[[QuantFetch]] candidates by `dot8` join their float
    * vectors `v` from `vecs` — ONE id-keyed join bounded by the result
    * size, never by the walk — and rank by exact cosine against the
    * query's `qvf`, keeping ranks ≤ `k`.
    */
  private def fetchRerank(cand: DataFrame, vecs: DataFrame, qs: DataFrame,
      k: Int): DataFrame = {
    val wFetch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot8").desc, col("vec_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .withColumn("crk", row_number().over(wFetch))
      .filter(col("crk") <= QuantFetch)
      .join(vecs.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(qs.select(col("qid"), col("qvf"))), Seq("qid"))
      .withColumn("cos", VectorFunctions.cosine_similarity(col("qvf"), col("v")))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
  }

  /** Exact filtered ground truth (the evaluation leg, not the serving
    * path): brute-force cosine of the float basis `v` against `qvf`
    * over the label-matching corpus — each query's top-[[FilteredK]]
    * (qid, vec_id).
    */
  private def filteredTruth(corpus: DataFrame, qs: DataFrame): DataFrame =
    corpus
      .join(broadcast(qs))
      .filter(col("label") === col("qlabel"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("v"), col("qvf")).as("tcos"))
      .withColumn("trk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("qid")).orderBy(col("tcos").desc, col("vec_id"))))
      .filter(col("trk") <= FilteredK)
      .select(col("qid"), col("vec_id"))

  /** DiskANN's actual serving trick (Subramanya et al., NeurIPS
    * 2019): the beam walk never touches full-precision data — hops
    * score COMPRESSED neighbor vectors held beside the adjacency
    * (here s5's absmax int8; DiskANN uses PQ), and only the final
    * top-[[QuantFetch]] candidate list pays a full-precision fetch
    * for the exact rerank. This is what makes a billion-vector graph
    * index servable: the hot loop reads 8× fewer bytes per neighbor
    * (int8 vs the double working type) and the expensive exact math
    * runs on [[QuantFetch]] rows per query instead of
    * hops × beam × degree.
    *
    * The graph family's missing compression member: IVF already has
    * the coarse-quantized scan (s6), ADC (s9) and the funnel (s25);
    * this gives the walk itself the same treatment — s28 re-read
    * with int8 hop arithmetic and an s6-shaped refine tail.
    *
    * Scale shape: s28's contract verbatim (corpus never shuffles per
    * hop, one broadcast join per hop against the pinned compressed
    * edge table, qid-keyed windows over frontier-bounded frames) plus
    * the rerank: ONE id-keyed join of the queries×[[QuantFetch]]-row
    * candidate list against the full-precision corpus — the "SSD
    * fetch", bounded by the result size, never by the walk.
    *
    * Determinism: hop scores are integer dot products (≤ 64·127² per
    * term — exact in BIGINT both engines), the rerank is one IEEE
    * cosine per fetched candidate with vec_id tie-breaks on every
    * window — the oracle replays the walk hop-for-hop.
    */
  private[graft] def s37From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    // int8 codes beside the float basis (s5's absmax quantization)
    val coded = withQ8(base)
    val corpus = coded.filter(col("vec_id") >= 5)
    val qs = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("q8").as("qq8"), col("v").as("qvf"))
      .localCheckpoint(true)
    // the SAME audited walk, int8 hop arithmetic (probes still select
    // entry cells on the build basis `qv`)
    val cand = graphWalk(corpus, int8Edges(corpus, cents),
      qs.select(col("qid"), col("qv"), col("qq8")), cents, score = Int8Walk)(GraphHops)
    fetchRerank(cand, corpus, qs, GraphK)
      .select("qid", "vec_id", "dot8", "cos", "rnk")
      .orderBy("qid", "rnk")
  }

  /** s37's input frame — float basis + quantized build basis
    * (exposed for the k-scaled stress harness).
    */
  private[graft] def s37BaseOf(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), col("v"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))").as("q"))

  private def s37GraphQuant(s: SparkSession, d: String): DataFrame = {
    val base = s37BaseOf(s, d)
    s37From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  /** Int8-scored hop CTEs — [[graphHopOracleCtes]] with the dot8
    * arithmetic. Needs `w0$sfx(qid, vec_id, dot8)`,
    * `$gedge8(src, nbr, nbr_q8)` and `qv8(qid, q8)` in scope.
    */
  private def quantHopOracleCtes(sfx: String, gedge8: String,
      beam: Int = GraphBeam, hops: Int = GraphHops): String =
    graphHopOracleCtes(sfx, gedge8, "qv8", hops = hops,
      scoreCol = "dot8",
      scoreSel = (n, q) => s"CAST(list_sum(list_transform(generate_series(1, 64), i -> $n[i] * $q.q8[i])) AS BIGINT)",
      nbrVec = "nbr_q8",
      beam = beam)

  private val s37Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |corp AS (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |w0_c AS (
       |  SELECT e.qid, e.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cmin m ON m.cid = p.cid) e
       |  JOIN quant8 qt ON qt.vec_id = e.vec_id
       |  JOIN qv8 q8 ON q8.qid = e.qid),
       |${quantHopOracleCtes("_c", "gedge8")},
       |cfet AS (
       |  SELECT qid, vec_id, dot8 FROM (
       |    SELECT qid, vec_id, dot8,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY dot8 DESC, vec_id) AS crk
       |    FROM w${GraphHops}_c) WHERE crk <= $QuantFetch)
       |SELECT qid, vec_id, dot8, cos, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT f.qid, f.vec_id, f.dot8,
       |         list_cosine_similarity(qvf.v, b.v) AS cos,
       |         row_number() OVER (PARTITION BY f.qid
       |           ORDER BY list_cosine_similarity(qvf.v, b.v) DESC, f.vec_id) AS rnk
       |  FROM cfet f
       |  JOIN base b ON b.vec_id = f.vec_id
       |  JOIN qvf ON qvf.qid = f.qid)
       |WHERE rnk <= $GraphK ORDER BY qid, rnk""".stripMargin

  // ---- s38: the full graph serving path (filter + compression + rerank) ---

  /** The configuration a production vector store ACTUALLY serves —
    * filtered, compressed, rescored — as one declarative plan: the
    * s28 walk routes over the label-blind graph on int8 codes (s37's
    * compressed traversal), the predicate applies at candidate
    * selection (s36's routed policy — non-matching nodes carry the
    * frontier), and only the matching top-[[QuantFetch]] pay the
    * full-precision fetch for the exact-cosine rerank (s6's refine
    * tail). Each stack member was gated alone (s36: filter policy
    * beats strict; s37: compression + rerank; s28: the walk); this
    * gate proves the COMPOSITION — the per-row `hit` flags against
    * exact filtered ground truth show the assembled path still
    * serves its predicate.
    *
    * Scale shape: the union of its members' contracts, nothing new —
    * broadcast-only hops over the pinned compressed edge table,
    * qid-keyed selection windows, ONE bounded id-keyed fetch join,
    * and the broadcast truth-evaluation scan. The serving cost stays
    * corpus-independent (hops × beam × degree int8 reads + 20
    * full-precision fetches per query) with the filter riding as a
    * selection predicate — the reason the routed policy wins at
    * scale: selectivity never fragments the graph.
    *
    * Determinism: integer hop scores, exact label equality, one IEEE
    * cosine per fetched candidate, vec_id tie-breaks — the oracle
    * replays the walk hop-for-hop and the whole tail.
    */
  private[graft] def s38From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val coded = withQ8(base)
    val corpus = coded.filter(col("vec_id") >= 5)
    val qs = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("q8").as("qq8"), col("v").as("qvf"), col("label").as("qlabel"))
      .localCheckpoint(true)
    // routed + compressed: the ONE audited walk over the label-blind
    // int8 index, no visibility predicate — the filter applies at
    // selection
    val cand = graphWalk(corpus, int8Edges(corpus, cents),
      qs.select(col("qid"), col("qv"), col("qq8")), cents, score = Int8Walk)(GraphHops)
    fetchRerank(routedMatches(cand, corpus, qs), corpus, qs, FilteredK)
      .join(filteredTruth(corpus, qs).withColumn("hit", lit(1)),
        Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("qlabel"), col("vec_id"), col("dot8"),
        col("cos"), col("rnk"), coalesce(col("hit"), lit(0)).as("hit"))
      .orderBy("qid", "rnk")
  }

  /** s38's input frame — float basis + label + quantized build basis
    * (exposed for the k-scaled stress harness).
    */
  private[graft] def serveBaseOf(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), col("label"), col("v"),
      expr("transform(v, x -> CAST(floor(x * 1000) AS DOUBLE))").as("q"))

  private def s38GraphServe(s: SparkSession, d: String): DataFrame = {
    val base = serveBaseOf(s, d)
    s38From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s38Oracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |corp AS (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |w0_v AS (
       |  SELECT e.qid, e.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cmin m ON m.cid = p.cid) e
       |  JOIN quant8 qt ON qt.vec_id = e.vec_id
       |  JOIN qv8 q8 ON q8.qid = e.qid),
       |${quantHopOracleCtes("_v", "gedge8")},
       |cfetv AS (
       |  SELECT qid, qlabel, vec_id, dot8 FROM (
       |    SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
       |           row_number() OVER (PARTITION BY w.qid
       |             ORDER BY w.dot8 DESC, w.vec_id) AS crk
       |    FROM w${GraphHops}_v w
       |    JOIN base c ON c.vec_id = w.vec_id
       |    JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
       |  WHERE crk <= $QuantFetch),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK)
       |SELECT r.qid, CAST(r.qlabel AS INT) AS qlabel, r.vec_id, r.dot8, r.cos,
       |       CAST(r.rnk AS INT) AS rnk,
       |       CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |FROM (
       |  SELECT f.qid, f.qlabel, f.vec_id, f.dot8,
       |         list_cosine_similarity(qvf.v, b.v) AS cos,
       |         row_number() OVER (PARTITION BY f.qid
       |           ORDER BY list_cosine_similarity(qvf.v, b.v) DESC, f.vec_id) AS rnk
       |  FROM cfetv f
       |  JOIN base b ON b.vec_id = f.vec_id
       |  JOIN qvf ON qvf.qid = f.qid) r
       |LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
       |WHERE r.rnk <= $FilteredK
       |ORDER BY r.qid, r.rnk""".stripMargin

  // ---- s39: the assembled serving path FROM THE STORED INDEX --------------

  /** Bootstrap the stored SERVE index at `idxDir` unless present —
    * s33/s34's bootstrap extended with the serving layout: the node
    * table keeps label + full-precision vector + build basis + int8
    * codes, and the versioned edge table persists the int8 codes
    * BESIDE the adjacency (`nbr_q8` next to the maintenance basis
    * `nbr_q`/`cos` — DiskANN's on-disk layout: compressed codes hot
    * with the topology, full precision cold in the node table; parquet
    * column pruning means the serve path reads only `src`, `nbr_id`,
    * `nbr_q8` while maintenance reads only its own columns). Codes are
    * stored at the BIGINT width the hop arithmetic needs; their values
    * are int8 (−127..127), which parquet bit-packs to near-byte width
    * on disk. Returns the collected codebook.
    */
  private[graft] def graphBootstrapServe(s: SparkSession, d: String,
      idxDir: String, k: Int): Array[(Long, Seq[Double], Long)] = {
    if (!new java.io.File(s"$idxDir/nodes").isDirectory)
      graft.IndexSeed.seed(s"graph-serve|$d|$k", idxDir) { dir =>
        val base = serveBaseOf(s, d)
        saveCodebook(trainCodebook(base, iters = 2, k = k), s"$dir/codebook")
        val cents0 = collectCents(loadCodebook(s, s"$dir/codebook"))
        val corpus = withQ8(base.filter(col("vec_id") >= 5))
          .select(col("vec_id"), col("label"), col("v"), col("q"), col("q8"))
          .localCheckpoint(true)
        corpus.write.mode("overwrite").parquet(s"$dir/nodes")
        // label-blind full-precision topology (s19/s36's stance: one
        // graph serves every predicate), codes attached beside it
        knnEdges(corpus.select(col("vec_id"), col("q")), cents0, GraphDegree)
          .select(col("src"), col("nbr_id"), col("nbr_q"), col("cos"))
          .join(corpus.select(col("vec_id").as("nbr_id"), col("q8").as("nbr_q8")),
            Seq("nbr_id"))
          .select(col("src"), col("nbr_id"), col("nbr_q"), col("nbr_q8"), col("cos"))
          .withColumn("ver", lit(0L))
          .write.mode("overwrite").parquet(s"$dir/edges")
        pinK(dir, k)
      }
    pinK(idxDir, k)
    collectCents(loadCodebook(s, s"$idxDir/codebook"))
  }

  /** One serve of the s38 configuration from the stored index: ONE
    * [[graphLiveEdges]] resolve (max-version fold + broadcast
    * tombstone masks) projected to the serving columns, the audited
    * walk on int8 hop arithmetic, the routed predicate at candidate
    * selection, the bounded full-precision fetch from the live node
    * table, the exact rerank, and per-row `hit` flags against exact
    * filtered ground truth over the LIVE corpus.
    */
  private[graft] def s39ServePass(s: SparkSession, idxDir: String, qs: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val nodes = graphLiveNodes(s, idxDir).localCheckpoint(true)
    val edges8 = graphLiveEdges(s, idxDir, Seq("nbr_q8")).localCheckpoint(true)
    val cand = graphWalk(nodes, edges8,
      qs.select(col("qid"), col("qv"), col("qq8")), cents, score = Int8Walk)(GraphHops)
    fetchRerank(routedMatches(cand, nodes, qs), nodes, qs, FilteredK)
      .join(filteredTruth(nodes, qs).withColumn("hit", lit(1)),
        Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("qlabel"), col("vec_id"), col("dot8"),
        col("cos"), col("rnk"), coalesce(col("hit"), lit(0)).as("hit"))
  }

  /** The round-18 verdict's missing weld: a production vector store
    * serves s38's configuration — routed predicate + compressed hops
    * + exact rerank — FROM the maintained on-disk index, not from an
    * in-gate build. This gate drives exactly that lifecycle against
    * s33/s34's storage layout: bootstrap the stored serve index
    * ([[graphBootstrapServe]] — int8 codes persisted beside the
    * versioned adjacency), SERVE (phase 0), then a delete batch
    * lands s34-style (the served rank-1 ids — the unfakeable flip —
    * plus the [[GraphDeleteMod]] modulus slice; tombstones append
    * FIRST, then the [[graphDeleteCore]] repair layer under a bumped
    * version, codes re-attached from the node table), and SERVE
    * again (phase 1) — the same one-resolve read path now masking
    * tombstoned sources/targets and folding the repair layer, with a
    * require() that no dead id surfaces. Delivery/idempotency
    * mechanics are s33/s34's gated territory; this gate's claim is
    * the serving weld.
    *
    * Scale shape: the serve path reads `src`/`nbr_id`/`nbr_q8` ONLY
    * (column-pruned resolve — one src-keyed version fold, tombstone
    * masks broadcast), hops are broadcast joins of the frontier
    * against that pinned resolve, the fetch is one id-keyed
    * queries×[[QuantFetch]]-row join against the node table, and the
    * delete tail is s34's (delta-sized tombstones broadcast,
    * degree²-bounded repair). Nothing new shuffles; the composition
    * is the point.
    *
    * Determinism: s37's integer hop dots + s36's exact label
    * equality + one IEEE cosine per fetched candidate, vec_id
    * tie-breaks throughout — the oracle replays both phases
    * hop-for-hop including the delete tail.
    */
  private def s39GraphServeStored(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s39-idx-")
    try s39WithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  /** The serve-path query frame (qid, qv, qq8, qvf, qlabel) — shared
    * by the gate, the spec and the k-scaled stress harness.
    */
  private[graft] def s39QueriesOf(s: SparkSession, d: String): DataFrame =
    withQ8(serveBaseOf(s, d).filter(col("vec_id") < 5))
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("q8").as("qq8"),
        col("v").as("qvf"), col("label").as("qlabel"))

  private[graft] def s39WithDir(s: SparkSession, d: String, idxDir: String,
      k: Int = 8): DataFrame = {
    val cents = graphBootstrapServe(s, d, idxDir, k)
    val qs = s39QueriesOf(s, d).localCheckpoint(true)
    val srv0 = s39ServePass(s, idxDir, qs, cents).localCheckpoint(true)
    // the delete batch: what the index just SERVED (rank-1 per query)
    // plus the modulus slice — delete-batch-sized control plane
    val top1 = srv0.filter(col("rnk") === 1)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val modIds = s.read.parquet(s"$idxDir/nodes")
      .filter(col("vec_id") % GraphDeleteMod === GraphDeleteRem)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val deadIds = (top1 ++ modIds).distinct.sorted.toSeq
    import s.implicits._
    val dead = deadIds.toDF("dead_id").localCheckpoint(true)
    // repair computed against the PRE-delete stored state and pinned
    // BEFORE the tombstones land (s34's crash ordering: the tombstone
    // table is the correctness layer, the repair only restores degree)
    val nodes0 = graphLiveNodes(s, idxDir).localCheckpoint(true)
    val repaired = graphDeleteCore(nodes0.select(col("vec_id"), col("q")),
      graphLiveEdges(s, idxDir).localCheckpoint(true), dead)
      .localCheckpoint(true)
    dead.write.mode("append").parquet(s"$idxDir/tombs")
    // MOR rewrite of the touched adjacency only — maintenance basis
    // AND serving codes re-attached from the node table (broadcast)
    val ver1 = s.read.parquet(s"$idxDir/edges")
      .agg(max(col("ver"))).head.getLong(0) + 1
    nodes0.select(col("vec_id").as("nbr_id"), col("q").as("nbr_q"),
        col("q8").as("nbr_q8"))
      .join(broadcast(repaired.drop("rnk")), Seq("nbr_id"))
      .select(col("src"), col("nbr_id"), col("nbr_q"), col("nbr_q8"), col("cos"))
      .withColumn("ver", lit(ver1))
      .write.mode("append").parquet(s"$idxDir/edges")
    val srv1 = s39ServePass(s, idxDir, qs, cents).localCheckpoint(true)
    val deadSet = deadIds.toSet
    require(srv1.select(col("vec_id")).collect().forall(r => !deadSet(r.getLong(0))),
      "stored serve after delete surfaced a tombstoned id")
    srv0.withColumn("phase", lit(0))
      .unionByName(srv1.withColumn("phase", lit(1)))
      .select(col("phase"), col("qid"), col("qlabel"), col("vec_id"),
        col("dot8"), col("cos"), col("rnk"), col("hit"))
      .orderBy("phase", "qid", "rnk")
  }

  private val s39Oracle: String = {
    def fetchCte(name: String, walk: String): String =
      s"""$name AS (
         |  SELECT qid, qlabel, vec_id, dot8 FROM (
         |    SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
         |           row_number() OVER (PARTITION BY w.qid
         |             ORDER BY w.dot8 DESC, w.vec_id) AS crk
         |    FROM $walk w
         |    JOIN base c ON c.vec_id = w.vec_id
         |    JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
         |  WHERE crk <= $QuantFetch)""".stripMargin
    def serveCte(name: String, fetch: String, truth: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT r.qid, r.qlabel, r.vec_id, r.dot8, r.cos, r.rnk,
         |         CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM (
         |    SELECT f.qid, f.qlabel, f.vec_id, f.dot8,
         |           list_cosine_similarity(qvf.v, b.v) AS cos,
         |           row_number() OVER (PARTITION BY f.qid
         |             ORDER BY list_cosine_similarity(qvf.v, b.v) DESC, f.vec_id) AS rnk
         |    FROM $fetch f
         |    JOIN base b ON b.vec_id = f.vec_id
         |    JOIN qvf ON qvf.qid = f.qid) r
         |  LEFT JOIN $truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
         |  WHERE r.rnk <= $FilteredK)""".stripMargin
    def truthCte(name: String, extraPred: String): String =
      s"""$name AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT l.qid, c.vec_id,
         |           row_number() OVER (PARTITION BY l.qid
         |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
         |                      c.vec_id) AS trk
         |    FROM base c
         |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5$extraPred
         |    JOIN qvf ON qvf.qid = l.qid)
         |  WHERE trk <= $FilteredK)""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8_0 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cm0 AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |w0_p0 AS (
       |  SELECT e.qid, e.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cm0 m ON m.cid = p.cid) e
       |  JOIN quant8 qt ON qt.vec_id = e.vec_id
       |  JOIN qv8 q8 ON q8.qid = e.qid),
       |${quantHopOracleCtes("_p0", "gedge8_0")},
       |${fetchCte("cfet0", s"w${GraphHops}_p0")},
       |${truthCte("truth0", "")},
       |${serveCte("srv0", "cfet0", "truth0")},
       |dead AS MATERIALIZED (
       |  SELECT vec_id AS dead_id FROM srv0 WHERE rnk = 1
       |  UNION
       |  SELECT vec_id FROM corp WHERE vec_id % $GraphDeleteMod = $GraphDeleteRem),
       |intodead AS (
       |  SELECT e.src, e.nbr AS hub FROM gedge e
       |  WHERE e.nbr IN (SELECT dead_id FROM dead)
       |    AND e.src NOT IN (SELECT dead_id FROM dead)),
       |outofdead AS (
       |  SELECT e.src AS hub, e.nbr AS cand_id, e.nbr_q AS cand_q FROM gedge e
       |  WHERE e.src IN (SELECT dead_id FROM dead)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead)),
       |candd AS (
       |  SELECT c.src, c.cand_id AS nbr_id,
       |         list_cosine_similarity(c.cand_q::DOUBLE[], b.q::DOUBLE[]) AS cos
       |  FROM (SELECT DISTINCT i.src, o.cand_id, o.cand_q
       |        FROM intodead i JOIN outofdead o USING (hub)
       |        WHERE o.cand_id <> i.src) c
       |  JOIN base b ON b.vec_id = c.src),
       |aff AS (SELECT DISTINCT src FROM intodead),
       |surv AS (
       |  SELECT e.src, e.nbr AS nbr_id, e.cos FROM gedge e
       |  WHERE e.src IN (SELECT src FROM aff)
       |    AND e.nbr NOT IN (SELECT dead_id FROM dead)),
       |repg AS MATERIALIZED (
       |  SELECT src, nbr_id, cos, rnk FROM (
       |    SELECT src, nbr_id, cos,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, nbr_id) AS rnk FROM (
       |      SELECT src, nbr_id, max(cos) AS cos FROM (
       |        SELECT src, nbr_id, cos FROM surv
       |        UNION ALL
       |        SELECT src, nbr_id, cos FROM candd)
       |      GROUP BY src, nbr_id))
       |  WHERE rnk <= $GraphDegree),
       |g1_8 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, e.nbr_q8 FROM gedge8_0 e
       |  WHERE e.src NOT IN (SELECT dead_id FROM dead)
       |    AND e.src NOT IN (SELECT src FROM aff)
       |  UNION ALL
       |  SELECT r.src, r.nbr_id AS nbr, qt.q8 AS nbr_q8
       |  FROM repg r JOIN quant8 qt ON qt.vec_id = r.nbr_id),
       |cm1 AS (SELECT cid, min(vec_id) AS vec_id FROM corp
       |        WHERE vec_id NOT IN (SELECT dead_id FROM dead) GROUP BY cid),
       |w0_p1 AS (
       |  SELECT e.qid, e.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
       |  FROM (SELECT DISTINCT p.qid, m.vec_id
       |        FROM probes p JOIN cm1 m ON m.cid = p.cid) e
       |  JOIN quant8 qt ON qt.vec_id = e.vec_id
       |  JOIN qv8 q8 ON q8.qid = e.qid),
       |${quantHopOracleCtes("_p1", "g1_8")},
       |${fetchCte("cfet1", s"w${GraphHops}_p1")},
       |${truthCte("truth1", "\n      AND c.vec_id NOT IN (SELECT dead_id FROM dead)")},
       |${serveCte("srv1", "cfet1", "truth1")}
       |SELECT phase, qid, CAST(qlabel AS INT) AS qlabel, vec_id, dot8, cos,
       |       CAST(rnk AS INT) AS rnk, hit
       |FROM (
       |  SELECT 0 AS phase, qid, qlabel, vec_id, dot8, cos, rnk, hit FROM srv0
       |  UNION ALL
       |  SELECT 1, qid, qlabel, vec_id, dot8, cos, rnk, hit FROM srv1)
       |ORDER BY phase, qid, rnk""".stripMargin
  }

  // ---- s40: graph serving recall-vs-cost sweep (beam × nprobe) -------------

  /** The sweep grid: beam spans halving/doubling around the
    * registered [[GraphBeam]] = 16, nprobe spans the s20 ladder.
    */
  private[ops] val SweepBeams = Seq(16, 32, 64)
  private[ops] val SweepNprobes = Seq(1, 2, 4)

  /** The hops axis the round-19 verdict said s40's grid lacked — s43's
    * grid (declared here, before the s42 tuner's combined grid
    * references them at object init).
    */
  private[ops] val SweepHops = Seq(2, 4, 6)
  private[ops] val S43Beams = Seq(16, 64)

  /** s20's recall-vs-cost sweep, for the GRAPH serving path — the
    * tuning curve the round-18 verdict said the family lacked: the
    * 10× measurement showed the assembled serving path (s38) at
    * 14/25 recall under FIXED knobs (nprobe 2, beam 16), and a
    * production store scales beam/nprobe with the corpus. This gate
    * makes that decision a single oracle-checked result: the FULL
    * s38 configuration (int8 hops, routed predicate at selection,
    * bounded full-precision rerank) swept over beam ∈
    * [[SweepBeams]] × nprobe ∈ [[SweepNprobes]], each point reporting
    * `hits` (served rows in the exact filtered top-[[FilteredK]] —
    * recall@k against one shared ground-truth leg, ≤ 25) and `cands`
    * (the walk's final visited-set size — the serving cost the knobs
    * buy recall with: hops × beam × degree edge reads per query).
    *
    * Scale shape: ONE standing build (graph + codes, pinned) serves
    * all nine points; each point is the audited walk (broadcast-only
    * hops, qid-keyed windows) plus the bounded fetch — so the sweep
    * costs nine corpus-independent serves, exactly what lets a
    * deployment re-derive its operating point after a corpus shift
    * (the 10× harness runs this same sweep on the derivative; see
    * PLANS.md round 19). Probe selection is 5 control-plane rows per
    * point; the shared truth leg is the one evaluation scan.
    *
    * Determinism: s38's basis per point; the grid is static; the
    * oracle unrolls all nine walks.
    */
  /** One sweep point's knob triple and its measured outcome.
    * `refines` (the full-precision rows the exact rerank reads back —
    * QuantFetch-capped per query) is priced only when the sweep is
    * asked for it (s46's cross-family cost basis); the single-family
    * curves (s40/s42/s43) keep their published cands-only shape.
    */
  private[ops] final case class SweepPoint(beam: Int, nprobe: Int, hops: Int,
      hits: Long, cands: Long, served: Seq[(Long, Long, Int)],
      refines: Long = 0L)

  /** `f` over `items` as concurrent Spark jobs, results in item order.
    * Sweep points are independent serves over one pinned build whose
    * small stages alone cannot saturate the executors, so running
    * them one after another pays points × per-hop scheduling latency.
    * The pool is DEDICATED and sized to the items, not the
    * process-global fork-join pool: each task BLOCKS on Spark actions,
    * which on the shared pool would silently serialize the sweep on a
    * low-core host and starve any other global-EC user (and nesting a
    * global-EC Await inside another would deadlock). It is shut down
    * after the Await so its threads never outlive the call.
    */
  private[ops] def concurrently[T, A](items: Seq[T])(f: T => A): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(items.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try items.map(t => Future(f(t))).map(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  /** The sweep engine shared by s40 (beam × nprobe), s42 (the
    * auto-tuner serving from the same grid) and s43 (hops × beam):
    * ONE standing build (graph + codes, pinned), then each grid
    * point runs the FULL s38 serving configuration as a concurrent
    * Spark job, returning its recall (`hits`, against one shared
    * exact-filtered-truth leg), its cost (`cands`, the walk's final
    * visited-set size), and its served top-[[FilteredK]] rows.
    */
  private[ops] def graphSweepPoints(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)],
      grid: Seq[(Int, Int, Int)],
      withRefines: Boolean = false): Seq[SweepPoint] = {
    val coded = withQ8(base)
    val corpus = coded.filter(col("vec_id") >= 5).localCheckpoint(true)
    val qs = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("q8").as("qq8"), col("v").as("qvf"), col("label").as("qlabel"))
      .localCheckpoint(true)
    val edges8 = int8Edges(corpus, cents)
    val cellEntry = cellMinEntries(corpus.select(col("vec_id"), col("q")), cents)
      .localCheckpoint(true)
    // ONE shared exact-filtered-truth leg (the evaluation scan)
    val truthIds = filteredTruth(corpus, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // hop-prefix sharing: grid points that differ ONLY in hop count
    // are the SAME walk read at different depths, so each (beam,
    // nprobe) family walks ONCE to its deepest point, returning the
    // visited set at every requested depth, instead of re-walking the
    // shared prefix per point. The families run as concurrent Spark
    // jobs ([[concurrently]]); each point is internally deterministic
    // and the output keeps grid order.
    val byFam = grid.zipWithIndex
      .groupBy { case ((b, np, _), _) => (b, np) }.toSeq
    concurrently(byFam) { case ((b, np), pts) =>
      val snaps = graphWalk(corpus, edges8,
        qs.select(col("qid"), col("qv"), col("qq8")), cents,
        hops = pts.map(_._1._3).distinct,
        entries = Some(probeEntries(qs.select(col("qid"), col("qv")), cents,
          cellEntry, np)),
        score = Int8Walk, beam = b)
      pts.map { case ((_, _, h), idx) =>
        val cand = snaps(h)
        val matching = routedMatches(cand, corpus, qs)
        val served = fetchRerank(matching, corpus, qs, FilteredK)
          .select(col("qid"), col("vec_id"), col("rnk")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        val hits = served.count(t => truthIds((t._1, t._2)))
        // the refine read-back volume — priced only for the
        // cross-family cost basis (one tiny count over the
        // checkpointed visited set; the published single-family
        // curves never pay it)
        val refines =
          if (!withRefines) 0L
          else matching
            .groupBy(col("qid")).agg(count(lit(1)).as("n"))
            .collect()
            .map(r => math.min(QuantFetch.toLong, r.getAs[Long]("n"))).sum
        (idx, SweepPoint(b, np, h, hits.toLong, cand.count(), served.toSeq, refines))
      }
    }.flatten.sortBy(_._1).map(_._2)
  }

  private[graft] def s40From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    graphSweepPoints(base, cents,
      for (b <- SweepBeams; np <- SweepNprobes) yield (b, np, GraphHops))
      .map(p => (p.beam, p.nprobe, p.hits, p.cands))
      .toDF("beam", "nprobe", "hits", "cands").orderBy("beam", "nprobe")
  }

  private def s40ServeSweep(s: SparkSession, d: String): DataFrame = {
    val base = serveBaseOf(s, d)
    s40From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s40Oracle: String = {
    val pointCtes = (for (b <- SweepBeams; np <- SweepNprobes) yield {
      val sfx = s"_b${b}n$np"
      s"""e$sfx AS (
         |  SELECT DISTINCT p.qid, m.vec_id
         |  FROM probesr p JOIN cmin m ON m.cid = p.cid
         |  WHERE p.pr <= $np),
         |w0$sfx AS (
         |  SELECT e.qid, e.vec_id,
         |         CAST(list_sum(list_transform(generate_series(1, 64),
         |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
         |  FROM e$sfx e
         |  JOIN quant8 qt ON qt.vec_id = e.vec_id
         |  JOIN qv8 q8 ON q8.qid = e.qid),
         |${quantHopOracleCtes(sfx, "gedge8", beam = b)},
         |srv$sfx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT f.qid, f.vec_id,
         |           row_number() OVER (PARTITION BY f.qid
         |             ORDER BY list_cosine_similarity(qvf.v, b2.v) DESC, f.vec_id) AS rnk
         |    FROM (
         |      SELECT qid, qlabel, vec_id, dot8 FROM (
         |        SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
         |               row_number() OVER (PARTITION BY w.qid
         |                 ORDER BY w.dot8 DESC, w.vec_id) AS crk
         |        FROM w$GraphHops$sfx w
         |        JOIN base c ON c.vec_id = w.vec_id
         |        JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
         |      WHERE crk <= $QuantFetch) f
         |    JOIN base b2 ON b2.vec_id = f.vec_id
         |    JOIN qvf ON qvf.qid = f.qid)
         |  WHERE rnk <= $FilteredK),
         |pt$sfx AS (
         |  SELECT $b AS beam, $np AS nprobe,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM w$GraphHops$sfx) AS cands)""".stripMargin
    }).mkString(",\n")
    val unionAll = (for (b <- SweepBeams; np <- SweepNprobes)
      yield s"SELECT beam, nprobe, hits, cands FROM pt_b${b}n$np")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= ${SweepNprobes.max}),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK),
       |$pointCtes
       |SELECT beam, nprobe, hits, cands FROM (
       |  $unionAll)
       |ORDER BY beam, nprobe""".stripMargin
  }

  // ---- s42: recall-targeted auto-tune over the s40 curve -------------------

  /** The recall floor the tuner targets: hits ≥ 18 of the 25 exact
    * filtered top-[[FilteredK]] rows — the registered s38 recall band
    * (19-20/25), with one-hit slack for corpus shifts.
    */
  private[ops] val S42RecallFloor = 18L

  /** The combined tuning grid: s40's beam × nprobe plane (at the
    * registered 4 hops) UNION s43's hops axis (at the registered
    * nprobe 2), overlapping points deduplicated — 13 points. Both
    * measured axes are in the tuner's reach: the 10× tables proved
    * beam is the decisive recovery lever at scale and extra hops the
    * cheapest marginal recall on top of it — a tuner restricted to
    * one plane could never pick the measured-best (hops 6, beam 64).
    */
  private[ops] val S42Grid: Seq[(Int, Int, Int)] =
    ((for (b <- SweepBeams; np <- SweepNprobes) yield (b, np, GraphHops)) ++
      (for (h <- SweepHops; b <- S43Beams) yield (b, 2, h))).distinct

  /** The round-19 verdict's "auto-tuner over s40's curve": the sweeps
    * PRICE the knobs, but picking the operating point was still a
    * human reading a table — a deployment wants the point chosen
    * in-plan. This gate runs the combined [[S42Grid]] sweep (one
    * standing build, thirteen concurrent serves spanning BOTH
    * measured axes), then CHOOSES the cheapest (beam, nprobe, hops)
    * meeting [[S42RecallFloor]] — one row_number window over the
    * 13-row control-plane curve: points meeting the floor first,
    * cheapest visited-set cost among them; if NO point meets the
    * floor (a corpus this sweep cannot serve at target recall), the
    * best-recall point, cheapest first; grid order breaks exact
    * ties — and SERVES at the chosen point, emitting the choice row
    * (beam/nprobe/hops/hits/cands) with the point's served top-k
    * rows. The serve IS the sweep's own run of that point
    * (deterministic, one build): choosing re-reads 13 rows, never
    * re-walks.
    *
    * Scale shape: s40's (the sweep is the cost; the choice window is
    * 13 rows). Determinism: the curves are bit-stable (measured
    * across runs at both scales, PLANS.md rounds 19-20), the rule is
    * total, and the oracle replays all thirteen walks, the choice,
    * and the chosen point's serve.
    */
  private[graft] def s42From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val pts = graphSweepPoints(base, cents, S42Grid)
    val curve = pts.map(p => (p.beam, p.nprobe, p.hops, p.hits, p.cands))
      .toDF("beam", "nprobe", "hops", "hits", "cands")
    val meets = col("hits") >= lit(S42RecallFloor)
    val wChoice = org.apache.spark.sql.expressions.Window
      .orderBy(meets.desc,
        when(meets, col("cands")).otherwise(-col("hits")).asc,
        col("cands").asc, col("beam"), col("nprobe"), col("hops"))
    val chosen = curve.withColumn("pick", row_number().over(wChoice))
      .filter(col("pick") === 1).drop("pick")
    val served = pts
      .flatMap(p => p.served.map(r => (p.beam, p.nprobe, p.hops, r._1, r._2, r._3)))
      .toDF("beam", "nprobe", "hops", "qid", "vec_id", "rnk")
    served.join(broadcast(chosen), Seq("beam", "nprobe", "hops"))
      .select(col("beam"), col("nprobe"), col("hops"), col("hits"),
        col("cands"), col("qid"), col("vec_id"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  private def s42ServeAutotune(s: SparkSession, d: String): DataFrame = {
    val base = serveBaseOf(s, d)
    s42From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s42Oracle: String = {
    val pointCtes = (for ((b, np, h) <- S42Grid) yield {
      val sfx = s"_b${b}n${np}h$h"
      s"""e$sfx AS (
         |  SELECT DISTINCT p.qid, m.vec_id
         |  FROM probesr p JOIN cmin m ON m.cid = p.cid
         |  WHERE p.pr <= $np),
         |w0$sfx AS (
         |  SELECT e.qid, e.vec_id,
         |         CAST(list_sum(list_transform(generate_series(1, 64),
         |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
         |  FROM e$sfx e
         |  JOIN quant8 qt ON qt.vec_id = e.vec_id
         |  JOIN qv8 q8 ON q8.qid = e.qid),
         |${quantHopOracleCtes(sfx, "gedge8", beam = b, hops = h)},
         |srv$sfx AS (
         |  SELECT qid, vec_id, CAST(rnk AS INT) AS rnk FROM (
         |    SELECT f.qid, f.vec_id,
         |           row_number() OVER (PARTITION BY f.qid
         |             ORDER BY list_cosine_similarity(qvf.v, b2.v) DESC, f.vec_id) AS rnk
         |    FROM (
         |      SELECT qid, qlabel, vec_id, dot8 FROM (
         |        SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
         |               row_number() OVER (PARTITION BY w.qid
         |                 ORDER BY w.dot8 DESC, w.vec_id) AS crk
         |        FROM w$h$sfx w
         |        JOIN base c ON c.vec_id = w.vec_id
         |        JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
         |      WHERE crk <= $QuantFetch) f
         |    JOIN base b2 ON b2.vec_id = f.vec_id
         |    JOIN qvf ON qvf.qid = f.qid)
         |  WHERE rnk <= $FilteredK),
         |pt$sfx AS (
         |  SELECT $b AS beam, $np AS nprobe, $h AS hops,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM w$h$sfx) AS cands)""".stripMargin
    }).mkString(",\n")
    val curveUnion = (for ((b, np, h) <- S42Grid)
      yield s"SELECT beam, nprobe, hops, hits, cands FROM pt_b${b}n${np}h$h")
      .mkString("\n  UNION ALL\n  ")
    val servedUnion = (for ((b, np, h) <- S42Grid)
      yield s"SELECT $b AS beam, $np AS nprobe, $h AS hops, qid, vec_id, rnk FROM srv_b${b}n${np}h$h")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= ${SweepNprobes.max}),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK),
       |$pointCtes,
       |curve AS (
       |  $curveUnion),
       |choice AS (
       |  SELECT beam, nprobe, hops, hits, cands FROM (
       |    SELECT beam, nprobe, hops, hits, cands,
       |           row_number() OVER (ORDER BY
       |             (hits >= $S42RecallFloor) DESC,
       |             CASE WHEN hits >= $S42RecallFloor THEN cands
       |                  ELSE -hits END ASC,
       |             cands ASC, beam, nprobe, hops) AS pick
       |    FROM curve) WHERE pick = 1),
       |servall AS (
       |  $servedUnion)
       |SELECT c.beam, c.nprobe, c.hops, c.hits, c.cands, s.qid, s.vec_id, s.rnk
       |FROM servall s JOIN choice c
       |  ON c.beam = s.beam AND c.nprobe = s.nprobe AND c.hops = s.hops
       |ORDER BY s.qid, s.rnk""".stripMargin
  }

  // ---- s43: hops × beam sweep — pricing the OTHER recovery lever -----------

  /** s40's recall-vs-cost sweep over the walk's OTHER knob: hops ∈
    * [[SweepHops]] × beam ∈ [[S43Beams]] at the registered nprobe 2 —
    * one standing build, six concurrent serves of the full s38
    * configuration, each point reporting hits (recall@k against the
    * shared exact filtered truth) and cands (visited-set cost). With
    * s40 this completes the serving cost model: per query the walk
    * reads hops × beam × degree edges, and the two gates price both
    * factors independently, so a deployment recovering recall after a
    * corpus shift can choose the cheaper axis (the 10× harness runs
    * this same sweep on the derivative — the knob-recovery table's
    * second column).
    */
  private[graft] def s43From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    graphSweepPoints(base, cents,
      for (h <- SweepHops; b <- S43Beams) yield (b, 2, h))
      .map(p => (p.hops, p.beam, p.hits, p.cands))
      .toDF("hops", "beam", "hits", "cands").orderBy("hops", "beam")
  }

  private def s43HopsSweep(s: SparkSession, d: String): DataFrame = {
    val base = serveBaseOf(s, d)
    s43From(base, collectCents(trainCodebook(base, iters = 2)))
  }

  private val s43Oracle: String = {
    val pointCtes = (for (h <- SweepHops; b <- S43Beams) yield {
      val sfx = s"_h${h}b$b"
      s"""e$sfx AS (
         |  SELECT DISTINCT p.qid, m.vec_id
         |  FROM probesr p JOIN cmin m ON m.cid = p.cid
         |  WHERE p.pr <= 2),
         |w0$sfx AS (
         |  SELECT e.qid, e.vec_id,
         |         CAST(list_sum(list_transform(generate_series(1, 64),
         |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
         |  FROM e$sfx e
         |  JOIN quant8 qt ON qt.vec_id = e.vec_id
         |  JOIN qv8 q8 ON q8.qid = e.qid),
         |${quantHopOracleCtes(sfx, "gedge8", beam = b, hops = h)},
         |srv$sfx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT f.qid, f.vec_id,
         |           row_number() OVER (PARTITION BY f.qid
         |             ORDER BY list_cosine_similarity(qvf.v, b2.v) DESC, f.vec_id) AS rnk
         |    FROM (
         |      SELECT qid, qlabel, vec_id, dot8 FROM (
         |        SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
         |               row_number() OVER (PARTITION BY w.qid
         |                 ORDER BY w.dot8 DESC, w.vec_id) AS crk
         |        FROM w$h$sfx w
         |        JOIN base c ON c.vec_id = w.vec_id
         |        JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
         |      WHERE crk <= $QuantFetch) f
         |    JOIN base b2 ON b2.vec_id = f.vec_id
         |    JOIN qvf ON qvf.qid = f.qid)
         |  WHERE rnk <= $FilteredK),
         |pt$sfx AS (
         |  SELECT $h AS hops, $b AS beam,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM w$h$sfx) AS cands)""".stripMargin
    }).mkString(",\n")
    val unionAll = (for (h <- SweepHops; b <- S43Beams)
      yield s"SELECT hops, beam, hits, cands FROM pt_h${h}b$b")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= 2),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK),
       |$pointCtes
       |SELECT hops, beam, hits, cands FROM (
       |  $unionAll)
       |ORDER BY hops, beam""".stripMargin
  }

  // ---- s41: the IVF/PQ serving path FROM THE STORED INDEX ------------------

  /** Persist a trained PQ codebook — the `Int => Cb` function as rows
    * (m, cid, sv, n), ≤ [[pqM]]·[[pqK]] rows of exact integer-sum
    * doubles; one parquet file is the whole artifact (the coarse
    * codebook's [[saveCodebook]] stance, per subspace).
    */
  private[ops] def savePqCodebook(s: SparkSession, cb: Int => Cb,
      path: String): Unit = {
    import s.implicits._
    (0 until pqM).flatMap(m => cb(m).map { case (cid, sv, n) => (m, cid, sv, n) })
      .toDF("m", "cid", "sv", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rebuild the `Int => Cb` lookup from [[savePqCodebook]]'s rows —
    * doubles/longs roundtrip parquet exactly, and the per-subspace
    * sort restores [[pqTrain]]'s cid order, so a loaded codebook
    * scores bit-identically to the one that was saved.
    */
  private[ops] def loadPqCodebook(s: SparkSession, path: String): Int => Cb = {
    val rows = s.read.parquet(path).collect().map { r =>
      (r.getAs[Int]("m"),
        (r.getAs[Long]("cid"), r.getSeq[Double](r.fieldIndex("sv")),
          r.getAs[Long]("n")))
    }
    m => rows.filter(_._1 == m).map(_._2).sortBy(_._1)
  }

  /** Bootstrap the stored IVF-PQ SERVE index at `idxDir` unless
    * present — the s39 layout for the OTHER index family: the coarse
    * codebook and the per-subspace PQ codebook persist beside ONE
    * cell table carrying, per vector, the cell id + the [[pqM]] PQ
    * codes (the hot serving columns — FAISS `IndexIVFPQ`'s inverted
    * lists) AND the full-precision quantized vector (the cold refine
    * column — `IndexRefineFlat`'s store), split at read time by
    * parquet column pruning exactly like s39's edge/node tables. Rows
    * carry s22's monotone `ver` so the versioned-tombstone mask and
    * [[IndexCompaction.compactWithVersionedTombstones]] apply
    * unchanged — this is the same table s17 appends to, s21/s22
    * tombstone, and the compactor folds, now with the codes the
    * serving path scans. Cached pristine per JVM ([[graft.IndexSeed]]).
    */
  private[graft] def ivfBootstrapServe(s: SparkSession, d: String,
      idxDir: String, k: Int = 8): Unit = {
    if (!new java.io.File(s"$idxDir/cells").isDirectory)
      graft.IndexSeed.seed(s"ivf-serve|$d|$k", idxDir) { dir =>
        val base = quantized(s, d)
        saveCodebook(trainCodebook(base, iters = 2, k = k), s"$dir/codebook")
        val cents = collectCents(loadCodebook(s, s"$dir/codebook"))
        // trained on the FULL subvector frame (p5/s9's basis — the
        // query sample rides training, only storage excludes it)
        val pcb = pqTrain(pqSubs(s, d))
        savePqCodebook(s, pcb, s"$dir/pqcodebook")
        pqCodeCols(assignCellsFrom(pqSubCols(base), cents), pcb)
          .filter(col("vec_id") >= 5)
          .select(col("vec_id") +: col("q") +: col("cid") +:
            lit(0L).as("ver") +: (0 until pqM).map(m => col(s"c$m")): _*)
          .write.mode("overwrite").parquet(s"$dir/cells")
        pinK(dir, k)
      }
    pinK(idxDir, k)
  }

  /** One serve of p5's assembled configuration (IVF probe → PQ-ADC →
    * exact rerank) from the stored index: the hot scan reads cell id
    * + codes ONLY (column pruning — the 64-dim vectors never enter
    * the ADC stage), masked by s22's versioned broadcast tombstone
    * anti-join when unapplied tombstones exist; the ADC top-20 get
    * their full-precision rows back by an id-keyed broadcast join
    * against the SAME table's cold projection. The only exchanges
    * are the two qid-keyed top-k windows (p5's contract, preserved
    * against storage — plan-audited).
    */
  private[graft] def s41ServePass(s: SparkSession, idxDir: String,
      probes: DataFrame, luts: DataFrame, cbP: Int => Cb,
      qvecs: DataFrame, fetch: Int = 20): DataFrame = {
    val cellsPath = s"$idxDir/cells"
    val delsPath = s"$idxDir/dels"
    def masked(proj: DataFrame => DataFrame): DataFrame = {
      val cells = proj(s.read.parquet(cellsPath))
      if (IndexCompaction.dataFileCount(delsPath) > 0) {
        val tombs = s.read.parquet(delsPath)
          .groupBy("vec_id").agg(max(col("upto")).as("upto"))
        cells.join(broadcast(tombs),
          cells("vec_id") === tombs("vec_id") && cells("ver") < tombs("upto"),
          "left_anti")
      } else cells
    }
    val hot = masked(_.select(col("vec_id") +: col("cid") +: col("ver") +:
      (0 until pqM).map(m => col(s"c$m")): _*))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_score").desc, col("vec_id"))
    val adc20 = hot
      .join(broadcast(probes), col("cid") === col("pcid"))
      .join(broadcast(luts), Seq("qid"))
      .withColumn("adc_score", pqAdcScore(cbP))
      .withColumn("ar", row_number().over(wAdc)).filter(col("ar") <= fetch)
      .select(col("qid"), col("vec_id"), col("cid").as("cell"), col("adc_score"))
    val cold = masked(_.select(col("vec_id"), col("ver"), col("q"))).drop("ver")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cold
      .join(broadcast(adc20), Seq("vec_id"))
      .join(broadcast(qvecs), Seq("qid"))
      .withColumn("cos", VectorFunctions.cosine_similarity(col("q"), col("qv")))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"), col("cell"), col("adc_score"),
        col("cos"), col("rnk"))
  }

  /** The round-19 verdict's symmetric capstone: s39 welded the GRAPH
    * family's serving path to its maintained storage; this is the
    * same weld for the IVF/PQ family — p5's assembled read path
    * (probe → ADC → exact refine) served FROM the persisted
    * cell/code table that s17 appends to, s21/s22 tombstone, and
    * [[IndexCompaction]] folds, instead of from in-plan frames. The
    * lifecycle the gate drives: bootstrap ([[ivfBootstrapServe]] —
    * codes persisted beside the vectors, hot/cold split by column
    * pruning), SERVE (phase 0 — bit-identical to p5 by construction,
    * spec-asserted), then a delete batch lands s21-style (the served
    * rank-1 ids — the unfakeable flip — plus the [[GraphDeleteMod]]
    * modulus slice, appended as versioned tombstones with
    * upto = Long.MaxValue), SERVE again (phase 1 — the broadcast mask,
    * with a require() that no dead id surfaces), the compactor makes
    * the tombstones physical
    * ([[IndexCompaction.compactWithVersionedTombstones]] — forced
    * fold, tombstone table clears), and a final SERVE (phase 2) must
    * be bit-identical to phase 1 — required in-gate AND pinned by the
    * oracle (phase 2 replays phase 1's chain).
    *
    * Scale shape: p5's own contract against storage — the ADC stage
    * scans codes only (~nprobe/k of them per query through the
    * broadcast probe join; at 100 TB the cell table is additionally
    * partitioned by cid and [[IndexCompaction.compactPartitions]] is
    * the cadence driver), tombstones broadcast (delete-rate ×
    * compaction-cadence bounded), the refine is a 20-row-per-query
    * broadcast point-lookup against the cold column, and the only
    * exchanges anywhere are the two qid-keyed windows. Deletes cost
    * O(1) writes; compaction reads the table once at scan-task width.
    *
    * Determinism: every stage is p5's integer-exact machinery; the
    * delete set derives from phase 0's served rows; so all three
    * phases replay exactly in DuckDB.
    */
  private def s41IvfServeStored(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s41-idx-")
    try s41WithDir(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private[graft] def s41WithDir(s: SparkSession, d: String, idxDir: String,
      k: Int = 8): DataFrame = {
    ivfBootstrapServe(s, d, idxDir, k)
    val base = quantized(s, d)
    val cents = collectCents(loadCodebook(s, s"$idxDir/codebook"))
    val cbP = loadPqCodebook(s, s"$idxDir/pqcodebook")
    // the query-side control plane: probes, ADC LUTs, full-precision
    // query vectors — all ≤ 5-row frames, pinned once for all phases
    val probes = ivfProbes(base, cents, nprobe = 2)
      .select(col("qid"), col("pcid")).localCheckpoint(true)
    val luts = pqLuts(pqSubCols(base.filter(col("vec_id") < 5)), cbP)
      .localCheckpoint(true)
    val qvecs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv")).localCheckpoint(true)
    def serve(): DataFrame =
      s41ServePass(s, idxDir, probes, luts, cbP, qvecs).localCheckpoint(true)
    val srv0 = serve()
    // the delete batch: what the index just SERVED (rank-1 per query)
    // plus the modulus slice — delete-batch-sized control plane
    val top1 = srv0.filter(col("rnk") === 1)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val modIds = s.read.parquet(s"$idxDir/cells")
      .filter(col("vec_id") % GraphDeleteMod === GraphDeleteRem)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val deadIds = (top1 ++ modIds).distinct.sorted.toSeq
    import s.implicits._
    deadIds.map(id => (id, Long.MaxValue)).toDF("vec_id", "upto")
      .write.mode("append").parquet(s"$idxDir/dels")
    val srv1 = serve()
    val deadSet = deadIds.toSet
    require(srv1.select(col("vec_id")).collect().forall(r => !deadSet(r.getLong(0))),
      "stored IVF serve after delete surfaced a tombstoned id")
    // the compactor makes the mask physical; the serve must not see it
    require(IndexCompaction.compactWithVersionedTombstones(
      s, s"$idxDir/cells", s"$idxDir/dels", "vec_id", "ver"),
      "tombstones must force a fold")
    require(IndexCompaction.dataFileCount(s"$idxDir/dels") == 0,
      "applied tombstones must clear")
    val srv2 = serve()
    def rowsOf(df: DataFrame) = df.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    require(rowsOf(srv2) == rowsOf(srv1),
      "post-fold serve differs from the masked serve")
    srv0.withColumn("phase", lit(0))
      .unionByName(srv1.withColumn("phase", lit(1)))
      .unionByName(srv2.withColumn("phase", lit(2)))
      .select(col("phase"), col("qid"), col("vec_id"), col("cell"),
        col("adc_score"), col("cos"), col("rnk"))
      .orderBy("phase", "qid", "rnk")
  }

  private val s41Oracle: String = {
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    def srvCtes(sfx: String, deadPred: String): String =
      s"""cand$sfx AS (
         |  SELECT p.qid, x.vec_id, a.cid AS cell, x.m, x.cid AS code
         |  FROM codes x
         |  JOIN a3 a ON a.vec_id = x.vec_id
         |  JOIN probes p ON p.cid = a.cid
         |  WHERE x.vec_id >= 5$deadPred),
         |terms$sfx AS (
         |  SELECT c.qid, c.vec_id, c.cell, c.m,
         |         CAST(${pqDot8("q.sub", "cb.sv")} AS DOUBLE) / cb.n AS t
         |  FROM cand$sfx c
         |  JOIN pc1 cb ON cb.m = c.m AND cb.cid = c.code
         |  JOIN subs q ON q.m = c.m AND q.vec_id = c.qid),
         |piv$sfx AS (
         |  SELECT qid, vec_id, cell,
         |         $pivots
         |  FROM terms$sfx GROUP BY qid, vec_id, cell),
         |adc20$sfx AS (
         |  SELECT qid, vec_id, cell, adc_score FROM (
         |    SELECT qid, vec_id, cell, $total AS adc_score,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY $total DESC, vec_id) AS ar
         |    FROM piv$sfx) WHERE ar <= 20),
         |srv$sfx AS MATERIALIZED (
         |  SELECT qid, vec_id, cell, adc_score, cos, rnk FROM (
         |    SELECT a.qid, a.vec_id, a.cell, a.adc_score,
         |           list_cosine_similarity(b.q::DOUBLE[], qb.q::DOUBLE[]) AS cos,
         |           CAST(row_number() OVER (PARTITION BY a.qid
         |             ORDER BY list_cosine_similarity(b.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                      a.vec_id) AS INT) AS rnk
         |    FROM adc20$sfx a
         |    JOIN base b ON b.vec_id = a.vec_id
         |    JOIN base qb ON qb.vec_id = a.qid)
         |  WHERE rnk <= 5)""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$ivfProbeOracleCtes,
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |${srvCtes("_p0", "")},
       |dead AS MATERIALIZED (
       |  SELECT vec_id FROM srv_p0 WHERE rnk = 1
       |  UNION
       |  SELECT vec_id FROM a3
       |  WHERE vec_id >= 5 AND vec_id % $GraphDeleteMod = $GraphDeleteRem),
       |${srvCtes("_p1", "\n    AND x.vec_id NOT IN (SELECT vec_id FROM dead)")}
       |SELECT phase, qid, vec_id, cell, adc_score, cos, rnk FROM (
       |  SELECT 0 AS phase, qid, vec_id, cell, adc_score, cos, rnk FROM srv_p0
       |  UNION ALL
       |  SELECT 1, qid, vec_id, cell, adc_score, cos, rnk FROM srv_p1
       |  UNION ALL
       |  SELECT 2, qid, vec_id, cell, adc_score, cos, rnk FROM srv_p1)
       |ORDER BY phase, qid, rnk""".stripMargin
  }

  // ---- s44: recall-targeted auto-tune over the STORED IVF serve ------------

  /** The IVF serving path's two knobs, priced per point by the rows
    * each one buys recall with: `nprobe` (how many cells the probe
    * stage opens — the ADC code-scan volume) and `fetch` (how many
    * ADC winners the exact rerank refines — the full-precision
    * read-back volume). Together with s40/s43's beam/nprobe/hops this
    * completes the serving cost model for BOTH stored index families.
    */
  private[ops] val S44Fetches = Seq(5, 10, 20)
  private[ops] val S44Grid: Seq[(Int, Int)] =
    for (np <- SweepNprobes; f <- S44Fetches) yield (np, f)

  /** The recall floor the IVF tuner targets (hits of the 25 exact
    * unfiltered top-[[FilteredK]] rows) — set one hit under the
    * registered (nprobe 2, fetch 20) operating point's measured band,
    * the S42RecallFloor recipe on this family's curve.
    */
  private[ops] val S44RecallFloor = 18L

  /** One IVF sweep point's knobs and measured outcome. */
  private[ops] final case class IvfSweepPoint(nprobe: Int, fetch: Int,
      hits: Long, cands: Long, refines: Long, served: Seq[(Long, Long, Int)])

  /** The sweep engine for the IVF family's STORED serving path
    * (s42/s40's shape on the other index): ONE pristine bootstrap of
    * the s41 layout ([[ivfBootstrapServe]] — JVM-seeded, shared with
    * s41 itself), then each (nprobe, fetch) grid point runs the full
    * audited serve ([[s41ServePass]] — hot code scan, broadcast
    * probes/LUTs, bounded exact rerank) as a concurrent Spark job,
    * returning its recall (`hits`, against ONE shared brute-force
    * exact-truth leg — the serve's task is unfiltered top-k, so the
    * truth is too), its cost split by stage (`cands` = code rows the
    * ADC scan touches; `refines` = full-precision rows the rerank
    * reads back), and its served top-[[FilteredK]] rows.
    */
  private[ops] def ivfSweepPoints(s: SparkSession, d: String,
      idxDir: String, grid: Seq[(Int, Int)], k: Int = 8): Seq[IvfSweepPoint] = {
    ivfBootstrapServe(s, d, idxDir, k)
    val base = quantized(s, d)
    val cents = collectCents(loadCodebook(s, s"$idxDir/codebook"))
    val cbP = loadPqCodebook(s, s"$idxDir/pqcodebook")
    val luts = pqLuts(pqSubCols(base.filter(col("vec_id") < 5)), cbP)
      .localCheckpoint(true)
    val qvecs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv")).localCheckpoint(true)
    val wTruth = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val truthIds = base.filter(col("vec_id") >= 5)
      .join(broadcast(qvecs))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine_similarity(col("q"), col("qv")).as("cos"))
      .withColumn("trk", row_number().over(wTruth))
      .filter(col("trk") <= FilteredK)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent serves over ONE pristine stored build
    concurrently(grid) { case (np, f) =>
      val probes = ivfProbes(base, cents, nprobe = np)
        .select(col("qid"), col("pcid")).localCheckpoint(true)
      // the point's cost, read straight off the stored layout: the
      // per-query candidate counts give both stages' volumes (the
      // rerank reads min(fetch, |candidates|) rows per query)
      val perQ = s.read.parquet(s"$idxDir/cells").select(col("cid"))
        .join(broadcast(probes), col("cid") === col("pcid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n")).collect()
        .map(_.getAs[Long]("n"))
      val served = s41ServePass(s, idxDir, probes, luts, cbP, qvecs, fetch = f)
        .select(col("qid"), col("vec_id"), col("rnk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val hits = served.count(t => truthIds((t._1, t._2))).toLong
      IvfSweepPoint(np, f, hits, perQ.sum,
        perQ.map(n => math.min(f.toLong, n)).sum, served.toSeq)
    }
  }

  /** s42's auto-tuner for the IVF family's stored serving path — the
    * symmetric closure of the tuning story: s42 chooses the GRAPH
    * index's operating point in-plan; this gate does the same for the
    * persisted IVF/PQ index s41 serves from. It sweeps [[S44Grid]]
    * (nprobe × fetch, nine concurrent serves of the audited
    * [[s41ServePass]] over one pristine stored build), then CHOOSES
    * the cheapest point meeting [[S44RecallFloor]] — cost is the
    * rows the serve actually touches past the probe, `cands +
    * refines` (code scans + full-precision read-backs: the two
    * stages a stored IVF serve pays for) — one row_number window
    * over the 9-row control-plane curve: floor-meeting points first,
    * cheapest among them; if none meets the floor, best recall,
    * cheapest first; grid order breaks exact ties. It SERVES at the
    * chosen point, emitting the choice row with that point's served
    * top-k rows (the sweep's own deterministic run — choosing
    * re-reads 9 rows, never re-probes).
    *
    * Scale shape: the sweep is nine bounded serves over ONE stored
    * build (each is p5's contract against storage — code-only ADC
    * scan through broadcast probes, broadcast rerank); the truth leg
    * is the one evaluation scan; the choice window is 9 rows.
    * Determinism: every stage is s41's integer-exact machinery, the
    * grid is static, and the oracle replays all nine serves, the
    * choice, and the chosen point's rows.
    */
  private[graft] def s44From(s: SparkSession, d: String,
      idxDir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val pts = ivfSweepPoints(s, d, idxDir, S44Grid, k)
    val curve = pts.map(p => (p.nprobe, p.fetch, p.hits, p.cands, p.refines))
      .toDF("nprobe", "fetch_k", "hits", "cands", "refines")
    val cost = col("cands") + col("refines")
    val meets = col("hits") >= lit(S44RecallFloor)
    val wChoice = org.apache.spark.sql.expressions.Window
      .orderBy(meets.desc,
        when(meets, cost).otherwise(-col("hits")).asc,
        cost.asc, col("nprobe"), col("fetch_k"))
    val chosen = curve.withColumn("pick", row_number().over(wChoice))
      .filter(col("pick") === 1).drop("pick")
    val served = pts
      .flatMap(p => p.served.map(r => (p.nprobe, p.fetch, r._1, r._2, r._3)))
      .toDF("nprobe", "fetch_k", "qid", "vec_id", "rnk")
    served.join(broadcast(chosen), Seq("nprobe", "fetch_k"))
      .select(col("nprobe"), col("fetch_k"), col("hits"), col("cands"),
        col("refines"), col("qid"), col("vec_id"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  private def s44IvfServeAutotune(s: SparkSession, d: String): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory("graft-s44-idx-")
    try s44From(s, d, idx.toString)
    finally graft.Fs.deleteRecursively(idx)
  }

  private val s44Oracle: String = {
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    val pointCtes = (for ((np, f) <- S44Grid) yield {
      val sfx = s"_n${np}f$f"
      s"""cand$sfx AS (
         |  SELECT p.qid, x.vec_id, x.m, x.cid AS code
         |  FROM codes x
         |  JOIN a3 a ON a.vec_id = x.vec_id
         |  JOIN probesr p ON p.cid = a.cid AND p.pr <= $np
         |  WHERE x.vec_id >= 5),
         |terms$sfx AS (
         |  SELECT c.qid, c.vec_id, c.m,
         |         CAST(${pqDot8("q.sub", "cb.sv")} AS DOUBLE) / cb.n AS t
         |  FROM cand$sfx c
         |  JOIN pc1 cb ON cb.m = c.m AND cb.cid = c.code
         |  JOIN subs q ON q.m = c.m AND q.vec_id = c.qid),
         |piv$sfx AS (
         |  SELECT qid, vec_id,
         |         $pivots
         |  FROM terms$sfx GROUP BY qid, vec_id),
         |adc$sfx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY $total DESC, vec_id) AS ar
         |    FROM piv$sfx) WHERE ar <= $f),
         |srv$sfx AS MATERIALIZED (
         |  SELECT qid, vec_id, CAST(rnk AS INT) AS rnk FROM (
         |    SELECT a.qid, a.vec_id,
         |           row_number() OVER (PARTITION BY a.qid
         |             ORDER BY list_cosine_similarity(b.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
         |                      a.vec_id) AS rnk
         |    FROM adc$sfx a
         |    JOIN base b ON b.vec_id = a.vec_id
         |    JOIN base qb ON qb.vec_id = a.qid)
         |  WHERE rnk <= $FilteredK),
         |pt$sfx AS (
         |  SELECT $np AS nprobe, $f AS fetch_k,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM piv$sfx) AS cands,
         |         (SELECT count(*) FROM adc$sfx) AS refines)""".stripMargin
    }).mkString(",\n")
    val curveUnion = (for ((np, f) <- S44Grid)
      yield s"SELECT nprobe, fetch_k, hits, cands, refines FROM pt_n${np}f$f")
      .mkString("\n  UNION ALL\n  ")
    val servedUnion = (for ((np, f) <- S44Grid)
      yield s"SELECT $np AS nprobe, $f AS fetch_k, qid, vec_id, rnk FROM srv_n${np}f$f")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= ${SweepNprobes.max}),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT qb.vec_id AS qid, c.vec_id,
       |           row_number() OVER (PARTITION BY qb.vec_id
       |             ORDER BY list_cosine_similarity(c.q::DOUBLE[], qb.q::DOUBLE[]) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c, base qb
       |    WHERE c.vec_id >= 5 AND qb.vec_id < 5)
       |  WHERE trk <= $FilteredK),
       |$pointCtes,
       |curve AS (
       |  $curveUnion),
       |choice AS (
       |  SELECT nprobe, fetch_k, hits, cands, refines FROM (
       |    SELECT nprobe, fetch_k, hits, cands, refines,
       |           row_number() OVER (ORDER BY
       |             (hits >= $S44RecallFloor) DESC,
       |             CASE WHEN hits >= $S44RecallFloor THEN cands + refines
       |                  ELSE -hits END ASC,
       |             cands + refines ASC, nprobe, fetch_k) AS pick
       |    FROM curve) WHERE pick = 1),
       |servall AS (
       |  $servedUnion)
       |SELECT c.nprobe, c.fetch_k, c.hits, c.cands, c.refines, s.qid, s.vec_id, s.rnk
       |FROM servall s JOIN choice c ON c.nprobe = s.nprobe AND c.fetch_k = s.fetch_k
       |ORDER BY s.qid, s.rnk""".stripMargin
  }

  // ---- s45: the IVF family priced on the GRAPH family's task ---------------

  /** The missing common denominator between the two families'
    * published curves: s40/s42/s43 price the graph index and s44 the
    * stored IVF serve, but on DIFFERENT tasks (label-filtered vs
    * unfiltered top-k), so their recall-vs-cost rows were never
    * comparable. This sweep engine re-prices the IVF/PQ read path
    * (probe → routed label predicate → PQ-ADC → exact refine) on the
    * graph curves' task, against the SAME exact filtered truth leg —
    * each (nprobe, fetch) point reporting hits, `cands`
    * (label-matching code rows the ADC scores) and `refines`
    * (full-precision rows the rerank reads back). s46 makes the
    * cross-family comparison in-plan.
    *
    * Scale shape: the corpus never shuffles — cell assignment and PQ
    * codes are scan projections against broadcast literal codebooks,
    * probes are 5 control-plane rows per point, candidates flow
    * through one broadcast join with the label predicate applied at
    * selection (routed, s36's policy), the refine is fetch-bounded;
    * the only exchanges are the two qid-keyed windows, and the grid
    * points run as concurrent Spark jobs over one coded-corpus
    * checkpoint (graphSweepPoints's bounded-pool rationale).
    * Determinism: s9/p5's integer-exact ADC plus one IEEE division
    * per (query, subspace, centroid), full-precision rerank — both
    * engines replay every point bit-for-bit.
    */
  private[ops] def ivfFilteredSweepPoints(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)],
      cbP: Int => Cb, grid: Seq[(Int, Int)]): Seq[IvfSweepPoint] = {
    val corpus = ivfFilteredCorpus(base, cents, cbP).localCheckpoint(true)
    val qs = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q").as("qv"),
        col("v").as("qvf"), col("label").as("qlabel"))
      .localCheckpoint(true)
    val luts = pqLuts(pqSubCols(base.filter(col("vec_id") < 5)), cbP)
      .localCheckpoint(true)
    // ONE shared exact-filtered-truth leg — the graph sweep's
    val truthIds = filteredTruth(corpus, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    concurrently(grid) { case (np, f) =>
      val cand = ivfFilteredCand(corpus, qs, cents, np).localCheckpoint(true)
      val perQ = cand.groupBy(col("qid")).agg(count(lit(1)).as("n"))
        .collect().map(_.getAs[Long]("n"))
      val served = ivfFilteredServeFrom(cand, qs, luts, cbP, f)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val hits = served.count(t => truthIds((t._1, t._2))).toLong
      IvfSweepPoint(np, f, hits, perQ.sum,
        perQ.map(n => math.min(f.toLong, n)).sum, served.toSeq)
    }
  }

  /** The sweep's standing coded corpus: cell assignment + PQ codes as
    * scan projections against the literal codebooks (no shuffle, no
    * join — s4's recipe), carrying only what serving reads (id,
    * label, float basis for the rerank, cell, codes).
    */
  private[graft] def ivfFilteredCorpus(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], cbP: Int => Cb): DataFrame =
    pqCodeCols(assignCellsFrom(pqSubCols(base), cents), cbP)
      .filter(col("vec_id") >= 5)
      .select(col("vec_id") +: col("label") +: col("v") +: col("cid") +:
        (0 until pqM).map(m => col(s"c$m")): _*)

  /** One point's routed candidate frame — label predicate applied AT
    * selection (s36's policy): the coded corpus meets the broadcast
    * probes on cell id, then the broadcast 5-row query labels; no
    * corpus exchange. Exposed (with [[ivfFilteredServeFrom]]) so the
    * plan contract audits the exact composition the sweep collects.
    */
  private[graft] def ivfFilteredCand(corpus: DataFrame, qs: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], np: Int): DataFrame = {
    val probes = ivfProbesOf(qs.select(col("qid"), col("qv")), cents, np)
      .select(col("qid"), col("pcid"))
    corpus
      .join(broadcast(probes), col("cid") === col("pcid"))
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), Seq("qid"))
      .filter(col("label") === col("qlabel"))
  }

  /** The point's serve over a candidate frame: broadcast-LUT ADC
    * scoring, fetch-bounded selection, exact rerank — the two
    * qid-keyed windows are the plan's only exchanges.
    */
  private[graft] def ivfFilteredServeFrom(cand: DataFrame, qs: DataFrame,
      luts: DataFrame, cbP: Int => Cb, f: Int): DataFrame = {
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc_score").desc, col("vec_id"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(broadcast(luts), Seq("qid"))
      .withColumn("adc_score", pqAdcScore(cbP))
      .withColumn("ar", row_number().over(wAdc)).filter(col("ar") <= f)
      .join(broadcast(qs.select(col("qid"), col("qvf"))), Seq("qid"))
      .withColumn("cos", VectorFunctions.cosine_similarity(col("v"), col("qvf")))
      .withColumn("rnk", row_number().over(wExact)).filter(col("rnk") <= FilteredK)
      .select(col("qid"), col("vec_id"), col("rnk"))
  }

  private[graft] def s45From(base: DataFrame,
      cents: Array[(Long, Seq[Double], Long)], cbP: Int => Cb): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    ivfFilteredSweepPoints(base, cents, cbP, S44Grid)
      .map(p => (p.nprobe, p.fetch, p.hits, p.cands, p.refines))
      .toDF("nprobe", "fetch_k", "hits", "cands", "refines")
      .orderBy("nprobe", "fetch_k")
  }

  private def s45IvfFilteredSweep(s: SparkSession, d: String): DataFrame = {
    val base = serveBaseOf(s, d)
    s45From(base, collectCents(trainCodebook(base, iters = 2)),
      pqTrain(pqSubs(s, d)))
  }

  /** The IVF point CTEs shared by the s45 and s46 oracles: per
    * (nprobe, fetch) grid point, the routed label-filtered candidate
    * set, the pivoted ADC sum (s9's fixed-order shape), the
    * fetch-bounded refine set, the exact-reranked serve, and the
    * point row (hits vs the filtered `truth`, cands, refines). Needs
    * `base(vec_id, label, v, q)`, [[ivfOracleChain]]'s `a3`,
    * [[pqOracleChain]]'s `codes`/`pc1`, `subs`, `qlab`, `qvf`,
    * `probesr` and `truth` in scope. ONE generator so both oracles
    * replay the byte-identical points.
    */
  private def ivfFilteredPointCtes(grid: Seq[(Int, Int)]): String = {
    val pivots = (0 until pqM)
      .map(m => s"max(CASE WHEN m = $m THEN t END) AS t$m").mkString(",\n         ")
    val total = (0 until pqM).map(m => s"t$m").mkString(" + ")
    (for ((np, f) <- grid) yield {
      val sfx = s"_n${np}f$f"
      s"""cand$sfx AS (
         |  SELECT p.qid, x.vec_id, x.m, x.cid AS code
         |  FROM codes x
         |  JOIN a3 a ON a.vec_id = x.vec_id
         |  JOIN probesr p ON p.cid = a.cid AND p.pr <= $np
         |  JOIN base cb ON cb.vec_id = x.vec_id
         |  JOIN qlab l ON l.qid = p.qid AND cb.label = l.qlabel
         |  WHERE x.vec_id >= 5),
         |terms$sfx AS (
         |  SELECT c.qid, c.vec_id, c.m,
         |         CAST(${pqDot8("q.sub", "cb.sv")} AS DOUBLE) / cb.n AS t
         |  FROM cand$sfx c
         |  JOIN pc1 cb ON cb.m = c.m AND cb.cid = c.code
         |  JOIN subs q ON q.m = c.m AND q.vec_id = c.qid),
         |piv$sfx AS (
         |  SELECT qid, vec_id,
         |         $pivots
         |  FROM terms$sfx GROUP BY qid, vec_id),
         |adc$sfx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY $total DESC, vec_id) AS ar
         |    FROM piv$sfx) WHERE ar <= $f),
         |srv$sfx AS MATERIALIZED (
         |  SELECT qid, vec_id, CAST(rnk AS INT) AS rnk FROM (
         |    SELECT a.qid, a.vec_id,
         |           row_number() OVER (PARTITION BY a.qid
         |             ORDER BY list_cosine_similarity(b.v, qvf.v) DESC,
         |                      a.vec_id) AS rnk
         |    FROM adc$sfx a
         |    JOIN base b ON b.vec_id = a.vec_id
         |    JOIN qvf ON qvf.qid = a.qid)
         |  WHERE rnk <= $FilteredK),
         |pt$sfx AS (
         |  SELECT $np AS nprobe, $f AS fetch_k,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM piv$sfx) AS cands,
         |         (SELECT count(*) FROM adc$sfx) AS refines)""".stripMargin
    }).mkString(",\n")
  }

  private val s45Oracle: String = {
    val curveUnion = (for ((np, f) <- S44Grid)
      yield s"SELECT nprobe, fetch_k, hits, cands, refines FROM pt_n${np}f$f")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= ${SweepNprobes.max}),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK),
       |${ivfFilteredPointCtes(S44Grid)},
       |curve AS (
       |  $curveUnion)
       |SELECT nprobe, fetch_k, hits, cands, refines FROM curve
       |ORDER BY nprobe, fetch_k""".stripMargin
  }

  // ---- s46: the cross-family index advisor ---------------------------------

  /** The capstone the two tuners point at: CHOOSE THE INDEX FAMILY.
    * s42 picks the graph index's operating point and s45 prices the
    * IVF/PQ path on the same task against the same truth — so the
    * union of their curves is one control plane a deployment can
    * choose a SERVING STACK from, not just a knob setting. This gate
    * runs both sweeps (the 13-point graph grid [[S42Grid]], with the
    * refine volume now priced alongside the visited set, and the
    * 9-point IVF grid [[S44Grid]] — two concurrent harnesses over the
    * SAME basis and ONE truth-leg definition), unions the 22 rows
    * into (family, knobs, hits, cands, refines), and one window picks
    * the cheapest row meeting [[S42RecallFloor]] — cost is `cands +
    * refines`, the rows a serve touches past its entry stage:
    * cheap-scored candidates (int8 dot8 walk visits vs PQ-ADC code
    * scans) plus full-precision rerank read-backs, the directly
    * comparable terms on both paths. It SERVES at the chosen point
    * and emits the choice row with the served top-k (the winning
    * sweep's own deterministic run — choosing re-reads 22 rows,
    * never re-walks or re-probes).
    *
    * Scale shape: both sweeps' (one standing build each, bounded
    * concurrent serves, control-plane choice window over 22 rows).
    * Determinism: every point is the respective family's
    * integer-exact machinery; the oracle replays all 22 serves, the
    * choice, and the chosen point's rows.
    */
  private[graft] def s46From(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val base = serveBaseOf(s, d)
    val cents = collectCents(trainCodebook(base, iters = 2, k = k))
    // the two families' sweeps are independent work over the same
    // basis — run them as two concurrent harnesses (each already
    // schedules its grid as concurrent Spark jobs on its own
    // dedicated pool; this outer pool only overlaps the two). Each
    // row: (family, beam, nprobe, hops, fetch_k) knobs, then hits,
    // cands, refines and the served rows.
    val rows = concurrently(Seq(
      () => graphSweepPoints(base, cents, S42Grid, withRefines = true).map(p =>
        (("graph", p.beam, p.nprobe, p.hops, QuantFetch), p.hits, p.cands, p.refines,
          p.served)),
      () => ivfFilteredSweepPoints(base, cents, pqTrain(pqSubs(s, d)), S44Grid).map(p =>
        (("ivf", 0, p.nprobe, 0, p.fetch), p.hits, p.cands, p.refines, p.served))
    ))(_()).flatten
    val curve = rows.map { case ((fam, b, np, h, f), hits, c, r, _) =>
        (fam, b, np, h, f, hits, c, r) }
      .toDF("family", "beam", "nprobe", "hops", "fetch_k",
        "hits", "cands", "refines")
    val cost = col("cands") + col("refines")
    val meets = col("hits") >= lit(S42RecallFloor)
    val wChoice = org.apache.spark.sql.expressions.Window
      .orderBy(meets.desc,
        when(meets, cost).otherwise(-col("hits")).asc,
        cost.asc, col("family"), col("beam"), col("nprobe"),
        col("hops"), col("fetch_k"))
    val chosen = curve.withColumn("pick", row_number().over(wChoice))
      .filter(col("pick") === 1).drop("pick")
    val served = rows.flatMap { case ((fam, b, np, h, f), _, _, _, srv) =>
        srv.map(r => (fam, b, np, h, f, r._1, r._2, r._3)) }
      .toDF("family", "beam", "nprobe", "hops", "fetch_k",
        "qid", "vec_id", "rnk")
    served.join(broadcast(chosen),
        Seq("family", "beam", "nprobe", "hops", "fetch_k"))
      .select(col("family"), col("beam"), col("nprobe"), col("hops"),
        col("fetch_k"), col("hits"), col("cands"), col("refines"),
        col("qid"), col("vec_id"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  private def s46IndexAdvisor(s: SparkSession, d: String): DataFrame =
    s46From(s, d, k = 8)

  private val s46Oracle: String = {
    val gPointCtes = (for ((b, np, h) <- S42Grid) yield {
      val sfx = s"_b${b}n${np}h$h"
      s"""e$sfx AS (
         |  SELECT DISTINCT p.qid, m.vec_id
         |  FROM probesr p JOIN cmin m ON m.cid = p.cid
         |  WHERE p.pr <= $np),
         |w0$sfx AS (
         |  SELECT e.qid, e.vec_id,
         |         CAST(list_sum(list_transform(generate_series(1, 64),
         |              i -> qt.q8[i] * q8.q8[i])) AS BIGINT) AS dot8
         |  FROM e$sfx e
         |  JOIN quant8 qt ON qt.vec_id = e.vec_id
         |  JOIN qv8 q8 ON q8.qid = e.qid),
         |${quantHopOracleCtes(sfx, "gedge8", beam = b, hops = h)},
         |srv$sfx AS (
         |  SELECT qid, vec_id, CAST(rnk AS INT) AS rnk FROM (
         |    SELECT f.qid, f.vec_id,
         |           row_number() OVER (PARTITION BY f.qid
         |             ORDER BY list_cosine_similarity(qvf.v, b2.v) DESC, f.vec_id) AS rnk
         |    FROM (
         |      SELECT qid, qlabel, vec_id, dot8 FROM (
         |        SELECT w.qid, l.qlabel, w.vec_id, w.dot8,
         |               row_number() OVER (PARTITION BY w.qid
         |                 ORDER BY w.dot8 DESC, w.vec_id) AS crk
         |        FROM w$h$sfx w
         |        JOIN base c ON c.vec_id = w.vec_id
         |        JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel)
         |      WHERE crk <= $QuantFetch) f
         |    JOIN base b2 ON b2.vec_id = f.vec_id
         |    JOIN qvf ON qvf.qid = f.qid)
         |  WHERE rnk <= $FilteredK),
         |ref$sfx AS (
         |  SELECT CAST(coalesce(sum(least(n, $QuantFetch)), 0) AS BIGINT) AS r FROM (
         |    SELECT w.qid, count(*) AS n
         |    FROM w$h$sfx w
         |    JOIN base c ON c.vec_id = w.vec_id
         |    JOIN qlab l ON l.qid = w.qid AND c.label = l.qlabel
         |    GROUP BY w.qid)),
         |pt$sfx AS (
         |  SELECT $b AS beam, $np AS nprobe, $h AS hops,
         |         (SELECT count(*) FROM srv$sfx s
         |          JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id) AS hits,
         |         (SELECT count(*) FROM w$h$sfx) AS cands,
         |         (SELECT r FROM ref$sfx) AS refines)""".stripMargin
    }).mkString(",\n")
    val curveUnion = ((for ((b, np, h) <- S42Grid)
      yield s"SELECT 'graph' AS family, beam, nprobe, hops, $QuantFetch AS fetch_k, hits, cands, refines FROM pt_b${b}n${np}h$h") ++
      (for ((np, f) <- S44Grid)
        yield s"SELECT 'ivf' AS family, 0 AS beam, nprobe, 0 AS hops, fetch_k, hits, cands, refines FROM pt_n${np}f$f"))
      .mkString("\n  UNION ALL\n  ")
    val servedUnion = ((for ((b, np, h) <- S42Grid)
      yield s"SELECT 'graph' AS family, $b AS beam, $np AS nprobe, $h AS hops, $QuantFetch AS fetch_k, qid, vec_id, rnk FROM srv_b${b}n${np}h$h") ++
      (for ((np, f) <- S44Grid)
        yield s"SELECT 'ivf' AS family, 0 AS beam, $np AS nprobe, 0 AS hops, $f AS fetch_k, qid, vec_id, rnk FROM srv_n${np}f$f"))
      .mkString("\n  UNION ALL\n  ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |$ivfOracleChain,
       |corp AS MATERIALIZED (SELECT vec_id, q, cid FROM a3 WHERE vec_id >= 5),
       |$gedgeOracleCtes,
       |quant8 AS MATERIALIZED (
       |  SELECT vec_id,
       |         ${absmaxQ8Sql("v", "amax", "list_transform", "BIGINT")} AS q8
       |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
       |        FROM base)),
       |gedge8 AS MATERIALIZED (
       |  SELECT e.src, e.nbr, qt.q8 AS nbr_q8
       |  FROM gedge e JOIN quant8 qt ON qt.vec_id = e.nbr),
       |qv8 AS (SELECT vec_id AS qid, q8 FROM quant8 WHERE vec_id < 5),
       |qvf AS (SELECT vec_id AS qid, v FROM base WHERE vec_id < 5),
       |qlab AS (SELECT vec_id AS qid, label AS qlabel FROM base WHERE vec_id < 5),
       |cmin AS (SELECT cid, min(vec_id) AS vec_id FROM corp GROUP BY cid),
       |$pqSubsOracleCte,
       |$pqOracleChain,
       |qscr AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |              i -> q.q[i] * c.sv[i])) AS DOUBLE) / c.n AS score
       |  FROM base q, c2 c WHERE q.vec_id < 5),
       |probesr AS (
       |  SELECT qid, cid, pr FROM (
       |    SELECT qid, cid,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS pr
       |    FROM qscr) WHERE pr <= ${SweepNprobes.max}),
       |truth AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT l.qid, c.vec_id,
       |           row_number() OVER (PARTITION BY l.qid
       |             ORDER BY list_cosine_similarity(c.v, qvf.v) DESC,
       |                      c.vec_id) AS trk
       |    FROM base c
       |    JOIN qlab l ON c.label = l.qlabel AND c.vec_id >= 5
       |    JOIN qvf ON qvf.qid = l.qid)
       |  WHERE trk <= $FilteredK),
       |$gPointCtes,
       |${ivfFilteredPointCtes(S44Grid)},
       |curve AS (
       |  $curveUnion),
       |choice AS (
       |  SELECT family, beam, nprobe, hops, fetch_k, hits, cands, refines FROM (
       |    SELECT family, beam, nprobe, hops, fetch_k, hits, cands, refines,
       |           row_number() OVER (ORDER BY
       |             (hits >= $S42RecallFloor) DESC,
       |             CASE WHEN hits >= $S42RecallFloor THEN cands + refines
       |                  ELSE -hits END ASC,
       |             cands + refines ASC, family, beam, nprobe, hops, fetch_k) AS pick
       |    FROM curve) WHERE pick = 1),
       |servall AS (
       |  $servedUnion)
       |SELECT c.family, c.beam, c.nprobe, c.hops, c.fetch_k, c.hits, c.cands,
       |       c.refines, s.qid, s.vec_id, s.rnk
       |FROM servall s JOIN choice c
       |  ON c.family = s.family AND c.beam = s.beam AND c.nprobe = s.nprobe
       | AND c.hops = s.hops AND c.fetch_k = s.fetch_k
       |ORDER BY s.qid, s.rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s46_index_advisor" -> (s46IndexAdvisor _),
    "s45_ivf_filtered_sweep" -> (s45IvfFilteredSweep _),
    "s44_ivf_serve_autotune" -> (s44IvfServeAutotune _),
    "s43_hops_sweep" -> (s43HopsSweep _),
    "s42_serve_autotune" -> (s42ServeAutotune _),
    "s41_ivf_serve_stored" -> (s41IvfServeStored _),
    "s40_serve_sweep" -> (s40ServeSweep _),
    "s39_graph_serve_stored" -> (s39GraphServeStored _),
    "s38_graph_serve" -> (s38GraphServe _),
    "s37_graph_quant" -> (s37GraphQuant _),
    "s36_graph_filtered" -> (s36GraphFiltered _),
    "s35_graph_rebalance" -> (s35GraphRebalance _),
    "s34_graph_delete_stored" -> (s34GraphDeleteStored _),
    "s33_graph_stream" -> (s33GraphStream _),
    "s32_graph_freshness" -> (s32GraphFreshness _),
    "s31_graph_refine" -> (s31GraphRefine _),
    "s30_graph_delete" -> (s30GraphDelete _),
    "s29_graph_insert" -> (s29GraphInsert _),
    "s28_graph_search" -> (s28GraphSearch _),
    "s27_mrl_eval" -> (s27MrlEval _),
    "s26_triplet_mining" -> (s26TripletMining _),
    "s25_ivf_pq_funnel" -> (s25IvfPqFunnel _),
    "s24_ivf_rebalance" -> (s24IvfRebalance _),
    "s23_radius_search" -> (s23RadiusSearch _),
    "s22_stream_update" -> (s22StreamUpdate _),
    "s21_stream_delete" -> (s21StreamDelete _),
    "s20_nprobe_sweep" -> (s20NprobeSweep _),
    "s19_knn_graph" -> (s19KnnGraph _),
    "s18_hamming" -> (s18Hamming _),
    "s17_stream_index" -> (s17StreamIndex _),
    "s15_filtered_ann" -> (s15FilteredAnn _),
    "s16_hybrid_rrf" -> (s16HybridRrf _),
    "s14_knn_label" -> (s14KnnLabel _),
    "s13_recall_drift" -> (s13RecallDrift _),
    "s12_ann_recall" -> (s12AnnRecall _),
    "s11_ivf_search" -> (s11IvfSearch _),
    "s10_pq_incremental" -> (s10PqIncremental _),
    "s9_pq_adc" -> (s9PqAdc _),
    "s8_mmr_rerank" -> (s8MmrRerank _),
    "s7_diverse_topk" -> (s7DiverseTopk _),
    "s1_cosine_topk" -> (s1CosineTopk _),
    "s2_ann_bucket" -> (s2AnnBucket _),
    "s3_embedding_dedup" -> (s3EmbeddingDedup _),
    "s4_ivf_cells" -> (s4IvfCells _),
    "s5_embed_quant" -> (s5EmbedQuant _),
    "s6_quant_rerank" -> (s6QuantRerank _)
  )

  val oracles: Map[String, String] = Map(
    "s46_index_advisor" -> s46Oracle,
    "s45_ivf_filtered_sweep" -> s45Oracle,
    "s44_ivf_serve_autotune" -> s44Oracle,
    "s43_hops_sweep" -> s43Oracle,
    "s42_serve_autotune" -> s42Oracle,
    "s41_ivf_serve_stored" -> s41Oracle,
    "s40_serve_sweep" -> s40Oracle,
    "s39_graph_serve_stored" -> s39Oracle,
    "s38_graph_serve" -> s38Oracle,
    "s37_graph_quant" -> s37Oracle,
    "s36_graph_filtered" -> s36Oracle,
    "s35_graph_rebalance" -> s35Oracle,
    "s34_graph_delete_stored" -> s34Oracle,
    // s33 streams the SAME semantics through storage; determinism
    // makes the outputs bit-identical, so one oracle serves both
    "s33_graph_stream" -> s32Oracle,
    "s32_graph_freshness" -> s32Oracle,
    "s31_graph_refine" -> s31Oracle,
    "s30_graph_delete" -> s30Oracle,
    "s29_graph_insert" -> s29Oracle,
    "s28_graph_search" -> s28Oracle,
    "s27_mrl_eval" -> s27Oracle,
    "s26_triplet_mining" -> s26Oracle,
    "s25_ivf_pq_funnel" -> s25Oracle,
    "s24_ivf_rebalance" -> s24Oracle,
    "s23_radius_search" -> s23Oracle,
    "s22_stream_update" -> s22Oracle,
    "s21_stream_delete" -> s21Oracle,
    "s20_nprobe_sweep" -> s20Oracle,
    "s19_knn_graph" -> s19Oracle,
    "s18_hamming" -> s18Oracle,
    "s17_stream_index" -> s17Oracle,
    "s15_filtered_ann" -> s15Oracle,
    "s16_hybrid_rrf" -> s16Oracle,
    "s14_knn_label" -> s14Oracle,
    "s13_recall_drift" -> s13Oracle,
    "s12_ann_recall" -> s12Oracle,
    "s11_ivf_search" -> s11Oracle,
    "s10_pq_incremental" -> s10Oracle,
    "s9_pq_adc" -> s9Oracle,
    "s8_mmr_rerank" -> s8Oracle,
    "s7_diverse_topk" -> s7Oracle,
    "s1_cosine_topk" -> s1Oracle,
    "s2_ann_bucket" -> s2Oracle,
    "s3_embedding_dedup" -> s3Oracle,
    "s4_ivf_cells" -> s4Oracle,
    "s5_embed_quant" -> s5Oracle,
    "s6_quant_rerank" -> s6Oracle
  )
}
