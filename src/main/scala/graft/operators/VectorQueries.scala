package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design: the brute-force path is the correctness baseline (bounded
  * probe set × broadcast, never all-pairs); the LSH path is the 100 TB
  * route — sign-random-projection buckets turn top-k search into an
  * equi-join on bucket keys. Dot products are pure `aggregate`/`zip_with`
  * expressions in doubles (codegen, deterministic order, same fold order
  * as the oracle's list_sum).
  */
object VectorQueries {

  /** Cosine similarity as a native codegen expression (one JIT loop per
    * row; the HOF `aggregate(zip_with(...))` form stays interpreted and
    * breaks whole-stage codegen above it). Identical fold order → bit-
    * identical doubles vs the round-1 formulation and the oracle. */
  private def cos(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineSim(a, b)

  private def norm(a: Column): Column =
    graft.functions.VectorOps.l2normCol(a)

  /** Multi-table LSH: `NumTables` independent hash tables of `PlanesPerTable`
    * sign bits each. More tables = higher recall at the same bucket size —
    * the standard recall/cost dial for SRP-LSH at scale. */
  val NumTables = 8
  val PlanesPerTable = 4

  /** Per-table SRP bucket ids (array<long>, index = table): native
    * expression computing all hyperplane dot products in one codegen'd
    * loop — the plane matrix is a deterministic splitmix64 function of
    * (plane, dim), regenerated per executor, no broadcast state. */
  def srpBucketIds(emb: String = "embedding", dims: Int = 64): Column =
    graft.functions.VectorOps.srpBucketIds(col(emb), NumTables, PlanesPerTable, dims)

  /** IVF coarse quantizer: deterministic-init Lloyd iterations. Init
    * cells by hash of vec_id; each iteration assigns rows to the nearest
    * centroid with the codegen'd [[graft.functions.VectorOps
    * .NearestCentroid]] expression and recomputes centroids with the
    * [[graft.functions.VectorCentroid]] Aggregator (map-side partial
    * buffers). Only k × dims doubles ever reach the driver — the
    * trainable-at-100TB shape. */
  /** Deterministic training sample: pmod(xxhash64(vec_id), 100) < pct.
    * Quantizer quality needs a SAMPLE, not the population — at 100 TB a
    * k=16 coarse quantizer trained on ~`targetRows` rows places the same
    * cells as a full pass. The sizing count() is expected to hit either
    * a caller-persisted corpus (e06 persists before calling, so the
    * count IS the materializing pass, not an extra one) or a no-filter
    * parquet scan (zero-column footer-only read); callers at open scale
    * that can do neither should pass a fixed rate instead of a target. */
  def trainingSample(corpus: DataFrame, targetRows: Long): DataFrame = {
    val total = corpus.count()
    if (total <= targetRows) corpus
    else {
      val pct = math.max(1L, math.min(100L, (targetRows * 100 + total - 1) / total))
      corpus.filter(pmod(xxhash64(col("vec_id")), lit(100)) < pct)
    }
  }

  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
      trainTargetRows: Long = Long.MaxValue): Seq[Seq[Double]] = {
    // ONE materialized pass over the training set: persist before the
    // Lloyd loop so iterations 1..iters (and the init assignment) hit
    // the cached partitions instead of re-scanning parquet 1+iters times.
    val train = (if (trainTargetRows == Long.MaxValue) corpus
                 else trainingSample(corpus, trainTargetRows)).persist()
    try {
      val cent = graft.functions.VectorCentroid.asUdaf
      def collectCents(assigned: DataFrame): Seq[Seq[Double]] = {
        val got = assigned.groupBy("cell").agg(cent(col("embedding")).as("c"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        // empty cells keep their slot (zero vector) so indices stay stable
        (0 until k).map(j => got.getOrElse(j, Seq.fill(64)(0.0)))
      }
      var cents = collectCents(
        train.withColumn("cell", pmod(xxhash64(col("vec_id")), lit(k)).cast("int")))
      (0 until iters).foreach { _ =>
        // per-iteration broadcast of the k × dims matrix (small — only
        // the final quantizer is large-lived); the assignment expression
        // holds the handle, never the matrix, so plan size stays O(1) in k
        val bc = graft.functions.VectorOps.broadcastCentroids(
          train.sparkSession, cents)
        cents = collectCents(train.withColumn("cell",
          graft.functions.VectorOps.nearestCentroidCol(col("embedding"), bc)))
        // the per-iteration handle is never reused after its collect —
        // destroy (not just unpersist) so driver-side broadcast metadata
        // can't accumulate across trainings in a long-lived session
        // (public destroy() is the non-blocking variant)
        bc.destroy()
      }
      cents
    } finally train.unpersist(blocking = false)
  }

  /** Rank ordering shared by every top-5 arm: cosine descending, id
    * ascending (the unique tie-break the oracle's row_number uses). */
  private def top5Window = Window.partitionBy("qid")
    .orderBy(col("cos").desc, col("cid"))

  /** Exact top-5 per probe — the truth target every gated retrieval
    * query (e01/e07/e08/e10) emits and the oracle recomputes brute-
    * force. Bounded probe set x broadcast corpus, never all-pairs.
    * Columns in: (qid, qe) x (cid, ce); out: (qid, cid, cos, rnk). */
  private def exactTop5(q: DataFrame, c: DataFrame): DataFrame =
    q.join(broadcast(c))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)

  /** Symmetric max-abs int8 codes (e09's recipe, scale implicit — one
    * native pass per row; the scales cancel in cosine so retrieval never
    * materializes them). Public: Bench's e10_op times the scoring arm
    * over tables pre-encoded with exactly this column. */
  def int8Codes(emb: Column): Column =
    graft.functions.VectorOps.int8EncodeAutoCol(emb)

  /** The quantized scoring arm (e10's candidate ranker): integer cosine
    * over int8 codes — native codegen kernel, pure long dot products
    * bounded by dims × 127². In: (qid, qq) × (cid, qc); out the top-5
    * (qid, cid) per probe. */
  def quantizedTop5(q: DataFrame, c: DataFrame): DataFrame =
    q.join(broadcast(c))
      .withColumn("cos",
        graft.functions.VectorOps.intCosineSimCol(col("qq"), col("qc")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))

  /** The in-band recall contract (q31 pattern): corpus-level
    * recall@5 of `approx` against `exact`, as a named 1-row boolean
    * attached via broadcast crossJoin — never a driver collect. */
  private def recallFlag(exact: DataFrame, approx: DataFrame,
      threshold: Double, name: String): DataFrame =
    exact.join(approx, Seq("qid", "cid"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("total")))
      .select((col("hits") >= col("total") * threshold).as(name))

  /** Pure-LSH ANN top-5 (no exact arm): the operator behind e07's
    * candidate generator, kept as library surface + recall specs
    * (PipelineSpec, PlanSpec). Dropped from the GATE list in round 8:
    * its emitted rows are engine-specific (no SQL oracle can recompute
    * an LSH candidate set), so it sat as a rows-only `no_oracle` gate
    * entry while e07 already gates the same code path under the full
    * hash oracle (exact top-5 rows + in-band recall contract). */
  def knnLsh(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // Bucket the bounded probe set and the corpus as separate scans:
    // the probe scan is tiny (pushed-down vec_id < 10) and broadcast,
    // so the corpus is scanned + hyperplane-hashed exactly once and
    // never shuffled. Cosine is computed per candidate BEFORE the pair
    // dedup, so only (qid, cid, cos) rides the dedup shuffle — the
    // 256-byte embedding arrays stay out of every exchange.
    def bucketed(df: DataFrame) = df
      .select(col("vec_id"), col("embedding"),
        posexplode(srpBucketIds()).as(Seq("t", "b")))
    val base = Tables.load(s, dir, "embeddings")
    val q = bucketed(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("t"), col("b"))
    val c = bucketed(base.filter(col("vec_id") >= 10))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("t"), col("b"))
    // candidates share any (table, bucket); score, dedupe across tables, rank
    val scored = c.join(broadcast(q), Seq("t", "b"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .dropDuplicates("qid", "cid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
  }

  /** Pure-IVF ANN top-5 (16-cell coarse quantizer, 2 Lloyd iterations,
    * nprobe=4 multi-probe): candidates are an equi-join on the cell id,
    * bounded by nprobe/k of the corpus. Library surface + recall specs;
    * dropped from the GATE list in round 8 for the same reason as
    * [[knnLsh]] — e08 gates the identical training/assignment/probe path
    * under the full hash oracle.
    *
    * Pinning contract: this persists the corpus (still referenced by the
    * lazily-returned frame, so it cannot unpersist before the caller
    * materializes). Verify/Bench run every query under [[graft.PinScope]],
    * which sweeps the pin after materialization; external callers in a
    * long-lived session should do the same (wrap in `PinScope.run`, or
    * `spark.catalog.clearCache()` after materializing). The persisted
    * exact arm inside e07/e08/e10's gate bodies carries the same
    * expectation. */
  def knnIvf(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val k = 16; val nprobe = 4
    val base = Tables.load(s, dir, "embeddings")
    // persisted because three consumers scan it: the training-sample
    // sizing count, the sample filter, and the bucketing below — one
    // parquet pass total instead of three. (At 100 TB you'd skip the
    // persist and the count and sample at a fixed rate; here the corpus
    // fits and the cache also serves the final candidate join.)
    val corpus = base.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .persist()
    val cents = kmeansCentroids(
      corpus.select(col("cid").as("vec_id"), col("ce").as("embedding")),
      k, iters = 2, trainTargetRows = 1000L)
    // ONE broadcast of the trained quantizer serves both the corpus
    // bucketing and the query-side multi-probe expression
    val bc = graft.functions.VectorOps.broadcastCentroids(s, cents)
    val bucketed = corpus.withColumn("cell",
      graft.functions.VectorOps.nearestCentroidCol(col("ce"), bc))
    // nprobe nearest cells per query via the multi-probe expression
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("cell", explode(
        graft.functions.VectorOps.nearestCentroidsCol(col("qe"), bc, nprobe)))
    val scored = bucketed.join(broadcast(probes), Seq("cell"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k: probe set (vec_id < 10) vs corpus ----
    QueryDef("e01_knn_brute",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      exactTop5(q, c)
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
    },

    // ---- per-label vector statistics ----
    QueryDef("e02_vector_stats",
      """SELECT label, count(*) AS n,
        | round(avg(sqrt(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS avg_norm,
        | round(sum(list_sum(list_transform(embedding,
        |   x -> abs(CAST(x AS DOUBLE))))), 3) AS sum_abs
        |FROM embeddings GROUP BY label""".stripMargin) { (s, dir) =>
      // both per-row terms are native codegen kernels (the HOF abs-fold
      // was the e-family's last interpreted lambda; bit-parity pinned
      // in NativeExprParitySpec)
      Tables.load(s, dir, "embeddings").groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(norm(col("embedding"))), 3).as("avg_norm"),
          round(sum(graft.functions.VectorOps.absSumCol(col("embedding"))), 3)
            .as("sum_abs"))
    },

    // ---- unnest/explode of the vector column ----
    QueryDef("e03_vector_explode",
      """SELECT label, count(*) AS n_elems, round(sum(abs(CAST(e AS DOUBLE))),3) AS sum_abs
        |FROM (SELECT label, unnest(embedding) AS e FROM embeddings) t
        |GROUP BY label""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("label"), explode(col("embedding")).as("e"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_elems"),
          round(sum(abs(col("e").cast("double"))), 3).as("sum_abs"))
    },

    // ---- typed Aggregator (UDAF): per-label centroid — the IVF/k-means
    // training primitive. Map-side partial aggregation ships one
    // (sum[64], n) buffer per label per partition, not raw vectors. ----
    // Contract is bit-stable by construction (not by rounding): the
    // Aggregator sums fixed-point longs (order-independent), and each
    // emitted element is sum/n/1e6 — two IEEE divisions of exact
    // integers, identical on any engine. round() would only re-introduce
    // boundary flips (the r2 hash failure), so the value rides unrounded.
    QueryDef("e05_centroid_udaf",
      """SELECT label, CAST(r.range AS BIGINT) AS dim,
        | CAST(sum(CASE WHEN isfinite(CAST(embedding[r.range] AS DOUBLE))
        |   THEN CAST(trunc(CAST(embedding[r.range] AS DOUBLE) * 1000000) AS BIGINT)
        |   ELSE 0 END) AS DOUBLE)
        |   / count(*) / 1000000 AS c
        |FROM embeddings, range(1, 65) r
        |GROUP BY label, r.range""".stripMargin) { (s, dir) =>
      val cent = graft.functions.VectorCentroid.asUdaf
      Tables.load(s, dir, "embeddings")
        .groupBy("label").agg(cent(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("i", "v")))
        .select(col("label"), (col("i") + 1).cast("long").as("dim"),
          col("v").as("c"))
    },

    // ---- int8 scalar quantization of the embedding column — the 4x
    // storage/bandwidth lever a 100 TB vector corpus actually pulls
    // (brute/IVF candidate scans read int8 + one scale per vector
    // instead of float32). Symmetric per-vector max-abs scaling,
    // round-half-away encode; all arithmetic is deterministic IEEE ops
    // in identical fold order both sides, reconstruction error rides as
    // per-element-truncated integer ppm (order-independent sum, no
    // double-rounding boundary). Zero shuffle: one codegen projection
    // per row. max_q == 127 by construction (the max-abs element);
    // err_ppm_sum < dims x 500000 (half-step bound) — both emitted as
    // data so a quantizer defect is a hash mismatch. ----
    QueryDef("e09_vector_quantize",
      """WITH q AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale0
        |  FROM embeddings),
        |g AS (
        |  SELECT vec_id, label, embedding,
        |    CASE WHEN scale0 = 0 THEN 1.0 ELSE scale0 END AS scale
        |  FROM q),
        |t AS (
        |  SELECT vec_id, label, scale,
        |    list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE)/scale
        |      + CASE WHEN x >= 0 THEN 0.5 ELSE -0.5 END) AS BIGINT)) AS qv,
        |    embedding
        |  FROM g)
        |SELECT vec_id, label, scale,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  CAST(list_max(list_transform(qv, v -> abs(v))) AS BIGINT) AS max_q,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CAST(trunc(abs(CAST(embedding[i] AS DOUBLE) - qv[i]*scale)/scale*1000000) AS BIGINT)))
        |    AS BIGINT) AS err_ppm_sum
        |FROM t""".stripMargin) { (s, dir) =>
      // Every kernel is a native codegen expression (round 9): the HOF
      // formulation ran each 64-element fold through boxed lambda
      // dispatch and broke whole-stage codegen for the projection — the
      // opposite of the point of a 4x scan-bandwidth operator. The
      // native kernels reproduce the HOF fold orders bit-for-bit
      // (NativeExprParitySpec pins all five against the r8 HOF bodies;
      // double→long casts truncate toward zero, matching the oracle's
      // trunc()+CAST — DuckDB's bare CAST would ROUND).
      val V = graft.functions.VectorOps
      Tables.load(s, dir, "embeddings")
        .withColumn("scale0", V.maxAbsCol(col("embedding")) / lit(127.0))
        .withColumn("scale", when(col("scale0") === 0.0, lit(1.0))
          .otherwise(col("scale0")))
        .withColumn("qv", V.int8EncodeCol(col("embedding"), col("scale")))
        .select(col("vec_id"), col("label"), col("scale"),
          V.longSumCol(col("qv")).as("sum_q"),
          V.longAbsMaxCol(col("qv")).as("max_q"),
          V.quantErrPpmCol(col("embedding"), col("qv"), col("scale"))
            .as("err_ppm_sum"))
    },

    // ---- retrieval over the int8-QUANTIZED vectors (e09's consumer):
    // proves the 4x-compressed representation is retrieval-grade. The
    // per-vector scales cancel in cosine (q = x/s elementwise, so
    // cos(qa*sa, qb*sb) == cos(qa, qb)), leaving pure integer dot
    // products — longs bounded by dims x 127^2, no overflow, no float
    // reads in the scoring loop. Emitted rows are the exact float top-5
    // (the oracle recomputes them brute-force); the quantized arm's
    // recall@5 >= 0.8 rides in-band (measured 0.98-1.0 at
    // sf0.001/0.01/0.1 — wide margin). e07/e08's contract, third
    // candidate generator. ----
    QueryDef("e10_quantized_knn",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS quant_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "embeddings")
      // native one-pass encode (scale in-kernel; NativeExprParitySpec
      // pins bit-parity against the r8 HOF formulation)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          int8Codes(col("embedding")).as("qq"))
      val c = base.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          int8Codes(col("embedding")).as("qc"))
      // exact float arm: the truth target (three consumers -> persisted)
      val exact = exactTop5(q, c).persist()
      // quantized arm: native integer-cosine kernel (scales cancel)
      val quant = quantizedTop5(q, c)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, quant, 0.8, "quant_recall_ok")))
    },

    // ---- ANN with exact re-ranking — the production retrieval shape
    // (candidate generation by LSH, then exact cosine re-rank of the
    // bounded candidate set). Promoted to the FULL hash gate with the
    // q31 contract: the emitted rows are the exact top-5 (the re-rank
    // truth target, which DuckDB recomputes brute-force), and the
    // engine-specific LSH side rides in-band as one corpus-level
    // boolean — recall@5 of the LSH-reranked list vs the exact list
    // >= 0.5, attached via a 1-row broadcast (d16's threshold pattern,
    // no driver collect). A banding bug that tanks recall, or a re-rank
    // bug that reorders candidates, flips the boolean and fails the
    // gate; [[knnLsh]] keeps the pure-LSH path as library surface for
    // the recall-curve specs (gate entry retired in round 8).
    // At 100 TB the exact arm is the bounded probe-set×corpus pass e01
    // already models; the LSH arm touches only bucket-collided pairs. ----
    QueryDef("e07_ann_rerank",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS lsh_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "embeddings")
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = base.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // exact arm: the truth target the oracle recomputes. Persisted —
      // three consumers (recall hits, recall total, the emitted rows)
      // would otherwise each re-run the probe x corpus scoring pass.
      val exact = exactTop5(q, c).persist()
      // LSH arm: bucket-collided candidates, exact cosine re-rank
      def bucketed(df: org.apache.spark.sql.DataFrame, id: String, e: String) = df
        .select(col("vec_id").as(id), col("embedding").as(e),
          posexplode(srpBucketIds()).as(Seq("t", "b")))
      val lsh = bucketed(base.filter(col("vec_id") >= 10), "cid", "ce")
        .join(broadcast(bucketed(base.filter(col("vec_id") < 10), "qid", "qe")),
          Seq("t", "b"))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .select(col("qid"), col("cid"), col("cos"))
        .dropDuplicates("qid", "cid")
        .withColumn("rnk", row_number().over(top5Window).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"))
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, lsh, 0.5, "lsh_recall_ok")))
    },

    // ---- IVF candidates + exact re-rank, under the hash gate (e07's
    // contract, IVF candidate generator): the whole IVF path — sampled
    // k-means training (VectorCentroid partial-agg Aggregator +
    // NearestCentroid codegen assignment), cell bucketing, multi-probe
    // candidate join — now feeds a gated query. Emitted rows are the
    // exact top-5 the oracle recomputes; the IVF arm's recall@5 >= 0.5
    // rides in-band. A quantizer-training or cell-assignment regression
    // flips the boolean and fails the hash gate ([[knnIvf]] keeps the
    // pure-IVF path as library surface for the recall-curve specs; its
    // gate entry was retired in round 8). ----
    QueryDef("e08_ivf_rerank",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS ivf_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      // nprobe=8 of k=16 cells: measured recall@5 is 0.80-0.84 at
      // sf0.001/0.01/0.1 (nprobe=4 sits at 0.46-0.50 — no margin for an
      // in-band >= 0.5 gate). Probing half the toy quantizer's cells
      // still halves the candidate work; at real scale k grows to
      // thousands of cells and nprobe stays a small constant, so the
      // pruning ratio improves with corpus size.
      val k = 16; val nprobe = 8
      val base = Tables.load(s, dir, "embeddings")
      val corpus = base.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .persist()
      val probes = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val exact = exactTop5(
        probes.select(col("qid"), col("qe")),
        corpus.select(col("cid"), col("ce")))
        .persist() // three consumers: recall hits / total / emitted rows
      val cents = kmeansCentroids(
        corpus.select(col("cid").as("vec_id"), col("ce").as("embedding")),
        k, iters = 2, trainTargetRows = 1000L)
      val bc = graft.functions.VectorOps.broadcastCentroids(s, cents)
      val ivf = corpus.withColumn("cell",
          graft.functions.VectorOps.nearestCentroidCol(col("ce"), bc))
        .join(broadcast(probes.withColumn("cell", explode(
          graft.functions.VectorOps.nearestCentroidsCol(col("qe"), bc, nprobe)))),
          Seq("cell"))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .select(col("qid"), col("cid"), col("cos"))
        .withColumn("rnk", row_number().over(top5Window).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"))
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, ivf, 0.5, "ivf_recall_ok")))
    },

    // ---- product quantization + ADC retrieval (e07/e08's contract,
    // fourth candidate generator; the FAISS-style scale path BEYOND
    // int8): vectors are L2-normalized (so inner product ranks like
    // cosine), split into 16 subvectors of 4 dims, and each subspace
    // gets its own k=32 codebook from the sampled k-means machinery
    // (the zero-padding slice reuses the 64-dim VectorCentroid/
    // NearestCentroid kernels unchanged; the 16 trainings submit
    // concurrently). A corpus vector is then 16 small codes — 10 B
    // against 256 B of float32 at real scale, a ~25x scan-bandwidth
    // cut vs e09's 4x. Scoring is asymmetric distance computation: per
    // probe, one tiny (16 x 32) table of subvector inner products
    // against the codebooks (broadcast), so scoring a candidate is 16
    // table lookups + a sum — an equi-join on (sub, code) +
    // partial-agg groupBy here. The ADC top-64 shortlist is
    // exact-reranked (the production shape; at 100 TB ADC runs inside
    // e08's IVF cells, composing both pruners). Emitted rows are the
    // exact float top-5 (oracle recomputes brute-force); the PQ arm's
    // recall@5 >= 0.6 rides in-band (measured 0.96-1.0 at
    // sf0.001/0.01/0.1 — the weakly-clustered synthetic embeddings
    // need the finer 16x32 codebooks; 8x16 sat at ~0.45). ----
    QueryDef("e11_pq_adc",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS pq_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val (exact, pq) = pqArms(s, dir)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, pq, 0.6, "pq_recall_ok")))
    },

    // ---- Matryoshka-style truncated-dimension retrieval (e07/e08's
    // contract, fifth candidate generator): candidates are scored with
    // the FIRST 32 of 64 dimensions only — the MRL recipe, where a
    // prefix of the embedding is itself a usable lower-dim embedding —
    // then the top-100 shortlist per probe is exact-reranked on the
    // full vector. Unlike e09/e11's codes, the compressed representation
    // here is just a column slice: at 100 TB the shortlist pass reads
    // half the bytes per vector with ZERO encode step or trained state,
    // and only shortlist survivors are read at full width. The slice is
    // taken in the scan projection, so the wide array never enters the
    // shortlist exchange. Emitted rows are the exact float top-5
    // (oracle recomputes brute-force); the truncated arm's recall@5
    // >= 0.6 rides in-band (measured 0.94/0.96/0.78 at
    // sf0.001/0.01/0.1 — the synthetic embeddings spread variance
    // uniformly across dims, the worst case for prefix truncation;
    // MrlRecallSpec pins the margin, and real MRL-trained embeddings
    // concentrate early and do better). ----
    QueryDef("e12_matryoshka",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS mrl_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val (exact, mrl) = mrlArms(s, dir)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, mrl, 0.6, "mrl_recall_ok")))
    },

    // ---- 1-bit sign quantization + hamming-shortlist retrieval (e13):
    // the binary-hashing tier below e09's int8 — each 64-dim float32
    // vector packs to ONE long of sign bits (32× scan compression), and
    // candidate scoring is a single XOR + POPCNT per pair (builtin
    // `bit_count`, fully codegen). Top-128 per probe by (hamming, cid)
    // shortlist, exact-cosine rerank on full vectors, under e07's gate
    // contract: emitted rows are the exact top-5 truth target the oracle
    // recomputes brute-force; the hamming arm's recall@5 >= 0.6 rides
    // in-band (measured 0.72-0.96 across SFs — the binary code is the
    // coarsest quantizer in the family, and the uniform-random synthetic
    // dims are its worst case). At 100 TB the sign-bit column is the
    // cheapest possible first-pass scan (8 bytes/vector, SIMD-friendly
    // XOR+POPCNT), exactly the binary-hashing front tier production
    // retrieval stacks run before int8/float rerank. ----
    QueryDef("e13_hamming_rerank",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS ham_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val (exact, ham) = hammingArms(s, dir)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, ham, 0.6, "ham_recall_ok")))
    },

    // ---- range search (radius query): ALL corpus vectors within cosine
    // >= tau of each probe, not a fixed top-k — the other half of the
    // ANN-benchmarks query taxonomy, and the primitive behind
    // "find every near-duplicate of this document" lookups. Plan shape
    // is e01's: the bounded probe set (pushed-down vec_id < 10) is
    // broadcast, the corpus is scanned ONCE with the native cosine
    // kernel and never shuffled — no window, no rank: the threshold
    // filter is the entire reduction, so the operator is a single
    // whole-stage-codegen map over the corpus at any scale. ----
    QueryDef("e14_range_search",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim
        |FROM s WHERE cos >= 0.35""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      c.join(broadcast(q))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .filter(col("cos") >= 0.35)
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"))
    },

    // ---- kNN JOIN: every corpus vector's top-3 neighbors (not a bounded
    // probe set — the whole table is the query side), the primitive
    // behind kNN-LM / retrieval-augmented dataset builds and d26's
    // cluster assignment. Candidates are label-blocked (the corpus'
    // coarse-cluster stand-in: at 100 TB the blocking key is a trained
    // IVF cell exactly as in e08/d26, so pair count stays
    // sum-of-cell-squares, never corpus² — sufficient for kNN recall
    // when neighbors concentrate, i.e. top-1 cosine many σ above the
    // random tail; this corpus is diffuse (3.2σ) and SCALE.md r10
    // measures what that does to cell-blocked recall at 10×); within a
    // block the join
    // shuffles BOTH sides on the block key once, scores with the native
    // cosine kernel, and ranks per vector — the window repartitions on
    // vec_id, the second and last exchange. ----
    QueryDef("e15_knn_join",
      """WITH s AS (SELECT a.vec_id AS vid, b.vec_id AS nid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM embeddings a JOIN embeddings b
        |         ON a.label = b.label AND a.vec_id <> b.vec_id)
        |SELECT vid AS vec_id, nid AS nbr_id, round(cos, 4) AS cos_sim,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT vid, nid, cos,
        |    row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rnk
        |  FROM s) t WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val a = e.select(col("label"), col("vec_id").as("vid"),
        col("embedding").as("va"))
      val b = e.select(col("label").as("label_b"), col("vec_id").as("nid"),
        col("embedding").as("vb"))
      val w = Window.partitionBy("vid").orderBy(col("cos").desc, col("nid"))
      a.join(b, col("label") === col("label_b") && col("vid") =!= col("nid"))
        .withColumn("cos", cos(col("va"), col("vb")))
        .select(col("vid"), col("nid"), col("cos"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("vid").as("vec_id"), col("nid").as("nbr_id"),
          round(col("cos"), 4).as("cos_sim"), col("rnk"))
    },

    // ---- the full IVFADC pipeline (e16): trained coarse quantizer
    // restricts candidates to nprobe probed cells (e08), ONLY those are
    // ADC-scored from PQ codes (e11), shortlist exactly reranked — the
    // composition every production-scale ANN index runs, where the
    // scoring arm touches a nprobe/coarseK fraction of the corpus
    // instead of all of it. Hash-gated rows are the exact arm (e01's
    // oracle); the pipeline arm rides in-band as a recall@5 contract
    // (IvfPqRecallSpec records the measured values). ----
    QueryDef("e16_ivfpq",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS ivfpq_recall_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val (exact, ivfpq) = ivfPqArms(s, dir)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"), col("rnk"))
        .crossJoin(broadcast(recallFlag(exact, ivfpq, 0.6, "ivfpq_recall_ok")))
    },

    // ---- hard-negative mining (e17): for each probe, the top-3
    // most-similar corpus vectors with a DIFFERENT label — the
    // contrastive-training sampler (highest-cosine wrong-class
    // neighbors are the negatives that actually move an embedding
    // model). Same plan as e01 with the label-mismatch predicate
    // fused into the broadcast join: one corpus scan, no shuffle
    // before the per-probe rank. ----
    QueryDef("e17_hard_negatives",
      """WITH q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe
        |            FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, label AS clab, embedding AS ce
        |            FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q JOIN c ON qlab <> clab)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("label").as("clab"),
          col("embedding").as("ce"))
      c.join(broadcast(q), col("qlab") =!= col("clab"))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .select(col("qid"), col("cid"), col("cos"))
        .withColumn("rnk", row_number().over(top5Window).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"),
          col("rnk"))
    },

    // ---- filtered ANN (e18): top-5 restricted to corpus vectors
    // satisfying each query's metadata predicate (same label here) —
    // the big-ann-benchmarks "filtered search" track, and the shape
    // every production retrieval runs (tenant/language/licence
    // filters). The predicate lands BEFORE the distance computation as
    // a join condition, so selectivity cuts the scored set instead of
    // post-filtering a top-k that may then starve below k — the
    // correctness trap this operator exists to avoid. Bounded probe
    // side broadcast; the label predicate makes the join a hash
    // equi-join (no BNLJ), one corpus scan. ----
    QueryDef("e18_filtered_knn",
      """WITH q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe
        |            FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, label AS clab, embedding AS ce
        |            FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q JOIN c ON qlab = clab)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("lbl"),
          col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("label").as("lbl"),
          col("embedding").as("ce"))
      c.join(broadcast(q), Seq("lbl"))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .select(col("qid"), col("cid"), col("cos"))
        .withColumn("rnk", row_number().over(top5Window).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"),
          col("rnk"))
    },

    // ---- late-interaction MaxSim retrieval (e19, the ColBERT scoring
    // shape): each vector is treated as FOUR 16-dim token vectors
    // (contiguous slices), and the pair score is sum over query tokens
    // of the max dot product against any doc token — the multi-vector
    // relevance model single-vector cosine can't express (a doc can
    // match different query aspects with different regions). Bit-
    // stable across engines: max is order-free, the outer sum runs in
    // fixed token order, every dot is the same fixed-order fold.
    // Plan shape is e01's — bounded probes broadcast, one corpus scan,
    // per-probe rank; the token decomposition is a projection, never a
    // row explosion (4x4 dots per pair stay inside one expression). ----
    QueryDef("e19_maxsim",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(0, 4), tq ->
        |         list_max(list_transform(range(0, 4), tc ->
        |           list_sum(list_transform(range(1, 17), i ->
        |             CAST(qe[tq*16 + i] AS DOUBLE) * CAST(ce[tc*16 + i] AS DOUBLE))))))) AS ms
        |       FROM q, c)
        |SELECT qid, cid, round(ms, 4) AS maxsim, CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT qid, cid, ms,
        |    row_number() OVER (PARTITION BY qid ORDER BY ms DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // the same fixed-order folds as the oracle: per query token, the
      // max over doc tokens of a 16-element dot, summed in token order
      val ms = expr(
        """aggregate(sequence(0, 3), 0D, (acc, tq) -> acc +
          |  array_max(transform(sequence(0, 3), tc ->
          |    aggregate(sequence(1, 16), 0D, (a, i) ->
          |      a + CAST(qe[tq*16 + i - 1] AS DOUBLE) * CAST(ce[tc*16 + i - 1] AS DOUBLE)))))""".stripMargin)
      val w = Window.partitionBy("qid").orderBy(col("ms").desc, col("cid"))
      c.join(broadcast(q))
        .withColumn("ms", ms)
        .select(col("qid"), col("cid"), col("ms"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"), round(col("ms"), 4).as("maxsim"),
          col("rnk"))
    },

    // ---- reciprocal-rank fusion (e20): two rankers over the same
    // corpus — whole-vector cosine (e01's relevance model) and
    // late-interaction MaxSim (e19's) — fused per the standard RRF
    // recipe, score = Σ 1/(60 + rank), which rewards documents BOTH
    // rankers place high without comparing their incommensurable raw
    // scores. Integer-exact across engines: the fused score is
    // Σ 10^9 div (60 + rank) in integer division, so no float-sum
    // ordering can flip a rank. One corpus scan computes both scores,
    // two qid-windows rank them, the fusion is a projection; ties →
    // lowest cid. ----
    QueryDef("e20_rrf_fusion",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos,
        |       list_sum(list_transform(range(0, 4), tq ->
        |         list_max(list_transform(range(0, 4), tc ->
        |           list_sum(list_transform(range(1, 17), i ->
        |             CAST(qe[tq*16 + i] AS DOUBLE) * CAST(ce[tc*16 + i] AS DOUBLE))))))) AS ms
        |       FROM q, c),
        |r AS (SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r1,
        |    row_number() OVER (PARTITION BY qid ORDER BY ms DESC, cid) AS r2
        |  FROM s),
        |f AS (SELECT qid, cid,
        |    CAST(1000000000 // (60 + r1) + 1000000000 // (60 + r2) AS BIGINT) AS rrf
        |  FROM r)
        |SELECT qid, cid, rrf, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT qid, cid, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rnk
        |  FROM f) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val ms = expr(
        """aggregate(sequence(0, 3), 0D, (acc, tq) -> acc +
          |  array_max(transform(sequence(0, 3), tc ->
          |    aggregate(sequence(1, 16), 0D, (a, i) ->
          |      a + CAST(qe[tq*16 + i - 1] AS DOUBLE) * CAST(ce[tc*16 + i - 1] AS DOUBLE)))))""".stripMargin)
      val w1 = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      val w2 = Window.partitionBy("qid").orderBy(col("ms").desc, col("cid"))
      val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("cid"))
      c.join(broadcast(q))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .withColumn("ms", ms)
        .select(col("qid"), col("cid"), col("cos"), col("ms"))
        .withColumn("r1", row_number().over(w1))
        .withColumn("r2", row_number().over(w2))
        .withColumn("rrf",
          (expr("1000000000 div (60 + r1)") + expr("1000000000 div (60 + r2)"))
            .cast("long"))
        .withColumn("rnk", row_number().over(wf).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"), col("rrf"), col("rnk"))
    },

    // ---- kNN classification (e21): each probe's label predicted as
    // the MAJORITY label among its exact top-5 neighbors (ties → the
    // smallest label id) — the inference op behind kNN-LM-style
    // retrieval classifiers and embedding-space label propagation,
    // composed from e01's machinery: the neighbor set is the exact
    // top-5, the vote is one tiny aggregate per probe, and correct =
    // prediction equals the probe's own held-out label (emitted as
    // data, so classifier accuracy itself rides the hash gate). ----
    QueryDef("e21_knn_classify",
      """WITH q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe
        |            FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, label AS clab, embedding AS ce
        |            FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, qlab, cid, clab,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c),
        |top AS (SELECT qid, qlab, clab FROM (
        |    SELECT qid, qlab, clab,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |    FROM s) t WHERE rnk <= 5),
        |votes AS (SELECT qid, qlab, clab, count(*) AS v
        |          FROM top GROUP BY 1, 2, 3)
        |SELECT qid, CAST(qlab AS BIGINT) AS true_label,
        |  CAST(pred AS BIGINT) AS pred_label, CAST(v AS BIGINT) AS votes,
        |  pred = qlab AS correct
        |FROM (SELECT qid, qlab, clab AS pred, v,
        |    row_number() OVER (PARTITION BY qid ORDER BY v DESC, clab) AS pr
        |  FROM votes) t WHERE pr = 1""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("embedding").as("qe"))
      val c = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cid"), col("label").as("clab"),
          col("embedding").as("ce"))
      val top = c.join(broadcast(q))
        .withColumn("cos", cos(col("qe"), col("ce")))
        .select(col("qid"), col("qlab"), col("cid"), col("clab"), col("cos"))
        .withColumn("rnk", row_number().over(top5Window))
        .filter(col("rnk") <= 5)
      val voteW = Window.partitionBy("qid")
        .orderBy(col("v").desc, col("clab"))
      top.groupBy("qid", "qlab", "clab").agg(count(lit(1)).as("v"))
        .withColumn("pr", row_number().over(voteW))
        .filter(col("pr") === 1)
        .select(col("qid"), col("qlab").cast("long").as("true_label"),
          col("clab").cast("long").as("pred_label"),
          col("v").cast("long").as("votes"),
          (col("clab") === col("qlab")).as("correct"))
    },

    // ---- e22: semantic decontamination — the embedding-space
    // complement of d46's verbatim-span arm: a train example is
    // contaminated when its embedding has cosine >= 0.92 against ANY
    // benchmark embedding (the eval-similarity filter of Phi/Tulu-style
    // data curation). Benchmark = vec_id % 50 == 0. The corpus has no
    // organic near-benchmark vectors (max organic cos ~0.43), so the
    // gate plants graded leaks on BOTH engines: one perturbed copy per
    // benchmark vector at noise level (bid div 50) % 5 × 0.01 —
    // measured cosines land at 1.0 / ~0.96 / <=0.89 / lower, so the
    // 0.92 threshold crossing is genuinely computed (levels 0-1 in,
    // 2-4 out, margin >= 0.03 at every SF), not a membership bit.
    // Scale shape: benchmark suites are aggregate-sized at any corpus
    // scale — broadcast; ONE native-codegen cosine pass over train ×
    // broadcast bench with map-side partial max/count, so the shuffle
    // is |train| rows. Never pairs train with train. ----
    QueryDef("e22_semantic_decontam",
      """WITH b AS (SELECT vec_id AS bid, embedding AS be
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |t0 AS (SELECT vec_id AS tid, embedding AS te
        |       FROM embeddings WHERE vec_id % 50 <> 0),
        |p AS (SELECT bid + 10000000 AS tid,
        |    list_transform(range(1, len(be)+1), i ->
        |      CAST(CAST(be[i] AS DOUBLE) +
        |        (CAST((bid // 50) % 5 AS DOUBLE) * 0.01) *
        |        CAST((bid * 31 + i * 17) % 13 - 6 AS DOUBLE) AS FLOAT)) AS te
        |  FROM b),
        |tr AS (SELECT * FROM t0 UNION ALL SELECT * FROM p),
        |s AS (SELECT tid, bid,
        |    list_sum(list_transform(range(1, len(te)+1),
        |      i -> CAST(te[i] AS DOUBLE) * CAST(be[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(te, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(be, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM tr, b)
        |SELECT tid AS vec_id,
        |  CAST(sum(CASE WHEN cos >= 0.92 THEN 1 ELSE 0 END) AS BIGINT) AS n_bench_hits,
        |  round(max(cos), 4) AS max_cos,
        |  max(cos) >= 0.92 AS contaminated
        |FROM s GROUP BY tid""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val bench = e.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("bid"), col("embedding").as("be"))
      val organic = e.filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("vec_id").as("tid"), col("embedding").as("te"))
      val planted = bench.select((col("bid") + 10000000L).as("tid"),
        expr("""transform(be, (x, i) -> CAST(CAST(x AS DOUBLE) +
          |  (CAST((bid div 50) % 5 AS DOUBLE) * 0.01D) *
          |  CAST((bid * 31 + (i + 1) * 17) % 13 - 6 AS DOUBLE)
          |  AS FLOAT))""".stripMargin).as("te"))
      organic.unionByName(planted)
        .join(broadcast(bench))
        .withColumn("cos", cos(col("te"), col("be")))
        .groupBy("tid")
        .agg(sum(when(col("cos") >= 0.92, 1L).otherwise(0L)).cast("long")
          .as("n_bench_hits"),
          max(col("cos")).as("mc"))
        .select(col("tid").as("vec_id"), col("n_bench_hits"),
          round(col("mc"), 4).as("max_cos"),
          (col("mc") >= 0.92).as("contaminated"))
    },

    // ---- e23: Maximal Marginal Relevance diversity selection (Carbonell
    // & Goldstein, SIGIR'98) — greedy top-k where each pick maximizes
    // lambda*rel(q,d) - (1-lambda)*max_{s in S} sim(d,s): the
    // diversity-aware retrieval every RAG/dataset-curation stack layers
    // over plain kNN (e01 ranks by relevance alone and returns near-dup
    // neighbors together; MMR spends the same similarity primitive to
    // spread the set). Exact greedy selection IS the oracle: k=8 steps
    // unrolled as chained argmax CTEs in DuckDB (generated below — the
    // recursion is bounded and data-independent, so unrolling beats a
    // recursive CTE with list state), and the Spark arm runs the same k
    // bounded driver iterations (one 1-row collect per step, the
    // documented Lloyd-fetch class), each a fully-distributed scan:
    // maxdiv is greatest() over at most k-1 literal picked vectors, so
    // every step is one codegen pass over the candidates — O(k*n) total
    // work, no all-pairs sim matrix, driver state = k vectors. At 100 TB
    // the candidate set is itself a top-N relevance prefilter (compose
    // with e01/e07); the per-step scan broadcasts k floats. ----
    {
      val cosSql = (a: String, b: String) =>
        s"""list_sum(list_transform(range(1, 65),
           |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
           |    (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |     sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      val steps = (2 to 8).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT r.cid, r.rel,
           |    0.7 * r.rel - 0.3 * max(${cosSql("r.ce", "p.ce")}) AS mmr
           |  FROM rel r, k${i - 1} p
           |  WHERE r.cid NOT IN (SELECT cid FROM k${i - 1})
           |  GROUP BY r.cid, r.rel),
           |p$i AS MATERIALIZED (
           |  SELECT $i AS t, r.cid, r.ce, r.rel, s.mmr FROM
           |    (SELECT cid, mmr FROM s$i ORDER BY mmr DESC, cid LIMIT 1) s
           |    JOIN rel r USING (cid)),
           |k$i AS MATERIALIZED (SELECT * FROM k${i - 1} UNION ALL SELECT * FROM p$i)"""
          .stripMargin
      }.mkString(",\n")
      QueryDef("e23_mmr_select",
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |cand AS (SELECT vec_id AS cid, embedding AS ce
           |         FROM embeddings WHERE vec_id % 5 = 3),
           |rel AS MATERIALIZED (SELECT cid, ce, ${cosSql("ce", "qe")} AS rel
           |        FROM cand, q),
           |p1 AS MATERIALIZED (SELECT 1 AS t, cid, ce, rel, rel AS mmr FROM rel
           |       ORDER BY rel DESC, cid LIMIT 1),
           |k1 AS MATERIALIZED (SELECT * FROM p1),
           |$steps
           |SELECT CAST(t AS BIGINT) AS t, cid AS vec_id,
           |  round(rel, 4) AS rel, round(mmr, 4) AS mmr
           |FROM k8""".stripMargin) { (s, dir) =>
        val e = Tables.load(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        // the q31 1-row broadcast shape: rel is ONE distributed pass
        val rel = e.filter(pmod(col("vec_id"), lit(5)) === 3)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
          .crossJoin(broadcast(q))
          .select(col("cid"), col("ce"), cos(col("ce"), col("qe")).as("rel"))
          .localCheckpoint(true) // k argmax scans re-read this frame
        var picked = Vector.empty[(Long, Long, Array[Float], Double, Double)]
        while (picked.size < 8) {
          val t = picked.size + 1
          val base = rel.filter(!col("cid").isInCollection(
            if (picked.isEmpty) Seq(-1L) else picked.map(_._2)))
          val scored =
            if (picked.isEmpty) base.withColumn("mmr", col("rel"))
            else {
              val sims = picked.map(p => cos(col("ce"), lit(p._3)))
              val maxdiv = if (sims.size == 1) sims.head else greatest(sims: _*)
              base.withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * maxdiv)
            }
          val row = scored.orderBy(col("mmr").desc, col("cid").asc)
            .limit(1).select("cid", "ce", "rel", "mmr").collect()(0)
          picked :+= ((t.toLong, row.getLong(0),
            row.getSeq[Float](1).toArray, row.getDouble(2), row.getDouble(3)))
        }
        import s.implicits._
        picked.map(p => (p._1, p._2, p._4, p._5))
          .toDF("t", "vec_id", "rel0", "mmr0")
          .select(col("t"), col("vec_id"),
            round(col("rel0"), 4).as("rel"), round(col("mmr0"), 4).as("mmr"))
      }
    },

    // ---- INCREMENTAL IVF maintenance (e24): the e-tier's d49. Every
    // other e-tier gate trains its index from scratch; at 100 TB the
    // index is MAINTAINED — today's embeddings (vec_id % 4 == 0) are
    // assigned to the centroids trained on the EXISTING corpus
    // (vec_id % 4 != 0), no retrain, and probes search the merged
    // index. Emitted rows are the exact top-5 over the full corpus
    // (oracle recomputes brute-force); two contracts ride in-band:
    // inc_recall_ok (merged-index recall@5 >= 0.5 vs exact — measured
    // 0.64-0.84 at the three SFs, the e08 band, so assigning a quarter
    // of the corpus to stale centroids holds recall) and drift_ok, THE
    // maintenance statistic: assignment-distance p90 ratio (new/train)
    // <= 1.5 AND cell-occupancy L1 divergence <= 0.8 — the signal that
    // says when to retrain (IncIvfSpec's dial proves a mean-shifted
    // batch flips it false; measured margins in incIvfArms). At 100 TB:
    // assignment is
    // one map-side codegen pass over the batch under a broadcast
    // centroid handle; the store is never rescanned or retrained. ----
    QueryDef("e24_incremental_ivf",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS inc_recall_ok, true AS drift_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val (exact, _, recall, drift) = incIvfArms(s, dir)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"),
          col("rnk"))
        .crossJoin(broadcast(recall))
        .crossJoin(broadcast(drift))
    },

    // ---- PERSISTED IVF-index handoff (e25): d59's discipline on the
    // vector tier — a bootstrap job WRITES the index artifacts a
    // production ANN deployment persists (centroids, per-vector cell
    // assignments, and the drift BASELINE: training-set p90 assignment
    // distance + cell-occupancy histogram) to parquet through graft://;
    // the incremental job reads them COLD, assigns only the batch, and
    // compares the batch's drift statistics against the PERSISTED
    // baseline (e24 recomputes the baseline in-run — here it crosses
    // the serialization boundary, so a stats-contract drift breaks the
    // flags). Emitted rows are the exact top-5 (oracle identical to
    // e24's); StoreHandoffSpec-style canaries in IncIvfSpec prove the
    // reads are load-bearing (a perturbed persisted p90 flips drift_ok;
    // a renamed centroid column fails loudly). ----
    QueryDef("e25_ivf_store_handoff",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 10),
        |     s AS (SELECT qid, cid,
        |       list_sum(list_transform(range(1, 65),
        |         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) /
        |       (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |        sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |       FROM q, c)
        |SELECT qid, cid, round(cos, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk,
        |       true AS inc_recall_ok, true AS drift_ok
        |FROM (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM s) t WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val base = CacheQueries.tmpBase("graft-ivfstore", dir)
      bootstrapIvfStore(s, dir, base) // job 1: write the index contract
      val (exact, _, recall, drift) = ivfStoreArms(s, dir, base)
      exact
        .select(col("qid"), col("cid"), round(col("cos"), 4).as("cos_sim"),
          col("rnk"))
        .crossJoin(broadcast(recall))
        .crossJoin(broadcast(drift))
    }
  )

  /** e25's bootstrap JOB: train the coarse quantizer on the existing
    * corpus and WRITE the index artifacts to parquet through graft:// —
    * centroids (cell, cvec as ARRAY<DOUBLE>, lossless round-trip),
    * per-vector assignments (vec_id, cell), and the drift baseline
    * (train_p90 scalar + per-cell occupancy counts). */
  private[graft] def bootstrapIvfStore(s: org.apache.spark.sql.SparkSession,
      dir: String, base: String): Unit = {
    CacheQueries.enableCacheFs(s)
    val k = 16
    val old = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(4)) =!= 0)
      .select(col("vec_id"), col("embedding"))
      .persist()
    val cents = kmeansCentroids(old, k, iters = 2, trainTargetRows = 1000L)
    val bc = graft.functions.VectorOps.broadcastCentroids(s, cents)
    import s.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "cvec")
    val centF = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toDF("cell", "cvecf")
    val assigned = old.withColumn("cell",
      graft.functions.VectorOps.nearestCentroidCol(col("embedding"), bc))
      .persist()
    def w(df: DataFrame, name: String): () => Unit =
      () => df.write.mode("overwrite").parquet(s"graft://$base/$name")
    // four independent consumers of the persisted assignment — overlap
    // the artifact writes (r18, guide §2.6; disjoint overwrite paths)
    Par.writes(
      w(centDf, "centroids"),
      w(assigned.select("vec_id", "cell"), "assignments"),
      w(assigned.groupBy("cell").agg(count(lit(1)).as("n")), "occupancy"),
      w(assigned.join(broadcast(centF), Seq("cell"))
        .select((lit(1.0) - graft.functions.VectorOps
          .cosineSim(col("embedding"), col("cvecf"))).as("dist"))
        .agg(expr("percentile(dist, 0.9D)").as("train_p90")), "stats"))
  }

  /** e25's incremental-job arms: COLD reads of the persisted index —
    * centroids (one bounded k×dims collect, the Lloyd-fetch class),
    * assignments joined back to the vector store for the merged-index
    * search, and the drift baseline compared against the BATCH's
    * statistics computed in-run. `newTransform` is IncIvfSpec's dial. */
  private[graft] def ivfStoreArms(s: org.apache.spark.sql.SparkSession,
      dir: String, base: String,
      newTransform: Column => Column = identity)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    CacheQueries.enableCacheFs(s)
    def r(name: String) = s.read.parquet(s"graft://$base/$name")
    val nprobe = 8
    val baseT = Tables.load(s, dir, "embeddings")
    val probes = baseT.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val newB = baseT.filter(col("vec_id") >= 10 &&
        pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id").as("cid"), newTransform(col("embedding")).as("ce"))
    val corpus = baseT.filter(col("vec_id") >= 10 &&
        pmod(col("vec_id"), lit(4)) =!= 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .unionByName(newB)
    val exact = exactTop5(probes, corpus)
      .persist() // three consumers: recall hits / total / emitted rows
    // the persisted quantizer, fetched once (k × dims doubles)
    // by NAME, not position: a renamed/reordered store column must fail
    // loudly here, not silently read the wrong field (drift-canary class)
    val cents: Seq[Seq[Double]] = r("centroids")
      .select(col("cell"), col("cvec")).collect()
      .map(row => row.getInt(0) -> row.getSeq[Double](1)).sortBy(_._1)
      .map(_._2.toSeq).toSeq
    val bc = graft.functions.VectorOps.broadcastCentroids(s, cents)
    import s.implicits._
    val centF = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toDF("cell", "cvecf")
    // merged index: PERSISTED old assignments (cells never recomputed)
    // joined back to the vector store, plus today's batch assignment
    val oldA = r("assignments")
      .join(baseT.select(col("vec_id"), col("embedding").as("ce")), "vec_id")
      .select(col("vec_id").as("cid"), col("ce"), col("cell"))
    val newA = newB.withColumn("cell",
      graft.functions.VectorOps.nearestCentroidCol(col("ce"), bc))
    val ivf = oldA.unionByName(newA.select("cid", "ce", "cell"))
      .join(broadcast(probes.withColumn("cell", explode(
        graft.functions.VectorOps.nearestCentroidsCol(col("qe"), bc, nprobe)))),
        Seq("cell"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
    val recall = recallFlag(exact, ivf, 0.5, "inc_recall_ok")
    // batch drift statistics vs the PERSISTED baseline
    val batchP90 = newA.join(broadcast(centF), Seq("cell"))
      .select((lit(1.0) - graft.functions.VectorOps
        .cosineSim(col("ce"), col("cvecf"))).as("dist"))
      .agg(expr("percentile(dist, 0.9D)").as("pn"))
    val l1 = r("occupancy").withColumnRenamed("n", "no")
      .join(newA.groupBy("cell").agg(count(lit(1)).as("nn")),
        Seq("cell"), "full_outer")
      .crossJoin(broadcast(r("occupancy")
        .agg(sum("n").as("to"))))
      .crossJoin(broadcast(newA.agg(count(lit(1)).as("tn"))))
      .agg(sum(abs(
        coalesce(col("no"), lit(0L)).cast("double") / col("to") -
        coalesce(col("nn"), lit(0L)).cast("double") / col("tn"))).as("l1"))
    val drift = batchP90
      .crossJoin(broadcast(r("stats").select(col("train_p90").as("po"))))
      .crossJoin(broadcast(l1))
      .select((col("pn") <= col("po") * 1.5 && col("l1") <= 0.8)
        .as("drift_ok"))
    (exact, ivf, recall, drift)
  }

  /** e24's four arms (exact truth target, merged-index IVF top-5, the
    * in-band recall flag, the drift flag), parameterized so IncIvfSpec
    * can perturb the NEW batch and prove the drift statistic detects a
    * distribution shift (the non-vacuity dial). Centroids are trained on
    * the OLD corpus only — the new batch is assigned, never trained on. */
  private[graft] def incIvfArms(s: org.apache.spark.sql.SparkSession,
      dir: String, newTransform: Column => Column = identity)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val k = 16; val nprobe = 8
    val base = Tables.load(s, dir, "embeddings")
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val old = base.filter(col("vec_id") >= 10 &&
        pmod(col("vec_id"), lit(4)) =!= 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .persist()
    val newB = base.filter(col("vec_id") >= 10 &&
        pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id").as("cid"), newTransform(col("embedding")).as("ce"))
    val corpus = old.unionByName(newB)
    val exact = exactTop5(probes, corpus)
      .persist() // three consumers: recall hits / total / emitted rows
    // the EXISTING index: centroids from the old corpus only
    val cents = kmeansCentroids(
      old.select(col("cid").as("vec_id"), col("ce").as("embedding")),
      k, iters = 2, trainTargetRows = 1000L)
    val bc = graft.functions.VectorOps.broadcastCentroids(s, cents)
    import s.implicits._
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toDF("cell", "cvec")
    val oldA = old.withColumn("cell",
      graft.functions.VectorOps.nearestCentroidCol(col("ce"), bc))
    val newA = newB.withColumn("cell",
      graft.functions.VectorOps.nearestCentroidCol(col("ce"), bc))
    // merged index = stored assignments ∪ the batch's new assignments
    val ivf = oldA.unionByName(newA)
      .join(broadcast(probes.withColumn("cell", explode(
        graft.functions.VectorOps.nearestCentroidsCol(col("qe"), bc, nprobe)))),
        Seq("cell"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
    val recall = recallFlag(exact, ivf, 0.5, "inc_recall_ok")
    // drift, two statistics over the SAME assignment pass (1-row
    // aggregates, broadcast-joined — the q31 shape):
    //  - assignment-distance p90 ratio (new/train) <= 1.5 — the textbook
    //    statistic; measured 1.03-1.15 on an unshifted batch, but nearly
    //    BLIND on this diffuse corpus (a +0.3 mean shift moves it < 3%)
    //  - cell-occupancy L1 divergence <= 0.8 — the statistic with teeth:
    //    unshifted 0.17-0.36 across SFs, +0.3-shifted 1.39-1.83 (max 2),
    //    >= 2x margin on both sides of the threshold
    def p90(df: DataFrame) = df.join(broadcast(centDf), Seq("cell"))
      .select((lit(1.0) -
        graft.functions.VectorOps.cosineSim(col("ce"), col("cvec"))).as("dist"))
      .agg(expr("percentile(dist, 0.9D)").as("p"))
    val l1 = oldA.groupBy("cell").agg(count(lit(1)).as("no"))
      .join(newA.groupBy("cell").agg(count(lit(1)).as("nn")),
        Seq("cell"), "full_outer")
      .crossJoin(broadcast(oldA.agg(count(lit(1)).as("to"))))
      .crossJoin(broadcast(newA.agg(count(lit(1)).as("tn"))))
      .agg(sum(abs(
        coalesce(col("no"), lit(0L)).cast("double") / col("to") -
        coalesce(col("nn"), lit(0L)).cast("double") / col("tn"))).as("l1"))
    val drift = p90(newA).select(col("p").as("pn"))
      .crossJoin(broadcast(p90(oldA).select(col("p").as("po"))))
      .crossJoin(broadcast(l1))
      .select((col("pn") <= col("po") * 1.5 && col("l1") <= 0.8)
        .as("drift_ok"))
    (exact, ivf, recall, drift)
  }

  /** e12's two arms (exact truth target + truncated-prefix shortlist →
    * full-width rerank), parameterized so MrlRecallSpec can chart recall
    * against prefix width and shortlist size. The exact arm is persisted;
    * callers run under PinScope (see [[knnIvf]]'s pinning contract). */
  def mrlArms(s: org.apache.spark.sql.SparkSession, dir: String,
      prefixDims: Int = 32, shortlistN: Int = 100): (DataFrame, DataFrame) = {
    val base = Tables.load(s, dir, "embeddings")
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        expr(s"slice(embedding, 1, $prefixDims)").as("qp"))
    val c = base.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        expr(s"slice(embedding, 1, $prefixDims)").as("cp"))
    val exact = exactTop5(
      q.select(col("qid"), col("qe")), c.select(col("cid"), col("ce"))).persist()
    // shortlist on the prefix slice only (the narrow scan at scale);
    // ce rides along so the rerank needs no second corpus pass
    val shortW = Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))
    val shortlist = c.select(col("cid"), col("ce"), col("cp"))
      .join(broadcast(q))
      .withColumn("pcos", cos(col("qp"), col("cp")))
      .select(col("qid"), col("qe"), col("cid"), col("ce"), col("pcos"))
      .withColumn("srnk", row_number().over(shortW))
      .filter(col("srnk") <= shortlistN)
    val mrl = shortlist
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
    (exact, mrl)
  }

  /** e13's two arms (exact truth target + hamming-shortlist-reranked
    * top-5), parameterized so HammingRecallSpec can chart recall against
    * shortlist size. Sign bits are computed scan-side by the native
    * [[graft.functions.VectorOps.SignBits64]] kernel; the pair score is
    * builtin `bit_count(qb ^ cb)` — the whole shortlist stage stays in
    * whole-stage codegen. The exact arm is persisted; callers run under
    * PinScope (see [[knnIvf]]'s pinning contract). */
  def hammingArms(s: org.apache.spark.sql.SparkSession, dir: String,
      shortlistN: Int = 128): (DataFrame, DataFrame) = {
    val base = Tables.load(s, dir, "embeddings")
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        graft.functions.VectorOps.signBits64Col(col("embedding")).as("qb"))
    val c = base.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        graft.functions.VectorOps.signBits64Col(col("embedding")).as("cb"))
    val exact = exactTop5(
      q.select(col("qid"), col("qe")), c.select(col("cid"), col("ce"))).persist()
    // shortlist on XOR+POPCNT over the 8-byte codes (the narrow scan at
    // scale); ce rides along so the rerank needs no second corpus pass
    // (e12's trade — at open scale an ids-only shortlist + semi-join
    // back is the alternative when the window shuffle must stay thin)
    val shortW = Window.partitionBy("qid").orderBy(col("ham").asc, col("cid"))
    val shortlist = c.join(broadcast(q))
      .withColumn("ham", expr("bit_count(qb ^ cb)"))
      .select(col("qid"), col("qe"), col("cid"), col("ce"), col("ham"))
      .withColumn("srnk", row_number().over(shortW))
      .filter(col("srnk") <= shortlistN)
    val ham = shortlist
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
    (exact, ham)
  }

  /** e11's two arms (exact truth target + PQ-shortlist-reranked top-5),
    * parameterized so PqRecallSpec can chart recall against codebook
    * iterations and shortlist size. Both returned frames are persisted;
    * callers run under PinScope (see [[knnIvf]]'s pinning contract). */
  def pqArms(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 2, shortlistN: Int = 64, m: Int = 16,
      k: Int = 32): (DataFrame, DataFrame) = {
    val subDim = 64 / m
    val V = graft.functions.VectorOps
    val base = Tables.load(s, dir, "embeddings")
    def normalized(df: DataFrame): DataFrame = df
      .withColumn("nrm0", norm(col("embedding")))
      .withColumn("nrm", when(col("nrm0") === 0.0, lit(1.0)).otherwise(col("nrm0")))
      .withColumn("ne",
        expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT))"))
      .drop("nrm0", "nrm")
    def slice(sub: Int): Column = expr(
      s"transform(sequence(0, 63), i -> IF(i < $subDim, ne[i + ${sub * subDim}], CAST(0.0 AS FLOAT)))")
    // persisted: training (8 sub-sampled scans), encoding, and the
    // rerank join all read it — one parquet pass total (PinScope sweeps)
    val corpus = normalized(base.filter(col("vec_id") >= 10))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("ne"))
      .persist()
    val probes = normalized(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("ne").as("qn"))
    val exact = exactTop5(
      probes.select(col("qid"), col("qe")),
      corpus.select(col("cid"), col("ce"))).persist()
    // per-subspace codebooks; only m x k x dims doubles reach the driver.
    // The m trainings are independent job chains over the SAME persisted
    // corpus — submitted concurrently so the scheduler interleaves their
    // (small) stages instead of paying m x per-job latency serially.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks = Await.result(
      Future.traverse((0 until m).toList) { sub => Future {
        kmeansCentroids(
          corpus.select(col("cid").as("vec_id"), slice(sub).as("embedding")),
          k, iters = iters, trainTargetRows = 500L)
      }}, Duration.Inf)
    // encode: 8 nearest-codeword assignments per corpus row, all from
    // broadcast codebook handles (plan size O(1) in k, as e08)
    val encoded = (0 until m).foldLeft(corpus) { (df, sub) =>
      val bc = V.broadcastCentroids(s, codebooks(sub))
      df.withColumn(s"code$sub", V.nearestCentroidCol(slice(sub), bc))
    }
    val codes = encoded.select(col("cid"),
      array((0 until m).map(i => col(s"code$i")): _*).as("codes"))
    // ADC tables: per (probe, sub, code) the subvector inner product —
    // m x k rows per probe, built from a driver-side codebook frame
    import s.implicits._
    val cb = (for { sub <- 0 until m; c <- 0 until k }
      yield (sub, c, codebooks(sub)(c).take(subDim)))
      .toDF("sub", "code", "cent")
    val ipTable = probes
      .select(col("qid"), col("qn"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("qid"), col("sub"), expr(
        s"transform(sequence(0, ${subDim - 1}), i -> CAST(qn[i + sub * $subDim] AS DOUBLE))").as("qsub"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("ip",
        expr("aggregate(zip_with(qsub, cent, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
      .select(col("qid"), col("sub"), col("code"), col("ip"))
    // score every candidate: 8 lookups + partial-agg sum (map-side
    // combine keeps the shuffle at one row per (qid, cid))
    val adc = codes
      .select(col("cid"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(ipTable), Seq("sub", "code"))
      .groupBy("qid", "cid").agg(sum("ip").as("adc"))
    val shortlist = adc
      .withColumn("srnk",
        row_number().over(Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))))
      .filter(col("srnk") <= shortlistN)
      .select(col("qid"), col("cid"))
    // exact re-rank of the bounded shortlist
    val pq = shortlist
      .join(corpus.select(col("cid"), col("ce")), Seq("cid"))
      .join(broadcast(probes.select(col("qid"), col("qe"))), Seq("qid"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
      .persist()
    (exact, pq)
  }

  /** e16's two arms: the full IVFADC pipeline (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search" — the shape every
    * production ANN index at open scale composes): a trained coarse
    * quantizer restricts candidates to the probe's nprobe nearest cells
    * (e08's blocking), ONLY those candidates are ADC-scored from the PQ
    * codes (e11's table lookups), the ADC shortlist is exactly reranked.
    * vs e11 alone: the ADC aggregation touches nprobe/k of the corpus
    * instead of all of it — at 100 TB that factor (cells grow with the
    * corpus, nprobe stays small) is what makes the scoring arm a
    * constant-fraction scan. Exact arm persisted; callers run under
    * PinScope. */
  def ivfPqArms(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 2, shortlistN: Int = 64, m: Int = 16, k: Int = 32,
      coarseK: Int = 16, nprobe: Int = 8): (DataFrame, DataFrame) = {
    val subDim = 64 / m
    val V = graft.functions.VectorOps
    val base = Tables.load(s, dir, "embeddings")
    def normalized(df: DataFrame): DataFrame = df
      .withColumn("nrm0", norm(col("embedding")))
      .withColumn("nrm", when(col("nrm0") === 0.0, lit(1.0)).otherwise(col("nrm0")))
      .withColumn("ne",
        expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT))"))
      .drop("nrm0", "nrm")
    def slice(sub: Int): Column = expr(
      s"transform(sequence(0, 63), i -> IF(i < $subDim, ne[i + ${sub * subDim}], CAST(0.0 AS FLOAT)))")
    val corpus = normalized(base.filter(col("vec_id") >= 10))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("ne"))
      .persist()
    val probes = normalized(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("ne").as("qn"))
    val exact = exactTop5(
      probes.select(col("qid"), col("qe")),
      corpus.select(col("cid"), col("ce"))).persist()
    // coarse quantizer + m per-subspace codebooks, trained concurrently
    // over the same persisted corpus (the pqArms/d26 interleave pattern)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val coarseF = Future(kmeansCentroids(
      corpus.select(col("cid").as("vec_id"), col("ne").as("embedding")),
      coarseK, iters = iters, trainTargetRows = 1000L))
    val codebooksF = Future.traverse((0 until m).toList) { sub => Future {
      kmeansCentroids(
        corpus.select(col("cid").as("vec_id"), slice(sub).as("embedding")),
        k, iters = iters, trainTargetRows = 500L)
    }}
    val coarse = Await.result(coarseF, Duration.Inf)
    val codebooks = Await.result(codebooksF, Duration.Inf)
    val coarseBc = V.broadcastCentroids(s, coarse)
    // IVF candidate generation: corpus rows keyed by home cell, probes
    // exploded to their nprobe cells — the equi-join IS the shortlist's
    // search scope (no scoring outside it)
    val encoded = (0 until m).foldLeft(
      corpus.withColumn("cell", V.nearestCentroidCol(col("ne"), coarseBc))) {
      (df, sub) =>
        val bc = V.broadcastCentroids(s, codebooks(sub))
        df.withColumn(s"code$sub", V.nearestCentroidCol(slice(sub), bc))
    }
    val codes = encoded.select(col("cid"), col("cell"),
      array((0 until m).map(i => col(s"code$i")): _*).as("codes"))
    val probeCells = probes
      .select(col("qid"),
        explode(V.nearestCentroidsCol(col("qn"), coarseBc, nprobe)).as("cell"))
    import s.implicits._
    val cb = (for { sub <- 0 until m; c <- 0 until k }
      yield (sub, c, codebooks(sub)(c).take(subDim)))
      .toDF("sub", "code", "cent")
    val ipTable = probes
      .select(col("qid"), col("qn"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("qid"), col("sub"), expr(
        s"transform(sequence(0, ${subDim - 1}), i -> CAST(qn[i + sub * $subDim] AS DOUBLE))").as("qsub"))
      .join(broadcast(cb), Seq("sub"))
      .withColumn("ip",
        expr("aggregate(zip_with(qsub, cent, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
      .select(col("qid"), col("sub"), col("code"), col("ip"))
    // ADC over the IVF-restricted candidates only: the cell join lands
    // first, so each (qid, cid) scored is inside the probed cells
    val adc = codes
      .join(broadcast(probeCells), Seq("cell"))
      .select(col("qid"), col("cid"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(ipTable), Seq("qid", "sub", "code"))
      .groupBy("qid", "cid").agg(sum("ip").as("adc"))
    val shortlist = adc
      .withColumn("srnk",
        row_number().over(Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))))
      .filter(col("srnk") <= shortlistN)
      .select(col("qid"), col("cid"))
    val ivfpq = shortlist
      .join(corpus.select(col("cid"), col("ce")), Seq("cid"))
      .join(broadcast(probes.select(col("qid"), col("qe"))), Seq("qid"))
      .withColumn("cos", cos(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("cos"))
      .withColumn("rnk", row_number().over(top5Window).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"))
      .persist()
    (exact, ivfpq)
  }

  /** e16's measured recall@5 (IvfPqRecallSpec). */
  def ivfPqRecall(s: org.apache.spark.sql.SparkSession, dir: String,
      shortlistN: Int = 64, nprobe: Int = 8): Double = {
    val (exact, ivfpq) = ivfPqArms(s, dir, shortlistN = shortlistN,
      nprobe = nprobe)
    val hits = exact.join(ivfpq, Seq("qid", "cid"), "left_semi").count().toDouble
    hits / exact.count()
  }

  /** Measured recall@5 of [[pqArms]]'s PQ arm against its exact arm. */
  def pqRecall(s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int = 2, shortlistN: Int = 64, m: Int = 16,
      k: Int = 32): Double = {
    val (exact, pq) = pqArms(s, dir, iters, shortlistN, m, k)
    val hits = exact.join(pq, Seq("qid", "cid"), "left_semi").count().toDouble
    hits / exact.count()
  }

  /** e12's measured recall@5 (MrlRecallSpec). */
  def mrlRecall(s: org.apache.spark.sql.SparkSession, dir: String,
      prefixDims: Int = 32, shortlistN: Int = 100): Double = {
    val (exact, mrl) = mrlArms(s, dir, prefixDims, shortlistN)
    val hits = exact.join(mrl, Seq("qid", "cid"), "left_semi").count().toDouble
    hits / exact.count()
  }

  /** e13's measured recall@5 (HammingRecallSpec). */
  def hammingRecall(s: org.apache.spark.sql.SparkSession, dir: String,
      shortlistN: Int = 128): Double = {
    val (exact, ham) = hammingArms(s, dir, shortlistN)
    val hits = exact.join(ham, Seq("qid", "cid"), "left_semi").count().toDouble
    hits / exact.count()
  }
}
