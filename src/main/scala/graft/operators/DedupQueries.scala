package graft.operators

import org.apache.spark.sql.functions._

/** Gate entries for the near-dup operators. The signatures themselves are
  * not SQL-expressible in the oracle dialect, so the emitted rows follow
  * the q31/q39 contract: every emitted CELL is something DuckDB computes
  * independently (exact shingle-Jaccard pairs, planted-twin pair lists),
  * and the engine-specific sketch results ride as in-band columns the
  * oracle states the expected value of — the hash gate then fails on any
  * recall/precision/estimate defect. Deeper engine-side exactness
  * (banded == exhaustive, est-vs-exact distributions) stays in
  * DedupSpec/PipelineSpec. */
object DedupQueries {

  /** Exact label-blocked semantic near-dup pairs (id_a < id_b) at cosine
    * >= tau — d26's truth arm and SemDedupRecallSpec's denominator. */
  def exactSemanticPairs(e: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame =
    e.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"))
      .join(e.select(col("label").as("label_b"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b")),
        col("label") === col("label_b") && col("id_a") < col("id_b"))
      .filter(graft.functions.VectorOps.cosineSim(col("emb_a"), col("emb_b")) >= tau)
      .select(col("id_a"), col("id_b"))

  /** Open-domain quantized candidate pairs (d26's approximate arm):
    * int8 codes, trained k-cell IVF coarse quantizer as the blocking
    * key with ASYMMETRIC multi-probe (each vector lives in its single
    * nearest cell; each vector also PROBES its nprobe nearest cells —
    * a pair is a candidate when either side's home cell is among the
    * other's probes), native integer-cosine verify at tau. Asymmetric
    * blocking costs Σ|home(c)|·|probes(c)| candidates — nprobe× the
    * corpus-per-cell product — where a symmetric variant squares the
    * probe fan-out (nprobe²×): probing half the toy quantizer's cells
    * asymmetrically (nprobe=8 of k=16) still halves the candidate
    * volume of the symmetric nprobe=4 formulation while measuring the
    * same recall band (0.92-1.0, SemDedupRecallSpec; asymmetric
    * nprobe=4 sat at 0.79 — under the spec floor). Never corpus-wide
    * all-pairs — the SemDeDup cost model: k grows with the corpus so
    * cells stay bounded (the training sample grows WITH k — see below),
    * and nprobe stays a small constant WHEN the corpus has concentrated
    * neighbor structure (real embedding corpora: dups many σ above the
    * random-cosine tail). On a diffuse corpus — this testdata's median
    * top-1 cosine is only 3.2σ — recall tracks the probed FRACTION
    * nprobe/k instead, and the qualifying output is itself quadratic,
    * so constant-fraction probing is optimal there. Both regimes and
    * the boundary statistic are measured in SCALE.md (r10). */
  def quantSemanticPairs(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, tau: Double, k: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    val V = graft.functions.VectorOps
    // persisted: the sizing count, the training sample, and both join
    // sides scan it — one parquet pass + one encode instead of four
    // (PinScope sweeps the pin after the caller materializes)
    val coded = e.select(col("vec_id"), col("embedding"),
      VectorQueries.int8Codes(col("embedding")).as("qv")).persist()
    // the training sample must scale WITH k (≥64 points per centroid):
    // the r10 sf1 probe measured recall 0.92 → 0.42 when k grew 10× over
    // a fixed 1000-row sample — ~6 points per centroid yields collapsed/
    // empty cells that neither wider probing (nprobe 8→64 flat) nor a
    // slack verify threshold recovers. Sample cost stays linear in k.
    val cents = VectorQueries.kmeansCentroids(
      coded.select(col("vec_id"), col("embedding")),
      k, iters = 2, trainTargetRows = math.max(1000L, 64L * k))
    val bc = V.broadcastCentroids(s, cents)
    val home = coded.select(col("vec_id").as("id_h"), col("qv").as("qh"),
      V.nearestCentroidCol(col("embedding"), bc).as("cell"))
    val probes = coded.select(col("vec_id").as("id_p"), col("qv").as("qp"),
      explode(V.nearestCentroidsCol(col("embedding"), bc, nprobe)).as("cell"))
    home.join(probes, Seq("cell"))
      .filter(col("id_h") =!= col("id_p") &&
        V.intCosineSimCol(col("qh"), col("qp")) >= tau)
      .select(least(col("id_h"), col("id_p")).as("id_a"),
        greatest(col("id_h"), col("id_p")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  val defs: Seq[QueryDef] = Seq(

    // MinHash+LSH over the same-(lang,source) co-shingle pair universe
    // (the d05 oracle set — DuckDB recomputes it exactly). For each pair,
    // `lsh_candidate` is the ACTUAL banded-join membership; the oracle
    // asserts it equals `jaccard >= 0.5` — on this corpus the Jaccard
    // distribution is bimodal (<0.1 / >=0.8), the 16x4 banding catches
    // every >=0.8 pair and none below 0.1 (verified at sf0.001/0.01/0.1),
    // so both recall misses AND band-collision false positives
    // hash-mismatch. `est_in_band` pins |signature estimate - exact| <=
    // 0.15 on candidates (observed max 0.03; ~4 sigma for 64 perms).
    QueryDef("d06_dedup_minhash_lsh", TextQueries.jaccardOracle(
      """SELECT doc_a, doc_b, jaccard,
        | jaccard >= 0.5 AS lsh_candidate,
        | true AS est_in_band
        |FROM pairs""".stripMargin)) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val cands = Dedup.lshCandidates(Dedup.signatures(docs))
      TextQueries.jaccardPairs(s, dir)
        .join(cands, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("est_jaccard").isNotNull.as("lsh_candidate"),
          coalesce(abs(col("est_jaccard") - col("jaccard")) <= 0.15, lit(true))
            .as("est_in_band"))
    },

    // SimHash via planted twins: union the corpus with an id-shifted copy
    // of itself, run the full pigeonhole-banded candidate join, and emit
    // one row per planted (doc, twin) pair with the ACTUAL hamming the
    // engine measured (-1 if the pair was missed). Identical token
    // streams give identical fingerprints, so hamming is 0 and pigeonhole
    // capture is guaranteed by construction — the oracle's literal 0
    // makes any banding/fingerprint defect a hash mismatch. Token-less
    // docs produce no fingerprint on either side. Near-dup (hamming 1-8)
    // behavior over the real corpus is covered by DedupSpec's
    // banded == exhaustive sweep, which no SQL oracle can express.
    QueryDef("d07_dedup_simhash",
      """WITH d AS (SELECT doc_id, lang FROM documents
        |           WHERE len(regexp_extract_all(text, '\S+')) > 0)
        |SELECT CAST(doc_id AS BIGINT) AS doc_a,
        |  CAST(doc_id + 1000000 AS BIGINT) AS doc_b, lang,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM d""".stripMargin) { (s, dir) =>
      val offset = 1000000L
      val docs = Tables.guardIdsBelow(
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "text"), offset)
      val twins = docs.withColumn("doc_id", col("doc_id") + offset)
      val cands = Dedup.simhashCandidates(docs.unionByName(twins))
      docs
        .filter(size(graft.functions.TextStats.wsTokensCol(col("text"))) > 0)
        .select(col("doc_id").cast("long").as("doc_a"),
          (col("doc_id") + offset).cast("long").as("doc_b"), col("lang"))
        .join(cands, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"), col("lang"),
          coalesce(col("hamming"), lit(-1)).cast("long").as("hamming"))
    },

    // ---- substring/rolling-window dedup (the Lee et al. "Deduplicating
    // Training Data Makes Language Models Better" shape, approximated at
    // window granularity): every doc is decomposed into its distinct
    // 8-token sliding windows (stride 1) by the same one-loop-per-doc
    // codegen expression the shingle ops use — zero shuffle to produce,
    // no gram strings materialized. A window is "duplicated" if the same
    // 8-token substring first occurs in a lower doc_id (first-occurrence
    // keep). Per doc we emit window counts, the duplication fraction in
    // exact integer permille (n_dup*1000 div n_win — no double ratio, no
    // rounding-boundary flips), and the keep decision (< 50% duplicated).
    //
    // Scale shape: ONE shuffle on the 8-byte window hash (min-over-window
    // computes first occurrence without a groupBy+self-join re-shuffle),
    // one on doc_id for the per-doc rollup. Never pairwise: a window
    // shared by a million docs costs one hot hash partition, not 10^12
    // pairs. The oracle recomputes everything from the window STRINGS in
    // DuckDB — the equi-join on xxhash64(window) is equivalent to string
    // equality modulo 64-bit collisions (the d05 precedent). ----
    QueryDef("d21_window_dedup",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |w AS (SELECT doc_id,
        |   list_distinct(list_transform(range(1, greatest(len(tk)-7, 0)+1),
        |     i -> concat_ws(' ', tk[i],tk[i+1],tk[i+2],tk[i+3],tk[i+4],tk[i+5],tk[i+6],tk[i+7]))) AS wins
        | FROM t),
        |e AS (SELECT doc_id, unnest(wins) AS win FROM w),
        |k AS (SELECT win, min(doc_id) AS first_doc FROM e GROUP BY win),
        |p AS (SELECT e.doc_id, count(*) AS n_win,
        |        sum(CASE WHEN e.doc_id > k.first_doc THEN 1 ELSE 0 END) AS n_dup
        |      FROM e JOIN k USING (win) GROUP BY e.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(p.n_win, 0) AS BIGINT) AS n_win,
        |  CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(COALESCE(p.n_dup, 0) * 1000 // greatest(COALESCE(p.n_win, 0), 1) AS BIGINT)
        |    AS dup_permille,
        |  COALESCE(p.n_dup * 2 < p.n_win, true) AS keep
        |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin) { (s, dir) =>
      val W = 8
      val docs = Tables.load(s, dir, "documents")
      val exploded = docs
        .withColumn("__tok", Dedup.tokenCol)
        .select(col("doc_id"),
          explode(graft.functions.TextHashes.shingleHash64Col(
            col("text"), col("__tok"), W, emptyIfShort = true)).as("wh"))
      val byHash = org.apache.spark.sql.expressions.Window.partitionBy("wh")
      val perDoc = exploded
        .withColumn("first_doc", min("doc_id").over(byHash))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"),
          sum(when(col("doc_id") > col("first_doc"), 1L).otherwise(0L)).as("n_dup"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_win"), lit(0L)).cast("long").as("n_win"),
          coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"))
        .withColumn("dup_permille",
          expr("n_dup * 1000L div greatest(n_win, 1L)").cast("long"))
        .withColumn("keep",
          when(col("n_win") === 0L, lit(true))
            .otherwise(col("n_dup") * 2 < col("n_win")))
    },

    // ---- window-dedup REWRITE stage (d21's consumer — the actual
    // transform, not just the keep/drop verdict): drop every token
    // covered by an 8-token window whose content first occurred in an
    // earlier doc, emit the surviving text md5-pinned (d23 precedent).
    // Window hashes here are POSITIONAL (window i covers tokens
    // i..i+7), so coverage is pure integer interval logic once the
    // cross-doc duplicate window positions are known. Scale shape: ONE
    // shuffle on the 8-byte window hash (min-over-window first
    // occurrence, d21's plan), one rollup to collect each doc's dup
    // positions (bounded by tokens/doc), then a zero-shuffle rewrite
    // projection — the 100 TB cost is d21's plus one integer-array
    // projection; never a self-join on text. ----
    QueryDef("d27_dedup_rewrite",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tk FROM documents),
        |w AS (SELECT doc_id, tk, len(tk) AS n,
        |        list_transform(range(1, greatest(len(tk)-7, 0)+1),
        |          i -> concat_ws(' ', tk[i],tk[i+1],tk[i+2],tk[i+3],tk[i+4],tk[i+5],tk[i+6],tk[i+7])) AS wins
        |      FROM t),
        |e AS (SELECT doc_id, unnest(wins) AS win, unnest(range(1, len(wins)+1)) AS i FROM w),
        |k AS (SELECT win, min(doc_id) AS first_doc FROM e GROUP BY win),
        |d AS (SELECT e.doc_id, list_sort(list(e.i)) AS dups
        |      FROM e JOIN k USING (win) WHERE e.doc_id > k.first_doc GROUP BY e.doc_id),
        |r AS (SELECT w.doc_id, w.tk, w.n, coalesce(d.dups, []) AS dups
        |      FROM w LEFT JOIN d USING (doc_id)),
        |f AS (SELECT doc_id, n,
        |        list_transform(
        |          list_filter(range(1, n + 1),
        |            j -> len(list_filter(dups, i -> j >= i AND j <= i + 7)) = 0),
        |          j -> tk[CAST(j AS INT)]) AS kept
        |      FROM r)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(kept) * 1000 // greatest(n, 1) AS BIGINT) AS kept_permille,
        |       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
        |FROM f""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStats.wsTokensCol(col("text")).as("tk"))
      // positional window hashes (1-based start index; xxhash64 of the
      // window string == joining on the string modulo 64-bit collisions,
      // the d05/d21 precedent). Guard short docs explicitly: Spark's
      // sequence(1, 0) is DESCENDING and non-empty.
      val whs = docs.select(col("doc_id"), posexplode(
        transform(graft.functions.TextStats.windowJoinsCol(col("tk"), 8),
          w => xxhash64(w)))
        .as(Seq("i0", "wh")))
      val byHash = org.apache.spark.sql.expressions.Window.partitionBy("wh")
      val dups = whs
        .withColumn("first_doc", min("doc_id").over(byHash))
        .filter(col("doc_id") > col("first_doc"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("i0") + 1)).as("dups"))
      docs.join(dups, Seq("doc_id"), "left")
        .withColumn("dups",
          coalesce(col("dups"), expr("CAST(array() AS ARRAY<INT>)")))
        .withColumn("kept", expr(
          """filter(transform(tk, (t, j0) -> struct(t AS t, j0 + 1 AS j)),
            |  p -> NOT exists(dups, i -> p.j >= i AND p.j <= i + 7))""".stripMargin))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_toks"),
          size(col("kept")).cast("long").as("n_kept"),
          expr("size(kept) * 1000L div greatest(size(tk), 1)")
            .cast("long").as("kept_permille"),
          md5(concat_ws(" ", expr("transform(kept, p -> p.t)"))).as("kept_md5"))
    },

    // ---- embedding-cosine near-dup: EXACT pairs above a cosine
    // threshold within a label block (the d05 blocked-join pattern: the
    // closed label vocabulary bounds each quadratic block). This is the
    // exact/oracle-checkable variant; at open-domain scale the candidate
    // generator swaps to the SRP-LSH (VectorQueries.knnLsh, gated via
    // e07) or IVF (VectorQueries.knnIvf, gated via e08) bucket join with
    // the same cosine verify. Cosine is the native codegen expression —
    // identical fold order to the oracle's list_sum. ----
    QueryDef("d09_embed_neardup",
      """WITH s AS (
        |  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, id_a, id_b, round(cos, 4) AS cos_sim
        |FROM s WHERE cos >= 0.35""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"))
      val a = e.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"))
      val b = e.select(col("label").as("label_b"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"))
      a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
        .withColumn("cos",
          graft.functions.VectorOps.cosineSim(col("emb_a"), col("emb_b")))
        .filter(col("cos") >= 0.35)
        .select(col("label"), col("id_a"), col("id_b"),
          round(col("cos"), 4).as("cos_sim"))
    },

    // ---- semantic dedup (the SemDeDup shape, arXiv:2303.09540):
    // embedding near-dup pairs -> connected components -> one survivor
    // per semantic cluster. Composes the round-8/9 vector machinery:
    // e09's int8 codes, e08's trained IVF coarse quantizer as the
    // BLOCKING key (SemDeDup's within-cluster pairwise step), the native
    // integer-cosine kernel as the verifier, and d10's min-label
    // propagation for the clusters. The hash-gated rows are the EXACT
    // arm (label-blocked exact-cosine pairs at the d09 threshold ->
    // components -> keep-lowest-id), which DuckDB recomputes with the
    // d10 recursive CTE; the quantized/IVF arm is open-domain (no label
    // crutch) and rides in-band: its candidate pairs must recover >= 0.6
    // of the exact pair set. Asymmetric multi-probe at nprobe=8 of k=16
    // measures 0.92-1.0 (narrower probing sat at 0.64-0.79 — cell-
    // boundary splits, no gate margin; e08 hit the same wall and
    // widened nprobe the same way). Quantization alone loses ~1% of
    // borderline-cosine pairs; SemDedupRecallSpec records the measured
    // values and pins >= 0.8. Scale shape: candidate generation is an
    // equi-join on the cell id (home cell × probed cells — see
    // quantSemanticPairs for the asymmetric cost argument), SemDeDup's
    // own cost model, where k grows with the corpus to keep cells
    // bounded (k=16 toy here, thousands at 100 TB) — never corpus-wide
    // all-pairs; components as in d10. ----
    QueryDef("d26_semantic_dedup",
      """WITH RECURSIVE s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id),
        |e AS (SELECT id_a, id_b FROM s WHERE cos >= 0.35),
        |und AS (SELECT id_a AS a, id_b AS b FROM e
        |        UNION ALL SELECT id_b, id_a FROM e),
        |walk(node, comp) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT u.b, w.comp FROM walk w JOIN und u ON u.a = w.node)
        |SELECT node AS vec_id, CAST(min(comp) AS BIGINT) AS comp,
        |       min(comp) = node AS kept, true AS sem_recall_ok
        |FROM walk GROUP BY node""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // exact arm — the truth target. Persisted: three consumers (CC
      // edge set, recall denominator, recall semi-join); PinScope sweeps.
      val exactPairs = exactSemanticPairs(e, 0.35).persist()
      // the two arms are independent driver-synchronized loops (the CC
      // fixpoint's per-pass first(); the quantizer's Lloyd collects) —
      // submitted concurrently, the scheduler interleaves their stages
      // instead of paying the two sequential-stage floors back to back
      // (the e11 codebook-training pattern)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val compsF = Future {
        TextQueries.componentsOf(
          exactPairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
          e.select(col("vec_id").as("doc_id")))
      }
      val quantF = Future { quantSemanticPairs(s, e, 0.35, k = 16, nprobe = 8) }
      val comps = Await.result(compsF, Duration.Inf)
      val quantPairs = Await.result(quantF, Duration.Inf)
      val flag = exactPairs
        .join(quantPairs, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exactPairs.agg(count(lit(1)).as("total")))
        .select((col("hits") >= col("total") * 0.6).as("sem_recall_ok"))
      comps
        .select(col("doc_id").as("vec_id"), col("comp"),
          (col("doc_id") === col("comp")).as("kept"))
        .crossJoin(broadcast(flag))
    },

    // ---- Bloom-filter dedup against an already-ingested corpus (the
    // Dolma dedupe-tool shape): the even-doc_id half plays the "seen"
    // corpus, summarized into a broadcast Bloom sketch over the 8-token
    // prefix chunk key (xxhash64 — hashing first only tightens the
    // sketch's input, it cannot create false negatives w.r.t. key
    // equality); every incoming (odd) doc tests membership with ZERO
    // shuffle via the native BloomMightContain codegen expression, and
    // ONLY the hits ride the exact-verify semi-join. Scale shape: the
    // reference corpus is read once (treeAggregate into the sketch) and
    // once more for the hit-verify join whose probe side is the ~dup+fp
    // sliver, not the corpus; a 10^9-key sketch at 1% fpp is ~1.2 GB —
    // one broadcast, or key-range shards of the same expression beyond
    // that. The hash-gated `dup` column is EXACT (bloom misses prove
    // novelty, hits are string-verified), so a false negative flips a row
    // and fails the gate; the in-band flags additionally pin zero false
    // negatives explicitly and the false-positive count under
    // max(5, 5% of non-dups) — 5x the configured fpp, deterministic per
    // SF because the sketch is a seed-fixed pure function of its input.
    QueryDef("d37_bloom_dedup",
      """WITH k AS (SELECT doc_id,
        |  concat_ws(' ', list_slice(regexp_extract_all(text, '\S+'), 1, 8)) AS key
        |  FROM documents)
        |SELECT k.doc_id,
        |  EXISTS(SELECT 1 FROM k r WHERE r.doc_id % 2 = 0 AND r.key = k.key) AS dup,
        |  true AS bloom_fn_ok, true AS bloom_fp_ok
        |FROM k WHERE k.doc_id % 2 = 1""".stripMargin) { (s, dir) =>
      val B = graft.functions.BloomExprs
      val keyed = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ",
          slice(graft.functions.TextStats.wsTokensCol(col("text")), 1, 8))
          .as("key"))
      // persisted: ref feeds the sizing count, the sketch build, and the
      // verify join; inc feeds the output, the verify probe, and the
      // contract aggregates (PinScope sweeps both)
      val ref = keyed.filter(col("doc_id") % 2 === 0).persist()
      val bloom = B.broadcastBloom(s,
        ref.select(xxhash64(col("key")).as("k")), "k",
        math.max(ref.count(), 1L), 0.01)
      val inc = keyed.filter(col("doc_id") % 2 === 1)
        .withColumn("hit", B.mightContainCol(xxhash64(col("key")), bloom))
        .persist()
      val refKeys = ref.select(col("key")).distinct()
      // engine arm: exact verification of the bloom hits only
      val verified = inc.filter(col("hit"))
        .join(refKeys, Seq("key"), "left_semi")
        .select(col("doc_id"), lit(true).as("vdup"))
      // truth arm (contract only): full semi-join, hit flag alongside
      val truth = inc.join(refKeys, Seq("key"), "left_semi")
        .select(col("doc_id"), col("hit"))
      val flags = truth
        .agg(sum(when(!col("hit"), 1L).otherwise(0L)).as("fn_cnt"),
          count(lit(1)).as("n_truth"))
        .crossJoin(inc.agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
          count(lit(1)).as("n_inc")))
        .select(
          (coalesce(col("fn_cnt"), lit(0L)) === 0L).as("bloom_fn_ok"),
          ((coalesce(col("n_hit"), lit(0L)) - col("n_truth")) <=
            greatest(lit(5L), (col("n_inc") - col("n_truth")) / 20L))
            .as("bloom_fp_ok"))
      inc.select(col("doc_id"))
        .join(verified, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("vdup"), lit(false)).as("dup"))
        .crossJoin(broadcast(flags))
    },

    // ---- exact set-similarity join with PPJoin-style prefix filtering
    // (d42): all document pairs with token-set Jaccard >= 0.5, found by
    // joining ONLY on each doc's prefix tokens — its floor(n/2)+1
    // RAREST tokens under the global (df, token) order. The prefix
    // theorem makes this exact: two sets at J >= t MUST share a token
    // inside those prefixes, so candidate recall is 1.0 and the integer
    // verify (3·|A∩B| >= |A|+|B|, division-free) kills the rest. The
    // scale point is WHICH tokens the join keys on: the oracle's naive
    // formulation joins on every shared token — its hot keys are
    // stopwords shared by the whole corpus (an n² partition at web
    // scale); the prefix join's keys are each doc's rarest tokens,
    // whose df — and thus the join's worst partition — the frequency
    // order actively minimizes. The universe is bounded (doc_id <
    // 1000) for the ORACLE's sake, not the engine's. One df aggregate,
    // one per-doc rank window (token-count rows), one candidate join
    // on prefix tokens, one intersection count on the candidate
    // sliver. ----
    QueryDef("d42_setsim_join",
      """WITH d AS (SELECT doc_id, list_distinct(regexp_extract_all(text, '\S+')) AS tk
        |           FROM documents WHERE doc_id < 1000),
        |n AS (SELECT doc_id, len(tk) AS n FROM d),
        |u AS (SELECT doc_id, unnest(tk) AS t FROM d),
        |i AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
        |      FROM u x JOIN u y ON x.t = y.t AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
        |  CAST(a.n + b.n - inter AS BIGINT) AS un,
        |  CAST(inter * 1000 // (a.n + b.n - inter) AS BIGINT) AS jac_permille
        |FROM i JOIN n a ON a.doc_id = doc_a JOIN n b ON b.doc_id = doc_b
        |WHERE 3 * inter >= a.n + b.n""".stripMargin) { (s, dir) =>
      setSimJoin(s, dir, cap = 1000L)
    },

    // ---- EXACT substring dedup (d45): the exact tier of the substring
    // ladder (Lee et al. 2022) — d21/d27 are windowed-hash
    // approximations; this measures the true longest verbatim span per
    // candidate pair with a suffix-automaton expression (lcs_len,
    // O(|a|+|b|) per pair vs the naive O(|a|·|b|) DP, codegen-friendly
    // static call). Candidates are Lee et al.'s own definition: pairs
    // sharing at least one EXACT 8-token window — an equi-join on the
    // window hash with string confirmation, never all-pairs. LCS runs
    // over the first 512 chars of each doc (both engines apply the same
    // cap) so the oracle's diagonal-run SQL stays bounded at any SF.
    // Scale shape: windows explode ≤ tokens/doc rows; the pair join is
    // hash-keyed (at open-web scale the standard df-cap on boilerplate
    // windows bounds hot keys — same discipline as d42's rarest-prefix
    // keys); the LCS pass is one codegen projection over the bounded
    // pair set. ----
    QueryDef("d45_substring_dedup",
      """WITH t AS (SELECT doc_id, substring(text, 1, 512) AS s,
        |            regexp_extract_all(text, '\S+') AS tk FROM documents),
        |w AS (SELECT doc_id, list_aggregate(tk[i:i+7], 'string_agg', ' ') AS win
        |      FROM t, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
        |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
        |c AS (SELECT doc_a, doc_b, ta.s AS sa, tb.s AS sb
        |      FROM p JOIN t ta ON ta.doc_id = doc_a
        |             JOIN t tb ON tb.doc_id = doc_b),
        |m AS (SELECT doc_a, doc_b, i.i AS i, j.j AS j
        |      FROM c, unnest(range(1, length(sa)+1)) AS i(i),
        |           unnest(range(1, length(sb)+1)) AS j(j)
        |      WHERE substring(sa, CAST(i.i AS INT), 1)
        |          = substring(sb, CAST(j.j AS INT), 1)),
        |runs AS (SELECT doc_a, doc_b, count(*) AS run FROM (
        |         SELECT doc_a, doc_b, i - j AS diag,
        |           i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
        |                                  ORDER BY i) AS grp
        |         FROM m) GROUP BY doc_a, doc_b, diag, grp),
        |l AS (SELECT doc_a, doc_b, CAST(max(run) AS BIGINT) AS lcs_chars
        |      FROM runs GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |  COALESCE(l.lcs_chars, 0) AS lcs_chars,
        |  CAST(COALESCE(l.lcs_chars, 0) * 1000
        |    // greatest(least(length(c.sa), length(c.sb)), 1) AS BIGINT)
        |    AS lcs_permille,
        |  COALESCE(l.lcs_chars, 0) >= 50 AS dup_span_50
        |FROM c LEFT JOIN l USING (doc_a, doc_b)""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 512).as("s0"),
          graft.functions.TextStats.wsTokensCol(col("text")).as("tk"))
        .persist() // window explode + both text joins read it
      val w = t.select(col("doc_id"), explode(
          graft.functions.TextStats.windowJoinsCol(col("tk"), 8))
          .as("win"))
        .withColumn("wh", xxhash64(col("win")))
      // hash prunes the shuffle key; the string equality CONFIRMS, so a
      // 64-bit collision can never fabricate a pair
      val pairs = w.as("a").join(w.as("b"),
          col("a.wh") === col("b.wh") && col("a.win") === col("b.win") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      pairs
        .join(t.select(col("doc_id").as("doc_a"), col("s0").as("sa")), Seq("doc_a"))
        .join(t.select(col("doc_id").as("doc_b"), col("s0").as("sb")), Seq("doc_b"))
        .withColumn("lcs_chars",
          graft.functions.StringAlgos.lcsLenCol(col("sa"), col("sb")))
        .select(col("doc_a"), col("doc_b"), col("lcs_chars"),
          expr("lcs_chars * 1000L div greatest(least(length(sa), length(sb)), 1L)")
            .as("lcs_permille"),
          (col("lcs_chars") >= 50).as("dup_span_50"))
    },

    // ---- verbatim-span benchmark decontamination (d46): the GPT-3/
    // Lee-et-al. practice d14's SET-overlap check approximates — flag
    // every TRAIN doc sharing a long verbatim character span with any
    // BENCHMARK doc (eval split = doc_id % 50 == 0 here; a real
    // pipeline joins against the eval suite's docs). Asymmetric d45
    // composition: candidates are train×bench pairs sharing an exact
    // 8-token window (hash-keyed equi-join, string-confirmed), exact
    // longest-span via the suffix-automaton lcs_len over the same
    // 512-char cap, rolled up per train doc. Scale shape: the window
    // join's probe side is the (tiny) benchmark windows — broadcast at
    // any corpus size; the LCS pass touches only candidate pairs. ----
    QueryDef("d46_substring_decontam",
      """WITH t AS (SELECT doc_id, substring(text, 1, 512) AS s,
        |            regexp_extract_all(text, '\S+') AS tk FROM documents),
        |w AS (SELECT doc_id, list_aggregate(tk[i:i+7], 'string_agg', ' ') AS win
        |      FROM t, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
        |p AS (SELECT DISTINCT tr.doc_id AS train_id, be.doc_id AS bench_id
        |      FROM w tr JOIN w be ON tr.win = be.win
        |      WHERE tr.doc_id % 50 <> 0 AND be.doc_id % 50 = 0),
        |c AS (SELECT train_id, bench_id, a.s AS sa, b.s AS sb
        |      FROM p JOIN t a ON a.doc_id = train_id
        |             JOIN t b ON b.doc_id = bench_id),
        |m AS (SELECT train_id, bench_id, i.i AS i, j.j AS j
        |      FROM c, unnest(range(1, length(sa)+1)) AS i(i),
        |           unnest(range(1, length(sb)+1)) AS j(j)
        |      WHERE substring(sa, CAST(i.i AS INT), 1)
        |          = substring(sb, CAST(j.j AS INT), 1)),
        |runs AS (SELECT train_id, bench_id, count(*) AS run FROM (
        |         SELECT train_id, bench_id, i - j AS diag,
        |           i - row_number() OVER (PARTITION BY train_id, bench_id,
        |                                  i - j ORDER BY i) AS grp
        |         FROM m) GROUP BY train_id, bench_id, diag, grp),
        |l AS (SELECT train_id, bench_id, CAST(max(run) AS BIGINT) AS lcs
        |      FROM runs GROUP BY 1, 2)
        |SELECT c.train_id AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bench_hits,
        |  CAST(max(COALESCE(l.lcs, 0)) AS BIGINT) AS max_lcs_chars,
        |  max(COALESCE(l.lcs, 0)) >= 50 AS contaminated
        |FROM c LEFT JOIN l USING (train_id, bench_id)
        |GROUP BY c.train_id""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 512).as("s0"),
          graft.functions.TextStats.wsTokensCol(col("text")).as("tk"))
        .persist() // window explode + both text joins read it
      val w = t.select(col("doc_id"), explode(
          graft.functions.TextStats.windowJoinsCol(col("tk"), 8))
          .as("win"))
        .withColumn("wh", xxhash64(col("win")))
      val trainW = w.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      // the benchmark side is small by construction: broadcast it so
      // the train windows never shuffle
      val benchW = broadcast(w.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("bench_id"), col("wh").as("bwh"),
          col("win").as("bwin")))
      val pairs = trainW.join(benchW,
          col("wh") === col("bwh") && col("win") === col("bwin"))
        .select(col("doc_id").as("train_id"), col("bench_id"))
        .distinct()
      pairs
        .join(t.select(col("doc_id").as("train_id"), col("s0").as("sa")),
          Seq("train_id"))
        .join(t.select(col("doc_id").as("bench_id"), col("s0").as("sb")),
          Seq("bench_id"))
        .withColumn("lcs",
          graft.functions.StringAlgos.lcsLenCol(col("sa"), col("sb")))
        .groupBy(col("train_id").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
          max(col("lcs")).as("max_lcs_chars"),
          (max(col("lcs")) >= 50).as("contaminated"))
    },

    // ---- INCREMENTAL near-dup dedup (d49): dedup TODAY'S ingest batch
    // against an already-ingested corpus without reprocessing it — the
    // operator a daily 100 TB pipeline actually runs (the full-corpus
    // d06/d10 re-run is the batch bootstrap, not the steady state).
    // Old corpus = doc_id % 4 != 0; the new batch = the % 4 == 0 slice
    // PLUS planted re-crawls of old docs (id + 2,000,000, 2-token tail
    // — the d47 twin device) so the vs-old arm has real flow at every
    // SF (~25% of the batch drops). A new doc is kept iff it has no
    // jaccard >= 0.3 match in the old corpus AND no earlier match
    // within its own batch (greedy first-occurrence — a doc whose
    // earlier twin was itself dropped still drops: it duplicates
    // already-rejected content).
    //
    // Scale shape — the whole point is WHAT IS NEVER COMPUTED: old×old
    // pairs. The exact-verify gram equi-join probes OLD grams only
    // against NEW grams (candidate volume ∝ batch, not corpus²), and
    // the banded-LSH arm joins new-side bands against the full band
    // table the same way — at scale the old side's signatures/grams
    // come from the stored index the bootstrap run persisted (the d37
    // bloom-vs-ingested pattern), so daily cost is one batch scan +
    // one index probe. The in-band `lsh_recall_ok` asserts the banded
    // path captures >= 95% of the true edge set, measured against the
    // exact arm the oracle replays. ----
    QueryDef("d49_incremental_dedup",
      """WITH old AS (SELECT doc_id, lang, source, text FROM documents
        |             WHERE doc_id % 4 <> 0),
        |newb AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, lang, source,
        |         text || ' is ' || (doc_id % 97) AS text
        |  FROM old WHERE doc_id % 9 = 5),
        |osh AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(
        |    range(1, greatest(len(regexp_extract_all(text,'\S+'))-2,0)+1),
        |    i->concat(regexp_extract_all(text,'\S+')[i],' ',
        |              regexp_extract_all(text,'\S+')[i+1],' ',
        |              regexp_extract_all(text,'\S+')[i+2]))) AS grams FROM old),
        |nsh AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(
        |    range(1, greatest(len(regexp_extract_all(text,'\S+'))-2,0)+1),
        |    i->concat(regexp_extract_all(text,'\S+')[i],' ',
        |              regexp_extract_all(text,'\S+')[i+1],' ',
        |              regexp_extract_all(text,'\S+')[i+2]))) AS grams FROM newb),
        |po AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id
        |       FROM nsh n JOIN osh o
        |         ON n.lang = o.lang AND n.source = o.source
        |       WHERE length(list_intersect(n.grams,o.grams)) > 0
        |         AND round(CAST(length(list_intersect(n.grams,o.grams)) AS DOUBLE) /
        |           (length(n.grams)+length(o.grams)
        |            -length(list_intersect(n.grams,o.grams))),3) >= 0.3),
        |pn AS (SELECT b.doc_id AS new_id, a.doc_id AS earlier_id
        |       FROM nsh a JOIN nsh b
        |         ON a.lang = b.lang AND a.source = b.source
        |           AND a.doc_id < b.doc_id
        |       WHERE length(list_intersect(a.grams,b.grams)) > 0
        |         AND round(CAST(length(list_intersect(a.grams,b.grams)) AS DOUBLE) /
        |           (length(a.grams)+length(b.grams)
        |            -length(list_intersect(a.grams,b.grams))),3) >= 0.3)
        |SELECT n.doc_id,
        |  CAST(COALESCE(po.c,0) AS BIGINT) AS n_dups_old,
        |  CAST(COALESCE(pn.c,0) AS BIGINT) AS n_dups_batch,
        |  (COALESCE(po.c,0) = 0 AND COALESCE(pn.c,0) = 0) AS kept,
        |  true AS lsh_recall_ok
        |FROM newb n
        |LEFT JOIN (SELECT new_id, count(*) AS c FROM po GROUP BY new_id) po
        |  ON po.new_id = n.doc_id
        |LEFT JOIN (SELECT new_id, count(*) AS c FROM pn GROUP BY new_id) pn
        |  ON pn.new_id = n.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.guardIdsBelow(
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "text"), 2000000L)
      val old = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val twins = old.filter(pmod(col("doc_id"), lit(9)) === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          col("source"),
          concat(col("text"), lit(" is "),
            pmod(col("doc_id"), lit(97)).cast("string")).as("text"))
      val newb = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .unionByName(twins)

      def shingled(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("__tok", Dedup.tokenCol)
        .select(col("doc_id"), col("lang"), col("source"),
          graft.functions.TextHashes.shingleHash64Col(
            col("text"), col("__tok"), 3, emptyIfShort = true).as("ghs"))
      val osh = shingled(old).persist()  // exploded grams + sizes
      val nsh = shingled(newb).persist() // exploded grams + sizes + LSH

      def gtab(sh: org.apache.spark.sql.DataFrame, idAs: String) = sh
        .select(col("doc_id").as(idAs), col("lang"), col("source"),
          explode(col("ghs")).as("gh"))
      def sizes(sh: org.apache.spark.sql.DataFrame, idAs: String, nAs: String) =
        sh.select(col("doc_id").as(idAs), size(col("ghs")).as(nAs))
      def jac(inter: org.apache.spark.sql.DataFrame, aId: String, bId: String,
          aSh: org.apache.spark.sql.DataFrame, bSh: org.apache.spark.sql.DataFrame) =
        inter
          .join(sizes(aSh, aId, "na"), aId).join(sizes(bSh, bId, "nb"), bId)
          .filter(round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 3) >= 0.3)
          .select(col(aId), col(bId))

      // old grams probe ONLY new grams — old×old is never formed
      val po = jac(
        gtab(nsh, "new_id").join(
          gtab(osh, "old_id")
            .withColumnRenamed("lang", "lang_o")
            .withColumnRenamed("source", "source_o")
            .withColumnRenamed("gh", "gh_o"),
          col("gh") === col("gh_o") && col("lang") === col("lang_o") &&
            col("source") === col("source_o"))
          .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter")),
        "new_id", "old_id", nsh, osh).persist()
      val pn = jac(
        gtab(nsh, "earlier_id").join(
          gtab(nsh, "new_id")
            .withColumnRenamed("lang", "lang_b")
            .withColumnRenamed("source", "source_b")
            .withColumnRenamed("gh", "gh_b"),
          col("gh") === col("gh_b") && col("lang") === col("lang_b") &&
            col("source") === col("source_b") &&
            col("earlier_id") < col("new_id"))
          .groupBy("earlier_id", "new_id").agg(count(lit(1)).as("inter")),
        "earlier_id", "new_id", nsh, nsh).persist()

      // banded-LSH arm in the same incremental shape — genuinely
      // ASYMMETRIC: only the NEW side's bands probe the full band table
      // (old signatures come from the stored index at scale), so the
      // banded join never forms an old×old candidate, mirroring the
      // exact arm's discipline. Recall measured against po ∪ pn.
      val bandedAll = Dedup.bandedKeys(
        Dedup.signatures(old.unionByName(newb))).persist()
      val isNew = (c: org.apache.spark.sql.Column) =>
        pmod(c, lit(4)) === 0 || c >= 2000000L
      val cands = bandedAll.filter(isNew(col("doc_id")))
        .select(col("band"), col("bh"), col("doc_id").as("probe_id"))
        .join(bandedAll.select(col("band"), col("bh"),
          col("doc_id").as("cand_id")), Seq("band", "bh"))
        .filter(col("probe_id") =!= col("cand_id"))
        .select(least(col("probe_id"), col("cand_id")).as("doc_a"),
          greatest(col("probe_id"), col("cand_id")).as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      val exactEdges = po.select(least(col("new_id"), col("old_id")).as("doc_a"),
          greatest(col("new_id"), col("old_id")).as("doc_b"))
        .unionByName(pn.select(
          least(col("earlier_id"), col("new_id")).as("doc_a"),
          greatest(col("earlier_id"), col("new_id")).as("doc_b")))
        .distinct()
      val lshOk = exactEdges.join(cands, Seq("doc_a", "doc_b"), "left")
        .agg(coalesce(sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("cap"),
          count(lit(1)).as("n"))
        .select((expr("cap * 1000L div greatest(n, 1L)") >= 950 ||
          col("n") === 0).as("lsh_recall_ok"))

      newb.select("doc_id")
        .join(po.groupBy("new_id").agg(count(lit(1)).as("n_dups_old"))
          .withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
        .join(pn.groupBy("new_id").agg(count(lit(1)).as("n_dups_batch"))
          .withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups_old"), lit(0L)).as("n_dups_old"),
          coalesce(col("n_dups_batch"), lit(0L)).as("n_dups_batch"),
          (coalesce(col("n_dups_old"), lit(0L)) === 0 &&
            coalesce(col("n_dups_batch"), lit(0L)) === 0).as("kept"))
        .crossJoin(broadcast(lshOk))
    },

    // ---- d52: cross-document line dedup (C4/RefinedWeb boilerplate
    // removal): drop every LINE that appears in >= 3 distinct documents
    // corpus-wide, keep per-doc line order, and emit the cleaned text
    // md5-pinned. The raw corpus has terminator-free single-line docs,
    // so the gate plants deterministic boilerplate on BOTH engines
    // (d17's augmentation pattern): a 3-variant subscribe header on
    // doc_id % 7 == 0 and a 2-variant rights footer on doc_id % 5 == 0
    // — each variant lands in ~n/21 (resp. n/10) docs, so the >= 3
    // threshold fires at every SF while unique body lines never do.
    // Scale shape: one exploded-line pass; the distinct-doc counts
    // aggregate with map-side combine, are FILTERED to the >= 3
    // boilerplate set BEFORE joining back (boilerplate vocabularies are
    // tiny relative to any corpus — broadcast-sized here; a shuffle
    // equi-join on the line key at worst), and reassembly is one
    // doc-keyed aggregation. Never joins the full distinct-line table,
    // never shuffles more than the exploded lines once. ----
    QueryDef("d52_line_dedup",
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'subscribe to the newsletter edition ' ||
        |           CAST(doc_id % 3 AS VARCHAR) || '. '
        |      ELSE '' END
        |    || text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '. all rights reserved form ' || CAST(doc_id % 2 AS VARCHAR)
        |      ELSE '' END AS t
        |  FROM documents),
        |l0 AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(t, '[.!?]+\s+'),
        |      x -> length(trim(x)) > 0) AS ls
        |  FROM a),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[i] AS line
        |  FROM l0, unnest(range(1, len(ls)+1)) r(i)),
        |c AS (SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line),
        |j AS (SELECT l.doc_id, l.pos, l.line, c.nd FROM l JOIN c USING (line))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN nd < 3 THEN line END, ' '
        |    ORDER BY pos), '')) AS clean_md5
        |FROM j GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val aug = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit("subscribe to the newsletter edition "),
              pmod(col("doc_id"), lit(3)).cast("string"), lit(". ")))
            .otherwise(lit("")),
          col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(". all rights reserved form "),
              pmod(col("doc_id"), lit(2)).cast("string")))
            .otherwise(lit(""))).as("t"))
      val lines = aug.select(col("doc_id"),
          posexplode(graft.functions.TextStats.sentencesCol(col("t"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("line"))
      // the >= 3 boilerplate set, aggregated BEFORE the join-back
      val hot = lines.groupBy("line")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 3)
      lines.join(hot, Seq("line"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(when(col("nd").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_removed"),
          expr("""md5(array_join(transform(
            |  array_sort(collect_list(CASE WHEN nd IS NULL
            |    THEN struct(pos, line) END)),
            |  x -> x.line), ' '))""".stripMargin).as("clean_md5"))
    }
  )

  /** The d42 PPJoin body over the documents with doc_id < `cap`: the
    * GATE uses 1000 so the oracle's naive all-token self-join stays
    * tractable in DuckDB. SCALE.md's d42 section measured it uncapped,
    * through a probe main whose source is at commit a601823. */
  def setSimJoin(s: org.apache.spark.sql.SparkSession, dir: String,
      cap: Long): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < cap)
    val toks = docs
      .select(col("doc_id"), explode(
        array_distinct(graft.functions.TextStats.wsTokensCol(col("text")))).as("t"))
      .persist() // df agg, prefix ranking, and both intersection sides
    val df = toks.groupBy("t").agg(count(lit(1)).as("df"))
    val n = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // rank tokens per doc by global rarity; prefix = floor(n/2)+1 rarest
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("t"))
    val prefix = toks.join(df, Seq("t"))
      .withColumn("rn", row_number().over(byRarity))
      .join(n, Seq("doc_id"))
      .filter(col("rn") <= expr("n div 2") + 1)
      .select(col("doc_id"), col("t"))
    val cands = prefix.as("pa").join(prefix.as("pb"),
        col("pa.t") === col("pb.t") && col("pa.doc_id") < col("pb.doc_id"))
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val inter = cands
      .join(toks.select(col("doc_id").as("doc_a"), col("t")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("t")), Seq("doc_b", "t"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        (col("na") + col("nb") - col("inter")).cast("long").as("un"),
        expr("inter * 1000L div (na + nb - inter)").cast("long").as("jac_permille"))
  }
}
