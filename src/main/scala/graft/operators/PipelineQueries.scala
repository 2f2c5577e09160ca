package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The composed end-to-end training-data pipeline (d47/d48) — every stage
  * is an operator the per-op gates already prove, chained as ONE job whose
  * final packed output (and per-stage attrition) the DuckDB oracle replays
  * as a single CTE chain:
  *
  *   quality filter (d19 rules) → Gopher repetition ceilings (d53) →
  *   cross-doc line dedup with document rewrite (d52) → near-dup dedup
  *   with content-policy survivorship (d05 candidate mechanism + d10
  *   components + d25 survivor) → cross-doc chunk dedup with document
  *   REWRITE (d18) → verbatim-span benchmark decontamination (d46) →
  *   semantic decontamination against benchmark embeddings (e22) →
  *   component-keyed leak-free split (d43) → contiguous sequence
  *   packing (d36).
  *
  * Per-op gates cannot see survivorship/split/ordering interaction bugs
  * (column contracts, filter-before-dedup ordering, a survivor whose
  * component id drives the split) — this gate hash-pins the whole
  * composition: every surviving train doc's packed offsets AND the md5 of
  * its rewritten text. The reference's own stress suite is exactly
  * composition-under-load (`rubix-stress/src/main/python/rubix_stressor.py`
  * replays 18 queries against one warmed cache).
  *
  * Near-dup twins are PLANTED (the d07 device): docs with doc_id % 7 == 3
  * get a copy at doc_id + 1,000,000 with a 2-token deterministic tail
  * (" is " || doc_id % 97), so survivorship has real flow at every SF —
  * the twin is strictly longer, so the d25 content policy must pick it,
  * which is visible in the output ids (comp = original id, doc = twin id).
  * The tail keeps intra-pair Jaccard ≥ ~0.8 (measured 0.80-0.85 floor
  * across SFs) and shares no 3-gram between different twins (every tail
  * gram spans a doc-specific final token).
  *
  * Line-dedup flow is PLANTED with d52's own device, applied to the
  * augmented corpus: a 3-variant subscribe header on doc_id % 7 == 0 and
  * a 2-variant rights footer on doc_id % 5 == 0 (each variant lands in
  * ≥ n/21 docs, so the ≥3-distinct-docs threshold fires at every SF),
  * plus PURE-boilerplate replacement docs on doc_id % 101 == 17 (twin
  * sources % 7 == 3 excluded) whose every line is hot — these pass the
  * d19 quality rules (11 tokens, 2 stopwords) and the repetition guard
  * (10 bigrams < 20), then lose every line to the hot set, exercising
  * the "document emptied by line dedup" drop reason. Twin pairs share
  * footer variants (1,000,000 ≡ 0 mod 5 and mod 2) and twins never gain
  * headers (1,000,000 ≡ 1 mod 7 puts them at id % 7 == 4), so the
  * cleaned twin keeps its strictly-longer body and the survivorship
  * device is untouched by line cleaning.
  *
  * The repetition stage applies d53's top2/dup2 permille ceilings only to
  * docs with ≥ 20 bigrams: below that the permille granularity makes
  * top_k = 1 breach the 50‰ ceiling on every short doc, which would
  * misattribute "too short" as "too repetitive" (quality already owns
  * the length rule). Organic flow is real: 112/500 docs at sf0.01 breach
  * a ceiling with the guard in place, both signals firing independently.
  *
  * Semantic decontamination (e22's arm) joins the embeddings table by
  * doc_id = vec_id (docs without an embedding — including all planted
  * twins — are semantically unverifiable and pass), broadcasts the
  * benchmark embeddings (vec_id % 50 == 0, the same id rule as the
  * verbatim bench split), and drops any doc whose max cosine ≥ 0.92.
  * Graded leaks are planted with e22's device: ORIGINAL-corpus docs
  * (doc_id < 1,000,000 — planted twins and re-crawls are excluded, so
  * the survivorship device's winning twin can never be semantically
  * dropped) with doc_id % 13 == 2
  * have their embedding OVERRIDDEN by a perturbed copy of benchmark
  * vector 50·(doc_id mod |bench|) at noise level (doc_id div 13) % 5 ×
  * 0.01 — levels 0-1 land above the 0.92 cut, 2-4 below (e22 measured
  * the bands: 1.0 / ~0.96 / ≤0.89), so the crossing is computed, not a
  * membership bit.
  *
  * Stage order is load-bearing and itself measured: chunk-level dedup
  * must run AFTER near-dup survivorship — measured the other way round,
  * first-occurrence chunk rewriting strips the twins' shared 20-token
  * chunks and the near-dup edge set collapses to zero (the whole
  * survivorship stage silently no-ops). Line dedup must run BEFORE
  * near-dup: shared boilerplate lines inflate Jaccard, so cleaning after
  * candidate generation would both admit false near-dup pairs and leak
  * boilerplate into survivors. This is precisely the class of
  * composition bug the per-op gates cannot see.
  *
  * MinHash-LSH (d06) rides in-band: the 16×4 banded candidate join runs
  * over the line-cleaned corpus and `lsh_recall_ok` asserts it captures
  * ≥ 95% of the true jaccard ≥ 0.3 edge set (the production candidate
  * path, measured against the exact edges the oracle replays; planted
  * pairs sit at J ≥ 0.8 where 16×4 capture probability is
  * 1 - (1-J⁴)¹⁶ ≥ 0.9998 per pair).
  *
  * d47 and d48 each call build(): the two gates price the chain
  * independently ON PURPOSE — each bench median is the full cost of its
  * own output, not an amortized share of a materialization the other
  * query paid for. A production run would materialize the stage frames
  * once and read both outputs; the gates keep per-query costing honest
  * instead.
  *
  * 100 TB shape, stage by stage: quality and repetition are doc-keyed
  * map-side-combined aggregations (zero cross-doc terms); line dedup
  * aggregates the hot set BEFORE the join-back (boilerplate vocabularies
  * are tiny at any corpus size); near-dup candidates are the d05 blocked
  * gram-hash equi-join (never all-pairs) + the d10 fixpoint (per-round
  * localCheckpoint, depth-1 plans); chunk dedup is ONE shuffle on the
  * chunk string (min-over-window finds first occurrences without a
  * self-join); both decontamination arms broadcast the benchmark side so
  * train rows never shuffle against each other; packing uses d36's
  * bucketed prefix sum — nothing row-scale crosses a single partition
  * anywhere in the chain.
  */
object PipelineQueries {

  /** Tokenize = maximal non-whitespace runs. Native codegen expression,
    * row-identical to regexp_extract_all(text,'\S+',0)
    * (NativeExprParitySpec) — the regex engine re-ran per doc on every
    * corpus-scale projection of the chain (r18, guide §1.2 per-task work). */
  private def tokens: Column =
    graft.functions.TextStats.wsTokensCol(col("text"))

  /** 20-token chunk strings of a token array column (d18's axis).
    * Native one-loop codegen == the transform+slice+array_join HOF
    * (NativeExprParitySpec). */
  private def chunksExpr(tk: String): Column =
    graft.functions.TextStats.chunkJoinsCol(col(tk), 20)

  /** 8-token sliding windows of a token array column (d45/d46's axis).
    * Native one-loop codegen == the HOF formulation. */
  private def winsExpr(tk: String): Column =
    graft.functions.TextStats.windowJoinsCol(col(tk), 8)

  /** Pipeline input: the corpus (non-benchmark docs, with the
    * pure-boilerplate replacement plant) plus planted twins, then the
    * d52 header/footer line plant over the union. */
  private def augmented(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.guardIdsBelow(
      Tables.load(s, dir, "documents")
        .select("doc_id", "lang", "source", "text"), 1000000L)
      .filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(101)) === 17 &&
            pmod(col("doc_id"), lit(7)) =!= 3,
          concat(lit("subscribe to the newsletter edition "),
            pmod(col("doc_id"), lit(3)).cast("string"),
            lit(". all rights reserved form "),
            pmod(col("doc_id"), lit(2)).cast("string")))
          .otherwise(col("text")))
    val twins = corpus.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        col("source"),
        concat(col("text"), lit(" is "),
          pmod(col("doc_id"), lit(97)).cast("string")).as("text"))
    headerFooter(corpus.unionByName(twins))
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** The d52 boilerplate plant: a 3-variant subscribe header on
    * doc_id % 7 == 0 and a 2-variant rights footer on doc_id % 5 == 0 —
    * shared by the bootstrap (d47) and incremental (d57) chains. */
  private[graft] def headerFooter(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("subscribe to the newsletter edition "),
          pmod(col("doc_id"), lit(3)).cast("string"), lit(". ")))
        .otherwise(lit("")),
      col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(". all rights reserved form "),
          pmod(col("doc_id"), lit(2)).cast("string")))
        .otherwise(lit(""))))

  /** Stage 1 — d19's quality chain (all four integer rules), keeping the
    * token array for the downstream stages. */
  private[graft] def qualityDocs(aug: DataFrame): DataFrame = {
    // The four d19 stat columns come out of ONE native loop over the
    // token array (quality_stats == the aggregate/filter/array_distinct
    // HOF quadruple, NativeExprParitySpec) — the interpreted lambdas were
    // the chain's dominant per-row cost (r18 seam ledger: the `q` seam).
    val base = aug
      .withColumn("tk", tokens)
      .withColumn("__qs", graft.functions.TextStats.qualityStatsCol(
        col("tk"), TextQueries.enStop))
      .withColumn("n_tok", col("__qs.n_tok"))
      .withColumn("tok_chars", col("__qs.tok_chars"))
      .withColumn("n_stop", col("__qs.n_stop"))
      .withColumn("n_tri", greatest(col("n_tok") - 2, lit(0L)))
      .withColumn("n_tri_distinct", col("__qs.n_tri_distinct"))
    base.filter(col("n_tok").between(10, 1000) &&
        lit(2) * col("n_tok") <= col("tok_chars") &&
        col("tok_chars") <= lit(12) * col("n_tok") &&
        col("n_stop") >= 2 &&
        (col("n_tri") === 0 ||
          lit(10) * col("n_tri_distinct") >= lit(4) * col("n_tri")))
      .select("doc_id", "lang", "source", "text", "tk")
  }

  /** Stage 1b — d53's Gopher repetition ceilings (top-bigram ≤ 50‰,
    * duplicated-bigram mass ≤ 120‰), applied only at ≥ 20 bigrams (see
    * class scaladoc). Two doc-keyed map-side-combined aggregations. */
  private[graft] def repetitionDocs(q: DataFrame): DataFrame = {
    // bigram strings via the native window-join loop (width 2, stride 1)
    // == the transform+concat HOF (NativeExprParitySpec width-2 case)
    val per = q.select(col("doc_id"), explode(
        graft.functions.TextStats.windowJoinsCol(col("tk"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("k"))
      .groupBy("doc_id").agg(max("k").as("top_k"),
        sum(when(col("k") > 1, col("k")).otherwise(0L)).as("dup_k"),
        sum("k").as("n_g"))
    q.join(per, Seq("doc_id"))
      .filter(col("n_g") < 20 ||
        (col("top_k") * 1000 <= col("n_g") * 50 &&
          col("dup_k") * 1000 <= col("n_g") * 120))
      .select("doc_id", "lang", "source", "text", "tk")
  }

  /** Per-doc exploded sentence lines of a (doc_id, ..., text) frame —
    * the d52 axis, shared by the bootstrap (d47) and incremental (d57)
    * line-dedup stages. */
  private[graft] def linesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.TextStats.sentencesCol(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("line"))

  /** Lines appearing in ≥ 3 distinct docs of `lines` — the boilerplate
    * vocabulary. Aggregated BEFORE any join-back; tiny at any corpus. */
  private def hotLinesOf(lines: DataFrame): DataFrame =
    lines.groupBy("line")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 3)
      .select("line")

  /** Stage 1c — d52's cross-doc line dedup with document rewrite: drop
    * every line in `hot`, reassemble the rest in order; a doc with zero
    * kept lines is dropped. `hot` is the hot set of the SAME frame for
    * the bootstrap chain (d47) and the persisted store vocabulary for
    * the incremental chain (d57). */
  private def lineCleanAgainst(rep: DataFrame, hot: DataFrame): DataFrame = {
    val rebuilt = linesOf(rep).join(hot, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, line))), x -> x.line), ' ')")
        .as("ltext"))
    rep.select("doc_id", "lang", "source")
      .join(rebuilt, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("ltext").as("text"))
      .withColumn("tk", tokens)
  }

  private def lineCleanDocs(rep: DataFrame): DataFrame =
    lineCleanAgainst(rep, hotLinesOf(linesOf(rep)))

  /** All intermediate stage frames, so d47 (pack) and d48 (attrition)
    * share one construction. Multi-consumer frames (`q`, `ld`, the edge
    * set, `rw2`) plus the two frames every downstream plan re-roots on
    * (`sem`, the 1-row `lshOk`) are EAGER localCheckpoints, not persists:
    * d48's attrition plan stitches nine stage lineages into one tree, and
    * driver-side analysis/AQE re-optimization of that tree dominated the
    * warm cost (measured on d57, same class as SCALE.md's componentsOf
    * plan-doubling; severing cut d47 18.2->12.9, d48 20.4->13.2, and
    * d57 37.3->12.8 s warm at sf0.1). */
  private[graft] final case class Stages(
      aug: DataFrame, q: DataFrame, rep: DataFrame, ld: DataFrame,
      edges: DataFrame, surv: DataFrame, rw2: DataFrame, clean: DataFrame,
      sem: DataFrame, sp: DataFrame, lshOk: DataFrame)

  private[graft] def build(s: SparkSession, dir: String): Stages = {
    // Every seam checkpoint routes through SeamClock.ck (r17): identical
    // semantics, but the bench shared lane records each barrier's name +
    // wall seconds so the chains' driver-sync seam count — the stall-
    // amplification surface the r16 verdict flagged — rides the artifact.
    val ck = SeamClock.ck _
    val aug = augmented(s, dir)
    val q = ck("q")(qualityDocs(aug)) // consumers: repetition agg + join
    val rep = repetitionDocs(q)
    val ld = ck("ld")(lineCleanDocs(rep)) // consumers: pairs, LSH, length, chunks

    // Stage 2a — exact near-dup edges via the d05 blocked candidate join,
    // over the LINE-CLEANED text (boilerplate no longer inflates Jaccard)
    val edges = ck("edges")(TextQueries.jaccardPairsOf(ld)
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b")) // consumers: components + LSH recall

    // Stage 2b — d06's banded LSH over the same corpus, asserted in-band:
    // the production candidate path must capture >= 95% of the true edges
    val lshHits = Dedup.lshCandidates(Dedup.signatures(ld))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("lsh_hit"))
    val lshOk = edges.join(lshHits, Seq("doc_a", "doc_b"), "left")
      .agg(coalesce(sum(coalesce(col("lsh_hit"), lit(0L))), lit(0L)).as("cap"),
        count(lit(1)).as("n"))
      .select((expr("cap * 1000L div greatest(n, 1L)") >= 950 || col("n") === 0)
        .as("lsh_recall_ok"))

    // Stage 2c — d10 components + d25 content-policy survivor (longest
    // cleaned text wins, tie -> lowest id; the planted twin is always
    // longer)
    val labels = TextQueries.componentsOf(edges, ld.select("doc_id"))
    val sized = labels.join(
      ld.select(col("doc_id"), length(col("text")).cast("long").as("len")),
      "doc_id")
    val byComp = Window.partitionBy("comp")
      .orderBy(col("len").desc, col("doc_id"))
    val surv = sized
      .withColumn("sid", first("doc_id").over(byComp))
      .filter(col("doc_id") === col("sid"))
      .select("doc_id", "comp")

    // Stage 3 — d18 chunk dedup ACROSS survivors with document rewrite:
    // first occurrence (min doc_id*100000+idx over the chunk) keeps; the
    // doc is rebuilt from its kept chunks in order. Zero kept chunks =
    // the doc is dropped (fully boilerplate).
    val occ = surv.join(ld.select("doc_id", "tk"), "doc_id")
      .select(col("doc_id"), col("comp"),
        posexplode(chunksExpr("tk")).as(Seq("idx", "chunk")))
    val keyed = occ.withColumn("first_key",
      min(col("doc_id") * lit(100000L) + col("idx"))
        .over(Window.partitionBy("chunk")))
    val rw2 = ck("rw2")(keyed
      .filter(col("doc_id") * lit(100000L) + col("idx") === col("first_key"))
      .groupBy("doc_id", "comp")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk), ' ')")
        .as("rtext"))
      .withColumn("rtk", graft.functions.TextStats.wsTokensCol(col("rtext")))
      ) // consumers: decontam windows, decontam text, split/pack

    // Stage 4a — d46 verbatim decontamination of the REWRITTEN stream
    // against the raw benchmark split (doc_id % 50 == 0): candidates
    // share an exact 8-token window (benchmark side broadcast — eval
    // suites are small at any corpus size), exact span via the
    // suffix-automaton lcs_len over the same 512-char cap, drop at
    // >= 50 shared chars.
    val bench = Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), 1, 512).as("sb"), tokens.as("btk"))
    val bw = broadcast(bench
      .select(col("bench_id"), explode(winsExpr("btk")).as("bwin"))
      .withColumn("bwh", xxhash64(col("bwin"))))
    val tw = rw2.select(col("doc_id"), explode(winsExpr("rtk")).as("win"))
      .withColumn("wh", xxhash64(col("win")))
    val contam = tw.join(bw,
        col("wh") === col("bwh") && col("win") === col("bwin"))
      .select("doc_id", "bench_id").distinct()
      .join(rw2.select(col("doc_id"),
        substring(col("rtext"), 1, 512).as("sa")), "doc_id")
      .join(bench.select("bench_id", "sb"), "bench_id")
      .withColumn("lcs",
        graft.functions.StringAlgos.lcsLenCol(col("sa"), col("sb")))
      .groupBy("doc_id").agg(max("lcs").as("max_lcs"))
      .filter(col("max_lcs") >= 50).select("doc_id")
    // clean feeds BOTH the semantic probe input and the final anti-join;
    // unsevered, the contam subtree (window join + LCS) re-evaluates per
    // consumer — measured as the residual warm cost after the r12 seams
    val clean = ck("clean")(rw2.join(contam, Seq("doc_id"), "left_anti"))

    // Stage 4b — e22 semantic decontamination: join embeddings by
    // doc_id = vec_id (left — no embedding means unverifiable, pass),
    // override with the graded planted leak on doc_id % 13 == 2, drop at
    // max cosine >= 0.92 vs the broadcast benchmark embeddings. The
    // 1-row |bench| frame is the q31 contract-flag broadcast shape.
    val benchV = Tables.load(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("bid"), col("embedding").as("be"))
    val nb = benchV.agg(count(lit(1)).as("nbench"))
    val semIn = clean.select("doc_id")
      .crossJoin(broadcast(nb))
      .withColumn("pbid", lit(50L) * pmod(col("doc_id"), col("nbench")))
      .join(broadcast(benchV.select(col("bid").as("pbid"), col("be").as("pbe"))),
        Seq("pbid"), "left")
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding").as("oe")),
        Seq("doc_id"), "left")
      .withColumn("te",
        when(pmod(col("doc_id"), lit(13)) === 2 && col("doc_id") < 1000000L, expr(
          """transform(pbe, (x, i) -> CAST(CAST(x AS DOUBLE) +
            |  (CAST((doc_id div 13) % 5 AS DOUBLE) * 0.01D) *
            |  CAST((doc_id * 31 + (i + 1) * 17) % 13 - 6 AS DOUBLE)
            |  AS FLOAT))""".stripMargin))
          .otherwise(col("oe")))
      .select("doc_id", "te")
    val semDrop = semIn.filter(col("te").isNotNull)
      .join(broadcast(benchV))
      .withColumn("cos", graft.functions.VectorOps.cosineSim(col("te"), col("be")))
      .groupBy("doc_id").agg(max("cos").as("mc"))
      .filter(col("mc") >= 0.92).select("doc_id")
    // checkpoint ONCE and derive sp from the checkpointed frame — built
    // from the raw `sem`, d47's pack path would re-execute the semDrop
    // subtree (embedding joins + cosine scan) instead of reading the seam
    val semCk = ck("sem")(clean.join(semDrop, Seq("doc_id"), "left_anti"))

    // Stage 5 — d43's component-keyed split: near-dup twins can never
    // straddle a boundary because the unit of assignment is the comp id
    val sp = semCk.withColumn("split",
      when(pmod(col("comp"), lit(10)) < 8, "train")
        .when(pmod(col("comp"), lit(10)) === 8, "val")
        .otherwise("test"))

    Stages(aug, q, rep, ld, edges, surv, rw2, clean,
      semCk, sp, ck("lshOk")(lshOk))
  }

  // --------------------------------------------------- incremental (d57)

  /** The shared-chunk plant for d57's chunk-store stage: a fixed
    * punctuation-free 20-token prefix (one aligned chunk) followed by 60
    * doc-unique tokens, planted on doc_id % 97 == 13 of BOTH the store
    * and the batch. Cross-doc Jaccard of two planted docs is
    * 18/(78+78-18) ≈ 0.13 — far below the 0.3 near-dup cut — so planted
    * batch docs SURVIVE dedup and then lose exactly their shared prefix
    * chunk to the store chunk set (alignment holds because the chunk is
    * line-terminator-free and header/footer boilerplate is stripped
    * before chunking). */
  private val sharedChunk =
    "the data of a stream and the cache of a block and the scan of a file and shard store"

  private def plantedChunkText: Column = concat(lit(sharedChunk + " "), expr(
    "array_join(transform(sequence(1, 60), " +
      "i -> concat('w', cast(doc_id AS string), 'x', cast(i AS string))), ' ')"))

  private[graft] final case class IncStages(
      batAug: DataFrame, qB: DataFrame, repB: DataFrame, ldBat: DataFrame,
      poDrop: DataFrame, pnDrop: DataFrame, rw: DataFrame, clean: DataFrame,
      sem: DataFrame, base: DataFrame, lshOk: DataFrame)

  /** The persisted-store contract between the bootstrap job and the
    * incremental job — exactly the artifacts a production steady state
    * writes once at bootstrap and reads cold every day (VERDICT r12
    * "What's missing #1"; the reference's analog is the persisted
    * mdfile/generation contract, `bookkeeper/FileMetadata.java:96-182`):
    *  - `hot`       (line)                     — hot-line vocabulary
    *  - `grams`     (old_id, lang, source, gh) — exploded 3-gram index;
    *                 at 100 TB this is written bucketed by gh so the
    *                 daily batch probe is a co-located join
    *  - `gramSizes` (old_id, nb)               — distinct-gram counts
    *  - `bands`     (doc_id, band, bh)         — LSH band keys
    *  - `chunks`    (chunk)                    — ingested 20-token chunks
    *  - `baseOff`   (base_off) 1 row           — next-token offset
    * d57 materializes these in memory (same-run handoff); d59 writes them
    * to parquet through graft:// and reads them back COLD, so the hash
    * gate crosses a real serialization boundary. */
  private[operators] final case class StoreFrames(
      hot: DataFrame, grams: DataFrame, gramSizes: DataFrame,
      bands: DataFrame, chunks: DataFrame, baseOff: DataFrame)

  /** d57's frames: the d47 chain in d49's steady-state shape. The store
    * (old corpus, doc_id % 4 != 0) is the bootstrap's ADMITTED set —
    * quality → repetition → line-clean, i.e. per-doc transforms plus the
    * broadcast-sized hot-line aggregation only; a production run reads
    * these frames (and the hot-line vocabulary, the gram/band index, the
    * chunk set, and the next-token offset) from what the bootstrap
    * persisted, so the gate's own store construction is one corpus scan.
    * What is NEVER formed, matching d49's discipline: a store×store
    * doc-pair join — every pairwise stage probes batch-side keys against
    * store-side keys only. */
  /** d57's frames end in localCheckpoints (base/lshOk here, toks in
    * the query) rather than persist: the combined final plan stitches the
    * FULL store+batch lineage into every crossJoined contract frame, and
    * driver-side analysis/AQE re-optimization of that tree — not
    * execution — measured 38 s of the query's 52 s warm time (the
    * componentsOf plan-doubling class from SCALE.md; the d57 profiling
    * harness that took it was deleted after commit a601823).
    * Severing at the three seams cut the warm median 37.3 s → 12.8 s with
    * the hash gate unchanged — but note 12.8 s was back-to-back harness
    * reps with cross-rep cache reuse; the honest PinScope-per-rep bench
    * medians are 35.0 s on the single-file layout / 22.6 s on 16-part
    * (BASELINE.md r12). The trade (lost recomputability of a
    * checkpointed block on executor loss) prices the same as d10's
    * fixpoint discipline. */
  /** Input synthesis shared by every incremental job: the store corpus
    * (doc_id % 4 != 0) and today's batch (% 4 == 0 + planted re-crawls of
    * ~1/9 of the store, the d49 device). Plants are harness INPUT
    * construction — the crawler's feed — not store state, so both jobs
    * may recompute them from the raw table without weakening the d59
    * serialization-boundary claim. Returns (store corpus, batch). */
  private def incInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val src = Tables.guardIdsBelow(
      Tables.load(s, dir, "documents")
        .select("doc_id", "lang", "source", "text"), 2000000L)
      .filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val old0 = src.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(97)) === 13, plantedChunkText)
          .otherwise(col("text")))
    // the COMPILATION plant (d60's device): batch docs on doc_id % 11 == 0
    // become exactly the shared chunk — a doc every one of whose chunks
    // the store has already ingested, while Jaccard vs every store doc
    // stays < 0.3 (18/78 ≈ 0.23 vs the %97 chunk plant). The earliest
    // such doc per (lang, source) survives near-dup and is then EMPTIED
    // by the store chunk set (drop reason 4); later ones in the same cell
    // are in-batch near-dups of it at J = 1.0 (drop reason 128) — both
    // store-specific attrition reasons get real flow at every SF
    // (measured cells: ≥1 pair and ≥6 occupied cells at sf0.001).
    val bat0 = src.filter(pmod(col("doc_id"), lit(4)) === 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(97)) === 13, plantedChunkText)
          .when(pmod(col("doc_id"), lit(11)) === 0, lit(sharedChunk))
          .when(pmod(col("doc_id"), lit(101)) === 17,
            concat(lit("subscribe to the newsletter edition "),
              pmod(col("doc_id"), lit(3)).cast("string"),
              lit(". all rights reserved form "),
              pmod(col("doc_id"), lit(2)).cast("string")))
          .otherwise(col("text")))
    // the VERBATIM-leak plant (d60's reason-8 device): remaining batch
    // docs on doc_id % 103 == 5 copy the FIRST SENTENCE of benchmark doc
    // 50·(doc_id mod |bench|) — a ≥50-char span with no sentence
    // boundary, so line-clean's punctuation-stripping rejoin cannot break
    // the common substring — followed by 30 doc-unique tokens (dilutes
    // Jaccard between two plants sharing a bench doc to ~0.2 < 0.3 and
    // keeps every 20-token chunk doc-unique). The doc survives to the
    // verbatim stage and is dropped there: its first 8-token window is
    // the benchmark doc's own, and the LCS over the 512-char caps is the
    // whole sentence (measured ≥ 52 chars at every SF).
    val bench0 = Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("vbid"),
        regexp_extract(col("text"), "^[^.!?]*", 0).as("vfs"))
    val nvb = bench0.agg(count(lit(1)).as("nvb"))
    val vtail = expr("array_join(transform(sequence(1, 30), " +
      "i -> concat('v', cast(doc_id AS string), 'x', cast(i AS string))), ' ')")
    val bat1 = bat0.crossJoin(broadcast(nvb))
      .withColumn("vbid", lit(50L) * pmod(col("doc_id"), col("nvb")))
      .join(broadcast(bench0), Seq("vbid"), "left")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(103)) === 5 &&
            pmod(col("doc_id"), lit(97)) =!= 13 &&
            pmod(col("doc_id"), lit(11)) =!= 0 &&
            pmod(col("doc_id"), lit(101)) =!= 17,
          // " of the " carries the two stopwords quality demands — the
          // synthetic vocabulary has none, so the sentence alone would
          // misroute the plant to drop reason 1
          concat(col("vfs"), lit(" of the "), vtail))
          .otherwise(col("text")))
      .select("doc_id", "lang", "source", "text")
    // planted re-crawls of store docs (the d49 device) — the vs-store
    // dedup arm's flow: ~1/9 of the store re-enters through the batch
    val twins = old0.filter(pmod(col("doc_id"), lit(9)) === 5)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
        col("source"),
        concat(col("text"), lit(" is "),
          pmod(col("doc_id"), lit(97)).cast("string")).as("text"))
    val par = s.sparkContext.defaultParallelism
    (headerFooter(old0).repartition(par),
      headerFooter(bat1.unionByName(twins)).repartition(par))
  }

  private def ghsOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
    col("lang"), col("source"),
    graft.functions.TextHashes.shingleHash64Col(
      col("text"), col("tk"), 3, emptyIfShort = true).as("ghs"))
  private def gtab(sh: DataFrame, idAs: String): DataFrame = sh
    .select(col("doc_id").as(idAs), col("lang"), col("source"),
      explode(col("ghs")).as("gh"))
  private def gsizes(sh: DataFrame, idAs: String, nAs: String): DataFrame =
    sh.select(col("doc_id").as(idAs), size(col("ghs")).as(nAs))
  /** Keep (aId, bId) pairs whose gram intersection clears Jaccard 0.3;
    * `aSz`/`bSz` carry (aId, na) / (bId, nb) — computed in-run for d57,
    * read from the persisted gram_sizes artifact for d59's store side. */
  private def jacFilter(inter: DataFrame, aId: String, bId: String,
      aSz: DataFrame, bSz: DataFrame): DataFrame = inter
    .join(aSz, aId).join(bSz, bId)
    .filter(round(col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")), 3) >= 0.3)
    .select(col(aId), col(bId))

  /** d57's store side, materialized in the SAME run (the pre-d59 shape):
    * one corpus scan through the bootstrap admission rules, then the six
    * contract frames of [[StoreFrames]] built over the persisted
    * admitted set. */
  private def storeFramesInMemory(s: SparkSession, dir: String): StoreFrames = {
    // r18: the three store frames are localCheckpoints, not persists —
    // every batch-side consumer (gram probe, band union, chunk
    // anti-join, attrition branches) previously stitched the FULL store
    // lineage into its plan, and driver-side analysis of those trees
    // (the d60 explain string was 2.9 MB) was the residual chain cost
    // after the r18 kernel work. Checkpointing severs the store boundary
    // exactly where d59's parquet handoff severs it — the in-memory arm
    // has the same plan shape as the persisted arm. (Same
    // recomputability trade the chain's other seams already price; also
    // removes the r13 plan-cache-sharing race class entirely — a
    // checkpointed frame has no shareable lineage.)
    // r19: LAZY (eager = false) — the truncation is identical, but the
    // r18 eager form paid three sequential driver-sync jobs before the
    // chain's first real action; lazy folds materialization into the
    // first consuming job (Spark completes any partially-computed lazy
    // checkpoint at that job's end).
    val (oldAug, _) = incInputs(s, dir)
    val oldQ = repetitionDocs(qualityDocs(oldAug))
    val hotStore = hotLinesOf(linesOf(oldQ)).localCheckpoint(false)
    val ldOld = lineCleanAgainst(oldQ, hotStore)
      .localCheckpoint(false) // consumers: gram probe, LSH sigs, chunks, base
    val osh = ghsOf(ldOld).localCheckpoint(false)
    StoreFrames(
      hot = hotStore,
      grams = gtab(osh, "old_id"),
      gramSizes = gsizes(osh, "old_id", "nb"),
      bands = Dedup.bandedKeys(Dedup.signatures(ldOld.select("doc_id", "text"))),
      chunks = ldOld.select(explode(chunksExpr("tk")).as("chunk")).distinct(),
      baseOff = ldOld.agg(
        coalesce(sum(size(col("tk")).cast("long")), lit(0L)).as("base_off")))
  }

  /** d59's bootstrap JOB: build the store once and WRITE the
    * [[StoreFrames]] artifacts to parquet through the graft:// caching
    * FS — the natural persisted schema (doc_id / n_grams /
    * next_token_offset), which [[readStore]] maps back onto the chain's
    * probe-side names, so a schema drift between the two jobs fails
    * loudly at read time (StoreHandoffSpec's canary). Also writes the
    * admitted store corpus itself (`admitted`) — tomorrow's bootstrap
    * input and the audit surface — though the incremental job reads only
    * the derived index artifacts. */
  private[operators] def bootstrapStore(
      s: SparkSession, dir: String, base: String): Unit = {
    CacheQueries.enableCacheFs(s)
    val (oldAug, _) = incInputs(s, dir)
    val oldQ = repetitionDocs(qualityDocs(oldAug))
    // NO explicit unpersist here (r13 soak lesson): these frames'
    // analyzed plans are IDENTICAL to d57/d60's in-memory store frames,
    // so Spark's plan-keyed CacheManager SHARES the entries across
    // concurrent executions — an unpersist in this job's finally raced a
    // concurrent buildInc's eager `clean` checkpoint and the seam
    // materialized EMPTY (concsoak caught it: d60's mismatch fingerprint
    // byte-matched the clean-frame-empty simulation, 2 of 4 runs).
    // Callers run under PinScope, which sweeps after the query — the
    // same discipline every other pool query uses for its pins.
    val hotStore = hotLinesOf(linesOf(oldQ)).persist()
    val ldOld = lineCleanAgainst(oldQ, hotStore).persist()
    val osh = ghsOf(ldOld).persist()
    def w(df: DataFrame, name: String): () => Unit =
      () => df.write.mode("overwrite").parquet(s"graft://$base/$name")
    // the seven artifact writes are independent consumers of the three
    // persisted frames (Spark's block-level cache locking serializes
    // first-materialization) — overlap them so each write job's tail
    // back-fills the next (r18, guide §2.6). Paths are disjoint;
    // overwrite discipline unchanged.
    // at 100 TB gram_index is written bucketed by gh (the probe key)
    // so the daily batch probe is a co-located join; band_table by
    // (band, bh) likewise
    Par.writes(
      w(ldOld.select("doc_id", "lang", "source", "text"), "admitted"),
      w(hotStore, "hot_lines"),
      w(gtab(osh, "doc_id"), "gram_index"),
      w(gsizes(osh, "doc_id", "n_grams"), "gram_sizes"),
      w(Dedup.bandedKeys(Dedup.signatures(ldOld.select("doc_id", "text"))),
        "band_table"),
      w(ldOld.select(explode(chunksExpr("tk")).as("chunk")).distinct(),
        "chunk_set"),
      w(ldOld.agg(coalesce(sum(size(col("tk")).cast("long")), lit(0L))
        .as("next_token_offset")), "manifest"))
  }

  /** d59's incremental-job view of the store: COLD parquet reads of what
    * [[bootstrapStore]] persisted — no lineage reaches back into the
    * bootstrap's frames, so the hash gate proves the contract survives a
    * real serialization boundary. */
  private[operators] def readStore(s: SparkSession, base: String): StoreFrames = {
    CacheQueries.enableCacheFs(s)
    def r(name: String) = s.read.parquet(s"graft://$base/$name")
    StoreFrames(
      hot = r("hot_lines"),
      grams = r("gram_index").withColumnRenamed("doc_id", "old_id"),
      gramSizes = r("gram_sizes")
        .select(col("doc_id").as("old_id"), col("n_grams").as("nb")),
      bands = r("band_table"),
      chunks = r("chunk_set"),
      baseOff = r("manifest")
        .select(col("next_token_offset").as("base_off")))
  }

  /** The incremental batch chain, parameterized by the store contract —
    * d57 passes [[storeFramesInMemory]], d59 passes [[readStore]]. */
  private[operators] def incChain(s: SparkSession, dir: String,
      store: StoreFrames): IncStages = {
    // the batch through the same admission rules, cleaned against the
    // STORE vocabulary (boilerplate lists refresh at bootstrap, not
    // per-batch — batch-internal new boilerplate waits for the next one).
    // qB is eagerly checkpointed for the same reason as build()'s q:
    // repetitionDocs consumes it twice, and d60's attrition joins add
    // two more consumers of the quality lineage.
    val ck = SeamClock.ck _ // barrier ledger, see build()
    val (_, batAug) = incInputs(s, dir)
    val qB = ck("qB")(qualityDocs(batAug))
    val repB = repetitionDocs(qB)
    // r19: the batch-side stage frames are LAZY localCheckpoints, not
    // persists — same share-the-computation semantics, but the d57/d60
    // consumer plans see depth-1 LogicalRDDs instead of the full batch
    // lineage (d60's explain was still ~0.8 MB with plain persists; the
    // r18 severing experiment was a wash because it used EAGER
    // checkpoints, paying one sequential driver-sync job per frame —
    // lazy keeps the truncation and folds materialization into the
    // first consuming job). Recompute trade as storeFramesInMemory.
    val ldBat = lineCleanAgainst(repB, store.hot)
      .localCheckpoint(false) // consumers: gram probes x2, LSH sigs, chunks

    // near-dup vs store + in-batch greedy (d49's rule, d05's mechanism)
    val bsh = ghsOf(ldBat).localCheckpoint(false)
    // store grams probe ONLY batch grams — store×store is never formed
    val po = jacFilter(
      gtab(bsh, "new_id").join(
        store.grams
          .withColumnRenamed("lang", "lang_o")
          .withColumnRenamed("source", "source_o")
          .withColumnRenamed("gh", "gh_o"),
        col("gh") === col("gh_o") && col("lang") === col("lang_o") &&
          col("source") === col("source_o"))
        .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter")),
      "new_id", "old_id", gsizes(bsh, "new_id", "na"), store.gramSizes)
      .localCheckpoint(false)
    val pn = jacFilter(
      gtab(bsh, "earlier_id").join(
        gtab(bsh, "new_id")
          .withColumnRenamed("lang", "lang_b")
          .withColumnRenamed("source", "source_b")
          .withColumnRenamed("gh", "gh_b"),
        col("gh") === col("gh_b") && col("lang") === col("lang_b") &&
          col("source") === col("source_b") &&
          col("earlier_id") < col("new_id"))
        .groupBy("earlier_id", "new_id").agg(count(lit(1)).as("inter")),
      "earlier_id", "new_id", gsizes(bsh, "earlier_id", "na"),
      gsizes(bsh, "new_id", "nb")).localCheckpoint(false)
    val keptB = ldBat
      .join(po.select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .join(pn.select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")

    // banded-LSH arm in the same asymmetric shape (d49): only batch-side
    // band keys probe the full band table (store artifact ∪ today's batch
    // keys); recall vs the exact edges
    val batchBands = Dedup.bandedKeys(Dedup.signatures(
      ldBat.select("doc_id", "text"))).localCheckpoint(false)
    val allBands = store.bands.unionByName(batchBands)
    val cands = batchBands
      .select(col("band"), col("bh"), col("doc_id").as("probe_id"))
      .join(allBands.select(col("band"), col("bh"),
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

    // chunk rewrite vs the STORE chunk set + in-batch first occurrence:
    // a chunk already ingested drops from EVERY batch doc; a new chunk
    // survives only at its first batch position (d18's rule, keyed
    // against the store index instead of a same-run window alone)
    val occB = keptB
      .select(col("doc_id"), posexplode(chunksExpr("tk")).as(Seq("idx", "chunk")))
      .withColumn("bkey", col("doc_id") * lit(100000L) + col("idx"))
      .withColumn("first_key",
        min(col("bkey")).over(Window.partitionBy("chunk")))
    val rw = occB
      .join(store.chunks.withColumn("ins", lit(1L)), Seq("chunk"), "left")
      .filter(col("ins").isNull && col("bkey") === col("first_key"))
      .groupBy("doc_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk), ' ')")
        .as("rtext"))
      .withColumn("rtk", graft.functions.TextStats.wsTokensCol(col("rtext")))
      .localCheckpoint(false) // consumers: decontam windows+text, sem, pack

    // verbatim decontamination vs the raw benchmark split (d46 / d47 4a)
    val bench = Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), 1, 512).as("sb"), tokens.as("btk"))
    val bw = broadcast(bench
      .select(col("bench_id"), explode(winsExpr("btk")).as("bwin"))
      .withColumn("bwh", xxhash64(col("bwin"))))
    val tw = rw.select(col("doc_id"), explode(winsExpr("rtk")).as("win"))
      .withColumn("wh", xxhash64(col("win")))
    val contam = tw.join(bw,
        col("wh") === col("bwh") && col("win") === col("bwin"))
      .select("doc_id", "bench_id").distinct()
      .join(rw.select(col("doc_id"),
        substring(col("rtext"), 1, 512).as("sa")), "doc_id")
      .join(bench.select("bench_id", "sb"), "bench_id")
      .withColumn("lcs",
        graft.functions.StringAlgos.lcsLenCol(col("sa"), col("sb")))
      .groupBy("doc_id").agg(max("lcs").as("max_lcs"))
      .filter(col("max_lcs") >= 50).select("doc_id")
    val clean = ck("clean")(rw.join(contam, Seq("doc_id"), "left_anti"))
    // ^ same double-evaluation seam as build()

    // semantic decontamination (e22 / d47 4b) over the batch survivors
    val benchV = Tables.load(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("bid"), col("embedding").as("be"))
    val nb = benchV.agg(count(lit(1)).as("nbench"))
    val semIn = clean.select("doc_id")
      .crossJoin(broadcast(nb))
      .withColumn("pbid", lit(50L) * pmod(col("doc_id"), col("nbench")))
      .join(broadcast(benchV.select(col("bid").as("pbid"), col("be").as("pbe"))),
        Seq("pbid"), "left")
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding").as("oe")),
        Seq("doc_id"), "left")
      .withColumn("te",
        when(pmod(col("doc_id"), lit(13)) === 2 && col("doc_id") < 1000000L, expr(
          """transform(pbe, (x, i) -> CAST(CAST(x AS DOUBLE) +
            |  (CAST((doc_id div 13) % 5 AS DOUBLE) * 0.01D) *
            |  CAST((doc_id * 31 + (i + 1) * 17) % 13 - 6 AS DOUBLE)
            |  AS FLOAT))""".stripMargin))
          .otherwise(col("oe")))
      .select("doc_id", "te")
    val semDrop = semIn.filter(col("te").isNotNull)
      .join(broadcast(benchV))
      .withColumn("cos", graft.functions.VectorOps.cosineSim(col("te"), col("be")))
      .groupBy("doc_id").agg(max("cos").as("mc"))
      .filter(col("mc") >= 0.92).select("doc_id")
    val sem = clean.join(semDrop, Seq("doc_id"), "left_anti")

    // the store manifest's next-token offset — the persisted scalar for
    // d59 (manifest artifact), the same sum computed in-run for d57
    val baseCk = ck("baseOff")(store.baseOff)
    val lshOkCk = ck("lshOk")(lshOk)
    IncStages(batAug, qB, repB, ldBat,
      po.select(col("new_id").as("doc_id")).distinct(),
      pn.select(col("new_id").as("doc_id")).distinct(),
      rw, clean, sem, baseCk, lshOkCk)
  }

  private[graft] def buildInc(s: SparkSession, dir: String): IncStages =
    incChain(s, dir, storeFramesInMemory(s, dir))

  /** d59's two jobs exposed for the bench shared lane (r13 advice: d59
    * re-prices the full chain per gate execution like the rest of the
    * composed family; the lane times bootstrap-write and cold-incremental
    * separately so its regression signal isn't policy-dominated). */
  private[graft] def bootStoreJob(s: SparkSession, dir: String): String = {
    val base = CacheQueries.tmpBase("graft-store", dir)
    bootstrapStore(s, dir, base)
    base
  }
  private[graft] def incStoreJob(s: SparkSession, dir: String,
      base: String): DataFrame =
    packInc(incChain(s, dir, readStore(s, base)))

  // ------------------------------------------------------------- oracle
  /** The shared DuckDB CTE chain replaying stages 0-5; d47/d48 append
    * their final SELECT. Every CTE is the proven oracle formulation of
    * its per-op gate (d19/d53/d52/d05/d10/d25/d18/d46/e22/d43),
    * re-rooted on the previous stage's CTE instead of `documents`.
    * Every non-recursive CTE is MATERIALIZED: DuckDB inlines plain CTEs
    * per reference, and d48's lineage frame references nine stage CTEs
    * whose subtrees each contain the LCS replay — measured >13 min
    * inlined vs 0.3 s materialized at sf0.01. */
  private val chainSql: String =
    """WITH RECURSIVE
      |corpus AS MATERIALIZED (SELECT doc_id, lang, source,
      |            CASE WHEN doc_id % 101 = 17 AND doc_id % 7 <> 3
      |              THEN 'subscribe to the newsletter edition ' ||
      |                   CAST(doc_id % 3 AS VARCHAR) ||
      |                   '. all rights reserved form ' ||
      |                   CAST(doc_id % 2 AS VARCHAR)
      |              ELSE text END AS text
      |           FROM documents WHERE doc_id % 50 <> 0),
      |twins AS MATERIALIZED (SELECT doc_id + 1000000 AS doc_id, lang, source,
      |           text || ' is ' || (doc_id % 97) AS text
      |          FROM corpus WHERE doc_id % 7 = 3),
      |aug0 AS MATERIALIZED (SELECT * FROM corpus UNION ALL SELECT * FROM twins),
      |aug AS MATERIALIZED (SELECT doc_id, lang, source,
      |         CASE WHEN doc_id % 7 = 0
      |           THEN 'subscribe to the newsletter edition ' ||
      |                CAST(doc_id % 3 AS VARCHAR) || '. '
      |           ELSE '' END
      |         || text ||
      |         CASE WHEN doc_id % 5 = 0
      |           THEN '. all rights reserved form ' ||
      |                CAST(doc_id % 2 AS VARCHAR)
      |           ELSE '' END AS text
      |        FROM aug0),
      |f AS MATERIALIZED (SELECT doc_id, lang, source, text,
      |       regexp_extract_all(text,'\S+') AS tk,
      |       length(regexp_extract_all(text,'\S+')) AS n_tok,
      |       list_sum(list_transform(regexp_extract_all(text,'\S+'),
      |         t->length(t))) AS tok_chars,
      |       length(list_filter(regexp_extract_all(text,'\S+'),
      |         t -> t IN ('the','a','and','of','to','in','is'))) AS n_stop
      |      FROM aug),
      |g AS MATERIALIZED (SELECT *, greatest(n_tok-2,0) AS n_tri,
      |       length(list_distinct(list_transform(
      |         range(1, greatest(n_tok-2,0)+1),
      |         i -> concat(tk[i],' ',tk[i+1],' ',tk[i+2])))) AS n_tri_distinct
      |      FROM f),
      |q AS MATERIALIZED (SELECT doc_id, lang, source, text, tk FROM g
      |      WHERE n_tok BETWEEN 10 AND 1000
      |        AND 2*n_tok <= tok_chars AND tok_chars <= 12*n_tok
      |        AND n_stop >= 2
      |        AND (n_tri = 0 OR 10*n_tri_distinct >= 4*n_tri)),
      |rep0 AS MATERIALIZED (SELECT doc_id, g2, count(*) AS k FROM (
      |          SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g2
      |          FROM q, unnest(range(1, greatest(len(tk)-1,0)+1)) r(i))
      |         GROUP BY doc_id, g2),
      |rep1 AS MATERIALIZED (SELECT doc_id, max(k) AS top_k,
      |          sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS dup_k,
      |          sum(k) AS n_g
      |         FROM rep0 GROUP BY doc_id),
      |rep AS MATERIALIZED (SELECT q.* FROM q JOIN rep1 USING (doc_id)
      |        WHERE n_g < 20
      |           OR (top_k*1000 <= 50*n_g AND dup_k*1000 <= 120*n_g)),
      |ls0 AS MATERIALIZED (SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '[.!?]+\s+'),
      |           x -> length(trim(x)) > 0) AS ls
      |        FROM rep),
      |lns AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[i] AS line
      |        FROM ls0, unnest(range(1, len(ls)+1)) r(i)),
      |hot AS MATERIALIZED (SELECT line FROM lns GROUP BY line
      |        HAVING count(DISTINCT doc_id) >= 3),
      |ld0 AS MATERIALIZED (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS ltext
      |        FROM lns WHERE line NOT IN (SELECT line FROM hot)
      |        GROUP BY doc_id),
      |ld AS MATERIALIZED (SELECT r.doc_id, r.lang, r.source, l.ltext AS text,
      |        regexp_extract_all(l.ltext,'\S+') AS tk
      |       FROM rep r JOIN ld0 l USING (doc_id)),
      |sh AS MATERIALIZED (SELECT doc_id, lang, source,
      |        list_distinct(list_transform(range(1, greatest(len(tk)-2,0)+1),
      |          i->concat(tk[i],' ',tk[i+1],' ',tk[i+2]))) AS grams FROM ld),
      |pairs AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           round(CAST(length(list_intersect(a.grams,b.grams)) AS DOUBLE) /
      |             (length(a.grams)+length(b.grams)
      |              -length(list_intersect(a.grams,b.grams))),3) AS jac
      |          FROM sh a JOIN sh b ON a.lang=b.lang AND a.source=b.source
      |            AND a.doc_id<b.doc_id
      |          WHERE length(list_intersect(a.grams,b.grams)) > 0),
      |und AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jac >= 0.3
      |        UNION ALL SELECT doc_b, doc_a FROM pairs WHERE jac >= 0.3),
      |walk(node, comp) AS (SELECT doc_id, doc_id FROM ld
      |        UNION SELECT u.b, w.comp FROM walk w JOIN und u ON u.a = w.node),
      |lab AS MATERIALIZED (SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS comp
      |        FROM walk GROUP BY node),
      |surv AS MATERIALIZED (SELECT doc_id, comp FROM (
      |          SELECT l.doc_id, l.comp,
      |            first_value(l.doc_id) OVER (PARTITION BY l.comp
      |              ORDER BY length(qq.text) DESC, l.doc_id) AS sid
      |          FROM lab l JOIN ld qq USING (doc_id)) t WHERE doc_id = sid),
      |chunks AS MATERIALIZED (SELECT s.doc_id, s.comp,
      |            list_transform(range(0, CAST(ceil(len(ld.tk)/20.0) AS INT)),
      |              i -> list_aggregate(ld.tk[i*20+1:i*20+20], 'string_agg',' ')) AS cs
      |           FROM surv s JOIN ld USING (doc_id)),
      |occ AS MATERIALIZED (SELECT doc_id, comp, unnest(cs) AS chunk,
      |         unnest(range(0,len(cs))) AS idx FROM chunks),
      |keyed AS MATERIALIZED (SELECT *, min(doc_id*100000+idx) OVER (PARTITION BY chunk)
      |           AS first_key FROM occ),
      |rw AS MATERIALIZED (SELECT doc_id, comp,
      |        string_agg(chunk, ' ' ORDER BY idx)
      |          FILTER (WHERE doc_id*100000+idx = first_key) AS rtext
      |       FROM keyed GROUP BY doc_id, comp),
      |rw2 AS MATERIALIZED (SELECT doc_id, comp, rtext,
      |         regexp_extract_all(rtext,'\S+') AS rtk
      |        FROM rw WHERE rtext IS NOT NULL),
      |bench AS MATERIALIZED (SELECT doc_id, substring(text,1,512) AS s,
      |           regexp_extract_all(text,'\S+') AS tk
      |          FROM documents WHERE doc_id % 50 = 0),
      |tw AS MATERIALIZED (SELECT doc_id, rtk, substring(rtext,1,512) AS s FROM rw2),
      |trw AS MATERIALIZED (SELECT doc_id, list_aggregate(rtk[i:i+7],'string_agg',' ') AS win
      |        FROM tw, unnest(range(1, greatest(len(rtk)-7,0)+1)) AS r(i)),
      |bw AS MATERIALIZED (SELECT doc_id, list_aggregate(tk[i:i+7],'string_agg',' ') AS win
      |       FROM bench, unnest(range(1, greatest(len(tk)-7,0)+1)) AS r(i)),
      |p2 AS MATERIALIZED (SELECT DISTINCT tr.doc_id AS train_id, be.doc_id AS bench_id
      |       FROM trw tr JOIN bw be ON tr.win = be.win),
      |c2 AS MATERIALIZED (SELECT train_id, bench_id, a.s AS sa, b.s AS sb
      |       FROM p2 JOIN tw a ON a.doc_id = train_id
      |              JOIN bench b ON b.doc_id = bench_id),
      |m2 AS MATERIALIZED (SELECT train_id, bench_id, i.i AS i, j.j AS j
      |       FROM c2, unnest(range(1, length(sa)+1)) AS i(i),
      |            unnest(range(1, length(sb)+1)) AS j(j)
      |       WHERE substring(sa, CAST(i.i AS INT), 1)
      |           = substring(sb, CAST(j.j AS INT), 1)),
      |runs AS MATERIALIZED (SELECT train_id, bench_id, count(*) AS run FROM (
      |         SELECT train_id, bench_id, i - j AS diag,
      |           i - row_number() OVER (PARTITION BY train_id, bench_id, i - j
      |                                  ORDER BY i) AS grp
      |         FROM m2) GROUP BY train_id, bench_id, diag, grp),
      |contam AS MATERIALIZED (SELECT train_id AS doc_id FROM runs
      |           GROUP BY train_id HAVING max(run) >= 50),
      |clean AS MATERIALIZED (SELECT r.doc_id, r.comp, r.rtext, r.rtk FROM rw2 r
      |          WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)),
      |benchv AS MATERIALIZED (SELECT vec_id AS bid, embedding AS be
      |           FROM embeddings WHERE vec_id % 50 = 0),
      |semj AS MATERIALIZED (SELECT c.doc_id,
      |          CASE WHEN c.doc_id % 13 = 2 AND c.doc_id < 1000000 THEN
      |            list_transform(range(1, len(bv.be)+1), i ->
      |              CAST(CAST(bv.be[i] AS DOUBLE) +
      |                (CAST((c.doc_id // 13) % 5 AS DOUBLE) * 0.01) *
      |                CAST((c.doc_id * 31 + i * 17) % 13 - 6 AS DOUBLE)
      |                AS FLOAT))
      |          ELSE ev.embedding END AS te
      |         FROM clean c
      |         LEFT JOIN embeddings ev ON ev.vec_id = c.doc_id
      |         LEFT JOIN benchv bv
      |           ON bv.bid = 50 * (c.doc_id % (SELECT count(*) FROM benchv))),
      |semc AS MATERIALIZED (SELECT s.doc_id,
      |          max(list_sum(list_transform(range(1, len(s.te)+1),
      |            i -> CAST(s.te[i] AS DOUBLE) * CAST(bv.be[i] AS DOUBLE))) /
      |          (sqrt(list_sum(list_transform(s.te,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
      |           sqrt(list_sum(list_transform(bv.be,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS mc
      |         FROM semj s, benchv bv WHERE s.te IS NOT NULL
      |         GROUP BY s.doc_id),
      |sem AS MATERIALIZED (SELECT c.* FROM clean c
      |        WHERE c.doc_id NOT IN
      |          (SELECT doc_id FROM semc WHERE mc >= 0.92)),
      |sp AS MATERIALIZED (SELECT doc_id, comp, rtext, rtk,
      |        CASE WHEN comp % 10 < 8 THEN 'train'
      |             WHEN comp % 10 = 8 THEN 'val' ELSE 'test' END AS split
      |       FROM sem)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("d47_pipeline_pack", chainSql +
      """,
        |tr AS (SELECT doc_id, comp, rtext, len(rtk) AS n_tok
        |       FROM sp WHERE split = 'train'),
        |pk AS (SELECT doc_id, comp, rtext, n_tok,
        |        coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0)
        |          AS tok_start
        |       FROM tr)
        |SELECT doc_id, comp, CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST(tok_start AS BIGINT) AS token_start,
        |  CAST(tok_start // 128 AS BIGINT) AS seq_id,
        |  CAST(tok_start % 128 AS BIGINT) AS seq_offset,
        |  CAST((tok_start + n_tok - 1) // 128 - tok_start // 128 + 1
        |    AS BIGINT) AS n_seqs,
        |  md5(rtext) AS text_md5, true AS lsh_recall_ok
        |FROM pk""".stripMargin) { (s, dir) =>
      packBoot(build(s, dir))
    },

    // ---- per-stage attrition with a drop_reason bitmask (d48): every
    // input doc (corpus + planted twin) carries the FIRST stage that
    // dropped it — 1 quality, 16 repetition ceilings, 32 emptied by line
    // dedup, 2 near-dup loser, 4 fully-boilerplate (zero kept chunks),
    // 8 verbatim-contaminated, 64 semantically contaminated, 0 survived
    // (with its split) — and the gate hash-pins the (reason, split)
    // histogram. This is the "why was this doc dropped" accounting a
    // 100 TB pipeline must emit; reasons are disjoint by stage order, so
    // the counts ARE the per-stage attrition table. Aggregate-sized
    // output; the lineage frame itself is one pass of left anti-joins
    // over stage frames. ----
    QueryDef("d48_pipeline_attrition", chainSql +
      """,
        |lin AS (
        |  SELECT a.doc_id,
        |    CASE WHEN q.doc_id IS NULL THEN 1
        |         WHEN re.doc_id IS NULL THEN 16
        |         WHEN l.doc_id IS NULL THEN 32
        |         WHEN s.doc_id IS NULL THEN 2
        |         WHEN r.doc_id IS NULL THEN 4
        |         WHEN c.doc_id IS NULL THEN 8
        |         WHEN se.doc_id IS NULL THEN 64 ELSE 0 END AS drop_reason,
        |    COALESCE(p.split, 'dropped') AS split
        |  FROM aug a
        |    LEFT JOIN q ON q.doc_id = a.doc_id
        |    LEFT JOIN rep re ON re.doc_id = a.doc_id
        |    LEFT JOIN ld l ON l.doc_id = a.doc_id
        |    LEFT JOIN surv s ON s.doc_id = a.doc_id
        |    LEFT JOIN rw2 r ON r.doc_id = a.doc_id
        |    LEFT JOIN clean c ON c.doc_id = a.doc_id
        |    LEFT JOIN sem se ON se.doc_id = a.doc_id
        |    LEFT JOIN sp p ON p.doc_id = a.doc_id)
        |SELECT CAST(drop_reason AS BIGINT) AS drop_reason, split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM lin GROUP BY drop_reason, split""".stripMargin) { (s, dir) =>
      attritionBoot(build(s, dir))
    },

    // ---- INCREMENTAL composed pipeline (d57): the d47 chain in d49's
    // steady-state shape — today's batch (the % 4 == 0 slice + planted
    // re-crawls of store docs) runs quality → repetition → line-clean
    // vs the STORE hot-line vocabulary → near-dup vs store + in-batch
    // greedy → chunk rewrite vs the STORE chunk set → verbatim +
    // semantic decontamination → packing APPENDED at the store token
    // stream's tail. The store is never rescanned pairwise (no
    // store×store join anywhere; see buildInc), and the output manifest
    // hash-pins every surviving batch doc's offsets AND rewritten-text
    // md5 — so a store-contract drift between bootstrap and incremental
    // (signature schema, hot-line set, chunk keying, base offset) breaks
    // the gate. lsh_recall_ok rides in-band (the d49 asymmetric banded
    // arm vs the exact edge set). ----
    QueryDef("d57_incremental_pipeline", incOracleSql) { (s, dir) =>
      packInc(buildInc(s, dir))
    },

    // ---- PERSISTED store handoff (d59): the d57 chain split into TWO
    // jobs — a bootstrap that WRITES the store artifacts (admitted
    // corpus, hot-line vocabulary, gram index + sizes, band table, chunk
    // set, next-token-offset manifest) to parquet through graft://, and
    // an incremental job that READS them cold. Oracle unchanged (the
    // global-batch rule replays the same chain); the NEW evidence is
    // that the hash survives a real serialization boundary — the
    // contract class an in-run handoff cannot break (float widths, array
    // encodings, column naming, partitioning of the persisted index).
    // StoreHandoffSpec's drift canary proves the reads are load-bearing:
    // perturbing the manifest shifts every token_start by exactly the
    // perturbation, and a renamed gram_index column fails loudly. ----
    QueryDef("d59_store_handoff", incOracleSql) { (s, dir) =>
      val base = CacheQueries.tmpBase("graft-store", dir)
      bootstrapStore(s, dir, base) // job 1: write the store contract
      packInc(incChain(s, dir, readStore(s, base))) // job 2: cold reads
    },

    // ---- INCREMENTAL attrition accounting (d60): d48's drop-reason
    // bitmask threaded through the steady-state chain — every batch doc
    // (today's crawl + planted re-crawls) carries the FIRST stage that
    // dropped it, now with the STORE-SPECIFIC reasons split out:
    // 1 quality, 16 repetition, 32 emptied by line-clean vs the store
    // vocabulary, 2 near-dup vs STORE, 128 near-dup in-batch, 4 emptied
    // by the store chunk set, 8 verbatim-contaminated, 64 semantically
    // contaminated, 0 survived — hash-pinned as the (reason, lang)
    // histogram, the daily attrition report a 100 TB steady state reads.
    // Reasons 2 vs 128 and 4 have real flow at every SF via the planted
    // re-crawls (2), the compilation plant's same-cell later docs (128),
    // and its earliest-per-cell survivors (4) — see incInputs. ----
    QueryDef("d60_incremental_attrition", incAttritionSql) { (s, dir) =>
      attritionInc(buildInc(s, dir))
    }
  )

  /** Stage 6 — d36's packing over the train stream in doc_id order:
    * bucketed exclusive prefix sum (per-bucket totals roll up to an
    * aggregate-sized broadcast offset table; the within-bucket running
    * sum is bucket-partitioned — nothing row-scale in one partition).
    * Factored out (r13) so Bench's shared-materialization lane can price
    * the chain once and attribute this output separately. */
  private[graft] def packBoot(st: Stages): DataFrame = {
    val w = Window
    val toks = st.sp.filter(col("split") === "train")
      .select(col("doc_id"), col("comp"), col("rtext"),
        size(col("rtk")).cast("long").as("n_tok"))
      .withColumn("bucket", expr("doc_id div 100L"))
      .persist()
    val offsets = toks.groupBy("bucket").agg(sum("n_tok").as("btotal"))
      .withColumn("off", coalesce(
        sum("btotal").over(w.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val byBucket = w.partitionBy("bucket").orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .join(broadcast(offsets.select(col("bucket"), col("off"))), Seq("bucket"))
      .withColumn("tok_start",
        (col("off") + coalesce(sum("n_tok").over(byBucket), lit(0L)))
          .cast("long"))
      .select(col("doc_id"), col("comp"), col("n_tok").as("n_tokens"),
        col("tok_start").as("token_start"),
        expr("tok_start div 128L").as("seq_id"),
        pmod(col("tok_start"), lit(128L)).as("seq_offset"),
        expr("(tok_start + n_tok - 1) div 128L - tok_start div 128L + 1")
          .cast("long").as("n_seqs"),
        md5(col("rtext")).as("text_md5"))
      .crossJoin(broadcast(st.lshOk))
  }

  /** d48's (reason, split) histogram over the bootstrap chain's stage
    * frames — one pass of left joins, aggregate-sized output. */
  private[graft] def attritionBoot(st: Stages): DataFrame =
    st.aug.select("doc_id")
      .join(st.q.select(col("doc_id"), lit(1L).as("in_q")), Seq("doc_id"), "left")
      .join(st.rep.select(col("doc_id"), lit(1L).as("in_rep")), Seq("doc_id"), "left")
      .join(st.ld.select(col("doc_id"), lit(1L).as("in_ld")), Seq("doc_id"), "left")
      .join(st.surv.select(col("doc_id"), lit(1L).as("in_surv")), Seq("doc_id"), "left")
      .join(st.rw2.select(col("doc_id"), lit(1L).as("in_rw")), Seq("doc_id"), "left")
      .join(st.clean.select(col("doc_id"), lit(1L).as("in_clean")), Seq("doc_id"), "left")
      .join(st.sem.select(col("doc_id"), lit(1L).as("in_sem")), Seq("doc_id"), "left")
      .join(st.sp.select(col("doc_id"), col("split")), Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(col("in_q").isNull, 1L)
          .when(col("in_rep").isNull, 16L)
          .when(col("in_ld").isNull, 32L)
          .when(col("in_surv").isNull, 2L)
          .when(col("in_rw").isNull, 4L)
          .when(col("in_clean").isNull, 8L)
          .when(col("in_sem").isNull, 64L)
          .otherwise(0L))
      .groupBy(col("drop_reason"), coalesce(col("split"), lit("dropped")).as("split"))
      .agg(count(lit(1)).as("n_docs"))

  /** d60's (reason, lang) histogram over the incremental chain's stage
    * frames — the store-specific reasons split out (2 vs-store, 128
    * in-batch, 4 chunk-emptied-by-store). */
  private[graft] def attritionInc(st: IncStages): DataFrame =
    st.batAug.select("doc_id", "lang")
      .join(st.qB.select(col("doc_id"), lit(1L).as("in_q")), Seq("doc_id"), "left")
      .join(st.repB.select(col("doc_id"), lit(1L).as("in_rep")), Seq("doc_id"), "left")
      .join(st.ldBat.select(col("doc_id"), lit(1L).as("in_ld")), Seq("doc_id"), "left")
      .join(st.poDrop.select(col("doc_id"), lit(1L).as("in_po")), Seq("doc_id"), "left")
      .join(st.pnDrop.select(col("doc_id"), lit(1L).as("in_pn")), Seq("doc_id"), "left")
      .join(st.rw.select(col("doc_id"), lit(1L).as("in_rw")), Seq("doc_id"), "left")
      .join(st.clean.select(col("doc_id"), lit(1L).as("in_clean")), Seq("doc_id"), "left")
      .join(st.sem.select(col("doc_id"), lit(1L).as("in_sem")), Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(col("in_q").isNull, 1L)
          .when(col("in_rep").isNull, 16L)
          .when(col("in_ld").isNull, 32L)
          .when(col("in_po").isNotNull, 2L)
          .when(col("in_pn").isNotNull, 128L)
          .when(col("in_rw").isNull, 4L)
          .when(col("in_clean").isNull, 8L)
          .when(col("in_sem").isNull, 64L)
          .otherwise(0L))
      .groupBy("drop_reason", "lang")
      .agg(count(lit(1)).as("n_docs"))

  /** d57/d59 shared oracle — the global-batch DuckDB replay of the
    * incremental chain (store side recomputed from `documents`; the
    * persisted-vs-in-memory store distinction is engine-side only). */
  // lazy: referenced by `defs` above its definition point — a plain val
  // would still be null when the Seq initializes
  private lazy val incChainSql: String =
      """WITH
        |src AS MATERIALIZED (SELECT doc_id, lang, source, text FROM documents
        |       WHERE doc_id % 50 <> 0),
        |old0 AS MATERIALIZED (SELECT doc_id, lang, source,
        |   CASE WHEN doc_id % 97 = 13 THEN
        |     'the data of a stream and the cache of a block and the scan of a file and shard store ' ||
        |     list_aggregate(list_transform(range(1, 61),
        |       i -> 'w' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)),
        |       'string_agg', ' ')
        |   ELSE text END AS text
        |  FROM src WHERE doc_id % 4 <> 0),
        |bat0 AS MATERIALIZED (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN doc_id % 97 = 13 THEN
        |      'the data of a stream and the cache of a block and the scan of a file and shard store ' ||
        |      list_aggregate(list_transform(range(1, 61),
        |        i -> 'w' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)),
        |        'string_agg', ' ')
        |    WHEN doc_id % 11 = 0 THEN
        |      'the data of a stream and the cache of a block and the scan of a file and shard store'
        |    WHEN doc_id % 101 = 17 THEN
        |      'subscribe to the newsletter edition ' || CAST(doc_id % 3 AS VARCHAR) ||
        |      '. all rights reserved form ' || CAST(doc_id % 2 AS VARCHAR)
        |    WHEN doc_id % 103 = 5 THEN
        |      (SELECT regexp_extract(b.text, '^[^.!?]*') FROM documents b
        |        WHERE b.doc_id % 50 = 0 AND b.doc_id = 50 * (src.doc_id %
        |          (SELECT count(*) FROM documents WHERE doc_id % 50 = 0))) ||
        |      ' of the ' || list_aggregate(list_transform(range(1, 31),
        |        i -> 'v' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)),
        |        'string_agg', ' ')
        |    ELSE text END AS text
        |  FROM src WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, lang, source,
        |    text || ' is ' || CAST(doc_id % 97 AS VARCHAR) AS text
        |  FROM old0 WHERE doc_id % 9 = 5),
        |au AS MATERIALIZED (
        |  SELECT side, doc_id, lang, source,
        |    CASE WHEN doc_id % 7 = 0 THEN 'subscribe to the newsletter edition ' ||
        |      CAST(doc_id % 3 AS VARCHAR) || '. ' ELSE '' END || text ||
        |    CASE WHEN doc_id % 5 = 0 THEN '. all rights reserved form ' ||
        |      CAST(doc_id % 2 AS VARCHAR) ELSE '' END AS text
        |  FROM (SELECT 'o' AS side, * FROM old0
        |        UNION ALL SELECT 'b' AS side, * FROM bat0)),
        |f AS MATERIALIZED (SELECT side, doc_id, lang, source, text,
        |   regexp_extract_all(text,'\S+') AS tk,
        |   length(regexp_extract_all(text,'\S+')) AS n_tok,
        |   list_sum(list_transform(regexp_extract_all(text,'\S+'),
        |     t->length(t))) AS tok_chars,
        |   length(list_filter(regexp_extract_all(text,'\S+'),
        |     t -> t IN ('the','a','and','of','to','in','is'))) AS n_stop
        |  FROM au),
        |g AS MATERIALIZED (SELECT *, greatest(n_tok-2,0) AS n_tri,
        |   length(list_distinct(list_transform(
        |     range(1, greatest(n_tok-2,0)+1),
        |     i -> concat(tk[i],' ',tk[i+1],' ',tk[i+2])))) AS n_tri_distinct
        |  FROM f),
        |q AS MATERIALIZED (SELECT side, doc_id, lang, source, text, tk FROM g
        |  WHERE n_tok BETWEEN 10 AND 1000
        |    AND 2*n_tok <= tok_chars AND tok_chars <= 12*n_tok
        |    AND n_stop >= 2
        |    AND (n_tri = 0 OR 10*n_tri_distinct >= 4*n_tri)),
        |rep0 AS MATERIALIZED (SELECT doc_id, g2, count(*) AS k FROM (
        |   SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g2
        |   FROM q, unnest(range(1, greatest(len(tk)-1,0)+1)) r(i))
        |  GROUP BY doc_id, g2),
        |rep1 AS MATERIALIZED (SELECT doc_id, max(k) AS top_k,
        |   sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS dup_k, sum(k) AS n_g
        |  FROM rep0 GROUP BY doc_id),
        |rep AS MATERIALIZED (SELECT q.* FROM q JOIN rep1 USING (doc_id)
        |  WHERE n_g < 20 OR (top_k*1000 <= 50*n_g AND dup_k*1000 <= 120*n_g)),
        |ls0 AS MATERIALIZED (SELECT side, doc_id,
        |   list_filter(regexp_split_to_array(text, '[.!?]+\s+'),
        |     x -> length(trim(x)) > 0) AS ls FROM rep),
        |lns AS MATERIALIZED (SELECT side, doc_id, CAST(i AS BIGINT) AS pos,
        |   ls[i] AS line
        |  FROM ls0, unnest(range(1, len(ls)+1)) r(i)),
        |hot AS MATERIALIZED (SELECT line FROM lns WHERE side = 'o'
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |ld0 AS MATERIALIZED (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS ltext
        |  FROM lns WHERE line NOT IN (SELECT line FROM hot) GROUP BY doc_id),
        |ld AS MATERIALIZED (SELECT r.side, r.doc_id, r.lang, r.source,
        |   l.ltext AS text, regexp_extract_all(l.ltext,'\S+') AS tk
        |  FROM rep r JOIN ld0 l USING (doc_id)),
        |sh2 AS MATERIALIZED (SELECT side, doc_id, lang, source,
        |   list_distinct(list_transform(range(1, greatest(len(tk)-2,0)+1),
        |     i->concat(tk[i],' ',tk[i+1],' ',tk[i+2]))) AS grams FROM ld),
        |po AS MATERIALIZED (SELECT DISTINCT b.doc_id AS new_id
        |  FROM sh2 b JOIN sh2 o ON b.lang = o.lang AND b.source = o.source
        |  WHERE b.side = 'b' AND o.side = 'o'
        |    AND length(list_intersect(b.grams, o.grams)) > 0
        |    AND round(CAST(length(list_intersect(b.grams,o.grams)) AS DOUBLE) /
        |      (length(b.grams)+length(o.grams)
        |       -length(list_intersect(b.grams,o.grams))),3) >= 0.3),
        |pn AS MATERIALIZED (SELECT DISTINCT b.doc_id AS new_id
        |  FROM sh2 a JOIN sh2 b ON a.lang = b.lang AND a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  WHERE a.side = 'b' AND b.side = 'b'
        |    AND length(list_intersect(a.grams,b.grams)) > 0
        |    AND round(CAST(length(list_intersect(a.grams,b.grams)) AS DOUBLE) /
        |      (length(a.grams)+length(b.grams)
        |       -length(list_intersect(a.grams,b.grams))),3) >= 0.3),
        |keptd AS MATERIALIZED (SELECT * FROM ld WHERE side = 'b'
        |  AND doc_id NOT IN (SELECT new_id FROM po)
        |  AND doc_id NOT IN (SELECT new_id FROM pn)),
        |storec AS MATERIALIZED (SELECT DISTINCT unnest(cs) AS chunk FROM (
        |   SELECT list_transform(range(0, CAST(ceil(len(tk)/20.0) AS INT)),
        |     i -> list_aggregate(tk[i*20+1:i*20+20], 'string_agg',' ')) AS cs
        |   FROM ld WHERE side = 'o')),
        |boc AS MATERIALIZED (SELECT doc_id, unnest(cs) AS chunk,
        |   unnest(range(0, len(cs))) AS idx FROM (
        |   SELECT doc_id, list_transform(range(0, CAST(ceil(len(tk)/20.0) AS INT)),
        |     i -> list_aggregate(tk[i*20+1:i*20+20], 'string_agg',' ')) AS cs
        |   FROM keptd)),
        |bk AS MATERIALIZED (SELECT *, min(doc_id*100000+idx)
        |   OVER (PARTITION BY chunk) AS first_key FROM boc),
        |bk2 AS MATERIALIZED (SELECT k.*, (s.chunk IS NOT NULL) AS ins
        |  FROM bk k LEFT JOIN storec s USING (chunk)),
        |rw AS MATERIALIZED (SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx)
        |   FILTER (WHERE NOT ins AND doc_id*100000+idx = first_key) AS rtext
        |  FROM bk2 GROUP BY doc_id),
        |rw2 AS MATERIALIZED (SELECT doc_id, rtext,
        |   regexp_extract_all(rtext,'\S+') AS rtk
        |  FROM rw WHERE rtext IS NOT NULL),
        |bench AS MATERIALIZED (SELECT doc_id, substring(text,1,512) AS s,
        |   regexp_extract_all(text,'\S+') AS tk
        |  FROM documents WHERE doc_id % 50 = 0),
        |tw AS MATERIALIZED (SELECT doc_id, rtk, substring(rtext,1,512) AS s FROM rw2),
        |trw AS MATERIALIZED (SELECT doc_id,
        |   list_aggregate(rtk[i:i+7],'string_agg',' ') AS win
        |  FROM tw, unnest(range(1, greatest(len(rtk)-7,0)+1)) AS r(i)),
        |bw AS MATERIALIZED (SELECT doc_id,
        |   list_aggregate(tk[i:i+7],'string_agg',' ') AS win
        |  FROM bench, unnest(range(1, greatest(len(tk)-7,0)+1)) AS r(i)),
        |p2 AS MATERIALIZED (SELECT DISTINCT tr.doc_id AS train_id, be.doc_id AS bench_id
        |  FROM trw tr JOIN bw be ON tr.win = be.win),
        |c2 AS MATERIALIZED (SELECT train_id, bench_id, a.s AS sa, b.s AS sb
        |  FROM p2 JOIN tw a ON a.doc_id = train_id
        |         JOIN bench b ON b.doc_id = bench_id),
        |m2 AS MATERIALIZED (SELECT train_id, bench_id, i.i AS i, j.j AS j
        |  FROM c2, unnest(range(1, length(sa)+1)) AS i(i),
        |       unnest(range(1, length(sb)+1)) AS j(j)
        |  WHERE substring(sa, CAST(i.i AS INT), 1)
        |      = substring(sb, CAST(j.j AS INT), 1)),
        |runs AS MATERIALIZED (SELECT train_id, bench_id, count(*) AS run FROM (
        |   SELECT train_id, bench_id, i - j AS diag,
        |     i - row_number() OVER (PARTITION BY train_id, bench_id, i - j
        |                            ORDER BY i) AS grp
        |   FROM m2) GROUP BY train_id, bench_id, diag, grp),
        |contam AS MATERIALIZED (SELECT train_id AS doc_id FROM runs
        |  GROUP BY train_id HAVING max(run) >= 50),
        |cln AS MATERIALIZED (SELECT r.doc_id, r.rtext, r.rtk FROM rw2 r
        |  WHERE r.doc_id NOT IN (SELECT doc_id FROM contam)),
        |benchv AS MATERIALIZED (SELECT vec_id AS bid, embedding AS be
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |semj AS MATERIALIZED (SELECT c.doc_id,
        |   CASE WHEN c.doc_id % 13 = 2 AND c.doc_id < 1000000 THEN
        |     list_transform(range(1, len(bv.be)+1), i ->
        |       CAST(CAST(bv.be[i] AS DOUBLE) +
        |         (CAST((c.doc_id // 13) % 5 AS DOUBLE) * 0.01) *
        |         CAST((c.doc_id * 31 + i * 17) % 13 - 6 AS DOUBLE)
        |         AS FLOAT))
        |   ELSE ev.embedding END AS te
        |  FROM cln c
        |  LEFT JOIN embeddings ev ON ev.vec_id = c.doc_id
        |  LEFT JOIN benchv bv
        |    ON bv.bid = 50 * (c.doc_id % (SELECT count(*) FROM benchv))),
        |semc AS MATERIALIZED (SELECT s.doc_id,
        |   max(list_sum(list_transform(range(1, len(s.te)+1),
        |     i -> CAST(s.te[i] AS DOUBLE) * CAST(bv.be[i] AS DOUBLE))) /
        |   (sqrt(list_sum(list_transform(s.te,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |    sqrt(list_sum(list_transform(bv.be,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS mc
        |  FROM semj s, benchv bv WHERE s.te IS NOT NULL
        |  GROUP BY s.doc_id),
        |sem AS MATERIALIZED (SELECT c.* FROM cln c
        |  WHERE c.doc_id NOT IN (SELECT doc_id FROM semc WHERE mc >= 0.92))"""
        .stripMargin

  /** d57/d59's oracle: the chain + packing at the store tail. */
  private lazy val incOracleSql: String = incChainSql +
      """,
        |base AS MATERIALIZED (SELECT CAST(COALESCE(SUM(len(tk)),0) AS BIGINT) AS b
        |  FROM ld WHERE side = 'o'),
        |pk AS (SELECT doc_id, rtext, len(rtk) AS n_tok,
        |   (SELECT b FROM base) + coalesce(sum(len(rtk)) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS tok_start
        |  FROM sem)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST(tok_start AS BIGINT) AS token_start,
        |  CAST(tok_start // 128 AS BIGINT) AS seq_id,
        |  CAST(tok_start % 128 AS BIGINT) AS seq_offset,
        |  CAST((tok_start + n_tok - 1) // 128 - tok_start // 128 + 1
        |    AS BIGINT) AS n_seqs,
        |  md5(rtext) AS text_md5, true AS lsh_recall_ok
        |FROM pk""".stripMargin

  /** d60's oracle: the per-batch-doc first-drop-reason histogram over the
    * same chain — the daily attrition report of the steady state. */
  private lazy val incAttritionSql: String = incChainSql +
      """,
        |lin AS (SELECT a.doc_id, a.lang,
        |  CASE WHEN q.doc_id IS NULL THEN 1
        |       WHEN re.doc_id IS NULL THEN 16
        |       WHEN l.doc_id IS NULL THEN 32
        |       WHEN p_o.new_id IS NOT NULL THEN 2
        |       WHEN p_n.new_id IS NOT NULL THEN 128
        |       WHEN r.doc_id IS NULL THEN 4
        |       WHEN c.doc_id IS NULL THEN 8
        |       WHEN se.doc_id IS NULL THEN 64 ELSE 0 END AS drop_reason
        | FROM au a
        |  LEFT JOIN q ON q.doc_id = a.doc_id
        |  LEFT JOIN rep re ON re.doc_id = a.doc_id
        |  LEFT JOIN ld l ON l.doc_id = a.doc_id
        |  LEFT JOIN po p_o ON p_o.new_id = a.doc_id
        |  LEFT JOIN pn p_n ON p_n.new_id = a.doc_id
        |  LEFT JOIN rw2 r ON r.doc_id = a.doc_id
        |  LEFT JOIN cln c ON c.doc_id = a.doc_id
        |  LEFT JOIN sem se ON se.doc_id = a.doc_id
        | WHERE a.side = 'b')
        |SELECT CAST(drop_reason AS BIGINT) AS drop_reason, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM lin GROUP BY drop_reason, lang""".stripMargin

  /** Packing appended at the store stream's tail: base offset + the d36
    * bucketed exclusive prefix sum over the kept batch docs — the final
    * stage shared by d57 and d59. */
  private[graft] def packInc(st: IncStages): DataFrame = {
    val w = Window
    val toks = SeamClock.ck("pack.toks")(st.sem
      .select(col("doc_id"), col("rtext"),
        size(col("rtk")).cast("long").as("n_tok"))
      .withColumn("bucket", expr("doc_id div 100L")))
    val offsets = toks.groupBy("bucket").agg(sum("n_tok").as("btotal"))
      .withColumn("off", coalesce(
        sum("btotal").over(w.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val byBucket = w.partitionBy("bucket").orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .join(broadcast(offsets.select(col("bucket"), col("off"))), Seq("bucket"))
      .crossJoin(broadcast(st.base))
      .withColumn("tok_start",
        (col("base_off") + col("off") +
          coalesce(sum("n_tok").over(byBucket), lit(0L))).cast("long"))
      .select(col("doc_id"), col("n_tok").as("n_tokens"),
        col("tok_start").as("token_start"),
        expr("tok_start div 128L").as("seq_id"),
        pmod(col("tok_start"), lit(128L)).as("seq_offset"),
        expr("(tok_start + n_tok - 1) div 128L - tok_start div 128L + 1")
          .cast("long").as("n_seqs"),
        md5(col("rtext")).as("text_md5"))
      .crossJoin(broadcast(st.lshOk))
  }
}
