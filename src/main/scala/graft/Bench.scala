package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints JSON lines, the LAST of which is the
  * machine-readable artifact:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Each query is fully materialized via the noop sink (count() could let
  * Catalyst prune the work).
  *
  * Timing methodology (round 8 revision — measurement integrity):
  *
  * 1. COLD pass: one run per query; dominated by Janino codegen + JIT
  *    warmup (0.5-2 s per novel plan shape at sf0.1). Reported as
  *    `cold_total_sec` only.
  * 2. WARM passes: THREE full passes over the suite, each in a SEEDED
  *    SHUFFLED order (seed = pass index, recorded in the artifact as
  *    `order_seeds`); the per-query number is the MEDIAN of its pass
  *    times. Rationale for the median: the r6-vs-r7 A/A re-run of a
  *    byte-identical tree swung single-shot times 8x down (d09, e01) and
  *    1.6x up (d07). Rationale for the shuffle (r10 verdict "What's
  *    wrong" #2): the driver's r10 run put 5 phantom >2x entries on the
  *    FIRST four queries of the fixed order — a cold-window signature.
  *    Shuffling decorrelates suite position from query identity, so an
  *    environmental noise window taxes three different neighborhoods
  *    instead of the same queries three times. The max over queries of
  *    (max-min)/median across the passes is reported as `rep_spread_max`.
  *    TWO fixed CANARY queries (never suite members) run every 20
  *    queries: a scan shape (lineitem scan + groupBy agg) and, since
  *    r15, a driver-synchronized iterative shape (3-round
  *    localCheckpoint fixpoint) — the r14 window doubled d30 and
  *    stalled a q39 rep while the scan canary read quiet, so the stall
  *    class that only bites at driver-sync boundaries needs its own
  *    sensor. Times ride the artifact (`canary`, `canary_iter`);
  *    tools/regression.py flags runs where either drifts beyond 2x.
  *    SHARED-FAMILY EXCEPTION (r16, from the r15 rc=124 timeout): the
  *    five composed-pipeline gates (d47/d48/d57/d59/d60) run in warm
  *    pass 1 ONLY — one warm rep each, carried as min=med=max. Their
  *    regression signal is the shared-materialization lane below (3
  *    reps, chain priced once); re-pricing each ~25-30 s chain per gate
  *    per pass cost ~220 s/run and double-counted the family by the
  *    repo's own r13 policy analysis. tools/regression.py already
  *    excludes them from the per-query >2x table when the lane covers
  *    them; `warm_reps_shared` in the artifact records the rep count.
  * 3. RAW-OPERATOR timings (`ops` dict): the d06/d07 gate bodies conflate
  *    operator cost with their oracle-verification arm (exact-Jaccard
  *    recomputation / planted-twin doubling). `d06_op` times ONLY
  *    Dedup.lshCandidates over a pre-materialized signature table;
  *    `d07_op` times Dedup.simhashCandidates over the single (undoubled)
  *    corpus. Median of three, same as warm.
  * 4. FAILURE POISONING: a throwing query no longer becomes a silent -1
  *    (which made the round look faster). Failed names are carried in a
  *    `failed` array in the artifact and the run ends by throwing, so the
  *    driver records rc != 0.
  * 5. WINDOW FIT (r16, after BENCH_r15.json landed rc=124/parsed:null —
  *    the suite outgrew the driver's wall-clock budget and a SIGTERM
  *    mid-warm left only stopped-SparkContext spam in the tail):
  *    (a) the artifact is FLUSHED to bench_artifact.json at every phase
  *        boundary (cold / each warm pass / ops / shared / conc) with a
  *        "phase" field, so a killed run still leaves a parseable
  *        same-code artifact on disk;
  *    (b) a JVM shutdown hook quiesces the run (queries short-circuit
  *        to -1 without touching Spark, failure spam is suppressed) and
  *        prints the latest partial artifact LAST, so the driver's tail
  *        capture parses even on rc=124;
  *    (c) a soft DEADLINE (env SPARK_GRAFT_BENCH_DEADLINE, seconds;
  *        default 3000 since r17 — see the constant's comment; 1700 was
  *        the r14 envelope and starved every arm at the current suite
  *        size even on quiet windows)
  *        is checked before each remaining arm with a conservative cost
  *        estimate; arms that would overrun are skipped and recorded in
  *        the artifact's "skipped" array. The reference's own perf
  *        protocol is bounded by construction (perf/perf.go:38-75 runs
  *        a fixed small query set); this keeps ours bounded too.
  * 6. DEGRADED-WINDOW DOWNSHIFT (r17, after BENCH_r16.json landed rc=0
  *    but SINGLE-REP: the driver's ~4.4x-degraded window spent 3322 s on
  *    the mandatory cold+warm-1 prefix, then the deadline guard starved
  *    every arm that produces regression signal — 185 numbers, zero
  *    medians, lane/ops/conc all skipped). The protocol now PRESERVES
  *    MEDIANS on a slow window instead of thinning to one rep of
  *    everything:
  *    (a) canary pairs interleave the COLD pass (every 20 queries) and
  *        are compared against quiet-window reference values recorded in
  *        tools/bench_quiet_reference.json (regenerated with BASELINE.md
  *        re-baselines; artifact carries the pairs as `canary_cold`).
  *        When the median pair drift exceeds 2x — or, for uniformly slow
  *        windows that never trip a pair, the finished cold pass exceeds
  *        2x the recorded envelope — the run DOWNSHIFTS;
  *    (b) downshifted warm phase: 3 seeded-shuffled passes over a
  *        SENSITIVE subset (the r16 verdict's unadjudicated gates +
  *        historically window-flagged shapes first, then by
  *        quiet-reference weight) sized so 3 reps fit half the remaining
  *        budget; the shared lane keeps as many of its 3 reps as fit at
  *        the MEASURED per-rep cost; the conc arm drops to the 8x1 tier;
  *        everything else gets one COVERAGE rep last, budget permitting;
  *    (c) the cold pass and every warm pass also carry an intra-phase
  *        deadline guard (skipped tails recorded as `*_tail:N`), so a
  *        window slower than the r16 run C's can no longer ride the
  *        mandatory prefix past the driver's wall-clock;
  *    (d) the decision rides the artifact (`downshift`: active/at/drift/
  *        sensitive_n + the full `sensitive` list in the big line), and
  *        arm estimates are scaled by the measured drift so a degraded
  *        window prices itself honestly.
  *
  * Output layout (driver keeps the TAIL of stdout; r3/r5/r6/r7 artifacts
  * all lost the totals because a ~2600-char full-name queries dict pushed
  * them out of the capture window): verbose lines (full names,
  * min/med/max per query) print FIRST for humans and BASELINE.md work;
  * the LAST line is compact — totals plus a short-id queries dict
  * ("q26":0.24 instead of "q26_math_funcs":0.240) that fits the window
  * whole. Short ids are the name prefix before the first underscore,
  * verified unique at startup.
  */
object Bench {

  /** The composed-pipeline family: priced ONCE in the warm phase (their
    * regression signal is the shared lane) and excluded from the
    * concurrent arm's pool (the r15 conc arm grew 214->343 s because the
    * self-selecting top-20 pool carried four 25-30 s chain gates x 3
    * rounds — exactly the growth that overflowed the driver window;
    * their concurrency safety is pinned by the concsoak protocol and
    * earlier rounds' arms, and their components d47_pack/d57_pack/... are
    * exercised through the shared lane every run). */
  private val SharedFamily = Set(
    "d47_pipeline_pack", "d48_pipeline_attrition",
    "d57_incremental_pipeline", "d59_store_handoff",
    "d60_incremental_attrition")

  /** Quiet-window reference values (r17 downshift machinery): recorded
    * from a committed full-protocol quiet-window run
    * (tools/bench_quiet_reference.json, regenerated whenever BASELINE.md
    * re-baselines), used ONLY to detect a degraded measurement window and
    * size the downshifted protocol — never to report numbers. Fallback
    * constants are the BASELINE.md r16 run-B envelope. */
  /** `coldPairs` is the quiet COLD-PHASE canary-pair SEQUENCE — the r17
    * drills showed cold pairs carry a JIT-decay profile (pair 1 reads
    * ~2.2x the warm med even on a quiet window, decaying to ~1x by pair
    * 5, reproducibly across runs), so detection compares pair k against
    * quiet pair k — ordinal to ordinal — rather than against any single
    * scalar (which false-tripped a quiet run's early pairs at the 2x
    * threshold in the A/B drills). Fallback without recorded pairs:
    * warm med x 1.5 JIT allowance. `sfName` scopes the reference:
    * absolute canary seconds only mean something at the SF they were
    * recorded at, so detection DISARMS on a mismatch unless the
    * reference was env-forced (the drill hook). */
  /** `colds` (short-id keyed) is the QUERY-SHAPED detector's yardstick:
    * the r16 driver window taxed the queries 4.5x while its scan canary
    * MEDIANS read near-quiet (only isolated slots spiked), so a
    * canary-only detector can miss exactly the class that matters; the
    * running median of thisColdTime/quietColdTime over the queries
    * themselves cannot. */
  private final case class QuietRef(canaryScan: Double, canaryIter: Double,
      coldPairs: Seq[(Double, Double)], coldTotal: Double,
      sfName: String, forced: Boolean, meds: Map[String, Double],
      colds: Map[String, Double])

  private def loadQuietRef(): QuietRef = {
    val fallback = QuietRef(0.18, 0.47, Nil, 450.0, "sf0.1",
      forced = false, Map.empty, Map.empty)
    try {
      // env override = the downshift DRILL hook (point it at a reference
      // with tiny canary values to force the degraded path at any SF)
      val forced = sys.env.contains("SPARK_GRAFT_QUIET_REF")
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_QUIET_REF", "tools/bench_quiet_reference.json"))
      if (!java.nio.file.Files.exists(p)) fallback
      else {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def num(key: String, dflt: Double): Double =
          ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(text)
            .map(_.group(1).toDouble).getOrElse(dflt)
        val sfName = "\"sf\":\"([A-Za-z0-9_.]+)\"".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse(fallback.sfName)
        val meds = "\"q\":\"([A-Za-z0-9_]+)\",\"med\":([0-9.]+)".r
          .findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val pairs = "\\{\"scan\":([0-9.]+),\"iter\":([0-9.]+)\\}".r
          .findAllMatchIn(text)
          .map(m => (m.group(1).toDouble, m.group(2).toDouble)).toSeq
        val colds = "\"cold_queries\":\\{([^{}]*)\\}".r
          .findFirstMatchIn(text).map(_.group(1)).map { frag =>
            "\"([A-Za-z][A-Za-z0-9]*)\":([0-9.]+)".r.findAllMatchIn(frag)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }.getOrElse(Map.empty[String, Double])
        // a regenerated reference that parses to nothing silently
        // mis-arms detection (r18 advice) — make format drift visible
        if (meds.isEmpty || pairs.isEmpty || colds.isEmpty)
          Console.err.println("[bench] quiet reference " + p +
            s" parsed thin (meds=${meds.size} pairs=${pairs.size} " +
            s"colds=${colds.size}) — detection partially degraded to " +
            "fallback constants")
        QuietRef(num("canary_scan", fallback.canaryScan),
          num("canary_iter", fallback.canaryIter), pairs,
          num("cold_total", fallback.coldTotal), sfName, forced, meds,
          colds)
      }
    } catch { case e: Exception =>
      Console.err.println(s"[bench] quiet reference unreadable ($e) — " +
        "using fallback constants; downshift detection may be mis-sized")
      fallback
    }
  }

  /** Regression-sensitive priority head for the downshifted protocol —
    * the queries whose 3-rep medians matter most when the window cannot
    * afford the full suite: the r16 verdict's four unadjudicated
    * non-lane SUSPECT gates first (d47/d57 ride the shared lane), then
    * the historically window-flagged driver-sync/iterative shapes, then
    * the store/chain-adjacent heavies. The rest of the sensitive set is
    * filled by quiet-reference weight until the measured budget is
    * spent. */
  private val SensitiveHead = Seq(
    "d27_dedup_rewrite", "d26_semantic_dedup", "d56_triangle_estimate",
    "e24_incremental_ivf",
    "d30_pagerank", "q39_percentile", "d41_triangles",
    "d25_dedup_survivor", "d10_dedup_components", "d43_leakfree_split",
    "s13_stream_ingest_dedup", "s14_stream_quota", "s15_stream_curation",
    "d49_incremental_dedup", "e25_ivf_store_handoff")

  /** Set by the shutdown hook: every not-yet-started timed region
    * short-circuits to -1 without touching the (stopping) SparkContext,
    * and failure recording is suppressed — the r15 timeout filled the
    * 2000-char tail with 100+ identical stopped-SparkContext failures. */
  @volatile private var shuttingDown = false
  @volatile private var completed = false
  @volatile private var latestArtifact = ""
  @volatile private var latestTotals = ""

  /** Median with the even-count case averaged: a deadline-skipped third
    * pass leaves 2 reps per query, and taking the UPPER middle there
    * would report max(a,b) — a systematic upward bias feeding phantom
    * >2x flags into the next round's regression table (review r16). */
  private def medOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
  private def median3(a: Double, b: Double, c: Double): Double =
    medOf(Seq(a, b, c))

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    // Default raised 1700 -> 3000 (r17): 1700 was the r14 envelope, but
    // the full protocol at current suite size measures ~2200 s on a
    // quiet window (run A: 2195 s, all arms) — at 1700 even a QUIET
    // driver window would shed the lane/conc/ops arms. The driver
    // evidence for 3000 being safe: BENCH_r16.json recorded elapsed
    // 3348.9 s with rc=0 (the driver did not kill it), so the true
    // wall is >= 3349 s; 3000 leaves 350+ s of margin while the
    // intra-phase guards (scaladoc #6c) bound the tail regardless.
    val deadline = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE")
      .map(_.toDouble).getOrElse(3000.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]",
        shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val failed = scala.collection.mutable.ListBuffer[String]()
    // ENVIRONMENT-class failures (r18, from the r17 postmortem): a
    // StreamTimeoutException means a slow window starved an AvailableNow
    // drain, not that the engine computed anything wrong. These names
    // still land in `failed`/`failures` (the artifact must be honest
    // about missing numbers) but do NOT produce rc=1 at the end — rc=1
    // is reserved for correctness-class failures (wrong results, thrown
    // query bodies, concurrency mismatches). The r17 round lost ALL
    // bench evidence because one 300 s stream timeout on a 4.15x window
    // became rc=1.
    val envFailed = scala.collection.mutable.Set[String]()
    val skipped = scala.collection.mutable.ListBuffer[String]()
    // Per-failure diagnostics (r13 verdict "What's wrong" #1): the c13/c14/c15
    // full-suite failures were undiagnosable post-hoc because the exception
    // text only went to stderr, which the driver's tail capture dropped. The
    // FIRST exception per name is recorded here (class + message + first 3
    // stack frames) and rides the artifact as a `failures` dict.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def isStreamTimeout(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[graft.streaming.StreamTimeoutException])
    def recordFailure(name: String, e: Throwable): Unit = {
      if (!shuttingDown && !failed.contains(name)) {
        failed += name
        if (isStreamTimeout(e)) envFailed += name
        val frames = e.getStackTrace.take(3).map(_.toString).mkString(" <- ")
        failures(name) =
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)} @ $frames"
        Console.err.println(s"BENCH FAILURE in $name: ${failures(name)}")
      }
    }

    // Each materialization runs inside a PinScope: intermediates it
    // persists (dedup signature tables, CC label frontier, IVF training
    // set) are unpersisted as soon as the query materializes, so pinned
    // storage can't accumulate across the ~4xN executions and silently
    // tax later queries' execution memory (the r5 bench measured
    // code-unchanged per-row projections at 3x their prior time from
    // exactly this).
    def timeOnce(name: String)(body: => Unit): Double = {
      if (shuttingDown) return -1.0
      PinScope.run(spark) {
        val t0 = System.nanoTime()
        try body
        catch { case e: Throwable =>
          recordFailure(name, e)
          return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
    }

    // DRILL HOOK (r18): SPARK_GRAFT_FAIL_QUERY=<name> makes exactly that
    // query throw synthetically, so the downshift drill can replay the
    // r17 failure shape (degraded window + one failed cold query) end to
    // end without touching engine code. Never set by the driver.
    val failDrill = sys.env.get("SPARK_GRAFT_FAIL_QUERY")
    def materialize(name: String): Double = timeOnce(name) {
      if (failDrill.contains(name))
        // the r17 failure was a stream timeout — throw the same class so
        // the drill also exercises the env-failure (rc=0) recording path
        throw new graft.streaming.StreamTimeoutException(
          s"drill-injected stream timeout for $name")
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    val names = SparkEntry.allDefs.map(_.name)
    val shortIds = names.map(_.takeWhile(_ != '_'))
    require(shortIds.distinct.size == names.size,
      s"short-id collision in ${names.size} query names")

    // Fixed canary (never a suite member): full lineitem scan + groupBy
    // agg — one stable plan whose time depends only on the environment.
    // Interleaved through the warm phase, its sequence exposes noise
    // windows (CPU steal, page-cache eviction) that would otherwise be
    // indistinguishable from query regressions.
    val canaryTimes = scala.collection.mutable.ListBuffer[Double]()
    // SECOND canary (r15, from the r14 verdict): driver-synchronized /
    // iterative shape — a 3-round mini-fixpoint with an eager
    // localCheckpoint barrier per round, mirroring d30/q39's execution
    // pattern. The r14 driver window doubled d30's median and put a
    // 24.9 s rep on q39 while the scan canary read QUIET: the scan shape
    // is blind to stalls that only bite at driver-sync boundaries
    // (scheduler pauses, GC at collect points). Never a suite member.
    val canaryIterTimes = scala.collection.mutable.ListBuffer[Double]()
    def canaryScanOnce(): Double = timeOnce("canary") {
      operators.Tables.load(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    def canaryIterOnce(): Double = timeOnce("canary_iter") {
      val c = operators.Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("v"))
      var cur = c.localCheckpoint(true)
      (0 until 3).foreach { _ =>
        val reps = cur.groupBy("v")
          .agg(org.apache.spark.sql.functions.min("k").as("k"))
        cur = c.join(reps.select("k"), Seq("k"), "left_semi")
          .localCheckpoint(true)
      }
      cur.write.format("noop").mode("overwrite").save()
    }
    def runCanary(record: Boolean): Unit = {
      val t = canaryScanOnce()
      if (record && t >= 0) canaryTimes += t
      val t2 = canaryIterOnce()
      if (record && t2 >= 0) canaryIterTimes += t2
    }
    // Late-phase canary brackets (r15): the ops/shared/concurrent phases
    // run AFTER the last warm-pass canary, so a noise window there was
    // previously only attributable by a separate focused re-run (the r15
    // shared-lane 1.38x drift cost exactly that). One scan+iter pair at
    // each phase boundary rides the artifact as `canary_late`. A FAILED
    // late canary (timeOnce -1) is recorded as {"at":tag,"failed":true}
    // rather than a negative time the drift check would read as quiet
    // (r15 advice); regression.py flags failed entries explicitly.
    val lateCanaries = scala.collection.mutable.ListBuffer[String]()
    def markPhase(tag: String): Unit = {
      val s = canaryScanOnce()
      val i = canaryIterOnce()
      lateCanaries +=
        (if (s >= 0 && i >= 0) f"""{"at":"$tag","scan":$s%.3f,"iter":$i%.3f}"""
         else s"""{"at":"$tag","failed":true}""")
    }

    // ---- partial-artifact machinery (r16 window fit, scaladoc #5) ----
    // All phase results live in mutable state so buildArtifact can emit a
    // consistent partial artifact at ANY boundary; the shutdown hook
    // prints the latest one LAST so a SIGTERM'd run still parses.
    var coldTotal = 0.0
    val coldTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val warmReps = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    var opTimes: Seq[(String, Double)] = Nil
    var sharedTimes: Seq[(String, Double)] = Nil
    var sharedReps = 0
    val chainSeams =
      scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double)]]()
    var concJson = """{"skipped":true}"""
    val orderSeeds = scala.collection.mutable.ListBuffer[Int]()
    // ---- degraded-window downshift state (r17, scaladoc #6) ----
    val quiet = loadQuietRef()
    // Stream-timeout budgets follow the measured window (r18): StreamWait
    // reads this same-JVM property per await. The bench FLOORS the scale
    // at 2x — base budgets carry ~10x quiet headroom, so 2x never delays
    // a healthy query (AvailableNow drains return as soon as they finish)
    // while covering the window class that voided r17 (4.15x, which put
    // s15's ~74 s quiet cold at ~300 s against a fixed 300 s budget).
    // Re-set to the measured driftFactor once the cold-phase detectors
    // have read the window.
    def setStreamScale(v: Double): Unit =
      System.setProperty("graft.stream.timeout.scale",
        f"${math.max(2.0, v)}%.2f")
    setStreamScale(2.0)
    val coldCanaryPairs = scala.collection.mutable.ListBuffer[(Double, Double)]()
    var degraded = false
    var downshiftAt = ""
    // rawDrift is what the detectors measured (artifact diagnostics);
    // driftFactor is the PRICING multiplier, clamped to 8x — the r17
    // forced drill (1533x synthetic drift) priced the shared lane and
    // every never-cold-run sensitive candidate out of existence; real
    // degraded windows are 2-10x, and for anything worse the intra-phase
    // guards and measured-rep lane pricing are the honest bound anyway.
    var rawDrift = 1.0
    var driftFactor = 1.0
    var sensitiveChosen: Seq[String] = Nil
    var warmCutoff = Double.MaxValue // tightened on downshift
    // ---- warm-phase degradation detection (r19, from the r18 verdict:
    // the driver's 32c window spiked ONLY in the warm phase — 94 s rep
    // spreads, ~28% inflated warm total — while every detector, armed on
    // cold-phase canaries/ratios, reported drift 1.00/inactive). Each
    // warm rep with a quiet-reference med contributes a ratio; at every
    // warm canary checkpoint a TRAILING-20 median above 2.0 flags the
    // window, carried in the artifact as downshift.warm_{active,drift,at}
    // (worst trailing median wins). DETECTION-ONLY by design: medians of
    // 3 already absorb isolated spikes, and re-running the suite inside
    // the spike would spend exactly the budget the spike is taxing — the
    // flag exists so a spiky warm phase is visible in the artifact
    // instead of inferred from rep_spread_max after the fact.
    val warmRatios = scala.collection.mutable.ListBuffer[Double]()
    var warmDrift = 1.0
    var warmDriftAt = ""

    def currentWarm: Seq[(String, Double, Double, Double)] = names.map { n =>
      val reps = warmReps(n)
      if (reps.isEmpty || reps.exists(_ < 0)) (n, -1.0, -1.0, -1.0)
      else (n, reps.min, medOf(reps), reps.max)
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    def buildArtifact(phase: String): (String, String) = {
      val warm = currentWarm
      val ok = warm.filter(_._3 >= 0)
      val total = ok.map(_._3).sum
      // noise floor, ATTRIBUTED (r8 verdict nit: a bare rep_spread_max of
      // 3.41 couldn't say which query breathed): carry the TOP-3 spread
      // queries' name + min/med/max in the compact artifact.
      val spreadTop = ok
        .sortBy { case (_, mn, md, mx) =>
          if (md > 0) -(mx - mn) / md else 0.0 }
        .take(3)
      val (spreadName, spreadMin, spreadMed, spreadMax, repSpreadMax) =
        spreadTop.headOption match {
          case None => ("none", 0.0, 0.0, 0.0, 0.0)
          case Some((n, mn, md, mx)) =>
            (n, mn, md, mx, if (md > 0) (mx - mn) / md else 0.0)
        }
      val spreadTopJson = spreadTop.map { case (n, mn, md, mx) =>
        f"""{"q":"$n","min":$mn%.2f,"med":$md%.2f,"max":$mx%.2f}"""
      }.mkString("[", ",", "]")
      // Cache hit rate over the whole run (c* queries rescan warmed
      // files): server formula = (cached + nonlocal) / all block requests
      // (BASELINE.md "Server hit rate"; reference BookKeeper.java:213-229).
      val m = try operators.CacheQueries.metricsSnapshot(spark)
        catch { case _: Exception => Map.empty[String, Long] }
      val hits = m.getOrElse("cached_requests", 0L) +
        m.getOrElse("nonlocal_requests", 0L)
      val reqs = hits + m.getOrElse("remote_requests", 0L)
      val hitRate = if (reqs == 0) 0.0 else hits.toDouble / reqs
      val failedJson = failed.distinct.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val envFailedJson = failed.distinct.filter(envFailed)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val failuresJson = failures.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      val opsJson = opTimes.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
      val sharedJson = sharedTimes.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
      val qs = names.zip(shortIds).zip(warm).map { case ((_, sid), (_, _, md, _)) =>
        f""""$sid":$md%.2f"""
      }.mkString("{", ",", "}")
      def canarySummary(ts: Seq[Double]): (Double, Double) =
        if (ts.isEmpty) (0.0, 0.0) else (ts.sorted.apply(ts.size / 2), ts.max)
      def canaryJsonOf(ts: Seq[Double]): String = {
        val (med, mx) = canarySummary(ts)
        val seq = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
        f"""{"med":$med%.3f,"max":$mx%.3f,"n":${ts.size},"times":$seq}"""
      }
      val (canMed, canMax) = canarySummary(canaryTimes.toSeq)
      val (canIMed, canIMax) = canarySummary(canaryIterTimes.toSeq)
      val canaryJson = canaryJsonOf(canaryTimes.toSeq)
      val canaryIterJson = canaryJsonOf(canaryIterTimes.toSeq)
      val canaryLateJson = lateCanaries.mkString("[", ",", "]")
      val seedsJson = orderSeeds.mkString("[", ",", "]")
      // reps = warm passes actually EXECUTED (a deadline skip leaves 1-
      // or 2-rep medians; hardcoding 3 would misdocument the run's
      // statistical basis — review r16); the shared family is always 1.
      val reps = math.max(orderSeeds.size, 1)
      // downshift decision + cold-phase canary pairs (r17 scaladoc #6):
      // the artifact must say WHICH protocol produced these numbers and
      // what the window looked like while the decision was being made.
      val coldCanJson = coldCanaryPairs
        .map { case (s, i) => f"""{"scan":$s%.3f,"iter":$i%.3f}""" }
        .mkString("[", ",", "]")
      val sensJson = sensitiveChosen.map(n => "\"" + n + "\"")
        .mkString("[", ",", "]")
      // compact form rides `meta` (shared with the tail-sized totals
      // line); the full name list lands only in the big artifact below
      val warmJson =
        if (warmDrift <= 1.0) """"warm_active":false"""
        else f""""warm_active":true,"warm_drift":$warmDrift%.2f,"warm_at":${jstr(warmDriftAt)}"""
      val downshiftJson =
        if (!degraded)
          f"""{"active":false,"drift":$rawDrift%.2f,$warmJson}"""
        else
          f"""{"active":true,"at":${jstr(downshiftAt)},"drift":$rawDrift%.2f,"price_drift":$driftFactor%.2f,"sensitive_n":${sensitiveChosen.size},$warmJson}"""
      val seamsJson = chainSeams.map { case (chain, sm) =>
        val entries = sm.map { case (n, t) => f"""["$n",$t%.3f]""" }
          .mkString("[", ",", "]")
        f"""${jstr(chain)}:{"n":${sm.size},"sum":${sm.map(_._2).sum}%.3f,"t":$entries}"""
      }.mkString("{", ",", "}")
      val coldJson = names.zip(shortIds).flatMap { case (n, sid) =>
        coldTimes.get(n).map(t => f""""$sid":$t%.2f""")
      }.mkString("{", ",", "}")
      val meta =
        f""""phase":${jstr(phase)},"elapsed_sec":$elapsed%.1f,"deadline_sec":$deadline%.0f,"skipped":$skippedJson,"warm_reps_shared":${if (degraded) 0 else 1},"shared_reps":$sharedReps,"env_failed":$envFailedJson,"downshift":$downshiftJson"""
      val artifact =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","cold_total_sec":$coldTotal%.3f,"reps":$reps,$meta,"rep_spread_max":$repSpreadMax%.2f,"spread_worst":{"q":"$spreadName","min":$spreadMin%.2f,"med":$spreadMed%.2f,"max":$spreadMax%.2f},"spread_top":$spreadTopJson,"cache_hit_rate":$hitRate%.4f,"canary":$canaryJson,"canary_iter":$canaryIterJson,"canary_late":$canaryLateJson,"canary_cold":$coldCanJson,"order_seeds":$seedsJson,"conc":$concJson,"failed":$failedJson,"failures":$failuresJson,"ops":$opsJson,"shared":$sharedJson,"seams":$seamsJson,"sensitive":$sensJson,"cold":$coldJson,"queries":$qs,"sf":"$sfDir"}"""
      // Totals-only compact line, printed AFTER the full artifact: the
      // driver keeps only the last ~2000 chars of output, and the
      // 185-entry queries dict pushes the full line's head (value / cold
      // / hit-rate / conc) out of that window (r9 VERDICT "What's wrong"
      // #1). This short line always fits the tail, so the committed
      // BENCH_r{N}.json is self-sufficient; tools/regression.py recovers
      // per-query values from the big line's surviving "queries"
      // fragment or the committed bench_artifact.json.
      val totalsOnly =
        f"""{"metric":"totals_only","value":$total%.3f,"unit":"sec","cold_total_sec":$coldTotal%.3f,"reps":$reps,$meta,"rep_spread_max":$repSpreadMax%.2f,"spread_worst":{"q":"$spreadName","min":$spreadMin%.2f,"med":$spreadMed%.2f,"max":$spreadMax%.2f},"spread_top":$spreadTopJson,"cache_hit_rate":$hitRate%.4f,"canary":{"med":$canMed%.3f,"max":$canMax%.3f,"n":${canaryTimes.size}},"canary_iter":{"med":$canIMed%.3f,"max":$canIMax%.3f,"n":${canaryIterTimes.size}},"canary_late":$canaryLateJson,"conc":$concJson,"failed":$failedJson,"failures":$failuresJson,"shared":$sharedJson,"n_queries":${names.size},"sf":"$sfDir"}"""
      (artifact, totalsOnly)
    }

    def writeArtifactFile(file: String, a: String, t: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(file),
        (a + "\n" + t + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        Console.err.println(s"[bench] could not write $file: $e")
      }

    def flush(phase: String): Unit = {
      val (a, t) = buildArtifact(phase)
      latestArtifact = a
      latestTotals = t
      // Full artifact lands on disk at every phase boundary (cwd = repo
      // root under sbt runMain): a killed run still leaves a committed
      // bench_artifact.json carrying the complete per-query dict for
      // next round's tools/regression.py.
      writeArtifactFile("bench_artifact.json", a, t)
    }

    // The shutdown hook fires on a timeout SIGTERM: quiesce the main
    // loop, give it a moment to pass its current query, REBUILD the
    // artifact (capturing warm reps accumulated since the last phase
    // boundary), write it to bench_artifact_killed.json — the file
    // channel survives even when the harness's stdout pipe pump (sbt)
    // died with the same signal and the prints go nowhere — and print
    // it LAST so a still-alive tail capture parses. Measured on a
    // kill -TERM drill: stdout through a dead sbt is lost; the file
    // write is not.
    val hook = new Thread(() => {
      if (!completed) {
        shuttingDown = true
        Thread.sleep(800)
        // Racy by construction (main may be mutating warmReps mid-query),
        // so the rebuild lands in a SEPARATE file: a torn-but-non-throwing
        // snapshot must never replace the last good phase-boundary
        // bench_artifact.json that next round's regression.py reads
        // (review r16). Any failure falls back to printing the last
        // boundary flush.
        try {
          val (a, t) = buildArtifact("killed")
          writeArtifactFile("bench_artifact_killed.json", a, t)
          latestArtifact = a
          latestTotals = t
        } catch { case _: Throwable => () }
        val a = latestArtifact; val t = latestTotals
        if (a.nonEmpty) {
          println(a); println(t)
          Console.err.println(a); Console.err.println(t)
          Console.out.flush(); Console.err.flush()
        }
      }
    }, "graft-bench-artifact-hook")
    Runtime.getRuntime.addShutdownHook(hook)

    // Conservative arm-cost estimates (seconds at sf0.1, from the r14/r15
    // artifacts) for the deadline guard, SCALED by the measured window
    // drift (r17 — pricing a degraded window at quiet-window rates was
    // how r16's mandatory prefix blew through the budget): an arm starts
    // only when elapsed + estimate fits the deadline.
    def estWarmPass = 250.0 * driftFactor // non-shared pass (r15: 322 incl. shared)
    def estOps = 40.0 * driftFactor
    def estSharedRep = 63.0 * driftFactor // one lane rep (run B: ~57 s + margin)
    // time to reserve for the tail (end canaries, flushes, prints)
    val reserve = 30.0
    def fits(est: Double): Boolean = elapsed + est <= deadline
    def budgetLeft: Double = deadline - elapsed - reserve

    // ---- degraded-window detection (r17 scaladoc #6) ----
    // Each cold canary PAIR is measured against the quiet run's pair at
    // the SAME ORDINAL (see QuietRef — the JIT-decay profile of the
    // cold phase is reproducible across runs, so ordinal-to-ordinal is
    // the comparison that separates "cold JVM, quiet box" from "slow
    // box"; both A/B drill runs read <= 1.4x per ordinal while an
    // r16-class window reads ~4x on every pair). Without recorded
    // pairs, warm med x 1.5 stands in. Detection is ARMED only when the
    // reference was recorded at THIS run's SF (absolute canary seconds
    // are meaningless across SFs) or explicitly env-forced. Pairs ride
    // the artifact (canary_cold) either way.
    val detectionArmed = quiet.forced ||
      new java.io.File(sfDir).getName == quiet.sfName
    def refPair(k: Int): (Double, Double) =
      if (quiet.coldPairs.nonEmpty)
        quiet.coldPairs(math.min(k, quiet.coldPairs.size - 1))
      else (quiet.canaryScan * 1.5, quiet.canaryIter * 1.5)
    def coldCanaryPair(): Unit = {
      val sc = canaryScanOnce()
      val it = canaryIterOnce()
      if (sc >= 0 && it >= 0) coldCanaryPairs += ((sc, it))
    }
    def pairsDriftMed: Double = {
      val ds = coldCanaryPairs.zipWithIndex.map { case ((s, i), k) =>
        val (rs, ri) = refPair(k)
        math.max(s / rs, i / ri)
      }.toSeq
      if (ds.isEmpty) 1.0 else medOf(ds)
    }

    runCanary(record = false) // pay the canary's codegen outside the data

    // ---- cold pass (1 rep), deadline-aware and degradation-sensing ----
    // Every 20 queries a canary pair reads the window against the
    // recorded quiet reference; the MEDIAN of pairs so far (>= 2, so one
    // stall can't flip the protocol) above 2x trips the downshift and
    // the full cold pass stops — remaining coverage moves behind the
    // median-preserving phases. The intra-phase fits() guard (r16
    // advice) additionally short-circuits the tail into `skipped` so a
    // window slower than run C's can never ride past the deadline.
    // query-shaped drift samples: thisColdTime / quietColdTime per
    // completed query (see QuietRef.colds — the detector for windows
    // that tax queries while canary medians stay quiet, the actual r16
    // shape)
    val coldRatios = scala.collection.mutable.ListBuffer[Double]()
    var coldIdx = 0
    while (coldIdx < names.size && !degraded && !shuttingDown) {
      if (coldIdx > 0 && coldIdx % 20 == 0) {
        coldCanaryPair()
        // >= 3 pairs before tripping: the r17 quiet-window run's FIRST
        // two pairs read 2.04x/1.65x the cold-phase reference meds from
        // residual JIT alone (median-of-2 = 1.85, a near-miss false
        // trip); with three the median sheds the worst early pair, while
        // a real r16-class window (~4x on every pair) still trips at the
        // first eligible checkpoint (q60). The QUERY-ratio median needs
        // >= 20 samples for the same reason (per-query cold times are
        // individually noisy; the A/B drill runs read ~1.1x here).
        val canaryTrip = coldCanaryPairs.size >= 3 && pairsDriftMed > 2.0
        // TRAILING window of 20 ratios, not all-samples-so-far (r18,
        // from the r17 verdict): a mid-pass onset dilutes the global
        // median below the 2.0 trip while the tail runs 8x; the last-20
        // median reads the window as it is NOW.
        val queryTrip = coldRatios.size >= 20 &&
          medOf(coldRatios.takeRight(20).toSeq) > 2.0
        if (detectionArmed && (canaryTrip || queryTrip)) {
          degraded = true
          downshiftAt =
            s"cold_q$coldIdx" + (if (queryTrip && !canaryTrip) "_qry" else "")
          rawDrift =
            if (canaryTrip) pairsDriftMed
            else medOf(coldRatios.takeRight(20).toSeq)
          driftFactor = math.min(rawDrift, 8.0)
        }
      }
      if (!degraded) {
        if (budgetLeft <= 0) {
          skipped += s"cold_tail:${names.size - coldIdx}"
          coldIdx = names.size
        } else {
          val n = names(coldIdx)
          val t = materialize(n)
          if (!shuttingDown)
            require(PinScope.pinnedCount(spark) == 0,
              s"$n leaked ${PinScope.pinnedCount(spark)} pinned RDDs past its scope")
          if (t >= 0) {
            coldTotal += t; coldTimes(n) = t
            quiet.colds.get(n.takeWhile(_ != '_'))
              .filter(_ > 0).foreach(q => coldRatios += t / q)
          }
          coldIdx += 1
        }
      }
    }
    // a window that degrades UNIFORMLY (no canary trip but the whole
    // pass ran slow) still trips on the cold total vs the envelope.
    // COVERAGE-WEIGHTED (r18, the r17 fatal flaw): requiring
    // coldTimes.size == names.size meant ONE failed cold query (s15's
    // timeout) disarmed the backstop on a 4.15x window. Now the trip
    // compares the completed subset's cold sum against the quiet
    // reference sum over the SAME subset, armed at >= 90% coverage.
    if (detectionArmed && !degraded &&
        coldTimes.size >= 0.9 * names.size) {
      val matched = coldTimes.toSeq.flatMap { case (n, t) =>
        quiet.colds.get(n.takeWhile(_ != '_')).filter(_ > 0).map(q => (t, q))
      }
      val quietSubtotal = matched.map(_._2).sum
      val thisSubtotal = matched.map(_._1).sum
      val subsetOk = matched.size >= 0.9 * names.size && quietSubtotal > 0
      // per-query reference absent (stale/foreign quiet ref): fall back
      // to the scalar envelope, but only when the pass truly completed
      val scalarOk = !subsetOk && coldTimes.size == names.size &&
        quiet.coldTotal > 0
      if ((subsetOk && thisSubtotal > 2.0 * quietSubtotal) ||
          (scalarOk && coldTotal > 2.0 * quiet.coldTotal)) {
        degraded = true
        downshiftAt = "cold_end"
        rawDrift =
          if (subsetOk) thisSubtotal / quietSubtotal
          else coldTotal / quiet.coldTotal
        driftFactor = math.min(rawDrift, 8.0)
      }
    }
    if (!degraded && detectionArmed) {
      rawDrift = math.max(1.0, pairsDriftMed)
      driftFactor = math.min(rawDrift, 8.0)
    }
    // the cold phase has read the window — stream budgets follow it
    setStreamScale(driftFactor)
    flush("cold")
    if (degraded)
      Console.err.println(f"[bench] DEGRADED window detected at " +
        f"$downshiftAt (drift $rawDrift%.2fx vs quiet reference, pricing " +
        f"at $driftFactor%.2fx) — downshifting to the median-preserving " +
        "reduced protocol")

    // ---- warm passes ----
    // Quiet window: 3 seeded-shuffled passes over the full suite (the
    // shared family in pass 1 only, scaladoc #2), now with an intra-pass
    // deadline guard. Degraded window: 3 seeded-shuffled passes over the
    // SENSITIVE subset — medians for the regression-sensitive queries
    // beat one rep of everything (r16: 185 single-rep numbers, zero
    // usable for the 2x gate). Sensitive = the priority head, then
    // quiet-reference weight, greedily while 3 reps fit HALF the
    // remaining budget (the lane, conc and coverage phases share the
    // rest).
    // one warm rep's estimated cost: quiet med scaled by drift; a cold
    // time measured IN this window needs no further scaling (r18 advice:
    // multiplying the coldTimes fallback by driftFactor double-counted
    // drift in the degraded pass estimate)
    def estWarmOne(n: String): Double =
      quiet.meds.get(n).map(_ * driftFactor)
        .orElse(coldTimes.get(n))
        .getOrElse(1.0 * driftFactor)
    if (degraded) {
      val mandatory = SensitiveHead.filter(names.contains)
      // a missing cold run costs a COLD run, not a warm med (r18 advice:
      // cold typically reads 2-3x warm, so pricing it at estWarmOne let
      // the sensitive set overfill)
      def estColdOne(n: String): Double =
        quiet.colds.get(n.takeWhile(_ != '_')).filter(_ > 0)
          .map(_ * driftFactor)
          .getOrElse(2.5 * estWarmOne(n))
      val rest = names
        .filterNot(SharedFamily)
        .filterNot(mandatory.contains)
        .sortBy(n => -estWarmOne(n))
      val warmBudget = 0.5 * budgetLeft
      val picked = scala.collection.mutable.ListBuffer[String]()
      var cum = 0.0
      (mandatory ++ rest).foreach { n =>
        val cost = 3.2 * estWarmOne(n) +
          (if (coldTimes.contains(n)) 0.0 else estColdOne(n))
        // the mandatory head is always in (it is the round's question);
        // fillers only while the budget holds
        if (mandatory.contains(n) || cum + cost <= warmBudget) {
          picked += n; cum += cost
        }
      }
      sensitiveChosen = picked.toList
      // the warm phase's own cutoff: its share of the remaining budget,
      // so an optimistic estimate can't starve the lane/conc/coverage
      // phases that follow. Fixed BEFORE the sensitive cold-run loop so
      // that loop spends INSIDE the warm share (r18 advice: previously
      // unbudgeted, it ate into the lane/conc/coverage share).
      warmCutoff = elapsed + 0.5 * budgetLeft
      // cold-run (codegen pay) any sensitive member the truncated cold
      // pass never reached
      sensitiveChosen.filterNot(coldTimes.contains).foreach { n =>
        if (elapsed < warmCutoff && budgetLeft > 0 && !shuttingDown) {
          val t = materialize(n)
          if (t >= 0) { coldTotal += t; coldTimes(n) = t }
        }
      }
      flush("cold")
    }
    if (!degraded) warmCutoff = deadline
    val warmSuite: Seq[String] =
      if (degraded) sensitiveChosen else names.toSeq
    def warmLeft: Double = math.min(warmCutoff - elapsed, budgetLeft)
    Seq(1, 2, 3).foreach { seed =>
      val passNames =
        if (degraded) warmSuite
        else if (seed == 1) warmSuite else warmSuite.filterNot(SharedFamily)
      val passEst =
        if (degraded) passNames.map(estWarmOne).sum
        else estWarmPass
      // a degraded pass enters whenever meaningful budget remains even
      // if the FULL pass won't fit — a shuffled partial second pass
      // leaves medians for a random subset, which beats none
      if ((seed == 1 && !degraded) || elapsed + passEst <= warmCutoff ||
          (degraded && warmLeft > 60)) {
        orderSeeds += seed
        val order = new scala.util.Random(seed).shuffle(passNames)
        runCanary(record = true)
        var aborted = false
        order.zipWithIndex.foreach { case (n, i) =>
          if (!aborted && warmLeft <= 0) {
            aborted = true
            skipped += s"warm_pass_${seed}_tail:${order.size - i}"
          }
          if (!aborted) {
            val t = materialize(n)
            warmReps(n) = warmReps(n) :+ t
            if (t >= 0)
              quiet.meds.get(n).filter(_ > 0).foreach(q => warmRatios += t / q)
            if ((i + 1) % (if (degraded) 10 else 20) == 0) {
              runCanary(record = true)
              if (detectionArmed && warmRatios.size >= 20) {
                val m = medOf(warmRatios.takeRight(20).toSeq)
                if (m > 2.0 && m > warmDrift) {
                  warmDrift = m
                  warmDriftAt = s"warm_pass_${seed}_q${i + 1}"
                  Console.err.println(f"[bench] WARM-PHASE degradation: " +
                    f"trailing-20 rep/quiet median $m%.2fx at $warmDriftAt " +
                    "(flagged in artifact; medians keep absorbing spikes)")
                }
              }
            }
          }
        }
        flush(s"warm_pass_$seed")
      } else if (!skipped.contains(s"warm_pass_$seed")) {
        skipped += s"warm_pass_$seed"
        Console.err.println(s"[bench] deadline: skipping warm pass $seed " +
          f"(elapsed $elapsed%.0f s + est $passEst%.0f > cutoff " +
          f"$warmCutoff%.0f)")
      }
    }

    // Shared lane runs BEFORE the ops arm (r16, from run C: a slow
    // window kept the 40 s ops arm and lost the 190 s lane): when the
    // deadline can only afford one of them, the family's regression
    // signal wins over four stable raw-operator numbers.
    // ---- shared-materialization lane (round 13): the composed-pipeline
    // family priced as a PIPELINE — each chain built ONCE per rep with
    // its outputs attributed separately, the way a production run pays
    // for it. The per-gate numbers above deliberately price each query's
    // full chain (per-query costing policy); by r12 that policy made the
    // family 46% of warm wall-clock and the suite total a
    // measurement-policy artifact (r12 verdict "What's wrong" #2). The
    // artifact carries BOTH: `queries` stays per-gate for the hash-gate
    // cost record; `shared` is the regression signal tools/regression.py
    // reads for this family. Chain time = the eager stage seams
    // (checkpoint materialization); output times = each output's
    // residual work against the shared frames. Median of 3 reps, one
    // PinScope per rep (pins swept between reps, never mid-chain).
    // ADAPTIVE REPS (r17): the lane previously ran all-or-nothing at a
    // flat 3-rep estimate, so a marginal window lost the family's entire
    // regression signal (r16 driver run: skipped:["shared"]). Now rep 1
    // runs whenever IT fits, and each further rep is priced at the
    // measured cost of the previous one — a degraded window keeps 1-2
    // reps (medOf(2) = the average) instead of none. `shared_reps` rides
    // the artifact; regression.py already treats a lane-less family as
    // low-confidence, and a 1-rep lane is still a lane.
    if (fits(estSharedRep)) {
      markPhase("shared")
      sharedTimes = {
        def t(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        // SEAM LEDGERS (r17 verdict #3): each chain build records its
        // driver-sync barriers (eager checkpoints + fixpoint rounds) so
        // the stall-amplification surface is measurable per run. The
        // LAST executed rep's ledger is kept — codegen is paid by then,
        // so its barrier times are the steady-state ones.
        def rec[T](chain: String)(body: => T): T = {
          val (r, sm) = operators.SeamClock.recording(body)
          if (sm.nonEmpty) chainSeams(chain) = sm
          r
        }
        def rep(): Seq[(String, Double)] =
          if (shuttingDown) Nil
          else try PinScope.run(spark) {
            var bst: operators.PipelineQueries.Stages = null
            var ist: operators.PipelineQueries.IncStages = null
            var base59: String = null
            Seq(
              "d47_chain" -> t { bst = rec("d47_chain")(
                operators.PipelineQueries.build(spark, sfDir)) },
              "d47_pack" -> t { noop(operators.PipelineQueries.packBoot(bst)) },
              "d48_attrition" -> t { noop(operators.PipelineQueries.attritionBoot(bst)) },
              "d57_chain" -> t { ist = rec("d57_chain")(
                operators.PipelineQueries.buildInc(spark, sfDir)) },
              "d57_pack" -> t { rec("d57_pack")(
                noop(operators.PipelineQueries.packInc(ist))) },
              "d60_attrition" -> t { noop(operators.PipelineQueries.attritionInc(ist)) },
              // d59's decomposition (r13 advice): the bootstrap store-write
              // and the cold incremental consumer, priced separately
              "d59_boot" -> t { base59 = rec("d59_boot")(
                operators.PipelineQueries.bootStoreJob(spark, sfDir)) },
              "d59_inc" -> t { noop(rec("d59_inc")(
                operators.PipelineQueries.incStoreJob(spark, sfDir, base59))) })
          } catch { case e: Throwable =>
            recordFailure("shared_lane", e)
            Nil
          }
        val reps = scala.collection.mutable.ListBuffer[Seq[(String, Double)]]()
        var lastCost = estSharedRep
        var k = 0
        while (k < 3 && (k == 0 || fits(lastCost * 1.2)) && !shuttingDown) {
          val t0 = System.nanoTime()
          val r = rep()
          lastCost = (System.nanoTime() - t0) / 1e9
          if (r.nonEmpty) reps += r
          k += 1
        }
        if (k < 3) skipped += s"shared_reps_tail:${3 - k}"
        sharedReps = reps.size
        if (reps.isEmpty) Nil
        else reps.head.map(_._1).map { key =>
          key -> medOf(reps.map(_.toMap.apply(key)).toSeq)
        }
      }
      flush("shared")
    } else skipped += "shared"

    // ---- concurrent arm (round 9): mirror the reference's stress
    // protocol (rubix_stressor.py 8 threads; perf.go 10 concurrent
    // runs) — 8 threads x 3 shuffled rounds over the 20 heaviest
    // NON-chain queries (SharedFamily excluded, see its scaladoc), every
    // execution fingerprint-checked against its sequential run. c*/s*
    // participate on a dedicated SERIAL lane (mutual exclusion among
    // themselves — global cache counters, scratch dirs, checkpoints —
    // while running concurrently with the whole SQL surface; see
    // ConcurrentHarness scaladoc). A mismatch or error poisons the
    // artifact like any other bench failure.
    //
    // ORDERED BEFORE the ops arm (r17, verdict #4): when the window can
    // only afford one of them, the stress-protocol parity signal (absent
    // from driver artifacts since r14) wins over four stable
    // raw-operator numbers. On a degraded window the arm goes straight
    // to the 8x1 tier. ----
    // Arm cost is estimated FROM the measured warm medians, because the
    // r16 full run proved a flat constant lies: the expected-hash pass
    // alone costs ~one sequential execution of the pool (~170 s at
    // sf0.1) before the concurrent rounds even start, and the rounds'
    // wall is floored by the serial-lane members' sum x rounds. Model:
    // est ~= poolWarmSum x (1 hash pass + ~2.5 for 3 rounds at 8
    // threads with the measured serial-lane mix) — 3.5x total for the
    // full arm, 2.5x for the reduced 10x2 fallback, which preserves the
    // stress signal when the window is tight instead of dropping it.
    // (Meds are measured IN this window, so no extra drift scaling.)
    val warmMed = currentWarm.map { case (n, _, md, _) => n -> md }.toMap
    val poolAll = names
      .filterNot(SharedFamily)
      .filter(n => warmMed.getOrElse(n, -1.0) >= 0)
      .sortBy(n => -warmMed(n))
    def poolSum(k: Int): Double = poolAll.take(k).map(warmMed).sum
    val concCfg: Option[(Int, Int)] =
      if (!degraded && fits(poolSum(20) * 3.5)) Some((20, 3))
      else if (!degraded && fits(poolSum(10) * 2.5)) Some((10, 2))
      else if (fits(poolSum(8) * 1.7)) Some((8, 1))
      else None
    concCfg match {
      case Some((poolN, rounds)) =>
        markPhase("conc")
        val concPool = poolAll.take(poolN)
        val concExpected = concPool.map { n =>
          n -> PinScope.run(spark)(
            ConcurrentHarness.resultHash(SparkEntry.queries(n)(spark, sfDir)))
        }.toMap
        val conc = ConcurrentHarness.run(threads = 8, rounds = rounds,
          concPool.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir))),
          concExpected)
        PinScope.run(spark)(()) // one sweep after the whole phase
        (conc.mismatches ++ conc.errors).foreach { msg =>
          Console.err.println(s"BENCH FAILURE in concurrent arm: $msg")
        }
        if (conc.mismatches.nonEmpty || conc.errors.nonEmpty) {
          failed += "concurrent_arm"
          failures("concurrent_arm") =
            (conc.mismatches ++ conc.errors).take(3).mkString(" | ").take(600)
        }
        val concSerial = concPool.count(ConcurrentHarness.serialLane)
        concJson =
          f"""{"threads":8,"rounds":$rounds,"pool":${concPool.size},"reduced":${poolN < 20},"serial_lane":$concSerial,"executed":${conc.executed},"total_sec":${conc.totalSec}%.3f,"mismatches":${conc.mismatches.size},"errors":${conc.errors.size}}"""
        flush("conc")
      case None => skipped += "conc"
    }

    // ---- coverage (downshifted runs only): one rep for everything the
    // reduced warm suite left out — a warm rep for queries the cold
    // pass already reached, a cold run (existence + cold-dict coverage)
    // for those it never did. Lowest priority by design; the shared
    // family is covered by its lane when the lane executed. ----
    if (degraded) {
      val done = sensitiveChosen.toSet
      val remaining = names.filterNot(done)
        .filterNot(n => SharedFamily(n) && sharedReps > 0)
      var skippedCov = 0
      remaining.foreach { n =>
        if (budgetLeft <= 0 || shuttingDown) skippedCov += 1
        else {
          val t = materialize(n)
          if (t >= 0) {
            if (coldTimes.contains(n)) warmReps(n) = warmReps(n) :+ t
            else { coldTimes(n) = t; coldTotal += t }
          }
        }
      }
      if (skippedCov > 0) skipped += s"coverage_tail:$skippedCov"
      flush("coverage")
    }

    // ---- raw-operator timings: operator cost WITHOUT the oracle arm ----
    if (fits(estOps)) {
      markPhase("ops")
      val docs = operators.Tables.load(spark, sfDir, "documents")
      opTimes = Seq[(String, () => Seq[Double])](
        "d06_op" -> { () =>
          // Signature table materialized OUTSIDE each timed region: d06_op is
          // the banded candidate join alone, the reusable-artifact shape a
          // pipeline at 100 TB runs against a persisted signature store.
          // PinScope clears the SQL cache after every rep, so the persist +
          // count is redone per rep — always before the clock starts.
          Seq.fill(3) {
            val sigs = operators.Dedup.signatures(docs).persist()
            sigs.count()
            timeOnce("d06_op") {
              operators.Dedup.lshCandidates(sigs)
                .write.format("noop").mode("overwrite").save()
            }
          }
        },
        "d07_op" -> { () =>
          Seq.fill(3)(timeOnce("d07_op") {
            operators.Dedup.simhashCandidates(docs)
              .write.format("noop").mode("overwrite").save()
          })
        },
        "d56_op" -> { () =>
          // The DOULION production arm ALONE (r12 verdict housekeeping:
          // the d56 gate re-pays d41's exact arm for its in-band error
          // contract; a real corpus runs only the estimator). Canonical
          // edge list + the deterministic p=1/4 sample are materialized
          // OUTSIDE the clock (persisted artifacts at 100 TB); the timed
          // region is the sampled orientation + wedge close + scale.
          Seq.fill(3) {
            val es = operators.GraphQueries.canonicalEdges(spark, sfDir)
              .filter(org.apache.spark.sql.functions
                .expr("(a * 100003L + b * 7919L) % 1000000L") < 250000L)
              .persist()
            es.count()
            timeOnce("d56_op") {
              operators.GraphQueries.trianglesOf(es)
                .agg((org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)) * 64)
                  .as("est_triangles"))
                .write.format("noop").mode("overwrite").save()
            }
          }
        },
        "e10_op" -> { () =>
          // Quantized-retrieval scoring arm alone: the e10 gate number is
          // dominated by the exact float truth arm + recall contract; this
          // times the int8 kernel (native IntCosineSim, round 9) over
          // pre-encoded code tables — the shape a 100 TB retrieval scan
          // actually runs. Encode + persist happen OUTSIDE the clock
          // (PinScope sweeps the pins after each rep).
          val base = operators.Tables.load(spark, sfDir, "embeddings")
          Seq.fill(3) {
            val q = base.filter(col("vec_id") < 10)
              .select(col("vec_id").as("qid"),
                operators.VectorQueries.int8Codes(col("embedding")).as("qq"))
              .persist()
            val c = base.filter(col("vec_id") >= 10)
              .select(col("vec_id").as("cid"),
                operators.VectorQueries.int8Codes(col("embedding")).as("qc"))
              .persist()
            q.count(); c.count()
            timeOnce("e10_op") {
              operators.VectorQueries.quantizedTop5(q, c)
                .write.format("noop").mode("overwrite").save()
            }
          }
        }
      ).map { case (opName, run) =>
        val reps = run()
        val t = if (reps.exists(_ < 0)) -1.0
          else median3(reps(0), reps(1), reps(2))
        opName -> t
      }
      flush("ops")
    } else skipped += "ops"

    markPhase("end")

    // ---- verbose (humans + BASELINE.md): full names, min/med/max ----
    currentWarm.foreach { case (n, mn, md, mx) =>
      println(f"""{"q":"$n","min":$mn%.3f,"med":$md%.3f,"max":$mx%.3f}""")
    }

    flush("end")
    // ---- compact artifact line, LAST so the tail capture keeps it ----
    println(latestArtifact)
    println(latestTotals)
    // The r8 driver artifact carried `parsed: null` — its parser sees
    // sbt's "[info] " prefix on stdout lines. Emit the same lines on
    // stderr too (sbt passes program stderr through un-prefixed) so
    // either stream yields a line that starts at the '{'.
    Console.err.println(latestArtifact)
    Console.err.println(latestTotals)
    Console.err.flush()
    completed = true
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () }
    spark.stop()
    // rc=1 is reserved for CORRECTNESS-class failures (r18): a stream
    // timeout on a slow window is an environment-class failure, recorded
    // in the artifact's failed/env_failed/failures fields — turning it
    // into rc=1 is what voided the whole r17 round over one query.
    val hardFailed = failed.distinct.filterNot(envFailed)
    if (hardFailed.nonEmpty)
      throw new RuntimeException(
        s"bench queries failed: ${hardFailed.mkString(", ")}")
    else if (failed.nonEmpty)
      Console.err.println("[bench] environment-class failures (stream " +
        "timeouts) recorded in the artifact without rc=1: " +
        failed.distinct.mkString(", "))
  }
}
