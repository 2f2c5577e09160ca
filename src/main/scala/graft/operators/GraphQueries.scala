package graft.operators

import org.apache.spark.sql.functions._

/** Iterative graph analytics over a graph derived from the relational
  * tables — the d10/d25 connected-components machinery's centrality
  * sibling, and the canonical "iterative join + aggregate" shape a
  * training-data pipeline runs for link-based quality signals (PageRank
  * over a citation/link graph).
  *
  * Determinism contract: classic PageRank is float arithmetic, which no
  * cross-engine hash gate can pin. This runs the SAME recurrence in exact
  * scaled-integer arithmetic (rank scaled by 1e6; contribution = rank div
  * degree; damping 0.85 as `(85 * x) div 100`) — every value is a
  * non-negative integer and both engines' integer division truncates
  * identically, so the full rank table rides the hash oracle.
  *
  * Scale shape: each iteration is one shuffle join of the edge list with
  * the (node, rank) frame on `src` plus one aggregation on `dst` — the
  * standard Pregel-on-DataFrames pattern. The edge list and degree table
  * are persisted once and reused by every iteration; only the narrow
  * (node, long) rank frame changes per pass. Lineage grows linearly in
  * the (fixed, small) iteration count; a long-running variant would
  * localCheckpoint every ~10 passes like d10's fixpoint does.
  */
object GraphQueries {

  val RankScale = 1000000L
  val Iters = 4

  /** Broadcast-or-shuffle policy for the graph kernels (r19, from the
    * r18 advice): the r18 caps were ROW counts (32M nodes / 16M edges) —
    * at the cap boundary a forced broadcast() builds a multi-GB hashed
    * relation on the driver and every executor, a plausible OOM /
    * broadcastTimeout at mid-scale SFs the small-SF bench never
    * exercises. Cap in ESTIMATED BYTES instead: rows × an estimated
    * hashed-relation row width (key + payload + table overhead, ~64 B)
    * against a fixed 256 MB budget, which sits comfortably inside any
    * sane driver/executor memory (guide §3.1: "a few hundred MB is
    * usually fine; multiple GB is asking for driver OOMs").
    * Returns the broadcast hint under the budget, identity (shuffle
    * fallback) above it — plan choice only, values identical. */
  private[operators] def bcUnder(rows: Long, rowBytes: Long = 64L):
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    if (rows * rowBytes <= (256L << 20)) broadcast else identity

  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT CAST(l_suppkey*2 AS BIGINT) AS src, CAST(l_partkey*2+1 AS BIGINT) AS dst FROM pairs
        |  UNION ALL
        |  SELECT CAST(l_partkey*2+1 AS BIGINT) AS src, CAST(l_suppkey*2 AS BIGINT) AS dst FROM pairs),
        |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg)""".stripMargin
    val steps = (0 until iters).map { i =>
      s"""r${i + 1} AS (
         |  SELECT e.dst AS node, CAST(150000 + (85 * sum(r.r // d.d)) // 100 AS BIGINT) AS r
         |  FROM edges e JOIN r$i r ON e.src = r.node JOIN deg d ON d.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT f.node, CAST(d.d AS BIGINT) AS degree, f.r AS rank_scaled
         |FROM r$iters f JOIN deg d ON d.node = f.node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- integer PageRank over the supplier<->part bipartite graph
    // (undirected: every supplier-part pair from lineitem contributes an
    // edge each way, so no dangling nodes and the node set is stable
    // across iterations). 4 damped iterations; full rank table emitted
    // (suppliers at node 2s, parts at 2p+1). The oracle unrolls the same
    // recurrence as chained CTEs. ----
    QueryDef("d30_pagerank", pagerankOracle(Iters)) { (s, dir) =>
      val pairs = Tables.load(s, dir, "lineitem")
        .select((col("l_suppkey") * 2).cast("long").as("a"),
          (col("l_partkey") * 2 + 1).cast("long").as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d")).persist()
      // r18: the (node, rank/degree) frames are node-cardinality — tiny
      // next to the edge list — so below the broadcast budget the per-
      // iteration join runs map-side over the persisted edges instead of
      // exchanging them every pass (sum over the same rows; exact
      // integer arithmetic is order-independent, values unchanged).
      // r19: cap sized in bytes ([[bcUnder]]), 256 MB ≈ 4M nodes
      // (was a raw 32M-node cap — ~2 GB hashed at the boundary). The
      // repeated broadcast(deg) inside the loop builds ONE exchange:
      // every iteration's subtree is identical, so ReuseExchange
      // collapses them in the executed plan (d30's after-plan shows a
      // single BroadcastExchange for deg reused across iterations).
      val nNodes = deg.count()
      val bc = bcUnder(nNodes)
      var ranks = deg.select(col("node"), lit(RankScale).as("r"))
      (0 until Iters).foreach { _ =>
        // share = rank div degree, joined once per iteration; broadcast
        // below the cap, else the edge join shuffles on src and the
        // aggregate on dst — both on the node id, so AQE coalesces
        val share = ranks.join(bc(deg), "node")
          .select(col("node").as("src"), expr("r div d").as("c"))
        ranks = edges.join(bc(share), "src")
          .groupBy(col("dst").as("node"))
          .agg(expr("CAST(150000 + (85 * sum(c)) div 100 AS BIGINT)").as("r"))
      }
      ranks.join(bc(deg), "node")
        .select(col("node"), col("d").cast("long").as("degree"),
          col("r").as("rank_scaled"))
    },

    // ---- triangle counting (d41) over the part co-purchase graph
    // (parts sharing an order; sf0.1: 1.2M edges, 1.9M triangles) —
    // the canonical "joins explode on hubs" graph kernel. The engine
    // runs the DEGREE-ORDERED orientation: each canonical edge {a,b}
    // points from its lower-(degree, id) endpoint to the higher, wedges
    // enumerate per SOURCE (so a hub's wedge count is bounded by its
    // oriented out-degree, which orientation keeps low — the classic
    // fix for the quadratic hub blowup the oracle's naive a<b<c
    // formulation suffers), and each triangle closes exactly once at
    // its unique minimum-(degree, id) apex. Three shuffles on node
    // keys; the triangle set is identical to the naive enumeration, so
    // per-part counts hash-match. ----
    QueryDef("d41_triangles",
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT x AS part FROM t
        |      UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        |SELECT part AS l_partkey, count(*) AS n_tri
        |FROM n GROUP BY part""".stripMargin) { (s, dir) =>
      // canonical undirected edges {a < b}; persisted: degree calc, the
      // orientation join, and the closing join all read it. The kernel
      // (orientation + wedges + close) lives in [[trianglesOf]], shared
      // with the d56 sampled estimator.
      val e = canonicalEdges(s, dir).persist()
      val tris = trianglesOf(e)
      // r18: explode the three corners of each triangle row instead of
      // union-ing three projections of `tris` — the union re-executed the
      // whole wedge+close join once PER BRANCH (the before-plan shows the
      // join subtree three times); the exploded multiset is identical, so
      // the per-part counts are unchanged.
      tris.select(explode(array(col("u"), col("va"), col("vb"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_tri"))
        .select(col("part").as("l_partkey"), col("n_tri"))
    },

    // ---- sampled triangle ESTIMATE (d56) — d41's production arm for
    // the 100 TB frontier: d41's exact count is linear (SCALE.md e=1.01)
    // but its absolute cost makes it the suite's most expensive query at
    // 10× (119 s), so a real corpus runs DOULION (Tsourakakis et al.,
    // KDD'09): keep each edge with probability p, count triangles on
    // the sampled graph, scale by 1/p³. p = 1/4 makes the scale factor
    // the integer 64 (no float arithmetic anywhere), and the sample is
    // DETERMINISTIC — edge {a,b} survives iff
    // (a·100003 + b·7919) mod 1e6 < 250000, an expression both engines
    // evaluate identically (all intermediates < 2^35, no overflow on
    // either engine) — so the estimator output itself rides the hash
    // oracle, and the relative-error contract vs the exact count rides
    // in-band (err_ok; the exact arm is the same gate-scale cost d41
    // already pays — SCALE.md r12 "d56 estimator vs d41 exact" times
    // the sampling path alone, which is what a production run executes;
    // the probe harness source is at commit a601823).
    // Scale shape: sampling is a codegen filter on the persisted edge
    // list; the sampled graph re-runs the same degree-ordered
    // orientation with ~p× edges and ~p²× wedge volume — the estimator
    // is ~64× cheaper than exact at any scale. ----
    QueryDef("d56_triangle_estimate",
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
        |es AS MATERIALIZED (SELECT a, b FROM e
        |      WHERE (a*100003 + b*7919) % 1000000 < 250000),
        |ts AS (SELECT count(*) AS n FROM (
        |        SELECT e1.a, e1.b, e2.b AS c
        |        FROM es e1 JOIN es e2 ON e1.b = e2.a
        |        JOIN es e3 ON e3.a = e1.a AND e3.b = e2.b)),
        |tx AS (SELECT count(*) AS n FROM (
        |        SELECT e1.a, e1.b, e2.b AS c
        |        FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b))
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM es) AS BIGINT) AS n_sampled,
        |  CAST(ts.n * 64 AS BIGINT) AS est_triangles,
        |  CAST(tx.n AS BIGINT) AS exact_triangles,
        |  CAST(abs(ts.n * 64 - tx.n) * 1000 // greatest(tx.n, 1) AS BIGINT)
        |    AS err_permille,
        |  (abs(ts.n * 64 - tx.n) * 1000 // greatest(tx.n, 1)) <= 150
        |    OR tx.n < 50000 AS err_ok
        |FROM ts, tx""".stripMargin) { (s, dir) =>
      val e = canonicalEdges(s, dir).persist()
      val esamp = e.filter(
        expr("(a * 100003L + b * 7919L) % 1000000L") < 250000L).persist()
      val nTriS = trianglesOf(esamp).agg(count(lit(1)).as("n"))
        .select(col("n").as("ns"))
      val nTriX = trianglesOf(e).agg(count(lit(1)).as("n"))
        .select(col("n").as("nx"))
      val counts = e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(esamp.agg(count(lit(1)).as("n_sampled")))
      counts.crossJoin(nTriS).crossJoin(nTriX)
        .select(col("n_edges"), col("n_sampled"),
          (col("ns") * 64).as("est_triangles"),
          col("nx").as("exact_triangles"),
          expr("abs(ns * 64 - nx) * 1000 div greatest(nx, 1L)")
            .as("err_permille"),
          (expr("abs(ns * 64 - nx) * 1000 div greatest(nx, 1L)") <= 150 ||
            col("nx") < 50000).as("err_ok"))
    }
  )

  /** Canonical undirected co-purchase edges {a < b} over parts sharing
    * an order (d41's edge recipe). */
  private[graft] def canonicalEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // r18: one exchange instead of three — collect_set(part) per order
    // dedupes (o, p) in the aggregation, and the native sorted_pairs
    // kernel emits the within-order {a < b} pairs per row (identical pair
    // set to the old distinct-(o,p) self-join on o; the final pair
    // distinct is unchanged). Per-order part lists are bounded (TPC-H
    // ≤ 7 lines/order), so the per-row emit is O(1)-ish at any SF.
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(collect_set(col("p")).as("ps"))
      .select(explode(
        graft.functions.PairExprs.sortedPairsCol(col("ps"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
  }

  /** Degree-ordered triangle enumeration (d41's kernel) over an
    * arbitrary canonical edge frame: orient by (degree, id), enumerate
    * wedges per source, close against the edge set (broadcast below the
    * measured 16M-edge cap, shuffle join above). Returns one row per
    * triangle (u, va, vb). */
  private[graft] def trianglesOf(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .persist() // both orientation joins read it (swept by PinScope)
    // r18: under the broadcast budget the degree table (≤ 2·|E| rows)
    // broadcasts — the two orientation joins then run map-side over the
    // persisted edge list instead of exchanging it twice (by a, then by
    // b). r19: the raw 16M-edge cap became the byte-sized budget
    // ([[bcUnder]]; deg sized at its 2·|E| row bound).
    val edgeCount = e.count()
    val degSide = bcUnder(2L * edgeCount)
    val oriented = e
      .join(degSide(deg.select(col("node").as("a"), col("d").as("da"))), Seq("a"))
      .join(degSide(deg.select(col("node").as("b"), col("d").as("db"))), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("db"))
          .otherwise(col("da")).as("ddst"))
      .persist()
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.src") === col("o2.src") &&
          (col("o1.ddst") < col("o2.ddst") ||
            (col("o1.ddst") === col("o2.ddst") &&
              col("o1.dst") < col("o2.dst"))))
      .select(col("o1.src").as("u"),
        least(col("o1.dst"), col("o2.dst")).as("va"),
        greatest(col("o1.dst"), col("o2.dst")).as("vb"))
    val closeSide = bcUnder(edgeCount)(e)
    wedges
      .join(closeSide, col("va") === col("a") && col("vb") === col("b"))
      .select(col("u"), col("va"), col("vb"))
  }
}
