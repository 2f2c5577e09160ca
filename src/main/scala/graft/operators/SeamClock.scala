package graft.operators

import org.apache.spark.sql.DataFrame

/** Driver-sync barrier instrumentation for the composed pipeline chains
  * (r17, from the r16 verdict's "stall amplification" flag).
  *
  * Each `localCheckpoint` in the d47/d57 chains is a
  * driver-synchronized job boundary: the chain's wall-clock is the SUM of
  * its barriers' latencies, so on a contended cluster the chain inherits
  * the sum of the scheduler/stall TAIL at every seam — the r16 driver
  * window (canary 4.4×) amplified to 6–33× on exactly this family while
  * single-plan queries rode at the window tax. To make that amplification
  * MEASURABLE (and its reduction verifiable), every barrier routes
  * through [[ck]]: outside a recording scope it is byte-for-byte
  * `df.localCheckpoint(false)`; inside one (the bench shared lane) the
  * barrier's name and wall seconds land in a thread-local ledger that the
  * artifact carries as `seams` — seam count + per-seam times per chain.
  *
  * Thread-local on purpose: the concurrent arm builds chains from many
  * threads at once, and those executions must neither pay nor pollute the
  * lane's ledger.
  */
object SeamClock {
  private val tl =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, Double)]]()

  /** Run `body` with seam recording on THIS thread; returns the result
    * plus the ordered (seam name, barrier seconds) ledger. Nesting not
    * supported (the inner scope would steal the outer's ledger) — the
    * bench lane never nests. */
  def recording[T](body: => T): (T, Seq[(String, Double)]) = {
    val buf = new scala.collection.mutable.ArrayBuffer[(String, Double)]()
    tl.set(buf)
    try { val r = body; (r, buf.toList) }
    finally tl.remove()
  }

  /** A checkpoint barrier, timed when a recording scope is active on
    * this thread. Always lazy: `localCheckpoint(eager = false)` provides
    * the SAME lineage truncation the seams exist for — the returned
    * frame's plan is a depth-1 LogicalRDD either way, so the measured r12
    * win (driver-side analysis of stitched trees dominating warm cost) is
    * preserved — but the materialization folds into the FIRST consuming
    * job instead of a dedicated count() job. A chain of k eager seams is
    * k sequential driver-sync stall draws on a contended cluster; lazy,
    * the same chain materializes in as few jobs as the outputs demand.
    * Spark completes any partially-computed lazy checkpoint at
    * first-job end (LocalRDDCheckpointData.doCheckpoint), so truncation
    * safety is unchanged.
    *
    * Measured in r19 (OPTIMIZATION_r19.md, same window, 3 reps/arm):
    * lazy <= eager on every rep, lane med 17.25 s vs 17.84 s; the
    * residual per-seam ledger cost is plan COMPILATION (paid either
    * way), so eager's extra count() job buys nothing at this SF. The
    * A/B harness and its eager arm were deleted after commit a601823. */
  private[graft] def ck(name: String)(df: DataFrame): DataFrame =
    barrier(name)(df.localCheckpoint(false))

  /** A non-checkpoint driver-sync barrier (e.g. a fixpoint round's
    * convergence aggregate): times `body` into the ledger when
    * recording. */
  private[graft] def barrier[T](name: String)(body: => T): T = {
    val buf = tl.get()
    if (buf == null) body
    else {
      val t0 = System.nanoTime()
      val out = body
      buf += (name -> (System.nanoTime() - t0) / 1e9)
      out
    }
  }
}
