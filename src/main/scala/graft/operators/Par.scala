package graft.operators

import org.apache.spark.sql.SparkSession

/** Overlap independent Spark ACTIONS from driver threads (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially — submitting independent output writes concurrently
  * lets the next job's tasks back-fill executors freed by the current
  * job's tail). Used for the per-batch store writes of the streaming
  * curation pipelines and d59's bootstrap artifact writes: each write
  * targets its own path, inputs are persisted/checkpointed frames, so
  * ordering is immaterial and idempotence (overwrite-keyed dirs) is
  * unchanged. Failures propagate with their original exception type
  * (first failure wins; later ones ride as suppressed exceptions), so
  * the bench's failure classification and the foreachBatch retry
  * discipline see exactly what serial code threw.
  *
  * [[scoped]] (r19) additionally overlaps driver-side PLAN COMPOSITION
  * with execution: a write is launched the moment its input frame is
  * composed, so the analyzer work for the rest of the chain runs while
  * the first jobs already execute — the s15 profile attributed
  * ~0.7 s/micro-batch to exactly that sequential composition seam.
  */
private[graft] object Par {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Par")

  /** A scope of overlapped actions. Not thread-safe for concurrent
    * `launch` calls from multiple threads (the composing thread is one).
    * Every action's Spark jobs carry the scope's job tag (on the
    * SparkContext of the session active at scope creation), so
    * [[cancelAll]] can cancel them: interrupting the thread that waits
    * for a job does not cancel the job. A tag is added next to the job
    * group and description the pool threads inherit, and leaves them as
    * they are. */
  final class Scope private[Par] () {
    private val pool = java.util.concurrent.Executors.newCachedThreadPool()
    private val futs =
      scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    private val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    private val tag = s"graft-par-${java.util.UUID.randomUUID()}"

    /** Submit one action; returns immediately. */
    def launch(w: () => Unit): Unit =
      futs += pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          // the pool's threads are this scope's own: the tag stays on them
          sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
          w()
        }
      })

    private def cancelJobs(): Unit = sc.foreach(_.cancelJobsWithTag(tag))

    /** Best-effort teardown after a composition failure: cancel
      * everything in flight so no write outlives the batch that
      * launched it (r18 advice — a detached job after an interrupt let
      * the caller believe the batch finished). The tagged jobs are
      * cancelled before the threads are interrupted, and again once
      * they stopped, for a job submitted in between. */
    private[Par] def cancelAll(): Unit = {
      cancelJobs()
      futs.foreach(_.cancel(true))
      pool.shutdownNow()
      if (!pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
        log.warn("Par scope: launched actions still running 30 s after cancel")
      cancelJobs()
    }

    /** Join all launched actions. First failure rethrown with its
      * original type; non-first failures ride as suppressed. An
      * interrupt/cancellation of the WAIT cancels outstanding work and
      * re-surfaces (interrupt status restored) instead of abandoning
      * running jobs (r18 advice). */
    private[Par] def drain(): Unit = {
      var first: Throwable = null
      futs.foreach { f =>
        try { f.get(); () }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (first == null) first = e.getCause
            else first.addSuppressed(e.getCause)
          case e @ (_: InterruptedException |
                    _: java.util.concurrent.CancellationException) =>
            if (first != null) e.addSuppressed(first)
            try cancelAll() catch { case s: Throwable => e.addSuppressed(s) }
            if (e.isInstanceOf[InterruptedException])
              Thread.currentThread().interrupt()
            throw e
        }
      }
      pool.shutdown()
      if (first != null) throw first
    }
  }

  /** Run `body` with a write scope: launched actions overlap the body's
    * remaining driver-side composition; on a body failure in-flight
    * actions are cancelled; on normal return all actions are joined
    * (failure semantics in [[Scope.drain]]). */
  def scoped[A](body: Scope => A): A = {
    val sc = new Scope()
    val r =
      try body(sc)
      catch {
        case e: Throwable =>
          try sc.cancelAll() catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
    sc.drain()
    r
  }

  /** All-at-once form: every plan is already composed. */
  def writes(work: (() => Unit)*): Unit =
    if (work.size <= 1) work.foreach(_())
    else scoped(sc => work.foreach(sc.launch))
}
