package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload run owns: the session, its seed, and a private
  * directory holding the store root, the cache and local scratch. */
final class RunContext(val spark: SparkSession, val seed: Long, val workDir: File) {
  val storeRoot = new File(workDir, "store")
  val genDir = new File(workDir, "gen")
  val opCounter = new java.util.concurrent.atomic.AtomicLong
  /** Seconds spent in each named set-up phase, in order. */
  val phases = collection.mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` as one traced operation: the op id and its root span
    * reach task threads through Spark local properties. */
  def asOp[T](body: => T): T = {
    val op = opCounter.incrementAndGet()
    Trace.setOp(op)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, op.toString)
    try Trace.span("bench", "op")(body)
    finally { Trace.setOp(0L); sc.setLocalProperty(Trace.OpKey, null) }
  }

  /** Runs a Spark action as a `spark` span that task-side spans hang off. */
  def job[T](body: => T): T = Trace.span("spark", "job") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SpanKey, Trace.currentSpan.toString)
    try body finally sc.setLocalProperty(Trace.SpanKey, null)
  }
}

/** One completed operation: latency, input rows it covered, and whether
  * its result was right (a failed or wrong op is counted, never timed
  * into the latency figures). */
final case class OpResult(ms: Double, rows: Long, ok: Boolean, isWrite: Boolean,
    planMs: Double = 0.0, phaseMs: Map[String, Double] = Map.empty,
    error: Option[String] = None)
