package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call across a layer boundary. `parent` is the span that
  * caused it (0 = the operation itself); all spans of one operation share
  * `op`. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Off (one volatile read per
  * call site) in the untraced runs that give the end-to-end numbers.
  *
  * The operation id and the current span travel on the calling thread;
  * task threads pick them up from the Spark local properties the client
  * thread sets around each job (`perfbench.op`, `perfbench.span`). */
object Trace {
  @volatile var enabled = false
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val opOfThread = new ThreadLocal[Long] { override def initialValue = 0L }

  def setOp(op: Long): Unit = opOfThread.set(op)

  private def taskProp(key: String): Long = {
    val tc = org.apache.spark.TaskContext.get()
    val v = if (tc == null) null else tc.getLocalProperty(key)
    if (v == null) 0L else v.toLong
  }

  private def currentOp: Long = {
    val o = opOfThread.get
    if (o != 0L) o else taskProp(OpKey)
  }

  /** Innermost open span on this thread, else the client-side span that
    * submitted the running task. */
  def currentSpan: Long = stack.get match {
    case h :: _ => h
    case Nil => taskProp(SpanKey)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = currentSpan
      val op = currentOp
      val st = stack.get
      stack.set(id :: st)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        stack.set(st)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  /** Nanoseconds of `parent` not covered by any child interval (children
    * may overlap each other and stick out of the parent; only the union
    * of their parts inside the parent counts). */
  def selfNanos(parent: Span, children: Seq[Span]): Long = {
    val ivs = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }

  /** Self time per layer, in nanoseconds, over `spans`. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNanos(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  /** Writes spans as tab-separated lines (id, parent, op, layer, name,
    * start ns, end ns). */
  def write(file: java.io.File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(new java.io.FileWriter(file)))
    try spans.foreach { s =>
      w.println(s"${s.id}\t${s.parent}\t${s.op}\t${s.layer}\t${s.name}\t${s.startNs}\t${s.endNs}")
    } finally w.close()
  }
}
