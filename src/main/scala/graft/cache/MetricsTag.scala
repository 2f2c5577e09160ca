package graft.cache

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** Per-query cache-metrics attribution.
  *
  * The c08/c11/c12 gate contracts assert deltas of cache counters. Through
  * round 9 those counters were process-global, so the contracts required a
  * serial lane in the concurrent harness (no other c* query may move the
  * counters inside the measured window). This object scopes attribution to
  * one query execution instead: the query body runs under a unique tag set
  * as a Spark local property — local properties travel from the submitting
  * thread into every task of every job it submits, so the cache layer
  * (running inside scan tasks, or on the submitting thread for driver-side
  * footer reads) can mirror each counter bump into a tag-keyed shadow
  * counter. A contract then reads ONLY its own execution's traffic and can
  * race arbitrary neighbors — the real multi-tenant shape: a production
  * cache answers "which query caused this traffic", not just "how much
  * traffic was there".
  *
  * Resolution order for the current tag:
  *  1. inside a Spark task: `TaskContext.getLocalProperty` (the property
  *     captured at job submission);
  *  2. the tagging thread's own thread tag, set by [[withTag]], for
  *     driver-side reads — footer/schema inference on the query's own
  *     thread.
  *
  * Deliberately NOT consulted: the thread's Spark local properties.
  * Those are an InheritableThreadLocal, so a pool thread lazily created
  * inside a withTag window would inherit the tag permanently and bill
  * unrelated untagged traffic to a finished query's UUID forever. The
  * thread tag here is a plain ThreadLocal — child threads see nothing.
  *
  * The `anyTags` fast path keeps the untagged hot read path at one
  * volatile load per counter bump.
  */
object MetricsTag {
  val Key = "graft.metrics.tag"

  @volatile private var anyTags = false
  private val threadTag = new ThreadLocal[String]

  def current: Option[String] = {
    if (!anyTags) return None
    val tc = TaskContext.get()
    if (tc != null) return Option(tc.getLocalProperty(Key))
    Option(threadTag.get)
  }

  /** Runs `body` with `tag` set as the calling thread's Spark local
    * property (restored afterwards); all jobs the body submits carry it.
    * The calling thread also gets the plain thread tag so its own
    * driver-side reads are billed — without the inheritance leak a
    * local-property lookup would reintroduce. */
  def withTag[T](s: SparkSession, tag: String)(body: => T): T = {
    anyTags = true
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(Key)
    val prevThread = threadTag.get
    sc.setLocalProperty(Key, tag)
    threadTag.set(tag)
    try body finally {
      sc.setLocalProperty(Key, prev)
      if (prevThread != null) threadTag.set(prevThread) else threadTag.remove()
    }
  }
}
