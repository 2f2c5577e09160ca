package graft.cache

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import com.google.common.collect.{Range => GRange, RangeSet, TreeRangeSet}
import org.apache.hadoop.fs.PositionedReadable

/** Async parallel-warmup service — the Spark-native restatement of the
  * reference's RemoteFetchProcessor + FileDownloader
  * (rubix-bookkeeper RemoteFetchProcessor.java:41-207,
  * FileDownloader.java:100-239): cache misses return data via the direct
  * path immediately and enqueue a fetch request; a scheduled drain merges
  * requests per file over a delay window (Guava RangeSet coalescing,
  * newest-mtime conflict resolution), skips already-cached blocks and
  * blocks another node owns, and downloads block-aligned ranges on a
  * small executor-local pool.
  */
final class WarmupService(
    manager: CacheManager,
    openRemote: String => java.io.InputStream with PositionedReadable) {

  /** `tag`: the enqueuer's [[MetricsTag]], captured at enqueue time so
    * the pool worker can bill the download to the query that caused it
    * (per-file merges of same-mtime requests bill to the newest
    * enqueuer's tag — attribution under merging is approximate by
    * design; the counters are diagnostics, not a ledger). */
  final case class FetchRequest(path: String, start: Long, end: Long,
      fileLen: Long, mtime: Long, enqueuedAt: Long,
      tag: Option[String] = None)

  private val conf = manager.conf
  private val queue = new ConcurrentLinkedQueue[FetchRequest]()
  private val running = new AtomicBoolean(false)
  @volatile private var stopped = false
  private val drainer = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-warmup-drain"); t.setDaemon(true); t
  })
  private val workers = Executors.newFixedThreadPool(conf.warmupThreads, r => {
    val t = new Thread(r, "graft-warmup-worker"); t.setDaemon(true); t
  })

  def start(): Unit = {
    if (stopped) throw new IllegalStateException(
      "WarmupService is terminal once stopped — build a new instance")
    if (running.compareAndSet(false, true)) {
      // a throw from a scheduled task silently cancels ALL future
      // executions — the drainer must survive any single bad drain
      drainer.scheduleWithFixedDelay(() =>
        try drainOnce(System.currentTimeMillis())
        catch { case _: Throwable => /* next drain retries */ },
        conf.warmupDrainMs, conf.warmupDrainMs, TimeUnit.MILLISECONDS)
    }
  }

  /** Terminal: the executors are shut down for good. `stopped` keeps
    * enqueue() from growing an undrainable queue and start() from
    * pretending to restart onto dead pools. */
  def stop(): Unit = {
    stopped = true
    drainer.shutdownNow()
    workers.shutdownNow()
    running.set(false)
  }

  def enqueue(path: String, start: Long, end: Long, fileLen: Long,
      mtime: Long): Unit = {
    if (stopped) return // nothing will ever drain it
    if (start < 0 || end <= start) return // degenerate range: nothing to warm
    queue.add(FetchRequest(path, start, end, fileLen, mtime,
      System.currentTimeMillis(), MetricsTag.current))
    manager.metrics.warmupRequests.incrementAndGet()
  }

  def pendingCount: Int = queue.size()

  /** Drain requests older than the delay window, merged per file.
    * Visible for deterministic tests (pass now = far future to force). */
  def drainOnce(now: Long): Int = {
    // collect eligible requests (leave the rest queued)
    val eligible = mutable.ArrayBuffer.empty[FetchRequest]
    val keep = mutable.ArrayBuffer.empty[FetchRequest]
    var r = queue.poll()
    while (r != null) {
      if (now - r.enqueuedAt >= conf.warmupDelayMs) eligible += r else keep += r
      r = queue.poll()
    }
    keep.foreach(queue.add)
    if (eligible.isEmpty) return 0

    // merge per file; conflicting mtimes resolved by newest
    // (RemoteFetchProcessor.mergeRequests:162-200 semantics)
    val perFile = eligible.groupBy(_.path).map { case (path, reqs) =>
      val newest = reqs.maxBy(_.mtime)
      val ranges: RangeSet[java.lang.Long] = TreeRangeSet.create()
      reqs.filter(_.mtime == newest.mtime)
        .foreach(q => ranges.add(GRange.closedOpen(Long.box(q.start), Long.box(q.end))))
      (path, newest.fileLen, newest.mtime, ranges, newest.tag)
    }

    var scheduled = 0
    perFile.foreach { case (path, fileLen, mtime, ranges, tag) =>
      ranges.asRanges().forEach { g =>
        scheduled += 1
        workers.submit(new Runnable {
          // bill the download's warmup_bytes to the enqueuing query
          override def run(): Unit = MetricsTag.withInherited(tag) {
            download(path, g.lowerEndpoint(), math.min(g.upperEndpoint(), fileLen),
              fileLen, mtime)
          }
        })
      }
    }
    scheduled
  }

  /** Download [start, end) through the read path's planner and fill
    * routine (FileDownloader + FileDownloadRequestChain semantics): the
    * planner's RemoteChain groups are exactly the blocks that are neither
    * cached nor owned by another node on the ring, chunked to
    * maxReadRequestSize; each group is one store read handed to
    * [[CacheManager.fill]]. Planned in windows of at most Int.MaxValue
    * bytes, the planner's length type. */
  private def download(path: String, start: Long, end: Long, fileLen: Long,
      mtime: Long): Unit = {
    val bs = conf.blockSize
    var in: java.io.InputStream with PositionedReadable = null
    try {
      var pos = start
      while (pos < end) {
        val len = math.min(end - pos, Int.MaxValue.toLong).toInt
        val sb = BlockMath.startBlock(pos, bs)
        val status = manager.getCacheStatus(path, fileLen, mtime, sb,
          BlockMath.endBlock(pos, len, bs))
        ReadPlanner.plan(pos, len, fileLen, bs, conf.maxReadRequestSize,
          status, sb).foreach {
          case RemoteChain(rs) =>
            // open lazily: the delay window often lets foreground reads
            // cache everything, and a remote open is an object-store HEAD
            if (in == null) in = openRemote(path)
            val from = rs.head.backendStart
            val span = (rs.last.backendEnd - from).toInt
            // thread-confined pooled scratch (dedicated worker threads)
            val buf = CachingInputStream.scratchBuffer(span)
            in.readFully(from, buf, 0, span)
            manager.fill(path, fileLen, mtime, status.generation, from, buf, span)
          case _ =>
        }
        // the window's last block was planned whole: resume after it
        pos = BlockMath.alignUp(pos + len, bs)
      }
    } catch {
      case _: Exception => // warmup is best-effort; misses stay misses
    } finally if (in != null) in.close()
  }
}
