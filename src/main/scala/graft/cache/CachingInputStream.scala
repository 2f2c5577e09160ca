package graft.cache

import java.io.{EOFException, IOException, InterruptedIOException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import java.util.concurrent.TimeUnit
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileSystem}

/** Read plan node: a group of collated ranges served by one strategy
  * (the reference's ReadRequestChain family, rubix-core *RequestChain.java).
  */
sealed trait PlannedChain { def ranges: Vector[ReadRange] }
final case class CachedChain(ranges: Vector[ReadRange]) extends PlannedChain
final case class RemoteChain(ranges: Vector[ReadRange]) extends PlannedChain
/** Peer-cache read from the split owner's disk (NonLocalReadRequestChain). */
final case class NonLocalChain(owner: String, ranges: Vector[ReadRange]) extends PlannedChain

/** Pure read planning. [[plan]] routes a read's blocks to chains by cache
  * state; [[widen]] names the blocks a miss in a small file fetches
  * beyond the request. */
object ReadPlanner {

  /** Pure chain planner (port of CachingInputStream.setupReadRequestChains,
    * rubix-core CachingInputStream.java:315-500, single-node branches):
    * classify each block against cache state, emit block-aligned warmup
    * ranges for misses (affix over-read) and exact ranges for hits, then
    * collate adjacent ranges per strategy and chunk oversized ones.
    */
  def plan(pos: Long, len: Int, fileLen: Long, blockSize: Int,
      maxReadRequestSize: Int, status: CacheStatus,
      startBlock: Long): Seq[PlannedChain] = {
    val end = pos + len
    var cached = Vector.empty[ReadRange]
    var remote = Vector.empty[ReadRange]
    var nonLocal = Vector.empty[(String, ReadRange)]
    var b = startBlock
    val endBlock = BlockMath.endBlock(pos, len, blockSize)
    while (b < endBlock) {
      val bs = BlockMath.blockStart(b, blockSize)
      val be = BlockMath.blockEnd(b, blockSize, fileLen)
      val aStart = math.max(pos, bs)
      val aEnd = math.min(end, be)
      val dest = (aStart - pos).toInt
      status.blocks((b - startBlock).toInt) match {
        case BlockState.Cached =>
          cached :+= ReadRange(aStart, aEnd, aStart, aEnd, dest)
        case BlockState.NonLocal(owner) =>
          // exact range from the owner's cache; never warmed locally —
          // the owner's disk IS the cache for this split
          nonLocal :+= (owner -> ReadRange(aStart, aEnd, aStart, aEnd, dest))
        case _ =>
          // warmup: read the whole block (affix bytes beyond the request)
          remote :+= ReadRange(bs, be, aStart, aEnd, dest)
      }
      b += 1
    }
    val chains = Seq.newBuilder[PlannedChain]
    if (cached.nonEmpty)
      ReadRange.collate(cached).foreach(g => chains += CachedChain(g))
    if (remote.nonEmpty)
      ReadRange.collate(remote)
        .flatMap(g => splitGroup(g, maxReadRequestSize))
        .foreach(g => chains += RemoteChain(g))
    nonLocal.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (owner, rs) =>
      ReadRange.collate(rs.map(_._2))
        .foreach(g => chains += NonLocalChain(owner, g))
    }
    chains.result()
  }

  /** The blocks a miss fetches beyond the request's blocks
    * [`reqStart`, `reqEnd`), as block ranges with an empty caller window
    * (all of a block's bytes count as extra reads): every `Local` block of
    * a file no longer than `maxReadRequestSize`, none of a larger file.
    * `whole` is the status of every block of the file. A `Cached` block
    * is already on disk, and a `NonLocal` block is its owner's to cache. */
  def widen(fileLen: Long, blockSize: Int, maxReadRequestSize: Int,
      whole: IndexedSeq[BlockState], reqStart: Long, reqEnd: Long): Vector[ReadRange] =
    if (fileLen > maxReadRequestSize) Vector.empty
    else whole.indices.toVector.collect {
      case b if (b < reqStart || b >= reqEnd) && whole(b) == BlockState.Local =>
        val bs = BlockMath.blockStart(b, blockSize)
        ReadRange(bs, BlockMath.blockEnd(b, blockSize, fileLen), bs, bs, 0)
    }

  /** Re-chunk a collated group so no single backend read exceeds max
    * (ReadRequestChain.java:92-116): every store read of a miss is one
    * chunk. */
  private def splitGroup(g: Vector[ReadRange], maxSize: Int): Seq[Vector[ReadRange]] = {
    val out = Seq.newBuilder[Vector[ReadRange]]
    var cur = Vector.empty[ReadRange]
    var curLen = 0L
    for (r <- g) {
      if (cur.nonEmpty && curLen + r.backendLen > maxSize) {
        out += cur; cur = Vector.empty; curLen = 0
      }
      cur :+= r; curLen += r.backendLen
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }
}

/** Read-through caching stream over one remote file — the client half of
  * the reference (rubix-core CachingInputStream.java) re-expressed for
  * in-process use on Spark executors. Strategies:
  *
  *  - Cached: positioned FileChannel reads from the local generation file.
  *    An entry evicted or re-generated since planning is a plain miss,
  *    served from the store; a failed read of the live entry is
  *    corruption, which invalidates that generation and falls back to a
  *    direct read (CachedReadRequestChain.java:149-223 fallback lattice).
  *  - Remote (read-through fill): reads block-aligned spans from the
  *    source, one GET per collated group, returns the requested window,
  *    writes whole blocks into the sparse cache file and marks them cached
  *    (RemoteReadRequestChain.java:41-214 incl. affix accounting). A miss
  *    in a file no longer than `maxReadRequestSize` also fetches every
  *    uncached block of the file this node owns ([[ReadPlanner.widen]]),
  *    in the same GETs, so a later read elsewhere in it is a hit: a
  *    parquet footer read and the column-chunk read after it pay one GET,
  *    not two.
  *  - Direct: pass-through, used for dummy mode and fallbacks
  *    (DirectReadRequestChain.java).
  *
  * Read policy comes from `conf`, the caching file system's own; the
  * block size is the manager's, which fixes the layout.
  *
  * Bytes served from the local cache or a peer count as bytes read in
  * `stats`, the caching file system's statistics, which Spark sums into
  * task input metrics. Store reads are counted by the inner client under
  * its own scheme, so no byte counts twice.
  */
final class CachingInputStream(
    openRemote: () => FSDataInputStream,
    val path: String,
    fileLen: Long,
    mtime: Long,
    manager: CacheManager,
    conf: CacheConfig,
    stats: FileSystem.Statistics = null) extends FSInputStream
    with org.apache.hadoop.fs.StreamCapabilities {

  /** Advertise vectored-read support so capability probes (parquet's
    * VectorIoBridge checks `in:readvectored` before handing over the
    * column-chunk ranges) route through [[readVectored]] instead of the
    * seek+read fallback. */
  override def hasCapability(capability: String): Boolean =
    org.apache.hadoop.fs.StreamCapabilities.VECTOREDIO
      .equalsIgnoreCase(capability)

  private val blockSize = manager.blockSize
  private var pos: Long = 0L
  private var closed = false
  @volatile private var remoteStream: FSDataInputStream = _

  private def remote: FSDataInputStream = {
    if (remoteStream == null) synchronized {
      if (remoteStream == null) remoteStream = openRemote()
    }
    remoteStream
  }

  // ---- FSInputStream contract ----
  override def seek(newPos: Long): Unit = {
    if (newPos < 0 || newPos > fileLen)
      throw new EOFException(s"seek $newPos out of [0,$fileLen] for $path")
    pos = newPos
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n <= 0) -1 else one(0) & 0xff
  }

  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (closed) throw new IOException(s"stream closed: $path")
    if (off < 0 || len < 0 || off + len > buf.length)
      throw new IndexOutOfBoundsException(
        s"read(off=$off, len=$len) into buf[${buf.length}]")
    if (len == 0) return 0
    if (pos >= fileLen) return -1
    val n = math.min(len.toLong, fileLen - pos).toInt
    readInternal(pos, buf, off, n)
    pos += n
    n
  }

  override def available(): Int =
    math.min(Int.MaxValue.toLong, fileLen - pos).toInt

  // ---- positioned + vectored reads (the Hadoop 3.3+ cloud-IO API the
  // reference predates). readInternal is stateless w.r.t. the stream
  // cursor, so positioned reads skip FSInputStream's default
  // synchronized(seek; read; seek-back) dance entirely — concurrent
  // positioned readers on one handle never contend, and the footer+
  // column-chunk pattern of a parquet reader stays lock-free. ----
  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int = {
    if (closed) throw new IOException(s"stream closed: $path")
    if (offset < 0 || length < 0 || offset + length > buffer.length)
      throw new IndexOutOfBoundsException(
        s"read(pos=$position, off=$offset, len=$length) into buf[${buffer.length}]")
    if (position < 0) throw new EOFException(s"negative position $position")
    if (length == 0) return 0
    if (position >= fileLen) return -1
    val n = math.min(length.toLong, fileLen - position).toInt
    readInternal(position, buffer, offset, n)
    n
  }

  /** Vectored read: every range runs through the SAME chain planner as a
    * sequential read (cached blocks from disk, misses read-through +
    * warmed), so a vectored-IO parquet reader gets cache semantics for
    * free. Ranges fill inline, in order, before this returns; a failed
    * range fails only its own future. */
  override def readVectored(
      ranges: java.util.List[_ <: org.apache.hadoop.fs.FileRange],
      allocate: java.util.function.IntFunction[java.nio.ByteBuffer]): Unit = {
    import scala.jdk.CollectionConverters._
    if (closed) throw new IOException(s"stream closed: $path")
    val rs = ranges.asScala.toVector
    rs.foreach { r =>
      if (r.getOffset < 0 || r.getLength < 0 ||
          r.getOffset + r.getLength > fileLen)
        throw new EOFException(
          s"vectored range [${r.getOffset}, +${r.getLength}) outside [0,$fileLen) for $path")
    }
    manager.metrics.vectoredRanges.addAndGet(rs.size.toLong)
    rs.foreach { r =>
      val f = new java.util.concurrent.CompletableFuture[java.nio.ByteBuffer]()
      r.setData(f)
      try {
        val len = r.getLength
        val bb = allocate.apply(len)
        if (bb.hasArray) {
          readInternal(r.getOffset, bb.array(), bb.arrayOffset(), len)
          bb.limit(len); bb.position(0)
        } else {
          val tmp = new Array[Byte](len)
          readInternal(r.getOffset, tmp, 0, len)
          bb.put(tmp); bb.flip()
        }
        f.complete(bb)
      } catch { case e: Throwable => f.completeExceptionally(e) }
    }
  }

  override def close(): Unit = {
    closed = true
    if (remoteStream != null) remoteStream.close()
    super.close()
  }

  // ---- core ----
  private def readInternal(at: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    val sb = BlockMath.startBlock(at, blockSize)
    val eb = BlockMath.endBlock(at, len, blockSize)
    if (conf.dummyMode) {
      // shadow mode: account the cache state a real read leaves (a miss
      // in a small file fills the whole file), store nothing
      val st = manager.getCacheStatus(path, fileLen, mtime, sb, eb)
      val whole = fileLen <= conf.maxReadRequestSize &&
        st.blocks.exists(_ != BlockState.Cached)
      manager.setAllCached(path, fileLen, mtime, st.generation,
        if (whole) 0L else sb,
        if (whole) BlockMath.blockCount(fileLen, blockSize) else eb)
      readFullyRemote(at, buf, off, len)
      return
    }
    val status =
      try manager.getCacheStatus(path, fileLen, mtime, sb, eb)
      catch {
        case NonFatal(e) if !conf.strict =>
          FallbackLog.warn("status", path,
            manager.metadataFor(path).fold(-1)(_.generation), e)
          readFullyRemote(at, buf, off, len); return
      }
    val chains = ReadPlanner.plan(at, len, fileLen, blockSize,
      conf.maxReadRequestSize, status, sb)
    chains.foreach {
      case NonLocalChain(owner, rs) =>
        executeNonLocal(owner, rs, buf, off, status.generation)
      case CachedChain(rs) => executeCached(rs, buf, off, status.generation)
      case RemoteChain(_) =>
    }
    val misses = chains.collect { case RemoteChain(rs) => rs }
    // a small file's misses take its other uncached blocks along; the
    // file fits the cap, so each contiguous run of blocks is one GET
    val groups =
      if (misses.isEmpty || fileLen > conf.maxReadRequestSize) misses
      else ReadRange.collate((misses.flatten ++
        widened(sb, eb, status.generation)).sortBy(_.backendStart))
    groups.foreach(executeRemote(_, buf, off, status.generation))
  }

  /** [[ReadPlanner.widen]] over the whole file's status, looked up
    * without counting requests: `cache.hit_ratio` counts requested blocks
    * only. Nothing when the file changed generation since `generation`. */
  private def widened(sb: Long, eb: Long, generation: Int): Vector[ReadRange] = {
    val whole = manager.getCacheStatus(path, fileLen, mtime, 0,
      BlockMath.blockCount(fileLen, blockSize), counted = false)
    if (whole.generation != generation) Vector.empty
    else ReadPlanner.widen(fileLen, blockSize, conf.maxReadRequestSize,
      whole.blocks, sb, eb)
  }

  /** Serve a COLLATED group's user windows with ONE source read: ranges
    * in a collated group are contiguous by construction
    * (ReadRange.collate merges on adjacency), so per-range reads would
    * multiply object-store round-trips by the block count. */
  private def readGroupRemote(rs: Vector[ReadRange], buf: Array[Byte],
      bufOff: Int): Unit = {
    if (rs.isEmpty) return
    val start = rs.head.actualStart
    val span = (rs.last.actualEnd - start).toInt
    readFullyRemote(start, buf, bufOff + rs.head.destOffset, span)
  }

  private def readFullyRemote(at: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    if (len <= 0) return
    remote.readFully(at, buf, off, len)
    manager.metrics.bytesFromRemote.addAndGet(len.toLong)
  }

  /** Serve a cached group from the data file of `generation`, the entry
    * the plan saw. Between the plan and this read, eviction or
    * invalidation can retire that entry, and a concurrent miss re-create
    * the path as a fresh sparse file, whose holes read as zeros. So the
    * read is optimistic: the entry must still be `generation` and its
    * bitmap cover every block before the read (no wasted IO) and after
    * it (no deletion began meanwhile; [[FileMetadata.deleteFiles]] marks
    * the entry deleted under its lock before unlinking). An entry that
    * fails either check is gone, a plain miss served from the store. A
    * read that fails on the live entry is corruption: that generation is
    * invalidated and the group re-served from the store. */
  private def executeCached(rs: Vector[ReadRange], buf: Array[Byte],
      bufOff: Int, generation: Int): Unit = {
    val m = manager.metadataFor(path).orNull
    def live: Boolean = m != null && m.generation == generation &&
      rs.forall { r =>
        m.allCached(BlockMath.startBlock(r.actualStart, blockSize),
          BlockMath.endBlock(r.actualStart, r.actualLen, blockSize))
      }
    if (!live) return readGroupRemote(rs, buf, bufOff)
    try {
      val ch = FileChannel.open(m.dataFile.toPath, StandardOpenOption.READ)
      try {
        rs.foreach { r =>
          val bb = ByteBuffer.wrap(buf, bufOff + r.destOffset, r.actualLen)
          var p = r.actualStart
          while (bb.hasRemaining) {
            val n = ch.read(bb, p)
            if (n < 0) throw new EOFException(
              s"cached file truncated at $p (${m.dataFile.getPath})")
            p += n
          }
        }
      } finally ch.close()
    } catch {
      case e: Exception if live =>
        manager.metrics.corruptionFallbacks.incrementAndGet()
        manager.invalidate(path, generation)
        if (conf.strict) throw e
        FallbackLog.warn("cache-read", path, generation, e)
        return readGroupRemote(rs, buf, bufOff)
      case _: Exception => return readGroupRemote(rs, buf, bufOff)
    }
    if (!live) return readGroupRemote(rs, buf, bufOff)
    val n = rs.map(_.actualLen.toLong).sum
    manager.metrics.bytesFromCache.addAndGet(n)
    if (stats != null) stats.incrementBytesRead(n)
  }

  /** Peer-cache read (NonLocalReadRequestChain.java:107-146): one socket
    * round-trip to the owner's address (its node id) for the collated
    * contiguous span, straight into the user buffer. Never warms the local
    * cache — the owner's disk is the cache for this split. Any failure
    * (nothing listening at the owner's address, refused status, socket
    * error) falls back to a direct remote read; strict mode throws
    * (NonLocalReadRequestChain.java:147-157 fallback lattice). A refusal
    * asks nothing of the owner: the owner's cache fills from its own
    * read-through misses. */
  private def executeNonLocal(owner: String, rs: Vector[ReadRange],
      buf: Array[Byte], bufOff: Int, generation: Int): Unit = {
    val start = rs.head.actualStart
    val span = (rs.last.actualEnd - start).toInt
    val dest = bufOff + rs.head.destOffset
    try {
      PeerTransferClient.read(PeerTransfer.address(owner), path, start, span,
        fileLen, mtime, buf, dest)
      manager.metrics.bytesFromPeers.addAndGet(span.toLong)
      if (stats != null) stats.incrementBytesRead(span.toLong)
    } catch {
      case e: Exception =>
        manager.metrics.peerFallbacks.incrementAndGet()
        if (conf.strict) throw e
        FallbackLog.warn("peer", path, generation, e)
        readGroupRemote(rs, buf, bufOff)
    }
  }

  /** One collated group = one contiguous GET, timed in `remoteFetch`.
    * A failed GET of a group of widened blocks only (empty caller
    * windows) leaves them misses; strict mode throws. */
  private def executeRemote(rs: Vector[ReadRange], buf: Array[Byte],
      bufOff: Int, generation: Int): Unit = {
    val backendStart = rs.head.backendStart
    val span = (rs.last.backendEnd - backendStart).toInt
    val scratch = CachingInputStream.scratchBuffer(span)
    val t0 = System.nanoTime()
    try readFullyRemote(backendStart, scratch, 0, span)
    catch {
      case e: InterruptedIOException => throw e
      case NonFatal(e) if !conf.strict && rs.forall(_.actualLen == 0) =>
        FallbackLog.warn("fill", path, generation, e); return
    }
    manager.metrics.remoteFetch.update(System.nanoTime() - t0, TimeUnit.NANOSECONDS)
    // hand the caller their windows
    rs.foreach { r =>
      System.arraycopy(scratch, (r.actualStart - backendStart).toInt,
        buf, bufOff + r.destOffset, r.actualLen)
      manager.metrics.extraReadBytes.addAndGet(r.extraBytes)
    }
    try manager.fill(path, fileLen, mtime, generation, backendStart, scratch, span)
    catch {
      case NonFatal(e) if !conf.strict => // the miss persists
        FallbackLog.warn("fill", path, generation, e)
    }
  }
}

object CachingInputStream {

  /** Per-thread reusable scratch for read-through spans (the reference
    * pools direct buffers for the same reason — per-read allocation churns
    * GC at high read concurrency, CachedReadRequestChain.java:109-134).
    * Spans are bounded by maxReadRequestSize; a SoftReference lets the GC
    * reclaim idle buffers under pressure. Thread-confined: a span is
    * read and filled on the reader's thread. */
  private val scratchRef = new ThreadLocal[java.lang.ref.SoftReference[Array[Byte]]]

  private def scratchBuffer(span: Int): Array[Byte] = {
    val ref = scratchRef.get()
    val cur = if (ref == null) null else ref.get()
    if (cur != null && cur.length >= span) cur
    else {
      val fresh = new Array[Byte](span)
      scratchRef.set(new java.lang.ref.SoftReference(fresh))
      fresh
    }
  }
}
