package graft.cache

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import com.google.common.cache.{CacheBuilder, RemovalListener, RemovalNotification, Weigher, Cache => GCache}

/** Block-location state for one block of one file (reference thrift enum
  * Location, bookkeeper.thrift:6-10). NON_LOCAL is reserved for the
  * locality layer (another executor owns the split). */
sealed trait BlockState
object BlockState {
  case object Cached extends BlockState
  case object Local extends BlockState
  final case class NonLocal(owner: String) extends BlockState
}

final case class CacheStatus(generation: Int, blocks: IndexedSeq[BlockState])

/** Executor-singleton cache metadata service — the reference's BookKeeper
  * daemon (rubix-bookkeeper BookKeeper.java) collapsed into an in-process
  * object, which the reference itself supports as "embedded mode"
  * (CachingFileSystem.setLocalBookKeeper:192-201). Spark-native design:
  * one instance per executor JVM; no Thrift, callers are the task threads.
  *
  * Responsibilities: getCacheStatus / setAllCached / invalidate, generation
  * numbers, weighted LRU eviction with on-disk file deletion
  * (BookKeeper.java:629-746 semantics via Guava's weighted cache).
  */
final class CacheManager(val conf: CacheConfig,
    usableDiskBytes: Long = -1L) {
  val metrics = new CacheMetrics

  /** Effective cache budget in KB: min(95% × usable disk × fullness%,
    * explicit maxSizeMB); 0 = unbounded. Computed once at startup against
    * the cache volume (reference BookKeeper.java:656-670); tests inject
    * `usableDiskBytes` to simulate a small volume. */
  val budgetKB: Long = CacheManager.effectiveBudgetKB(conf,
    if (usableDiskBytes >= 0) usableDiskBytes
    else CacheManager.diskUsableBytes(conf.cacheDir))

  /** Optional split-ownership resolver (locality ring). When set, uncached
    * blocks of splits owned by another node classify as NonLocal(owner) so
    * reads can try that peer's disk cache before the remote store. */
  @volatile var ownership: Option[SplitOwnership] = None

  /** Current generation per path; survives metadata eviction. Seeded from
    * disk layout on first touch (findGenerationNumber semantics). */
  private val generations = new ConcurrentHashMap[String, Integer]()

  private val removal = new RemovalListener[String, FileMetadata] {
    override def onRemoval(n: RemovalNotification[String, FileMetadata]): Unit = {
      // REPLACED fires on the re-put we use to refresh weights — the entry
      // is still live, never delete its files then.
      if (n.getCause == com.google.common.cache.RemovalCause.REPLACED) return
      if (n.wasEvicted()) metrics.evictions.incrementAndGet()
      val old = n.getValue
      if (old == null) return
      // Serialized with metadata() construction (r14 stress-gate find):
      // Guava runs this listener AFTER the map removal, outside segment
      // locks — a reload racing into that window used to construct a new
      // instance at the SAME generation, restore the old mdfile's bitmap,
      // and then lose its files to this very deletion; a later warm
      // re-created the sparse data file and cached reads served ZEROS
      // that passed the covers re-validation (StressGateSpec byte
      // mismatch). Under the manager lock: bump the generation first so
      // any later reload starts COLD at gen+1 (the evictor's decision
      // sticks; cross-JVM warm restore is untouched — a fresh JVM seeds
      // generations from the disk layout), retire any same-generation
      // racer that already slipped in, then delete the files.
      CacheManager.this.synchronized {
        if (n.wasEvicted())
          generations.compute(n.getKey, (_, g) =>
            Integer.valueOf(if (g == null) 2 else g.intValue + 1))
        val cur = registry.getIfPresent(n.getKey)
        if (cur != null && !(cur eq old) && cur.generation == old.generation
          && !cur.isDeleted) {
          cur.deleteFiles()
          registry.invalidate(n.getKey)
        }
        // Invalidation already deleted files; eviction must delete here.
        if (!old.isDeleted) old.deleteFiles()
      }
    }
  }

  private[cache] val registry: GCache[String, FileMetadata] = {
    val b = CacheBuilder.newBuilder().removalListener(removal)
    (if (budgetKB > 0)
      b.weigher(new Weigher[String, FileMetadata] {
          override def weigh(k: String, v: FileMetadata): Int = v.weightKB
        }).maximumWeight(budgetKB)
     else b)
      .build[String, FileMetadata]()
  }

  private def currentGeneration(path: String): Int =
    generations.computeIfAbsent(path,
      p => Integer.valueOf(
        math.max(1, CacheFileLayout.findLatestGeneration(conf.cacheDir, p)))).intValue

  private def metadata(path: String, fileLen: Long, mtime: Long): FileMetadata = {
    val gen = currentGeneration(path)
    val existing = registry.getIfPresent(path)
    if (existing != null && existing.generation == gen &&
      existing.matches(fileLen, mtime) && !existing.isDeleted) {
      existing
    } else {
      if (existing != null && !existing.matches(fileLen, mtime)) {
        // remote file changed underneath us -> invalidate + new generation
        invalidate(path)
      }
      this.synchronized {
        // Drain pending removal notifications FIRST (r14 stress-gate
        // find): an eviction's map-removal precedes its listener, so a
        // miss observed here can mean "evicted, deletion pending". The
        // drain runs those listeners on THIS thread under the manager
        // lock (re-entrant), so the generation bump and file deletion
        // happen-before the construction below — the new instance can
        // never restore a bitmap whose files a pending eviction is about
        // to unlink.
        registry.cleanUp()
        // re-run the SAME mismatch check under the lock: two racing opens
        // that both saw a stale entry must not install metadata objects
        // with different fileLen/mtime for one generation (they would
        // share a data file and mix bytes of two file versions)
        val racer = registry.getIfPresent(path)
        if (racer != null && !racer.isDeleted && !racer.matches(fileLen, mtime)) {
          invalidate(path)
        }
        val gen2 = currentGeneration(path)
        val again = registry.getIfPresent(path)
        if (again != null && again.generation == gen2 && !again.isDeleted &&
          again.matches(fileLen, mtime)) again
        else {
          val m = new FileMetadata(path, fileLen, mtime, gen2, conf)
          registry.put(path, m)
          m
        }
      }
    }
  }

  /** Per-block cache state for [startBlock, endBlock) of `path`
    * (BookKeeper.getCacheStatus:249-353; single-node: every block is
    * either Cached or Local). Each block counts as one cached, non-local
    * or remote request unless `counted` is false. */
  def getCacheStatus(path: String, fileLen: Long, mtime: Long,
      startBlock: Long, endBlock: Long, counted: Boolean = true): CacheStatus = {
    val m = metadata(path, fileLen, mtime)
    val own = ownership
    def count(c: metrics.Counter): Unit = if (counted) c.incrementAndGet()
    val states = (startBlock until endBlock).map { b =>
      if (m.isBlockCached(b)) { count(metrics.cachedRequests); BlockState.Cached: BlockState }
      else own.flatMap(o =>
        o.resolve(path, BlockMath.blockStart(b, conf.blockSize))
          .filter(_ != o.selfNode)) match {
        case Some(owner) =>
          count(metrics.nonlocalRequests)
          BlockState.NonLocal(owner): BlockState
        case None =>
          count(metrics.remoteRequests); BlockState.Local: BlockState
      }
    }
    CacheStatus(m.generation, states.toIndexedSeq)
  }

  /** Mark blocks cached after a successful warmup write; generation-guarded
    * (BookKeeper.setAllCached:414-453). Re-puts to refresh Guava weight. */
  def setAllCached(path: String, fileLen: Long, mtime: Long, generation: Int,
      startBlock: Long, endBlock: Long): Boolean = {
    val m = registry.getIfPresent(path)
    if (m == null || m.isDeleted || m.generation != generation ||
      !m.matches(fileLen, mtime)) return false
    val newly = m.setBlocksCached(startBlock, endBlock)
    if (newly > 0) registry.put(path, m) // re-weigh
    true
  }

  /** The block-fill protocol of read-through
    * (RemoteReadRequestChain.copyIntoCache + updateCacheStatus), the one
    * way a miss reaches the cache: write the first `len` bytes of `data`,
    * read from the store at block-aligned `start`, into the sparse file of
    * `generation`, then mark those blocks cached. Does nothing once that
    * generation is retired. An entry retired between the guard and the
    * write (eviction/invalidation) is a lost warm, never an error; any
    * other failure throws only in strict mode, since the caller's bytes
    * already came from the store, and is otherwise logged. Every call is
    * timed in `cacheFill`. */
  def fill(path: String, fileLen: Long, mtime: Long, generation: Int,
      start: Long, data: Array[Byte], len: Int): Unit = {
    val t0 = System.nanoTime()
    try {
      val m = registry.getIfPresent(path)
      if (m != null && m.generation == generation && !m.isDeleted) {
        val ch = FileChannel.open(m.ensureDataFile().toPath, StandardOpenOption.WRITE)
        try {
          // bound the wrap: a pooled scratch may be longer than len
          val bb = ByteBuffer.wrap(data, 0, len)
          while (bb.hasRemaining) ch.write(bb, start + bb.position())
        } finally ch.close()
        setAllCached(path, fileLen, mtime, generation,
          BlockMath.startBlock(start, conf.blockSize),
          BlockMath.endBlock(start, len.toLong, conf.blockSize))
        metrics.warmupBytes.addAndGet(len.toLong)
      }
    } catch {
      case _: Exception if metadataFor(path)
          .forall(x => x.isDeleted || x.generation != generation) => // lost warm
      case e: Exception if !conf.strict => // cache miss persists
        FallbackLog.warn("fill", path, generation, e)
    } finally metrics.cacheFill.update(System.nanoTime() - t0, TimeUnit.NANOSECONDS)
  }

  /** Drop metadata + delete cache files + bump generation
    * (BookKeeper.invalidateFileMetadata:749-756). Serialized with
    * metadata() construction so a concurrent reload can never restore a
    * bitmap mid-deletion (same hazard class as the eviction listener). */
  def invalidate(path: String): Unit = this.synchronized {
    metrics.invalidations.incrementAndGet()
    val m = registry.getIfPresent(path)
    if (m != null) {
      m.deleteFiles()
      registry.invalidate(path)
    } else {
      CacheFileLayout.deleteGenerations(conf.cacheDir, path,
        currentGeneration(path))
    }
    generations.compute(path, (_, g) =>
      Integer.valueOf(if (g == null) 2 else g.intValue + 1))
  }

  /** [[invalidate]] every cached path under directory prefix `dir`
    * (ends in `/`): a directory deleted or renamed away takes its
    * children's cached blocks with it. */
  def invalidateUnder(dir: String): Unit = {
    val under = new java.util.ArrayList[String]()
    registry.asMap.keySet.forEach(k => if (k.startsWith(dir)) under.add(k))
    under.forEach(k => invalidate(k))
  }

  def metadataFor(path: String): Option[FileMetadata] =
    Option(registry.getIfPresent(path))

  /** Total cached weight in KB (eviction accounting check). */
  def totalWeightKB: Long = {
    var w = 0L
    registry.asMap().values().forEach(m => w += m.weightKB)
    w
  }

  /** Run pending cache maintenance (size enforcement): the weigher
    * evicts on write paths, and guava may defer the sweep — budget
    * assertions (DiskBudgetSpec, the c14 gate) call this first. */
  def maintain(): Unit = registry.cleanUp()

  def clear(): Unit = {
    registry.invalidateAll()
    registry.cleanUp()
    generations.clear()
  }
}

/** JVM-wide singleton access (one per executor). */
object CacheManager {
  @volatile private var instance: CacheManager = _

  /** Usable bytes on the volume holding `dir` (created if absent). */
  def diskUsableBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    f.mkdirs()
    f.getUsableSpace
  }

  /** Reference cache sizing (BookKeeper.java:656-670): the budget is
    * min(95% of the volume's usable space × fullness%, explicit maxMB),
    * in KB (the Guava weigher unit); 0 = unbounded (neither knob set). */
  def effectiveBudgetKB(conf: CacheConfig, usableBytes: Long): Long = {
    val explicitKB =
      if (conf.maxSizeMB > 0) conf.maxSizeMB * 1024 else Long.MaxValue
    val diskKB =
      if (conf.diskFullnessPercentage > 0)
        (usableBytes * 0.95 * conf.diskFullnessPercentage / 100.0).toLong / 1024
      else Long.MaxValue
    val m = math.min(explicitKB, diskKB)
    if (m == Long.MaxValue) 0L else m
  }

  def getOrInit(conf: CacheConfig): CacheManager = {
    val cur = instance
    if (cur != null && cur.conf == conf) cur
    else this.synchronized {
      if (instance == null || instance.conf != conf)
        instance = new CacheManager(conf)
      instance
    }
  }

  def current: Option[CacheManager] = Option(instance)

  private[graft] def resetForTest(): Unit = this.synchronized {
    if (instance != null) instance.clear()
    instance = null
  }
}
