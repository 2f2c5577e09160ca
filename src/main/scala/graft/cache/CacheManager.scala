package graft.cache

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

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
  * one instance per cache directory list per executor JVM
  * ([[CacheManager.getOrInit]]); no Thrift, callers are the task threads.
  *
  * Responsibilities: getCacheStatus / setAllCached / invalidate, generation
  * numbers, and a weighted LRU of whole files whose eviction deletes the
  * evicted file's cache files (BookKeeper.java:629-746). It keeps `conf`'s
  * layout only (directories, block size, budget); read policy is the
  * caller's ([[CachingInputStream]]).
  *
  * Locking: the LRU, its weight sum and every generation bump are guarded
  * by this manager's lock. A [[FileMetadata]] lock may be taken inside it,
  * never the reverse. Disk writes (a fill's data write, the mdfile
  * persist) run outside it; file deletion runs inside it.
  */
final class CacheManager(conf: CacheConfig, usableDiskBytes: Long = -1L) {
  val metrics = new CacheMetrics

  /** Bytes per block of every cache file and bitmap of this manager. */
  val blockSize: Int = conf.blockSize

  /** The configured directories resolved to the ones this JVM owns
    * ([[CacheDirOwner]]): every cache file of this manager lives there. */
  val cacheDir: String = CacheDirOwner.claim(conf.cacheDir)

  /** Effective cache budget in KB: min(95% × usable disk × fullness%,
    * explicit maxSizeMB); 0 = unbounded. Computed once at startup against
    * the cache volumes (reference BookKeeper.java:656-670); tests inject
    * `usableDiskBytes` to simulate a small volume. */
  val budgetKB: Long = CacheManager.effectiveBudgetKB(conf,
    if (usableDiskBytes >= 0) usableDiskBytes
    else CacheManager.diskUsableBytes(cacheDir))

  /** The layout keys this manager was built with. */
  private val layout = CacheManager.layoutOf(conf)

  /** This manager's metrics, registered with the JVM's Spark
    * MetricsSystem on first use when one is running (once per manager). */
  private[cache] lazy val metricsSource: Option[CacheMetricsSource] =
    Some(new CacheMetricsSource(this)).filter(s =>
      org.apache.spark.graft.MetricsBridge.register(s.sourceName, s.metricRegistry))

  /** Optional split-ownership resolver (locality ring), set by
    * [[GraftPlugin]] on a cluster. When set, uncached blocks of splits
    * owned by another node classify as NonLocal(owner) so reads can try
    * that peer's disk cache before the remote store. */
  @volatile var ownership: Option[SplitOwnership] = None

  /** Current generation per path; survives metadata eviction. Seeded from
    * disk layout on first touch (findGenerationNumber semantics). */
  private val generations = new ConcurrentHashMap[String, Integer]()

  /** Cached files in access order, least recently used first, each with
    * the weight it was last charged. */
  private val lru =
    new java.util.LinkedHashMap[String, CacheManager.Entry](16, 0.75f, true)
  /** Sum of the charged weights in `lru`, in KB. */
  private var chargedKB = 0L

  private def currentGeneration(path: String): Int =
    generations.computeIfAbsent(path,
      p => Integer.valueOf(
        math.max(1, CacheFileLayout.findLatestGeneration(cacheDir, p)))).intValue

  private def bumpGeneration(path: String): Unit =
    generations.compute(path, (_, g) =>
      Integer.valueOf(if (g == null) 2 else g.intValue + 1))

  /** Charge `m`, if it is still `lru`'s entry for its path, its current
    * weight and make it the most recently used; then evict
    * least-recently-used files, `m` last, until the budget holds. A file
    * heavier than the whole budget is evicted alone, so it cannot flush
    * the rest of the cache. */
  private def charge(m: FileMetadata): Unit = this.synchronized {
    val e = lru.get(m.remotePath)
    if (e != null && (e.meta eq m)) {
      val kb = m.weightKB.toLong
      chargedKB += kb - e.kb
      e.kb = kb
      if (budgetKB > 0) {
        if (kb > budgetKB) evict(e)
        while (chargedKB > budgetKB) evict(lru.values.iterator.next())
      }
    }
  }

  /** Drop `victim` from the LRU, bump its path's generation and delete
    * its files before the lock is released, so no reload of that path
    * can adopt the evicted bitmap: it starts cold at the next
    * generation. */
  private def evict(victim: CacheManager.Entry): Unit = {
    lru.remove(victim.meta.remotePath)
    chargedKB -= victim.kb
    bumpGeneration(victim.meta.remotePath)
    metrics.evictions.incrementAndGet()
    victim.meta.deleteFiles()
  }

  /** The entry of `path` that describes the remote version (`fileLen`,
    * `mtime`), created at the current generation when there is none. A
    * stale entry (the remote file changed underneath us) is invalidated
    * first, so two versions never share one generation's data file. */
  private def metadata(path: String, fileLen: Long, mtime: Long): FileMetadata =
    this.synchronized {
      val cur = lru.get(path)
      if (cur != null && cur.meta.matches(fileLen, mtime)) cur.meta
      else {
        if (cur != null) invalidate(path)
        val m = new FileMetadata(path, fileLen, mtime, currentGeneration(path),
          blockSize, cacheDir)
        lru.put(path, new CacheManager.Entry(m))
        charge(m)
        m
      }
    }

  /** Per-block cache state for [startBlock, endBlock) of `path`
    * (BookKeeper.getCacheStatus:249-353): Cached when on disk here, else
    * NonLocal(owner) when [[ownership]] names another node as the owner of
    * the block's split, else Local. Each block counts as one cached,
    * non-local or remote request unless `counted` is false. */
  def getCacheStatus(path: String, fileLen: Long, mtime: Long,
      startBlock: Long, endBlock: Long, counted: Boolean = true): CacheStatus = {
    val m = metadata(path, fileLen, mtime)
    val own = ownership
    def count(c: metrics.Counter): Unit = if (counted) c.incrementAndGet()
    val states = (startBlock until endBlock).map { b =>
      if (m.isBlockCached(b)) { count(metrics.cachedRequests); BlockState.Cached: BlockState }
      else own.flatMap(o =>
        o.resolve(path, BlockMath.blockStart(b, blockSize))
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

  /** Mark blocks cached after a successful fill write; generation-guarded
    * (BookKeeper.setAllCached:414-453). The mdfile persist runs outside
    * the manager lock; the entry is then charged its new weight. */
  def setAllCached(path: String, fileLen: Long, mtime: Long, generation: Int,
      startBlock: Long, endBlock: Long): Boolean = {
    val m = metadataFor(path).orNull
    if (m == null || m.isDeleted || m.generation != generation ||
      !m.matches(fileLen, mtime)) return false
    if (m.setBlocksCached(startBlock, endBlock) > 0) charge(m)
    true
  }
  /** The block-fill protocol of read-through
    * (RemoteReadRequestChain.copyIntoCache + updateCacheStatus), the one
    * way a miss reaches the cache: write the first `len` bytes of `data`,
    * read from the store at block-aligned `start`, into the sparse file of
    * `generation`, then mark those blocks cached. Does nothing once that
    * generation is retired. An entry retired between the guard and the
    * write (eviction/invalidation) is a lost warm, never an error; any
    * other failure is thrown, and the caller, whose bytes already came
    * from the store, decides whether it matters. Every call is timed in
    * `cacheFill`. */
  def fill(path: String, fileLen: Long, mtime: Long, generation: Int,
      start: Long, data: Array[Byte], len: Int): Unit = {
    val t0 = System.nanoTime()
    try {
      val m = metadataFor(path).orNull
      if (m != null && m.generation == generation && !m.isDeleted) {
        val ch = FileChannel.open(m.ensureDataFile().toPath, StandardOpenOption.WRITE)
        try {
          // bound the wrap: a pooled scratch may be longer than len
          val bb = ByteBuffer.wrap(data, 0, len)
          while (bb.hasRemaining) ch.write(bb, start + bb.position())
        } finally ch.close()
        setAllCached(path, fileLen, mtime, generation,
          BlockMath.startBlock(start, blockSize),
          BlockMath.endBlock(start, len.toLong, blockSize))
        metrics.warmupBytes.addAndGet(len.toLong)
      }
    } catch {
      case _: Exception if metadataFor(path)
          .forall(x => x.isDeleted || x.generation != generation) => // lost warm
    } finally metrics.cacheFill.update(System.nanoTime() - t0, TimeUnit.NANOSECONDS)
  }

  /** Drop metadata + delete cache files + bump generation
    * (BookKeeper.invalidateFileMetadata:749-756), under the manager lock
    * so a concurrent reload can never restore a bitmap mid-deletion. */
  def invalidate(path: String): Unit = this.synchronized {
    metrics.invalidations.incrementAndGet()
    val e = lru.remove(path)
    if (e != null) {
      chargedKB -= e.kb
      e.meta.deleteFiles()
    } else {
      CacheFileLayout.deleteGenerations(cacheDir, path,
        currentGeneration(path))
    }
    bumpGeneration(path)
  }

  /** [[invalidate]] `path` while `generation` is still its current one; a
    * path that has moved on (evicted, invalidated or reloaded since) is
    * left alone, so a reader that found one generation's files unreadable
    * never deletes the entry another reader re-created after it. */
  def invalidate(path: String, generation: Int): Unit = this.synchronized {
    if (currentGeneration(path) == generation) invalidate(path)
  }

  /** [[invalidate]] every cached path under directory prefix `dir`
    * (ends in `/`): a directory deleted or renamed away takes its
    * children's cached blocks with it. */
  def invalidateUnder(dir: String): Unit = this.synchronized {
    val under = new java.util.ArrayList[String]()
    lru.keySet.forEach(k => if (k.startsWith(dir)) under.add(k))
    under.forEach(k => invalidate(k))
  }

  /** The cached entry of `path`, if any; a lookup counts as a use. */
  def metadataFor(path: String): Option[FileMetadata] =
    this.synchronized(Option(lru.get(path)).map(_.meta))

  /** Total cached weight in KB, as last charged. */
  def totalWeightKB: Long = this.synchronized(chargedKB)

  def clear(): Unit = this.synchronized {
    lru.values.forEach(_.meta.deleteFiles())
    lru.clear()
    chargedKB = 0L
    generations.clear()
  }
}

/** JVM-wide access: one manager per cache directory list. */
object CacheManager {
  /** canonical configured directory list -> its manager */
  private val managers = new ConcurrentHashMap[String, CacheManager]()
  @volatile private var last: CacheManager = _
  /** layout mismatches already logged */
  private val warned = ConcurrentHashMap.newKeySet[String]()

  /** An LRU entry: a file's metadata and the weight it was last charged. */
  private final class Entry(val meta: FileMetadata) { var kb = 0L }

  /** `key=value` of each layout key but the directories (the map key). */
  private def layoutOf(conf: CacheConfig): Set[String] = Set(
    s"${CacheConfig.BlockSizeKey}=${conf.blockSize}",
    s"${CacheConfig.MaxSizeKey}=${conf.maxSizeMB}",
    s"${CacheConfig.DiskFullnessKey}=${conf.diskFullnessPercentage}")

  /** Usable bytes of the volumes holding the configured cache
    * directories (each created if absent), each volume counted once. */
  def diskUsableBytes(cacheDir: String): Long =
    CacheConfig.dirs(cacheDir).map { d =>
      val p = java.nio.file.Paths.get(d)
      Files.createDirectories(p)
      Files.getFileStore(p)
    }.distinct.map(_.getUsableSpace).sum

  /** Reference cache sizing (BookKeeper.java:656-670): the budget is
    * min(95% of the cache volumes' usable space × fullness%, explicit
    * maxMB), in KB (the unit of [[FileMetadata.weightKB]]); 0 = unbounded
    * (neither knob set). `usableBytes` is read only when fullness sizing
    * is on. */
  def effectiveBudgetKB(conf: CacheConfig, usableBytes: => Long): Long = {
    val explicitKB =
      if (conf.maxSizeMB > 0) conf.maxSizeMB * 1024 else Long.MaxValue
    val diskKB =
      if (conf.diskFullnessPercentage > 0)
        (usableBytes * 0.95 * conf.diskFullnessPercentage / 100.0).toLong / 1024
      else Long.MaxValue
    val m = math.min(explicitKB, diskKB)
    if (m == Long.MaxValue) 0L else m
  }

  /** The manager of `conf`'s cache directories, built by the first conf
    * that names them; a later conf's other layout values are ignored,
    * with one WARN. */
  def getOrInit(conf: CacheConfig): CacheManager = {
    val m = managers.computeIfAbsent(CacheDirOwner.canonical(conf.cacheDir), _ => {
      val built = new CacheManager(conf)
      built.metricsSource
      last = built
      built
    })
    val ignored = layoutOf(conf) -- m.layout
    if (ignored.nonEmpty && warned.add(conf.cacheDir + ignored))
      org.slf4j.LoggerFactory.getLogger(classOf[CacheManager]).warn(
        s"cache directories ${conf.cacheDir} keep ${m.layout.mkString(", ")}" +
          s"; ignoring ${ignored.mkString(", ")}")
    m
  }

  /** The manager [[getOrInit]] last built, if any. */
  def current: Option[CacheManager] = Option(last)

  private[graft] def resetForTest(): Unit = this.synchronized {
    managers.values.forEach(_.clear())
    managers.clear()
    last = null
  }
}
