package graft.cache

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Caching Hadoop FileSystem under the `graft://` scheme — the Spark-native
  * analog of the reference's engine plugins (rubix-hadoop2
  * CachingS3AFileSystem.java / CachingFileSystem.java): register
  *   spark.hadoop.fs.graft.impl = graft.cache.GraftFileSystem
  * and ANY Spark scan of `graft://<path>` transparently reads through the
  * executor-local block cache with zero planner changes.
  *
  * `graft://` wraps an underlying scheme (default `file`, configurable via
  * `graft.underlying.scheme` — `s3a`/`gs`/`abfs` in a real deployment).
  *
  * File statuses come from one TTL'd file-info cache (`fileInfoCache`):
  * `getFileStatus`, `listStatus` and `open` all answer a file from it, so
  * a cache-hit scan (planning `exists`, the file-index listing, each
  * task's footer open) sends no HEAD or LIST to the store. Only a file's
  * (length, mtime) is ever cached; directory statuses, directory
  * listings and missing paths always go to the store, so directory
  * membership is never stale. Mutations through this FS invalidate
  * eagerly; writes that bypass it are caught lazily by lastModified
  * compare once the TTL lapses, like the reference
  * (CachingFileSystem.java:263-306).
  */
class GraftFileSystem extends FileSystem {
  private var myUri: URI = _
  private var inner: FileSystem = _
  private var cacheConf: CacheConfig = _
  private var manager: CacheManager = _
  private var workingDir: Path = _
  private var enabled: Boolean = true
  /** True when `createInner` constructed the underlying client directly
    * (take-over shims) rather than borrowing a FileSystem.get-cached
    * instance: a directly-built S3AFileSystem owns connection/thread
    * pools that leak unless this wrapper closes it with itself. */
  protected var ownsInner: Boolean = false

  /** Scheme this caching FS answers for. The base class claims `graft`
    * (wrap-a-scheme mode); the per-scheme shims below claim the native
    * scheme itself (take-over mode, reference
    * hadoop2/CachingS3AFileSystem.java:23-42 parity). */
  protected def outerScheme: String = "graft"

  /** Underlying FS construction. Wrap-a-scheme mode dispatches through
    * FileSystem.get on `graft.underlying.scheme`; take-over shims MUST
    * instantiate the concrete class directly instead (fs.<scheme>.impl
    * now names the shim, so FileSystem.get would recurse). */
  protected def createInner(name: URI, conf: Configuration): FileSystem = {
    val underScheme = conf.get("graft.underlying.scheme", "file")
    FileSystem.get(URI.create(s"$underScheme:///"), conf)
  }

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    myUri = URI.create(s"$outerScheme://${Option(name.getAuthority).getOrElse("")}/")
    inner = createInner(name, conf)
    cacheConf = CacheConfig.from(conf)
    enabled = conf.getBoolean(CacheConfig.EnabledKey, true) &&
      projectionAdmitted(conf)
    manager = CacheManager.getOrInit(cacheConf)
    workingDir = new Path("/")
  }

  override def getUri: URI = myUri
  override def getScheme: String = outerScheme

  /** Close the directly-constructed inner client with the wrapper;
    * FileSystem.get-cached inners are shared and stay open (Hadoop's
    * cache closes them). */
  override def close(): Unit =
    try super.close()
    finally if (ownsInner && inner != null) inner.close()

  // ---- path translation ----
  private def toInner(p: Path): Path = {
    val u = p.toUri
    new Path(inner.getUri.getScheme, inner.getUri.getAuthority,
      Option(u.getPath).filter(_.nonEmpty).getOrElse("/"))
  }
  private def toOuter(p: Path): Path = {
    val u = p.toUri
    new Path(outerScheme, Option(myUri.getAuthority).getOrElse(""),
      Option(u.getPath).filter(_.nonEmpty).getOrElse("/"))
  }
  private def translate(st: FileStatus): FileStatus = {
    // COPY, never mutate: some inner statuses resolve fields lazily from
    // their own path (RawLocalFileSystem's permission loader does
    // `new File(getPath().toUri())`) — rewriting the path in place makes
    // that later load explode on the outer scheme. The copy is built from
    // the scan-relevant fields only and deliberately does NOT read the
    // owner/group/permission triple: on RawLocal statuses each of those
    // getters forces the lazy per-file permission load (a stat/exec per
    // file — measured 2x on the listing-heavy compaction query when the
    // full copy constructor ran it), planners never consult them, and
    // object-store statuses carry static defaults anyway.
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, toOuter(st.getPath))
  }

  // ---- admission control (CacheUtil.skipCache:203-222 analog) ----
  // Three gates, all reference-paralleled: (1) enabled flag — per-scan
  // confs from the DSv2 scan builders land here (Admission.disable);
  // (2) path skip/allow regexes; (3) projection width (below).
  private[cache] def admitted(path: Path): Boolean = {
    if (!enabled || cacheConf == null) return false
    val s = path.toUri.getPath
    val skip = cacheConf.skipCachePattern
    val allow = cacheConf.allowPattern
    (skip.isEmpty || !s.matches(skip)) && (allow.isEmpty || s.matches(allow))
  }

  /** The FS channel of projection-width admission ([[Admission]]): the
    * pushed projection is read from Spark's parquet requested-schema key
    * in the conf this FS instance was initialized with, which carries a
    * scan's own projection only for per-scan instances
    * (`fs.graft.impl.disable.cache=true`). No projection = width unknown
    * = admitted. */
  private def projectionAdmitted(conf: Configuration): Boolean =
    Option(conf.get("org.apache.spark.sql.parquet.row.requested_schema"))
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType].fields.length)
        .toOption)
      .forall(!Admission.tooNarrow(_, cacheConf.minProjectedColumns))

  // TTL'd file-status cache keyed by inner path — the reference's
  // getFileInfo path (BookKeeper.java:536-546,
  // rubix.cache.stale.fileinfo.expiry.period). Serves getFileStatus,
  // listStatus of a file and open; never holds directories, directory
  // listings or missing paths. Staleness detection for writes that
  // bypass this FS weakens to the TTL window, the same documented trade
  // the reference makes.
  private lazy val fileInfoCache: com.google.common.cache.Cache[Path, FileStatus] =
    com.google.common.cache.CacheBuilder.newBuilder()
      .maximumSize(100000)
      .expireAfterWrite(java.time.Duration.ofMillis(
        getConf.getLong("graft.cache.fileinfo.ttl.ms", 60000L)))
      .build[Path, FileStatus]()

  /** Bumped by every invalidation on this FS. A status fetched from the
    * store is kept only if no invalidation overlapped its fetch: a HEAD
    * or LIST that started before a write closed may carry the pre-write
    * (length, mtime), and caching it would outlive the invalidation for
    * the whole TTL. */
  private val invalidations = new java.util.concurrent.atomic.AtomicLong

  /** Cache the files among `fetched` (inner path -> status), one store
    * answer that started at `epoch`. The put-then-recheck order closes the
    * race with [[invalidateLocal]], which bumps the counter before it
    * drops entries: either it drops what was put here, or the recheck
    * below sees the bump. */
  private def keep(epoch: Long, fetched: Seq[(Path, FileStatus)]): Unit = {
    val files = fetched.filter(_._2.isFile)
    files.foreach { case (ip, st) => fileInfoCache.put(ip, st) }
    if (invalidations.get != epoch)
      files.foreach(e => fileInfoCache.invalidate(e._1))
  }

  /** Inner status of `ip`: the cached file entry, else one store HEAD. */
  private def status(ip: Path): FileStatus = {
    val hit = fileInfoCache.getIfPresent(ip)
    if (hit != null) return hit
    val epoch = invalidations.get
    val st = inner.getFileStatus(ip)
    keep(epoch, Seq(ip -> st))
    st
  }

  // ---- reads ----
  /** A cached file's inner stream opens with the status `open` already
    * holds (`openFile().withFileStatus`, Hadoop 3.3+): S3A's plain `open`
    * sends a HEAD. A file that is not admitted opens as plain `open` does,
    * which asks the store afresh. */
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val ip = toInner(f)
    val st = status(ip)
    if (!admitted(f) || !st.isFile) return inner.open(ip, bufferSize)
    val stream = new CachingInputStream(() =>
      org.apache.hadoop.util.functional.FutureIO.awaitFuture(
        inner.openFile(ip).withFileStatus(st)
          .optLong(Options.OpenFileOptions.FS_OPTION_OPENFILE_BUFFER_SIZE, bufferSize)
          .build()),
      ip.toString, st.getLen, st.getModificationTime, manager, cacheConf,
      statistics)
    new FSDataInputStream(new BufferedFSInputStream(stream,
      math.max(bufferSize, 4096)))
  }

  // ---- metadata (translated) ----
  override def getFileStatus(f: Path): FileStatus =
    translate(status(toInner(f)))

  /** A cached file lists as itself (what `listStatus` of a file returns);
    * anything else is one store LIST, whose files refresh their entries. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val ip = toInner(f)
    val hit = fileInfoCache.getIfPresent(ip)
    if (hit != null) return Array(translate(hit))
    val epoch = invalidations.get
    val listed = inner.listStatus(ip)
    keep(epoch, listed.toSeq.map(st => toInner(st.getPath) -> st))
    listed.map(translate)
  }

  /** Locality hook: one location per split, at its owner's host
    * (CachingFileSystem.getFileBlockLocations:393-437 analog). The split
    * is keyed by the inner path string, the cache key `open` reads under,
    * so the executor a split is placed on reads it as its own. */
  override def getFileBlockLocations(file: FileStatus, start: Long,
      len: Long): Array[BlockLocation] =
    if (file == null) Array.empty
    else CacheAffinity.blockLocations(toInner(file.getPath).toString,
      file.getLen, start, len, cacheConf.splitSize)

  // ---- mutations: pure delegation (reference parity) ----
  /** Eager invalidation on OUR mutation path — deliberately beyond the
    * reference, whose create/append/rename/delete carry commented-out
    * invalidation TODOs (CachingFileSystem.java:263-306) and rely purely
    * on the lazy lastModified compare. Lazy-only is unsafe here because
    * `fileInfoCache` serves a pre-overwrite (size, mtime) for up to the
    * TTL window, making a read-after-overwrite through the SAME filesystem
    * return stale cached bytes. Mutations that bypass this FS (another
    * writer on the object store) remain lazy, exactly the reference's
    * documented trade. With `tree`, every file-info and block-cache entry
    * under the path goes too (directory delete/rename): a child's TTL'd
    * status would otherwise keep serving it after its directory is gone. */
  private def invalidateLocal(tree: Boolean, paths: Path*): Unit = {
    invalidations.incrementAndGet()
    paths.foreach { ip =>
      val wasFile = fileInfoCache.asMap.remove(ip) != null
      if (manager != null) manager.invalidate(ip.toString)
      // a path cached as a file has nothing under it: skip the key scans
      // (a job commit renames its output files one by one)
      if (tree && !wasFile) {
        val dir = if (ip.toString.endsWith("/")) ip.toString else s"$ip/"
        fileInfoCache.asMap.keySet.removeIf(_.toString.startsWith(dir))
        if (manager != null) manager.invalidateUnder(dir)
      }
    }
  }

  /** Invalidate both at open AND at close of a write stream: a reader
    * interleaving between create() and close() re-primes fileInfoCache
    * with the mid-write (size, mtime), which would otherwise serve
    * TTL-stale bytes after the writer finishes. */
  private def invalidatingOnClose(ip: Path,
      out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null, out.getPos) {
      override def close(): Unit = {
        try super.close() finally invalidateLocal(tree = false, ip)
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val ip = toInner(f)
    invalidateLocal(tree = false, ip)
    invalidatingOnClose(ip, inner.create(ip, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    val ip = toInner(f)
    invalidateLocal(tree = false, ip)
    invalidatingOnClose(ip, inner.append(ip, bufferSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val (is, id) = (toInner(src), toInner(dst))
    val ok = inner.rename(is, id)
    if (ok) invalidateLocal(tree = true, is, id)
    ok
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val ip = toInner(f)
    val ok = inner.delete(ip, recursive)
    if (ok) invalidateLocal(tree = recursive, ip)
    ok
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(toInner(f), permission)

  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  /** Executor-local cache manager backing this FS (tests/metrics). */
  def cacheManager: CacheManager = manager
}

/** Cache-affinity locality: one BlockLocation per ownership split, host =
  * the host part of the split's [[Membership.owner]] (reference:
  * CachingFileSystem.getFileBlockLocations:393-437). The scheduler then
  * lands scan tasks where the cached blocks (will) live. Ownership is a
  * HINT — correctness never depends on it (dynamic-allocation churn just
  * degrades locality). Falls back to localhost when no member is known
  * (local mode, or no [[GraftPlugin]]). */
object CacheAffinity {
  def blockLocations(key: String, fileLen: Long, start: Long, len: Long,
      splitSize: Long): Array[BlockLocation] = {
    if (len <= 0) return Array.empty
    val end = math.min(fileLen, start + len)
    val out = scala.collection.mutable.ArrayBuffer.empty[BlockLocation]
    var s = (start / splitSize) * splitSize
    while (s < end) {
      val e = math.min(s + splitSize, fileLen)
      val host = Membership.owner(key, s, splitSize).map(Membership.host)
        .getOrElse("localhost")
      out += new BlockLocation(Array(s"$host:9867"), Array(host), s, e - s)
      s += splitSize
    }
    out.toArray
  }
}

/** Per-scheme take-over shims (reference parity: rubix-hadoop2 ships
  * concrete CachingS3AFileSystem / CachingGoogleHadoopFileSystem /
  * CachingNativeAzureFileSystem / CachingDistributedFileSystem,
  * CachingS3AFileSystem.java:23-42, so an engine enables the cache with
  * ONE config key and zero path rewriting). Same contract here:
  *
  *   spark.hadoop.fs.s3a.impl = graft.cache.GraftS3AFileSystem
  *
  * and every existing `s3a://bucket/...` URI in every job reads through
  * the block cache — no graft:// prefixing. The real underlying client is
  * instantiated DIRECTLY from `graft.<scheme>.underlying.impl` (default:
  * the stock Hadoop implementation class) because `fs.<scheme>.impl` now
  * names the shim and FileSystem.get would recurse; this is exactly the
  * reference's `new S3AFileSystem()` inside its shim. The underlying FS
  * is initialized with the SAME URI (scheme + bucket authority), so path
  * translation is identity up to the scheme swap and all cache-key /
  * locality / admission logic is inherited unchanged. */
abstract class GraftSchemeFileSystem(scheme: String,
    defaultImpl: String) extends GraftFileSystem {
  override protected def outerScheme: String = scheme
  override protected def createInner(name: URI,
      conf: Configuration): FileSystem = {
    val implName = conf.get(s"graft.$scheme.underlying.impl", defaultImpl)
    val fs = Class.forName(implName).getDeclaredConstructor()
      .newInstance().asInstanceOf[FileSystem]
    // the real client (S3AFileSystem etc.) declares the taken-over scheme
    // and gets the original URI (bucket authority intact); a swapped-in
    // client of a DIFFERENT scheme (tests use LocalFileSystem) is
    // initialized under its own scheme so its path handling stays sane
    val innerScheme = scala.util.Try(fs.getScheme).getOrElse(scheme)
    val innerUri = if (innerScheme == scheme) name
      else URI.create(s"$innerScheme://${Option(name.getAuthority).getOrElse("")}/")
    fs.initialize(innerUri, conf)
    ownsInner = true // directly built, so this wrapper must close it
    fs
  }
}

/** fs.s3a.impl shim (reference CachingS3AFileSystem). */
class GraftS3AFileSystem extends GraftSchemeFileSystem("s3a",
  "org.apache.hadoop.fs.s3a.S3AFileSystem")

/** fs.gs.impl shim (reference CachingGoogleHadoopFileSystem). */
class GraftGoogleHadoopFileSystem extends GraftSchemeFileSystem("gs",
  "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem")

/** fs.abfs.impl shim (reference CachingAzureBlobFileSystem analog). */
class GraftAbfsFileSystem extends GraftSchemeFileSystem("abfs",
  "org.apache.hadoop.fs.azurebfs.AzureBlobFileSystem")

/** fs.wasb.impl shim (reference CachingNativeAzureFileSystem). */
class GraftNativeAzureFileSystem extends GraftSchemeFileSystem("wasb",
  "org.apache.hadoop.fs.azure.NativeAzureFileSystem")

/** fs.hdfs.impl shim (reference CachingDistributedFileSystem). */
class GraftDistributedFileSystem extends GraftSchemeFileSystem("hdfs",
  "org.apache.hadoop.hdfs.DistributedFileSystem")
