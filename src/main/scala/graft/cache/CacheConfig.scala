package graft.cache

import org.apache.hadoop.conf.Configuration

/** Cache-layer knobs, mirroring the reference's configuration surface
  * (rubix-spi CacheConfig.java:119,181,160-163,177-187) with graft.* keys.
  * All values are read from the Hadoop `Configuration`, which Spark
  * populates from `spark.hadoop.*` session configs — so users tune the
  * cache exactly like any other Spark datasource knob.
  */
final case class CacheConfig(
    /** Fixed cache/IO block size in bytes (reference default 1 MiB). */
    blockSize: Int,
    /** Consistent-hash ownership split in bytes (reference default 256 MiB). */
    splitSize: Long,
    /** Local disk directory holding cache files; a comma-separated list
      * spreads files over several disks ([[CacheConfig.dirs]]). */
    cacheDir: String,
    /** Max cache weight in MB of downloaded data; <=0 = unlimited. */
    maxSizeMB: Long,
    /** Size the cache as a percentage of the cache volume's usable disk
      * space: budget = 95% × usable × this% (reference
      * BookKeeper.java:656-670 getCacheAvailableSize). Combined with
      * maxSizeMB by taking the minimum; <=0 disables disk-based sizing. */
    diskFullnessPercentage: Int,
    /** The largest file a miss fetches whole, and the largest span held
      * in memory for one group of missed blocks. */
    maxReadRequestSize: Int,
    /** Throw instead of falling back to direct reads (test mode). */
    strict: Boolean,
    /** Plan + account cache state but never store data (sizing dry-runs). */
    dummyMode: Boolean,
    /** Regex blacklist: matching paths are never cached. */
    skipCachePattern: String,
    /** Table/path whitelist regex; empty = everything allowed. */
    allowPattern: String,
    /** Cache admission: min projected columns needed to cache a scan; 0=off. */
    minProjectedColumns: Int)

object CacheConfig {
  val BlockSizeKey = "graft.cache.block.size"
  val SplitSizeKey = "graft.cache.file.split.size"
  val CacheDirKey = "graft.cache.dir"
  val MaxSizeKey = "graft.cache.max.size.mb"
  val DiskFullnessKey = "graft.cache.disk.fullness.percentage"
  val MaxReadRequestKey = "graft.cache.max.read.request.size"
  val StrictKey = "graft.cache.strict.mode"
  val DummyKey = "graft.cache.dummy.mode"
  val SkipPatternKey = "graft.cache.skip.pattern"
  val AllowPatternKey = "graft.cache.allow.pattern"
  val MinColumnsKey = "graft.cache.min.projected.columns"
  val EnabledKey = "graft.cache.enabled"

  /** The directories of a `cacheDir` value: a comma-separated list. */
  def dirs(cacheDir: String): Seq[String] =
    cacheDir.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def from(conf: Configuration): CacheConfig = CacheConfig(
    blockSize = conf.getInt(BlockSizeKey, 1 << 20),
    splitSize = conf.getLong(SplitSizeKey, 256L << 20),
    cacheDir = conf.get(CacheDirKey,
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-cache"),
    maxSizeMB = conf.getLong(MaxSizeKey, 0L),
    diskFullnessPercentage = conf.getInt(DiskFullnessKey, 0),
    maxReadRequestSize = conf.getInt(MaxReadRequestKey, 8 << 20),
    strict = conf.getBoolean(StrictKey, false),
    dummyMode = conf.getBoolean(DummyKey, false),
    skipCachePattern = conf.get(SkipPatternKey, ""),
    allowPattern = conf.get(AllowPatternKey, ""),
    minProjectedColumns = conf.getInt(MinColumnsKey, 0))
}
