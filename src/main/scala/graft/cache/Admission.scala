package graft.cache

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Projection-width cache admission (reference `minColumnsSelected`,
  * rubix-spi CacheUtil.java:385-388, knobs CacheConfig.java:136-141): a
  * scan that selects fewer than `graft.cache.min.projected.columns`
  * top-level columns is not worth caching — it would pin whole blocks of a
  * wide table for bytes it mostly skips.
  *
  * Two channels apply the rule, both per scan:
  *  - DSv2 `format("graft")`: the scan builders decide at build() time,
  *    when the pruned width is final, and ship [[disable]]d flags in the
  *    scan's own conf (parquet/orc) or options (csv/json);
  *  - the FS gate (`GraftFileSystem`): a per-scan FS instance
  *    (`fs.graft.impl.disable.cache=true`) initialized with a scan's conf
  *    reads the pushed parquet projection from it. The JVM-cached FS sees
  *    no projection, so its width is unknown and it admits, like the
  *    reference when the engine passes no column hint.
  */
object Admission {

  /** True when a scan of `width` top-level columns falls below the
    * admission floor; a floor <= 0 turns the rule off. */
  def tooNarrow(width: Int, minCols: Int): Boolean =
    minCols > 0 && width < minCols

  /** Per-scan cache-off flags: the cache gate, plus a fresh (uncached) FS
    * instance so the scan's conf is the one the FS initializes with. */
  private val DisableFlags = Seq(
    CacheConfig.EnabledKey -> "false",
    "fs.graft.impl.disable.cache" -> "true")

  /** A copy of `conf` that turns the cache off for one scan. */
  def disable(conf: Configuration): Configuration = {
    val out = new Configuration(conf)
    DisableFlags.foreach { case (k, v) => out.set(k, v) }
    out
  }

  /** `options` plus the cache-off flags, for scans whose reader conf is
    * built from their options (CSV/JSON). */
  def disable(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap.asScala.toMap ++ DisableFlags).asJava)
}
