package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cache.{CacheConfig, CacheManager}

/** Queries that exercise the caching I/O layer itself: same SQL semantics
  * as a direct scan (so the DuckDB oracle is the plain query), but the scan
  * goes through graft:// — proving cache reads are byte-transparent.
  */
object CacheQueries {

  /** Registers the graft:// scheme + a default cache dir on the session's
    * hadoop conf. Shared by every c* query (was repeated per-query). */
  private[graft] def enableCacheFs(s: SparkSession): Unit = {
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.graft.impl", "graft.cache.GraftFileSystem")
    if (hc.get("graft.cache.dir") == null)
      hc.set("graft.cache.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-cache")
  }

  /** Scratch dir namespaced by purpose + scale-factor dir name + a
    * PER-EXECUTION sequence number, deleted on JVM exit. The sequence
    * suffix makes every execution's scratch private, so two concurrent
    * executions of the same c* query (the r10 concurrent arm runs the
    * whole family off the shared lane) can never overwrite each other's
    * files mid-read; the shutdown hook removes all of them so repeated
    * sessions don't accumulate scratch in shared /tmp. */
  private val scratchDirs = scala.collection.concurrent.TrieMap[String, Unit]()
  sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    scratchDirs.keys.foreach(d => rm(new java.io.File(d)))
  }
  private val execSeq = new java.util.concurrent.atomic.AtomicLong
  /** Per-JVM tag baked into every scratch path. The r13 full-suite bench
    * failed on exactly the three queries that Files.copy into their
    * scratch base (c13/c14/c15, FileAlreadyExistsException): a previous
    * JVM killed hard (no shutdown hook) leaves its -e<N> dirs behind, and
    * because execSeq restarts at 1 the NEXT full-suite run reproduces the
    * same numbers and collides — while any solo re-run draws different
    * ones and passes, which is why the failure resisted solo repro (and
    * the collision registers the stale path in scratchDirs, so the
    * failing run's own exit hook deletes the evidence). pid + JVM start
    * time make the path unique across JVMs including pid reuse. */
  private val jvmTag: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val pid = rt.getName.takeWhile(_ != '@')
    s"$pid-${java.lang.Long.toHexString(rt.getStartTime & 0xffffffffL)}"
  }
  /** Unique per call — callers derive every path of one execution from a
    * single tmpBase result. Shared with PipelineQueries' d59 store
    * handoff (same scratch registry, same shutdown-hook cleanup).
    * Defensively clears any pre-existing path (belt and braces: with the
    * jvmTag a collision should be impossible, but a stale survivor must
    * degrade to a cleanup, never a FileAlreadyExistsException). */
  private[operators] def tmpBase(prefix: String, dir: String): String = {
    val p = sys.props.getOrElse("java.io.tmpdir", "/tmp") + s"/$prefix/" +
      new java.io.File(dir).getName + s"-j$jvmTag-e" + execSeq.incrementAndGet()
    val f = new java.io.File(p)
    if (f.exists()) {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.foreach(rm)
        x.delete()
      }
      rm(f)
    }
    scratchDirs.put(p, ())
    p
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("c01_cached_scan_agg",
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice),3) AS sum_price,
        | round(sum(l_quantity),3) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      // scan twice: cold warms the block cache, returned result is the warm
      // scan — correctness of cache reads is what the oracle checks
      val cached = s.read.parquet(s"graft://$dir/lineitem.parquet")
      cached.count()
      cached.groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 3).as("sum_price"),
          round(sum("l_quantity"), 3).as("sum_qty"),
          count(lit(1)).as("n"))
    },

    // cached join: both sides scanned through the cache
    QueryDef("c02_cached_join",
      """SELECT o_orderstatus, round(sum(l_extendedprice),3) AS rev, count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val o = s.read.parquet(s"graft://$dir/orders.parquet")
      val l = s.read.parquet(s"graft://$dir/lineitem.parquet")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(round(sum("l_extendedprice"), 3).as("rev"), count(lit(1)).as("n"))
    },

    // DSv2 caching source: format("graft") — same semantics as a plain
    // parquet scan, reads through the executor block cache
    QueryDef("c03_dsv2_source",
      """SELECT l_linestatus,
        | CAST(sum(CAST(floor(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS DOUBLE)/10000 AS rev,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      s.read.format("graft").load(s"$dir/lineitem.parquet")
        .groupBy("l_linestatus")
        // fixed-point units: money-product sums flip .0005 boundaries
        // under round(sum(double),3) — see RelationalQueries.fxSum
        .agg(RelationalQueries.fxSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 10000).as("rev"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },

    // DSv2 source over a NON-parquet format: the cache layer is format-
    // agnostic (reference CachingFileSystem.java:227-260 caches any
    // FileSystem read identically). Materialize supplier as ORC once,
    // read it back via format("graft").option("format","orc") through the
    // block cache; the oracle checks against the original parquet rows.
    QueryDef("c04_dsv2_orc",
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal),3) AS bal
        |FROM supplier GROUP BY s_nationkey""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val orcDir = tmpBase("graft-orc", dir) + "/supplier.orc"
      s.read.parquet(s"$dir/supplier.parquet")
        .write.mode("overwrite").orc(orcDir)
      s.read.format("graft").option("format", "orc").load(orcDir)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 3).as("bal"))
    },

    // Partitioned sink + pruned source, both through graft://: lineitem
    // is laid out hive-style by ship year, read back with a partition
    // predicate, and aggregated. The read must scan ONLY yr=1997
    // directories (partition pruning happens at the FileIndex, before
    // any cached byte is touched — PartitionPruningSpec pins that), so
    // at 100 TB the cache is never even asked for the other years'
    // blocks. Oracle: the same aggregate straight off the fact table.
    QueryDef("c05_partition_roundtrip",
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice),3) AS sum_price,
        | round(sum(l_quantity),3) AS sum_qty
        |FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val partDir = tmpBase("graft-part", dir) + "/lineitem_by_yr"
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity"), year(col("l_shipdate")).as("yr"))
        .write.mode("overwrite").partitionBy("yr")
        .parquet(s"graft://$partDir")
      s.read.parquet(s"graft://$partDir")
        .filter(col("yr") === 1997)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 3).as("sum_price"),
          round(sum("l_quantity"), 3).as("sum_qty"))
    },

    // Small-file compaction through graft://: events is deliberately
    // shattered into 64 tiny files (the pathological object-store layout
    // 100 TB pipelines inherit), then compacted into
    // ceil(bytes/targetFileSize) right-sized files (Compaction.compact —
    // sized from the FileSystem listing, NOT a constant), both passes
    // through the caching FS. The aggregate off the compacted copy is the
    // oracle-checked proof compaction is content-preserving;
    // CompactionSpec pins the file-count reduction + output size band.
    QueryDef("c06_compaction",
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value*100) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val base = tmpBase("graft-compact", dir)
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "event_type", "value")
      ev.repartition(64).write.mode("overwrite")
        .parquet(s"graft://$base/shattered")
      Compaction.compact(s, s"graft://$base/shattered",
        s"graft://$base/compacted", targetFileBytes = 128L * 1024 * 1024)
      s.read.parquet(s"graft://$base/compacted")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100).cast("long")).cast("double") / 100)
            .as("sum_value"))
    },

    // Z-order clustering for multi-dimensional data skipping: lineitem
    // rewritten through graft:// range-partitioned + sorted by the
    // Morton value of (l_partkey, l_suppkey), small row groups so the
    // footer min/max stats are tight in BOTH dimensions; the box
    // predicate then prunes row groups a 1-D sort could only prune on
    // its leading column (ZOrderSpec counts surviving row groups from
    // the footers: z-layout a fraction, linear layout ~all). Oracle =
    // the same box aggregate straight off the fact table, proving the
    // rewrite is content-preserving. ----
    QueryDef("c07_zorder_skipping",
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice),3) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 199 AND l_suppkey BETWEEN 2 AND 5
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val zDir = tmpBase("graft-zorder", dir) + "/lineitem_z"
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
          col("l_extendedprice"))
        .withColumn("zv",
          graft.functions.ZOrder.zvalue2(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(4, col("zv"))
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .option("parquet.page.size", "8192")
        .parquet(s"graft://$zDir")
      s.read.parquet(s"graft://$zDir")
        .filter(col("l_partkey").between(100, 199) &&
          col("l_suppkey").between(2, 5))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 3).as("sum_price"))
    },

    // BASELINE.md's repeat-scan contract (server hit rate >= 95% once a
    // table is warm) promoted INTO the hash gate: scan part twice
    // through graft://, measure the second scan's hit rate from the
    // block-request metrics delta, and emit it as an in-band boolean
    // next to the data aggregate. A cache that silently stopped serving
    // (admission regression, eviction storm, path-translation bug)
    // flips warm_hits_ok and fails the gate even though the data —
    // served via remote fallback — would still be correct.
    QueryDef("c08_warm_hitrate",
      """SELECT p_brand, count(*) AS n,
        | round(sum(p_retailprice),3) AS price, true AS warm_hits_ok
        |FROM part GROUP BY p_brand""".stripMargin) { (s, dir) =>
      // The warm-scan window runs under a per-execution MetricsTag, so
      // the hit-rate contract reads ONLY this execution's block requests
      // — concurrent neighbors (including other c* queries, or another
      // execution of c08 itself) can move the global counters freely.
      // Round 9 needed a serial lane for exactly this read; round 10's
      // tagged counters retired it (ConcurrentHarness.serialLane is s*
      // only now).
      enableCacheFs(s)
      def agg = s.read.parquet(s"graft://$dir/part.parquet")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 3).as("price"))
      agg.count() // cold: warms every touched block
      val tag = "c08-" + java.util.UUID.randomUUID()
      // Tagging isolates ATTRIBUTION, not cache STATE: a concurrent
      // neighbor can legitimately evict this query's warm blocks between
      // the cold and warm passes, making tagged remote_requests nonzero
      // with nothing wrong. Bracket the window with the global eviction
      // counter — if evictions moved during it, tolerate a bounded
      // re-fetch fraction (the re-fetched blocks re-admit, so a healthy
      // cache still serves the majority); with a quiet eviction window
      // the strict >= 0.95 contract stands.
      val evBefore = metricsSnapshot(s).getOrElse("evictions", 0L)
      graft.cache.MetricsTag.withTag(s, tag) {
        agg.count() // warm: must be served from cache
      }
      val evDuring = metricsSnapshot(s).getOrElse("evictions", 0L) - evBefore
      val tm = taggedMetrics(s, tag)
      dropTag(s, tag)
      val hits = tm("cached_requests")
      val misses = tm("remote_requests")
      val floor = if (evDuring > 0) 0.5 else 0.95
      val ok = hits + misses > 0 && hits.toDouble / (hits + misses) >= floor
      agg.withColumn("warm_hits_ok", lit(ok))
    },

    // Bucketed co-located join THROUGH the cache: both join sides are
    // written as 8-bucket external tables whose files live behind
    // graft://, then joined on the bucket key. Pre-bucketing is the
    // standard answer to "this join's shuffle is the 100 TB bottleneck"
    // — BucketingSpec proves the zero-Exchange plan with SMJ forced;
    // this gate query proves the bucketed write+read roundtrip through
    // the caching FS preserves the data (oracle = the plain join+agg).
    // sum(l_quantity) is integer-valued doubles, so the sum is exact and
    // order-independent at any parallelism.
    QueryDef("c09_bucketed_join",
      """SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity),3) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val base = tmpBase("graft-bucketed", dir)
      // catalog names carry the scratch dir's per-execution suffix: two
      // concurrent executions (the shared-lane concurrent arm) must not
      // overwrite each other's table definitions mid-join
      val execTag = base.substring(base.lastIndexOf("-e") + 1)
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"graft://$base/lineitem_b")
        .saveAsTable(s"c09_lineitem_b_$execTag")
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"graft://$base/orders_b")
        .saveAsTable(s"c09_orders_b_$execTag")
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n, round(sum(l_quantity),3) AS qty
           |FROM c09_orders_b_$execTag JOIN c09_lineitem_b_$execTag
           |  ON o_orderkey = l_orderkey
           |GROUP BY o_orderstatus""".stripMargin)
    },

    // Schema evolution through the cache: two parquet batches with
    // drifting schemas (batch 2 adds a column) land behind graft://, and
    // a mergeSchema read reconciles them — batch-1 rows surface NULL for
    // the late column. The lakehouse schema-drift shape; oracle rebuilds
    // the union with explicit NULLs. Partition pruning/pushdown still
    // apply per file: mergeSchema only widens the read schema, it never
    // forces a full-schema scan of old files.
    QueryDef("c10_schema_evolution",
      """WITH unioned AS (
        |  SELECT s_suppkey, s_nationkey, NULL AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_nationkey, s_acctbal
        |  FROM supplier WHERE s_suppkey % 2 = 1)
        |SELECT s_nationkey, count(*) AS n,
        | CAST(count(s_acctbal) AS BIGINT) AS n_with_bal,
        | round(sum(coalesce(s_acctbal, 0)), 3) AS bal
        |FROM unioned GROUP BY s_nationkey""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val evo = tmpBase("graft-evo", dir) + "/supplier_evo"
      val sup = Tables.load(s, dir, "supplier")
      // plain sibling dirs (NOT k=v names — those would be discovered as
      // a hive partition column and widen the schema), read as an
      // explicit multi-path scan
      sup.filter(col("s_suppkey") % 2 === 0)
        .select("s_suppkey", "s_nationkey")
        .write.mode("overwrite").parquet(s"graft://$evo/batch1")
      sup.filter(col("s_suppkey") % 2 === 1)
        .select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(s"graft://$evo/batch2")
      s.read.option("mergeSchema", "true")
        .parquet(s"graft://$evo/batch1", s"graft://$evo/batch2")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          count(col("s_acctbal")).as("n_with_bal"),
          round(sum(coalesce(col("s_acctbal"), lit(0))), 3).as("bal"))
    },

    // Projection-width cache admission (reference minColumnsSelected,
    // rubix-spi CacheUtil.java:385-388): a 2-of-16-column scan of the
    // wide fact table is NOT worth caching — it would pin whole blocks
    // for bytes it mostly skips — while a 6-column aggregate clears the
    // 5-column floor and must warm/hit the cache. Both admission
    // decisions ride in-band as booleans (the c08 contract): the oracle
    // states `true` for each, so an admission regression in either
    // direction (narrow scans polluting the cache, or wide scans
    // bypassing it) hash-fails the gate. The data payload is the wide
    // aggregate itself. Both checks read the session manager's
    // per-execution TAGGED counters (MetricsTag), so any neighbor —
    // including another execution of this query — may run concurrently;
    // the round-9 serial lane existed only for the global-delta reads.
    QueryDef("c11_admission_gate",
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity),3) AS qty,
        | round(sum(l_extendedprice),3) AS price,
        | round(sum(l_discount),3) AS disc,
        | round(sum(l_tax),3) AS tax,
        | true AS narrow_bypassed, true AS wide_admitted
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val m = sessionManager(s).metrics
      val path = s"$dir/lineitem.parquet"
      val floorOpt = graft.cache.CacheConfig.MinColumnsKey -> "5"
      def wide(withFloor: Boolean) = {
        val r = s.read.format("graft")
        (if (withFloor) r.option(floorOpt._1, floorOpt._2) else r).load(path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 3).as("qty"),
            round(sum("l_extendedprice"), 3).as("price"),
            round(sum("l_discount"), 3).as("disc"),
            round(sum("l_tax"), 3).as("tax"))
      }
      // pre-warm the file (no floor) so the checks below are
      // independent of which c* query ran earlier: footer/schema reads
      // and the data blocks are all cached after this pass
      wide(withFloor = false).write.format("noop").mode("overwrite").save()
      // narrow: 2 of 16 columns, below the floor -> direct read; the
      // warm session-FS counters must not move FOR THIS EXECUTION'S
      // traffic (per-execution MetricsTag — concurrent neighbors may
      // move the globals freely; round 9 needed the serial lane for
      // this read, tagged counters retired it).
      val tagN = "c11n-" + java.util.UUID.randomUUID()
      graft.cache.MetricsTag.withTag(s, tagN) {
        s.read.format("graft").option(floorOpt._1, floorOpt._2).load(path)
          .select("l_orderkey", "l_quantity")
          .write.format("noop").mode("overwrite").save()
      }
      val tmN = m.taggedSnapshot(tagN)
      val narrowBypassed = tmN("bytes_from_remote") == 0L
      m.dropTag(tagN)
      // wide: the aggregate projects 6 columns, clears the floor; its
      // scan must be served THROUGH the (warm) cache
      val tagW = "c11w-" + java.util.UUID.randomUUID()
      graft.cache.MetricsTag.withTag(s, tagW) {
        wide(withFloor = true).write.format("noop").mode("overwrite").save()
      }
      val wideAdmitted = m.taggedSnapshot(tagW)("bytes_from_cache") > 0L
      m.dropTag(tagW)
      wide(withFloor = true)
        .withColumn("narrow_bypassed", lit(narrowBypassed))
        .withColumn("wide_admitted", lit(wideAdmitted))
    },

    // Vectored-IO read path, gated in-band (r9): parquet's vectored
    // reader hands the cache stream its column-chunk ranges in ONE
    // readVectored call per row group (GraftSession enables the path;
    // CachingInputStream advertises in:readvectored and runs every
    // range through the chain planner). The cold scan must drive the
    // vectored counter; the warm rescan must drive it AGAIN while
    // serving >= 95% of block requests from cache — i.e. the vectored
    // path composes with cache semantics instead of bypassing them.
    // Both windows read per-execution tagged counters (MetricsTag), so
    // the contract is concurrency-safe without a serial lane.
    QueryDef("c12_vectored_scan",
      """SELECT p_brand, count(*) AS n,
        | round(sum(p_retailprice),3) AS price,
        | true AS vectored_ok, true AS warm_ok
        |FROM part GROUP BY p_brand""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      def agg = s.read.parquet(s"graft://$dir/part.parquet")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 3).as("price"))
      // one tag per pass: the contract reads only this execution's
      // traffic (tagged counters; no serial lane needed — see c08)
      val tagC = "c12c-" + java.util.UUID.randomUUID()
      val tagW = "c12w-" + java.util.UUID.randomUUID()
      graft.cache.MetricsTag.withTag(s, tagC) {
        agg.count() // cold: ranges flow vectored through the chain planner
      }
      // same eviction-window softening as c08: attribution is isolated
      // but cache state is shared, so a neighbor's eviction between the
      // passes can force legitimate re-fetches
      val evBefore = metricsSnapshot(s).getOrElse("evictions", 0L)
      graft.cache.MetricsTag.withTag(s, tagW) {
        agg.count() // warm: vectored again, now served from cache
      }
      val evDuring = metricsSnapshot(s).getOrElse("evictions", 0L) - evBefore
      val (tmC, tmW) = (taggedMetrics(s, tagC), taggedMetrics(s, tagW))
      dropTag(s, tagC); dropTag(s, tagW)
      val vectoredOk = tmC("vectored_ranges") > 0 && tmW("vectored_ranges") > 0
      val hits = tmW("cached_requests")
      val misses = tmW("remote_requests")
      val floor = if (evDuring > 0) 0.5 else 0.95
      val warmOk = hits + misses > 0 && hits.toDouble / (hits + misses) >= floor
      agg.withColumn("vectored_ok", lit(vectoredOk))
        .withColumn("warm_ok", lit(warmOk))
    },

    // Peer-cache read path under the FULL oracle (c13): a second
    // CacheManager (its own cache dir) plays the split OWNER — warmed
    // with a private copy of the orders file and serving it through a
    // live PeerTransferServer socket — while the session FS's ownership
    // resolver classifies that file's blocks NON_LOCAL. The tagged scan
    // must then move its bytes over the peer socket: nonlocal_requests >
    // 0, bytes_from_peers > 0, zero remote_requests (the window's server
    // hit rate is 1.0 — nonlocal counts as a hit, reference
    // BookKeeper.java:213-229) and zero peer_fallbacks, all in-band.
    // PeerTransferSpec proves byte-exactness in-process; this gate closes
    // the loop by serving ORACLE-CHECKED query results through the
    // NonLocal chain. At scale this is the locality-miss path: the
    // scheduler put the task off the split's owner, and the owner's disk
    // — not the object store — supplies the bytes.
    QueryDef("c13_peer_read",
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice),3) AS price, true AS peer_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      enableCacheFs(s)
      val base = tmpBase("graft-peer", dir)
      new java.io.File(base).mkdirs()
      val dst = java.nio.file.Paths.get(s"$base/orders.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/orders.parquet"), dst)
      // the exact metadata key the session FS will put on the wire
      val key = new org.apache.hadoop.fs.Path("file", null, dst.toString).toString

      // the peer: private manager + cache dir, warmed by reading the file
      // through its own CachingInputStream (executeRemote caches blocks)
      val pc = new org.apache.hadoop.conf.Configuration(false)
      pc.set(graft.cache.CacheConfig.CacheDirKey, s"$base/peer-cache")
      new java.io.File(s"$base/peer-cache").mkdirs()
      val peerConf = CacheConfig.from(pc)
      val peer = new CacheManager(peerConf)
      val localFs = org.apache.hadoop.fs.FileSystem
        .getLocal(s.sparkContext.hadoopConfiguration)
      val ip = new org.apache.hadoop.fs.Path(key)
      val st = localFs.getFileStatus(ip)
      val cis = new graft.cache.CachingInputStream(
        () => localFs.open(ip), key, st.getLen, st.getModificationTime,
        peer, peerConf)
      try {
        val buf = new Array[Byte](1 << 20)
        var pos = 0L
        while (pos < st.getLen) {
          val r = cis.read(buf, 0,
            math.min(buf.length.toLong, st.getLen - pos).toInt)
          require(r > 0, s"peer warm read stalled at $pos")
          pos += r
        }
      } finally cis.close()

      // the owner is named by its server's address, as on a cluster
      val server = new graft.cache.PeerTransferServer(peer)
      nonLocalOwners.put(key, server.node)
      sessionManager(s).ownership = Some(nonLocalResolver)
      try {
        def agg = s.read.parquet(s"graft://$base/orders.parquet")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 3).as("price"))
        val tag = "c13-" + java.util.UUID.randomUUID()
        graft.cache.MetricsTag.withTag(s, tag) {
          agg.count() // every block NON_LOCAL -> served over the peer socket
        }
        val tm = taggedMetrics(s, tag)
        dropTag(s, tag)
        val ok = tm("nonlocal_requests") > 0 && tm("bytes_from_peers") > 0 &&
          tm("remote_requests") == 0L && tm("peer_fallbacks") == 0L
        agg.withColumn("peer_ok", lit(ok))
      } finally {
        // the returned plan re-executes AFTER this scope: with the
        // mapping removed its blocks classify Local again and the scan
        // serves directly — the contract was measured inside the window
        nonLocalOwners.remove(key)
        server.close()
        // release the private peer manager's state too — clear()
        // deletes the cached block files, so repeated soak
        // executions don't accumulate $base/peer-cache dirs
        peer.clear()
      }
    },

    // ---- c14: eviction correctness UNDER BUDGET, under the full oracle
    // (reference CacheRemoval.robot — BASELINE.md names eviction
    // correctness as a target; DiskBudgetSpec proves the budget in
    // isolation, this gate proves evicted-and-refetched bytes still
    // produce oracle-exact query results). A private CacheManager gets
    // a budget of ~1.4× one working-set file (the DiskBudgetSpec
    // usable-disk injection: 3× file bytes at 50% fullness), then SIX
    // copies of orders.parquet stream through CachingInputStreams
    // against it in two round-robin passes — the working set is ~4.2×
    // the budget, so every file's blocks are evicted and re-admitted
    // between touches. In-band contract (evict_ok): evictions > 0, the
    // cache weight NEVER exceeded the budget at any
    // sample point, and every streamed copy's md5 equals the source
    // file's. The oracle-checked aggregation then runs over the
    // RECONSTRUCTED bytes (copy 0's second-pass stream written back out
    // and read by Spark) — a corruption anywhere in the evict/re-admit
    // path breaks the hash, not just a flag. At scale this is the cache
    // steady state: working sets always exceed budgets, and the gate is
    // the proof that churn never changes query answers. ----
    QueryDef("c14_eviction_budget",
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice),3) AS price, true AS evict_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val base = tmpBase("graft-evict", dir)
      new java.io.File(s"$base/ws").mkdirs()
      new java.io.File(s"$base/cache").mkdirs()
      new java.io.File(s"$base/recon").mkdirs()
      val src = java.nio.file.Paths.get(s"$dir/orders.parquet")
      val srcBytes = java.nio.file.Files.readAllBytes(src)
      val srcMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(srcBytes).toSeq
      val nCopies = 6
      (0 until nCopies).foreach { i =>
        java.nio.file.Files.copy(src,
          java.nio.file.Paths.get(s"$base/ws/orders_$i.parquet"))
      }
      val pc = new org.apache.hadoop.conf.Configuration(false)
      pc.set(graft.cache.CacheConfig.CacheDirKey, s"$base/cache")
      pc.setInt(graft.cache.CacheConfig.BlockSizeKey, 32 * 1024)
      pc.setInt(graft.cache.CacheConfig.DiskFullnessKey, 50)
      val cc = CacheConfig.from(pc)
      val mgr = new CacheManager(cc, usableDiskBytes = 3L * srcBytes.length)
      val localFs = org.apache.hadoop.fs.FileSystem
        .getLocal(s.sparkContext.hadoopConfiguration)
      try {
        var maxW = 0L
        var bytesOk = true
        var recon: Array[Byte] = null
        for (pass <- 0 until 2; i <- 0 until nCopies) {
          val p = s"$base/ws/orders_$i.parquet"
          val key = new org.apache.hadoop.fs.Path("file", null, p).toString
          val ip = new org.apache.hadoop.fs.Path(key)
          val st = localFs.getFileStatus(ip)
          val out = new java.io.ByteArrayOutputStream(srcBytes.length)
          val cis = new graft.cache.CachingInputStream(
            () => localFs.open(ip), key, st.getLen, st.getModificationTime,
            mgr, cc)
          try {
            val buf = new Array[Byte](64 * 1024)
            var pos = 0L
            while (pos < st.getLen) {
              val r = cis.read(buf, 0,
                math.min(buf.length.toLong, st.getLen - pos).toInt)
              require(r > 0, s"eviction-gate read stalled at $pos of $p")
              out.write(buf, 0, r)
              pos += r
            }
          } finally cis.close()
          val got = out.toByteArray
          bytesOk &&= java.security.MessageDigest.getInstance("MD5")
            .digest(got).toSeq == srcMd5
          if (pass == 1 && i == 0) recon = got
          maxW = math.max(maxW, mgr.totalWeightKB)
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/recon/orders.parquet"), recon)
        val ok = mgr.metrics.evictions.get > 0 && mgr.budgetKB > 0 &&
          maxW <= mgr.budgetKB && bytesOk
        s.read.parquet(s"$base/recon")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 3).as("price"))
          .withColumn("evict_ok", lit(ok))
      } finally mgr.clear()
    },

    // ---- c15: SHADOW-MODE cache sizing under the full oracle — the
    // dry-run the reference's DummyModeCachingInputStream exists for
    // (DummyModeCachingInputStream.java: account cache state, store
    // nothing). A shadow manager (dummyMode on) and a real manager get
    // the SAME budget (~1.4× one file via the DiskBudgetSpec usable-disk
    // injection) and the SAME access pattern: four copies of
    // orders.parquet streamed in two passes — a working set ~2.8× the
    // budget, so the metadata-weighted LRU evicts in BOTH managers (the
    // shadow's weights count marked blocks alone, so the dry-run
    // genuinely simulates eviction without writing a data byte). In-band
    // (shadow_ok): the shadow cache dir holds ZERO data bytes (mdfiles
    // only), both managers evicted, and the shadow's pass-2 predicted
    // hit rate matches the real manager's measured warm hit rate within
    // 100 permille — the sizing question ("what hit rate would budget B
    // buy?") answered without the disk. The oracle aggregation runs over
    // the REAL manager's reconstructed second-pass bytes (the c14
    // discipline), so the shadow never substitutes for correctness. At
    // scale this is how a 100 TB deployment sizes cache volumes: replay
    // a day's access log against shadow bookkeepers at candidate
    // budgets, pick the knee, never stage a byte. ----
    QueryDef("c15_shadow_sizing",
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice),3) AS price, true AS shadow_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val base = tmpBase("graft-shadow", dir)
      Seq("ws", "shadow-cache", "real-cache", "recon").foreach(d =>
        new java.io.File(s"$base/$d").mkdirs())
      val src = java.nio.file.Paths.get(s"$dir/orders.parquet")
      val srcBytes = java.nio.file.Files.readAllBytes(src)
      val srcMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(srcBytes).toSeq
      val nCopies = 4
      (0 until nCopies).foreach { i =>
        java.nio.file.Files.copy(src,
          java.nio.file.Paths.get(s"$base/ws/orders_$i.parquet"))
      }
      def mkMgr(cacheDir: String, dummy: Boolean) = {
        val pc = new org.apache.hadoop.conf.Configuration(false)
        pc.set(graft.cache.CacheConfig.CacheDirKey, cacheDir)
        pc.setInt(graft.cache.CacheConfig.BlockSizeKey, 32 * 1024)
        pc.setInt(graft.cache.CacheConfig.DiskFullnessKey, 50)
        pc.setBoolean(graft.cache.CacheConfig.DummyKey, dummy)
        val cc = CacheConfig.from(pc)
        (new CacheManager(cc, usableDiskBytes = 3L * srcBytes.length), cc)
      }
      val (shadow, shadowConf) = mkMgr(s"$base/shadow-cache", dummy = true)
      val (real, realConf) = mkMgr(s"$base/real-cache", dummy = false)
      val localFs = org.apache.hadoop.fs.FileSystem
        .getLocal(s.sparkContext.hadoopConfiguration)
      try {
        var bytesOk = true
        def stream(mgr: CacheManager, cc: CacheConfig, i: Int): Array[Byte] = {
          val p = s"$base/ws/orders_$i.parquet"
          val key = new org.apache.hadoop.fs.Path("file", null, p).toString
          val ip = new org.apache.hadoop.fs.Path(key)
          val st = localFs.getFileStatus(ip)
          val out = new java.io.ByteArrayOutputStream(srcBytes.length)
          val cis = new graft.cache.CachingInputStream(
            () => localFs.open(ip), key, st.getLen, st.getModificationTime,
            mgr, cc)
          try {
            val buf = new Array[Byte](64 * 1024)
            var pos = 0L
            while (pos < st.getLen) {
              val r = cis.read(buf, 0,
                math.min(buf.length.toLong, st.getLen - pos).toInt)
              require(r > 0, s"shadow-gate read stalled at $pos of $p")
              out.write(buf, 0, r)
              pos += r
            }
          } finally cis.close()
          val got = out.toByteArray
          bytesOk &&= java.security.MessageDigest.getInstance("MD5")
            .digest(got).toSeq == srcMd5
          got
        }
        def hitsMisses(m: graft.cache.CacheManager) =
          (m.metrics.cachedRequests.get, m.metrics.remoteRequests.get)
        def permille(h: Long, m: Long): Long = h * 1000L / math.max(1L, h + m)

        (0 until nCopies).foreach(stream(shadow, shadowConf, _)) // shadow warm-mark
        val (sh0, sm0) = hitsMisses(shadow)
        (0 until nCopies).foreach(stream(shadow, shadowConf, _)) // shadow re-read
        val (sh1, sm1) = hitsMisses(shadow)
        val predicted = permille(sh1 - sh0, sm1 - sm0)
        val shadowDataBytes = {
          val root = java.nio.file.Paths.get(s"$base/shadow-cache")
          val st = java.nio.file.Files.walk(root)
          try st.filter(java.nio.file.Files.isRegularFile(_))
            .filter(p => !p.getFileName.toString.contains("_mdfile"))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally st.close()
        }

        (0 until nCopies).foreach(stream(real, realConf, _)) // real warm
        val (rh0, rm0) = hitsMisses(real)
        var recon: Array[Byte] = null
        (0 until nCopies).foreach { i =>
          val got = stream(real, realConf, i) // real re-read
          if (i == 0) recon = got
        }
        val (rh1, rm1) = hitsMisses(real)
        val actual = permille(rh1 - rh0, rm1 - rm0)

        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/recon/orders.parquet"), recon)
        val ok = shadowDataBytes == 0L && bytesOk &&
          shadow.metrics.evictions.get > 0 && real.metrics.evictions.get > 0 &&
          math.abs(predicted - actual) <= 100L
        s.read.parquet(s"$base/recon")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 3).as("price"))
          .withColumn("shadow_ok", lit(ok))
      } finally {
        shadow.clear()
        real.clear()
      }
    }
  )

  /** Path-prefix -> owner entries consulted by [[nonLocalResolver]]:
    * per-execution disjoint keys, so concurrent c13 runs never see each
    * other's ownership (the scratch base is unique per execution). */
  private val nonLocalOwners =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shared ownership resolver installed on the session manager (the
    * install is idempotent — same object every time): paths outside
    * [[nonLocalOwners]] resolve to None and classify Local exactly as
    * with no resolver, so other c* queries are unaffected. */
  private val nonLocalResolver: graft.cache.SplitOwnership =
    graft.cache.SplitOwnership("c13-self", (path, _) => {
      import scala.jdk.CollectionConverters._
      nonLocalOwners.asScala.collectFirst {
        case (pfx, owner) if path.startsWith(pfx) => owner
      }
    })

  /** The session's cache manager: the JVM's one manager of the cache
    * directories the session conf names, which every `graft://` file
    * system of the session reads through. */
  private def sessionManager(s: SparkSession): CacheManager =
    CacheManager.getOrInit(CacheConfig.from(s.sessionState.newHadoopConf()))

  /** Cache metrics snapshot of the session manager. */
  def metricsSnapshot(s: SparkSession): Map[String, Long] =
    sessionManager(s).metrics.snapshot.toMap

  /** Per-execution tagged counters off the session FS metrics (c08/c12's
    * contract source; zeros when the tag never recorded). */
  def taggedMetrics(s: SparkSession, tag: String): Map[String, Long] =
    sessionManager(s).metrics.taggedSnapshot(tag)

  private def dropTag(s: SparkSession, tag: String): Unit =
    sessionManager(s).metrics.dropTag(tag)
}
