package graft.cache

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Concurrent stress gate — the analog of the reference's stressor
  * protocol (rubix-stress/rubix_stressor.py:18-60: N client threads
  * replaying queries while the cluster downscales): 8 threads replay the
  * relational corpus through graft:// while (a) the locality ring churns
  * (a phantom peer node joins/leaves, flipping blocks between Local and
  * NonLocal at an address where nothing listens — every NonLocal read
  * must fall back correctly) and (b) eviction runs under a deliberately tight
  * 2 MB budget. Every result must equal the uncached baseline, and the
  * weigher must never overshoot the budget. */
class StressGateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var cacheDir: String = _
  private val sf = "/root/testdata/sf0.001"
  /** The phantom peer's node id: an address where nothing listens. */
  private val phantom = "127.0.0.1:1"
  private def ring(nodes: String*): Unit = Membership.set(nodes)

  override def beforeAll(): Unit = {
    cacheDir = java.nio.file.Files.createTempDirectory("graft-stress").toString
    org.apache.hadoop.fs.FileSystem.closeAll()
    CacheManager.resetForTest()
    spark = GraftSession.builder(master = "local[8]", shufflePartitions = 8,
      cacheDir = Some(cacheDir))
      .config("spark.hadoop." + CacheConfig.MaxSizeKey, "2") // tight: evicts
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = {
    Membership.set(Nil)
    if (spark != null) spark.stop()
    CacheManager.resetForTest()
  }

  // order-independent integer outputs: immune to float summation order,
  // so any mismatch is cache corruption, not arithmetic noise
  private def queries(root: String): Seq[(String, () => Array[String])] = Seq(
    ("lineitem_agg", () => spark.read.parquet(s"$root/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_linenumber").as("s"),
        countDistinct("l_orderkey").as("d"))
      .collect().map(_.toString).sorted),
    ("orders_join", () => {
      val o = spark.read.parquet(s"$root/orders.parquet")
      val l = spark.read.parquet(s"$root/lineitem.parquet")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(_.toString).sorted
    }),
    ("documents_lang", () => spark.read.parquet(s"$root/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"))
      .collect().map(_.toString).sorted))

  test("8 threads × ring churn × tight eviction budget: all results exact") {
    val baseline = queries(sf).map { case (n, f) => n -> f() }.toMap

    // first cached pass initializes the graft FS + manager
    queries(s"graft://$sf").foreach { case (n, f) =>
      assert(f().sameElements(baseline(n)), s"cold cached run differs: $n")
    }
    val mgr = CacheManager.current.get
    assert(mgr.budgetKB == 2 * 1024)
    // locality ring: self + a phantom peer that owns ~half the splits but
    // does not listen -> NonLocal reads must fall back to direct
    ring("self")
    mgr.ownership = Some(SplitOwnership.ring("self", splitSize = 64 * 1024))

    val stop = new AtomicBoolean(false)
    val churn = new Thread(() => {
      while (!stop.get()) {
        ring("self", phantom)
        Thread.sleep(3)
        ring("self")
        Thread.sleep(3)
      }
    }, "ring-churn")
    churn.setDaemon(true); churn.start()

    val errs = new ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        try {
          val qs = queries(s"graft://$sf")
          (0 until 5).foreach { i =>
            val (name, f) = qs((t + i) % qs.size)
            val got = f()
            if (!got.sameElements(baseline(name)))
              errs.add(s"thread $t iter $i: $name mismatch")
          }
        } catch { case e: Throwable => errs.add(s"thread $t: $e") }
      }, s"stress-$t")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    stop.set(true); churn.join(2000)

    // a churn-phase miss lands in a phantom window only by timing; so hold
    // the phantom in the ring, drop one table whose first split it owns,
    // and read that table once: its miss classifies NonLocal and, with no
    // listener, falls back to the store
    ring("self", phantom)
    val (table, query) = Seq("lineitem" -> "lineitem_agg",
        "orders" -> "orders_join", "documents" -> "documents_lang")
      .find { case (t, _) => mgr.ownership.get
        .resolve(s"file:$sf/$t.parquet", 0L).contains(phantom) }
      .getOrElse(fail("the phantom owns no table's first split"))
    mgr.invalidate(s"file:$sf/$table.parquet")
    val held = queries(s"graft://$sf").toMap.apply(query)()
    ring("self")
    assert(held.sameElements(baseline(query)), s"phantom-held run differs: $query")

    assert(errs.isEmpty, s"stress failures: ${errs.toArray.mkString("; ")}")
    assert(mgr.totalWeightKB <= mgr.budgetKB,
      s"budget overshoot: ${mgr.totalWeightKB} KB > ${mgr.budgetKB} KB")
    val m = mgr.metrics
    info(f"hit rate ${m.hitRate}%.2f, evictions ${m.evictions.get}, " +
      f"peer fallbacks ${m.peerFallbacks.get}, " +
      f"nonlocal requests ${m.nonlocalRequests.get}")
    assert(m.hitRate > 0.0, "warm replays must produce cache hits")
    assert(m.evictions.get > 0, "2 MB budget over ~4 tables must evict")
    assert(m.nonlocalRequests.get > 0,
      "ring churn must classify some blocks NonLocal")
    assert(m.peerFallbacks.get > 0,
      "nothing listens at the phantom's address: NonLocal reads must fall back")
    mgr.ownership = None
  }

  // r9 tested the three stressors pairwise; this drives all THREE at
  // once: 8 threads of readVectored traffic over four sf0.01 files
  // (well past the 2 MB budget, so eviction cycles under the reads)
  // while the locality ring churns. Every returned buffer is compared
  // byte-for-byte against a direct filesystem read — eviction or
  // ownership flips mid-readVectored must degrade to slower paths,
  // never to wrong bytes.
  test("readVectored × ring churn × eviction pressure: byte parity from 8 threads") {
    import org.apache.hadoop.fs.FileRange
    import scala.jdk.CollectionConverters._
    val files = Seq("lineitem", "orders", "documents", "part")
      .map(t => s"/root/testdata/sf0.01/$t.parquet")
    val sizes = files.map(f => f -> new java.io.File(f).length()).toMap
    def direct(path: String, at: Long, len: Int): Array[Byte] = {
      val ch = java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path))
      try {
        ch.position(at)
        val bb = java.nio.ByteBuffer.allocate(len)
        while (bb.hasRemaining) assert(ch.read(bb) >= 0)
        bb.array()
      } finally ch.close()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graft:///"), spark.sessionState.newHadoopConf())
    val mgr = CacheManager.current.get
    ring("self")
    mgr.ownership = Some(SplitOwnership.ring("self", splitSize = 64 * 1024))
    val stop = new AtomicBoolean(false)
    val churn = new Thread(() => {
      while (!stop.get()) {
        ring("self", phantom); Thread.sleep(2)
        ring("self"); Thread.sleep(2)
      }
    }, "vread-churn")
    churn.setDaemon(true); churn.start()

    val evict0 = mgr.metrics.evictions.get
    val vect0 = mgr.metrics.vectoredRanges.get
    val errs = new ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(100 + t)
        try {
          (0 until 40).foreach { i =>
            val path = files(rnd.nextInt(files.size))
            val size = sizes(path)
            val in = fs.open(new org.apache.hadoop.fs.Path(s"graft://$path"))
            try {
              val ranges = (0 until 1 + rnd.nextInt(4)).map { _ =>
                val len = 256 + rnd.nextInt(8192)
                val at = math.max(0L, rnd.nextLong(math.max(1L, size - len)))
                FileRange.createFileRange(at, len)
              }.asJava
              in.readVectored(ranges,
                (n: Int) => java.nio.ByteBuffer.allocate(n))
              ranges.asScala.foreach { r =>
                val bb = r.getData.get(60, java.util.concurrent.TimeUnit.SECONDS)
                val out = new Array[Byte](bb.remaining()); bb.get(out)
                if (!out.sameElements(direct(path, r.getOffset, r.getLength)))
                  errs.add(s"thread $t iter $i: byte mismatch " +
                    s"$path@${r.getOffset}+${r.getLength}")
              }
            } finally in.close()
          }
        } catch { case e: Throwable => errs.add(s"thread $t: $e") }
      }, s"vread-stress-$t")
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    stop.set(true); churn.join(2000)
    assert(errs.isEmpty, s"vectored stress failures: ${errs.toArray.mkString("; ")}")
    assert(mgr.metrics.vectoredRanges.get > vect0,
      "the stressor must actually drive the vectored path")
    assert(mgr.metrics.evictions.get > evict0,
      "four sf0.01 files over a 2 MB budget must evict during the run")
    assert(mgr.totalWeightKB <= mgr.budgetKB,
      s"budget overshoot: ${mgr.totalWeightKB} KB > ${mgr.budgetKB} KB")
    mgr.ownership = None
  }
}
