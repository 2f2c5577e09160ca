package graft.cache

import org.scalatest.funsuite.AnyFunSuite

class ConsistentHashRingSpec extends AnyFunSuite {
  private val nodes = (1 to 10).map(i => s"exec-$i")

  test("keys spread roughly evenly across nodes") {
    val ring = new ConsistentHashRing(nodes)
    val counts = (1 to 10000)
      .map(i => ring.locateKey(s"/data/file-$i:0:268435456").get)
      .groupBy(identity).view.mapValues(_.size)
    assert(counts.size == 10)
    val (mn, mx) = (counts.values.min, counts.values.max)
    assert(mx < mn * 4, s"distribution too skewed: min=$mn max=$mx")
  }

  test("node removal only remaps its own share") {
    val ring1 = new ConsistentHashRing(nodes)
    val ring2 = new ConsistentHashRing(nodes.filterNot(_ == "exec-7"))
    val keys = (1 to 5000).map(i => s"/data/f$i:0:268435456")
    val moved = keys.count { k =>
      val o1 = ring1.locateKey(k).get
      o1 != "exec-7" && ring2.locateKey(k).get != o1
    }
    assert(moved == 0, s"$moved keys moved that were not owned by the removed node")
  }

  test("split ownership is deterministic and split-stable") {
    val ring = new ConsistentHashRing(nodes)
    val a = ring.locateSplit("/d/x.parquet", 100, 256L << 20)
    val b = ring.locateSplit("/d/x.parquet", (256L << 20) - 1, 256L << 20)
    val c = ring.locateSplit("/d/x.parquet", 256L << 20, 256L << 20)
    assert(a == b, "same split -> same owner")
    assert(a.isDefined && c.isDefined)
  }

  test("empty ring locates nothing") {
    assert(new ConsistentHashRing(Nil).locateKey("k").isEmpty)
  }
}

class CacheAffinitySpec extends AnyFunSuite {
  test("blockLocations carve the file into owned splits") {
    Membership.set(Seq("10.0.0.1:7001", "10.0.0.2:7001", "10.0.0.3:7001"))
    try {
      val key = "file:/d/f.parquet"
      val locs = CacheAffinity.blockLocations(key, 3500, 0, 3500, 1000L)
      assert(locs.length == 4)
      assert(locs.map(_.getOffset).toSeq == Seq(0L, 1000L, 2000L, 3000L))
      assert(locs.last.getLength == 500)
      assert(locs.forall(l => Set("10.0.0.1", "10.0.0.2", "10.0.0.3")
        .contains(l.getHosts.head)))
      // deterministic across calls
      val locs2 = CacheAffinity.blockLocations(key, 3500, 0, 3500, 1000L)
      assert(locs.map(_.getHosts.head).sameElements(locs2.map(_.getHosts.head)))
    } finally Membership.set(Nil)
  }
}

class MetricsTagSpec extends AnyFunSuite {
  test("threads spawned inside a withTag window do NOT inherit the tag") {
    // A lazily-created pool thread must not permanently bill a finished
    // query's tag (the InheritableThreadLocal leak the local-property
    // fallback had): the thread tag is a plain ThreadLocal.
    // reuse an already-active session if one exists; otherwise create a
    // private one AND stop it — leaving a stray session active makes
    // later suites' getOrCreate silently inherit the wrong master conf
    // (e.g. StreamRetrySpec's local[4, 2] task-retry setting)
    import org.apache.spark.sql.SparkSession
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filter(!_.sparkContext.isStopped)
    val spark = existing.getOrElse(SparkSession.builder()
      .master("local[2]").appName("metricstag-leak").getOrCreate())
    try {
      val seen = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
      MetricsTag.withTag(spark, "leak-test-tag") {
        assert(MetricsTag.current.contains("leak-test-tag"),
          "the tagging thread itself must carry the tag")
        val t = new Thread(() => seen.set(MetricsTag.current))
        t.start(); t.join()
      }
      assert(seen.get().isEmpty,
        s"child thread inherited the tag: ${seen.get()}")
      assert(MetricsTag.current.isEmpty, "tag must clear after the window")
    } finally if (existing.isEmpty) spark.stop()
  }
}

/** Many-chain reads: mixed cached/remote plans, their chains run in
  * order, must stay byte-exact and fully warm the cache. */
class ParallelChainSpec extends org.scalatest.funsuite.AnyFunSuite with CacheFixture {
  private val content = TestFiles.alphabetContent(1, 200) // 5200 bytes, 52 blocks

  test("parallel chain execution is byte-exact for mixed plans") {
    val c = new org.apache.hadoop.conf.Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setBoolean(CacheConfig.StrictKey, true)
    c.setInt(CacheConfig.MaxReadRequestKey, 300) // force many chains
    val cc = CacheConfig.from(c)
    val mgr = new CacheManager(cc)
    val f = TestFiles.write(tmp, "p/par.bin", content)
    // pre-warm a scattered set of blocks so plans interleave cached+remote
    val s0 = openCaching(f, mgr, cc)
    Seq(400, 1200, 2600, 4400).foreach(p => readAll(s0, p, 100))
    s0.close()
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val pos = rnd.nextInt(content.length - 1500)
      val len = 300 + rnd.nextInt(1200)
      val s = openCaching(f, mgr, cc)
      val got = readAll(s, pos, len)
      s.close()
      assert(got.sameElements(content.slice(pos, pos + len)), s"at $pos+$len")
    }
    // everything read is now cached; a full warm read touches no source
    val s1 = openCaching(f, mgr, cc)
    readAll(s1, 0, content.length); s1.close()
    val before = mgr.metrics.bytesFromRemote.get
    val s2 = openCaching(f, mgr, cc)
    assert(readAll(s2, 0, content.length).sameElements(content))
    s2.close()
    assert(mgr.metrics.bytesFromRemote.get == before)
  }
}
