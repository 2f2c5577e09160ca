package graft.cache

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** A cached entry that is gone by the time a planned cached read reaches
  * it (evicted, invalidated or re-generated since the plan) is a plain
  * miss: the read is served from the store, nothing counts as corruption
  * and nothing is invalidated. Invalidating by path there would delete
  * the entry another reader re-created at the next generation. */
class GoneEntrySpec extends AnyFunSuite with CacheFixture {
  private val content = TestFiles.alphabetContent(1, 100) // 2600 B, 26 blocks

  test("an entry evicted and re-created between plan and cached read is " +
      "a miss: no corruption fallback, the new entry's files survive") {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.DiskFullnessKey, 50)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000) // no whole-file fill
    c.setBoolean(CacheConfig.StrictKey, false)
    val cc = CacheConfig.from(c)
    // 4400 B usable at 50%: a 2 KB budget
    val mgr = new CacheManager(cc, usableDiskBytes = 4400L)
    // the planner's status lookup of an uncached block asks the
    // ownership resolver; while armed, the first such call stops there,
    // after block 0 was classified Cached and before any chain runs
    val armed = new AtomicBoolean(false)
    val planned, resume = new CountDownLatch(1)
    mgr.ownership = Some(SplitOwnership("self", (_, _) => {
      if (armed.compareAndSet(true, false)) {
        planned.countDown()
        resume.await(30, TimeUnit.SECONDS)
      }
      None
    }))
    try {
      val a = TestFiles.write(tmp, "gone/a.bin", content)
      val b = TestFiles.write(tmp, "gone/b.bin", content)
      def readA(at: Int, len: Int): Array[Byte] = {
        val s = openCaching(a, mgr, cc)
        try readAll(s, at, len) finally s.close()
      }
      readA(0, 100) // block 0 of a cached, generation 1
      val gen1 = mgr.metadataFor("file:" + a).get.generation

      armed.set(true)
      var got: Array[Byte] = null
      val reader = new Thread(() => got = readA(0, 200))
      reader.start()
      assert(planned.await(30, TimeUnit.SECONDS), "the read never planned")
      // b (2 KB) evicts a (1 KB) under the 2 KB budget
      val sb = openCaching(b, mgr, cc)
      try readAll(sb, 0, content.length) finally sb.close()
      assert(mgr.metadataFor("file:" + a).isEmpty, "a was not evicted")
      // a reader re-creates a at the next generation, without block 0
      assert(readA(500, 100).sameElements(content.slice(500, 600)))
      val recreated = mgr.metadataFor("file:" + a).get
      assert(recreated.generation == gen1 + 1)
      resume.countDown()
      reader.join(30000)

      assert(got != null && got.sameElements(content.take(200)))
      assert(mgr.metrics.corruptionFallbacks.get == 0,
        "an evicted entry was counted as corruption")
      val now = mgr.metadataFor("file:" + a)
      assert(now.exists(_ eq recreated), "the re-created entry was invalidated")
      assert(recreated.isBlockCached(5) && recreated.dataFile.exists(),
        "the re-created entry's files were deleted")
    } finally mgr.clear()
  }

  test("invalidating a generation the path has moved past does nothing") {
    val p = "file:" + TestFiles.write(tmp, "gone/c.bin", content)
    val g1 = manager.getCacheStatus(p, 2600, 1L, 0, 1).generation
    manager.invalidate(p)
    val g2 = manager.getCacheStatus(p, 2600, 1L, 0, 1).generation
    manager.setAllCached(p, 2600, 1L, g2, 0, 1)
    manager.invalidate(p, g1)
    assert(manager.metadataFor(p).exists(m => m.generation == g2 && m.isBlockCached(0)))
    manager.invalidate(p, g2)
    assert(manager.metadataFor(p).isEmpty)
  }
}
