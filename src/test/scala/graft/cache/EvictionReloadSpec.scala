package graft.cache

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Pins the eviction/reload generation invariant behind the r14
  * stress-gate corruption fix: once the owned LRU evicts a file, ANY
  * subsequent reload of that path must start COLD at a BUMPED generation
  * — never re-adopt the evicted generation's persisted bitmap. The LRU
  * evicts inside the call that charges the budget, and under the
  * manager lock it drops the entry, bumps the path's generation and
  * deletes the entry's files before the lock is released; so no reload
  * can restore the old bitmap and then lose its files, and no later warm
  * can re-create a sparse data file that serves zeros under covers=true
  * (StressGateSpec byte mismatch, ~1-in-3 at 8 threads, before the fix).
  * Cross-JVM warm restore (the r11 restart feature) is unaffected: a
  * fresh JVM seeds generations from the disk layout and no eviction has
  * retired them. */
class EvictionReloadSpec extends AnyFunSuite with CacheFixture {
  private val content = TestFiles.alphabetContent(1, 100) // 2600 B, 26 blocks

  private def tinyBudgetMgr(): CacheManager = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.DiskFullnessKey, 50)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    // budget = 3 x 2600 x 0.95 x 0.5 / 1024 = 3 KB; one fully-warmed
    // file weighs 2 KB -> the second file evicts the first
    new CacheManager(CacheConfig.from(c), usableDiskBytes = 3L * content.length)
  }

  test("a reload after eviction starts cold at a bumped generation") {
    val mgr = tinyBudgetMgr()
    try {
      val fA = TestFiles.write(tmp, "data/evA.bin", content)
      val fB = TestFiles.write(tmp, "data/evB.bin", content)
      val sA = openCaching(fA, mgr, mkConf(strict = false))
      readAll(sA, 0, content.length); sA.close()
      val genA = mgr.metadataFor("file:" + fA).get.generation
      assert(mgr.metadataFor("file:" + fA).get.cachedBlockCount == 26)

      val sB = openCaching(fB, mgr, mkConf(strict = false)) // exceeds the 3 KB budget -> evicts
      readAll(sB, 0, content.length); sB.close()
      assert(mgr.metrics.evictions.get > 0, "second file must evict under budget")

      // whichever file was evicted: reload it and assert the invariant
      val evicted = Seq(fA, fB).find(f => mgr.metadataFor("file:" + f).isEmpty)
        .getOrElse(fail("no entry was evicted"))
      val st = localFs.getFileStatus(new org.apache.hadoop.fs.Path(evicted))
      mgr.getCacheStatus("file:" + evicted, st.getLen,
        st.getModificationTime, 0, 1)
      val reborn = mgr.metadataFor("file:" + evicted).get
      assert(reborn.cachedBlockCount == 0,
        s"reload after eviction must be COLD, got ${reborn.cachedBlockCount} blocks")
      assert(reborn.generation > (if (evicted == fA) genA else 1),
        s"reload after eviction must bump the generation, got ${reborn.generation}")
      // and the reloaded instance re-warms normally, byte-exact
      val s2 = openCaching(evicted, mgr, mkConf(strict = false))
      assert(readAll(s2, 0, content.length).sameElements(content))
      s2.close()
    } finally mgr.clear()
  }

  test("cross-JVM-style restore still works when no eviction retired it") {
    // simulate a restart: same cache dir, fresh manager, NO eviction in
    // between -> the persisted bitmap must be adopted (warm restart)
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, cacheDir)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    val m1 = new CacheManager(CacheConfig.from(c))
    val f = TestFiles.write(tmp, "data/evC.bin", content)
    val s1 = openCaching(f, m1, mkConf(strict = false))
    readAll(s1, 0, content.length); s1.close()
    assert(m1.metadataFor("file:" + f).get.cachedBlockCount == 26)
    // fresh manager over the same disk layout (files NOT deleted)
    val m2 = new CacheManager(CacheConfig.from(c))
    try {
      val st = localFs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      m2.getCacheStatus("file:" + f, st.getLen, st.getModificationTime, 0, 26)
      assert(m2.metadataFor("file:" + f).get.cachedBlockCount == 26,
        "restart restore must adopt the persisted bitmap")
    } finally { m2.clear(); m1.clear() }
  }
}
