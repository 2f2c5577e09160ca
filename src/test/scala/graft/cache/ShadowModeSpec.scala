package graft.cache

import org.scalatest.funsuite.AnyFunSuite

/** Dummy (shadow) mode sizes a cache without storing data, so its block
  * state must follow the real read path's: a miss in a file no longer
  * than `max.read.request.size` fills the whole file. */
class ShadowModeSpec extends AnyFunSuite with CacheFixture {
  test("a miss in a small file marks the whole file in dummy mode, as a " +
      "real read caches it") {
    val content = TestFiles.alphabetContent(3, 100).take(800) // 8 blocks
    val f = TestFiles.write(tmp, "data/small.bin", content)
    val shadow = new CacheManager(
      mkConf(dummy = true).copy(cacheDir = s"$tmp/shadow"))
    try {
      Seq(manager, shadow).foreach { m =>
        val s = openCaching(f, m)
        assert(readAll(s, 0, 100).sameElements(content.take(100)))
        s.close()
      }
      assert(manager.metadataFor("file:" + f).get.cachedBlockCount == 8)
      val m = shadow.metadataFor("file:" + f).get
      assert(m.cachedBlockCount == 8,
        "dummy mode must mark the blocks a real read caches")
      assert(!m.dataFile.exists(), "dummy mode must not store data")
    } finally shadow.clear()
  }
}
