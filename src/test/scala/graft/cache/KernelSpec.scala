package graft.cache

import org.scalatest.funsuite.AnyFunSuite

class BlockMathSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)
  test("start/end block basics") {
    assert(BlockMath.startBlock(0, 100) == 0)
    assert(BlockMath.startBlock(99, 100) == 0)
    assert(BlockMath.startBlock(100, 100) == 1)
    assert(BlockMath.endBlock(0, 1, 100) == 1)
    assert(BlockMath.endBlock(0, 100, 100) == 1)
    assert(BlockMath.endBlock(0, 101, 100) == 2)
    assert(BlockMath.endBlock(250, 100, 100) == 4)
    assert(BlockMath.blockCount(0, 100) == 0)
    assert(BlockMath.blockCount(1, 100) == 1)
    assert(BlockMath.blockCount(1000, 100) == 10)
    assert(BlockMath.blockCount(1001, 100) == 11)
  }

  test("every byte of a range is covered by [startBlock, endBlock)") {
    for (_ <- 1 to 500) {
      val pos = rnd.nextLong(100000L)
      val len = 1 + rnd.nextInt(5000)
      val bs = Seq(64, 100, 1024)(rnd.nextInt(3))
      val sb = BlockMath.startBlock(pos, bs)
      val eb = BlockMath.endBlock(pos, len, bs)
      assert(BlockMath.blockStart(sb, bs) <= pos)
      assert(BlockMath.blockStart(eb, bs) >= pos + len)
      assert((eb - sb) <= (len / bs) + 2)
    }
  }

  test("align round-trips") {
    for (_ <- 1 to 500) {
      val p = rnd.nextLong(1000000L)
      val bs = Seq(64, 100, 1 << 20)(rnd.nextInt(3))
      assert(BlockMath.alignDown(p, bs) <= p)
      assert(BlockMath.alignUp(p, bs) >= p)
      assert(BlockMath.alignDown(p, bs) % bs == 0)
      assert(BlockMath.alignUp(p, bs) % bs == 0)
    }
  }
}

class ReadRangeSpec extends AnyFunSuite {
  private def rr(bs: Long, be: Long): ReadRange = ReadRange(bs, be, bs, be, 0)

  test("collate merges only adjacent backend ranges") {
    val groups = ReadRange.collate(Seq(rr(0, 100), rr(100, 200), rr(300, 400)))
    assert(groups.map(_.size) == Seq(2, 1))
    assert(groups.head.head.backendStart == 0)
    assert(groups.head.last.backendEnd == 200)
  }

  test("collate keeps single range") {
    assert(ReadRange.collate(Seq(rr(5, 10))).map(_.size) == Seq(1))
    assert(ReadRange.collate(Nil).isEmpty)
  }

  test("chunk splits oversized ranges block-aligned") {
    val r = ReadRange(0, 1000, 40, 960, 0)
    // ReadPlanner.plan is the one chunker: each remote group is one chunk
    val status = CacheStatus(1, Vector.fill(10)(BlockState.Local))
    val chunks = ReadPlanner.plan(r.actualStart, r.actualLen, 1000, 100, 300,
      status, 0).collect { case RemoteChain(g) =>
      ReadRange(g.head.backendStart, g.last.backendEnd,
        g.head.actualStart, g.last.actualEnd, g.head.destOffset)
    }
    assert(chunks.map(_.backendLen).sum == 1000)
    assert(chunks.forall(_.backendLen <= 300))
    // actual windows partition the original actual range
    assert(chunks.map(_.actualLen).sum == r.actualLen)
    assert(chunks.head.actualStart == 40 && chunks.last.actualEnd == 960)
    // dest offsets line up
    chunks.foreach(c =>
      assert(c.destOffset == (c.actualStart - r.actualStart).toInt))
  }
}

class BlockBitmapSpec extends AnyFunSuite {
  test("set/get/cardinality + newly-set counting") {
    val bm = BlockBitmap.empty(20)
    assert(bm.set(3, 7) == 4)
    assert(bm.set(5, 10) == 3) // 5,6 already set
    assert(bm.isSet(3) && bm.isSet(9) && !bm.isSet(10))
    assert(bm.cardinality == 7)
    assert(bm.allSet(3, 10) && !bm.allSet(2, 5))
  }

  test("bytes round-trip preserves trailing-zero padding") {
    val bm = BlockBitmap.empty(100)
    bm.set(0, 3)
    val bytes = bm.toBytes
    assert(bytes.length == BlockBitmap.byteLength(100))
    val back = BlockBitmap.fromBytes(100, bytes)
    assert(back.cardinality == 3 && back.isSet(2) && !back.isSet(3))
  }

  test("out-of-range set is clamped") {
    val bm = BlockBitmap.empty(5)
    assert(bm.set(-2, 99) == 5)
    assert(!bm.isSet(-1) && !bm.isSet(5))
  }
}

class CacheFileLayoutSpec extends AnyFunSuite {
  test("data/md file naming + generation discovery") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val remote = "file:///some/deep/path/part-0001.parquet"
    val d2 = CacheFileLayout.dataFile(dir, remote, 2)
    assert(d2.getPath.endsWith("part-0001.parquet_g2.data"))
    assert(CacheFileLayout.mdFile(dir, remote, 2).getPath
      .endsWith("part-0001.parquet_mdfile_g2"))
    assert(CacheFileLayout.findLatestGeneration(dir, remote) == 0)
    CacheFileLayout.ensureParent(d2)
    java.nio.file.Files.write(d2.toPath, Array[Byte](1))
    assert(CacheFileLayout.findLatestGeneration(dir, remote) == 2)
    CacheFileLayout.deleteGenerations(dir, remote, 2)
    assert(CacheFileLayout.findLatestGeneration(dir, remote) == 0)
  }
}

class MultiDiskLayoutSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("files spread across disks, data+md colocate, mapping stable") {
    val base = java.nio.file.Files.createTempDirectory("graft-disks")
    val disks = (1 to 3).map(i => s"$base/disk$i").mkString(",")
    val paths = (1 to 60).map(i => s"file:///data/part-$i.parquet")
    val used = scala.collection.mutable.Set.empty[String]
    paths.foreach { p =>
      val d = CacheFileLayout.dataFile(disks, p, 1)
      val m = CacheFileLayout.mdFile(disks, p, 1)
      assert(d.getParent == m.getParent, "data+md must share a disk")
      used += d.getPath.split("/disk")(1).take(1)
      // stable: same answer on re-query
      assert(CacheFileLayout.dataFile(disks, p, 1).getPath == d.getPath)
    }
    assert(used.size == 3, s"60 files must touch all 3 disks, got $used")
    // generation discovery works per-disk
    val p0 = paths.head
    val d0 = CacheFileLayout.dataFile(disks, p0, 4)
    CacheFileLayout.ensureParent(d0)
    java.nio.file.Files.write(d0.toPath, Array[Byte](1))
    assert(CacheFileLayout.findLatestGeneration(disks, p0) == 4)
  }
}

/** The mdfile header must pin WHICH file version a persisted bitmap
  * describes: a restart must never adopt a bitmap for a changed file
  * (same length, different mtime/content) — the staleness hole c13's
  * repeated scratch path exposed. */
class MetadataRestoreSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def conf(dir: String) = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    c.set(CacheConfig.CacheDirKey, dir)
    CacheConfig.from(c)
  }

  test("bitmap restores across JVMs only for the same (fileLen, mtime)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mdr-").toString
    val cc = conf(dir)
    val path = "file:/data/t.bin"
    val m1 = new FileMetadata(path, 4L * cc.blockSize, 1111L, 1, cc.blockSize, cc.cacheDir)
    m1.setBlocksCached(0, 3)
    // same version "after a restart": bitmap restored
    val m2 = new FileMetadata(path, 4L * cc.blockSize, 1111L, 1, cc.blockSize, cc.cacheDir)
    assert(m2.allCached(0, 3) && !m2.isBlockCached(3),
      "same-version restore must recover the persisted bitmap")
    // changed mtime (same length!): bitmap must NOT restore
    val m3 = new FileMetadata(path, 4L * cc.blockSize, 2222L, 1, cc.blockSize, cc.cacheDir)
    assert(!m3.isBlockCached(0),
      "a changed file version must restore an EMPTY bitmap")
    // changed length: also empty (and a different bitmap size anyway)
    val m4 = new FileMetadata(path, 5L * cc.blockSize, 1111L, 1, cc.blockSize, cc.cacheDir)
    assert(!m4.isBlockCached(0))
  }

  test("headerless legacy mdfile restores empty, not garbage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mdr2-").toString
    val cc = conf(dir)
    val path = "file:/data/legacy.bin"
    val md = CacheFileLayout.mdFile(cc.cacheDir, path, 1)
    CacheFileLayout.ensureParent(md)
    // r10-format file: bare bitmap bytes, no header
    val blocks = BlockMath.blockCount(4L * cc.blockSize, cc.blockSize)
    java.nio.file.Files.write(md.toPath,
      Array.fill(BlockBitmap.byteLength(blocks))(0xFF.toByte))
    val m = new FileMetadata(path, 4L * cc.blockSize, 1111L, 1, cc.blockSize, cc.cacheDir)
    assert(!m.isBlockCached(0), "legacy headerless mdfile must not restore")
  }
}
