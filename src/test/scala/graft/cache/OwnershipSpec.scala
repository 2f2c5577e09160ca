package graft.cache

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListenerExecutorAdded,
  SparkListenerExecutorRemoved}
import org.apache.spark.scheduler.cluster.ExecutorInfo
import org.scalatest.funsuite.AnyFunSuite

/** The driver's locality hint and an executor's block routing ask one
  * owner function with one key, so for every split the host Spark is told
  * to run it on is the host of the node the executor reads it from. */
class OwnershipAlignmentSpec extends AnyFunSuite with CacheFixture {
  private val nodes = Seq("127.0.0.1:7001", "127.0.0.2:7002", "127.0.0.3:7003")
  private val SplitSz = 1000L
  private val content = TestFiles.alphabetContent(1, 400) // 10400 B, 11 splits

  /** Each split's locality host must be the host of the owner its blocks
    * are routed to. The key the blocks are classified under is the one a
    * read through `fs` leaves in the cache. */
  private def checkAligned(fs: FileSystem, path: Path, key: String): Unit = {
    val mgr = fs.asInstanceOf[GraftFileSystem].cacheManager
    // an executor's resolver, on a node that owns no split
    mgr.ownership = Some(SplitOwnership.ring("127.0.0.9:7009", SplitSz))
    try {
      val st = fs.getFileStatus(path)
      val locs = fs.getFileBlockLocations(st, 0, st.getLen)
      assert(locs.length >= 8)
      val in = fs.open(path)
      val got = new Array[Byte](content.length)
      try in.readFully(0, got) finally in.close()
      assert(got.sameElements(content))
      val m = mgr.metadataFor(key).getOrElse(fail(s"the read left no entry under $key"))
      locs.foreach { l =>
        val status = mgr.getCacheStatus(key, m.fileLen, m.lastModified,
          BlockMath.startBlock(l.getOffset, mgr.blockSize),
          BlockMath.endBlock(l.getOffset, l.getLength, mgr.blockSize),
          counted = false)
        val owners = status.blocks.map {
          case BlockState.NonLocal(o) => Membership.host(o)
          case other => fail(s"split @${l.getOffset} routed $other, not to a peer")
        }.distinct
        assert(owners == Seq(l.getHosts.head),
          s"split @${l.getOffset}: locality ${l.getHosts.head}, routed to $owners")
      }
    } finally mgr.ownership = None
  }

  private def fsConf(): Configuration = {
    val c = new Configuration()
    c.set(CacheConfig.CacheDirKey, s"$tmp/fsCache")
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.setLong(CacheConfig.SplitSizeKey, SplitSz)
    c.setBoolean(CacheConfig.StrictKey, false)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    c
  }

  test("graft:// and take-over shim files: every split's locality host " +
      "is the host of the owner its blocks are routed to") {
    val f = TestFiles.write(tmp, "aligned/f.bin", content)
    val key = new Path("file", null, f).toString
    Membership.set(nodes)
    try {
      val c = fsConf()
      c.set("fs.graft.impl", classOf[GraftFileSystem].getName)
      c.setBoolean("fs.graft.impl.disable.cache", true)
      c.set("fs.s3a.impl", classOf[GraftS3AFileSystem].getName)
      c.setBoolean("fs.s3a.impl.disable.cache", true)
      c.set("graft.s3a.underlying.impl", "org.apache.hadoop.fs.LocalFileSystem")
      for (scheme <- Seq("graft", "s3a")) {
        val path = new Path(s"$scheme://$f")
        val fs = path.getFileSystem(c)
        try checkAligned(fs, path, key) finally fs.close()
      }
    } finally {
      Membership.set(Nil)
      CacheManager.resetForTest()
    }
  }
}

/** The driver side of [[GraftPlugin]] keeps the member set: a node is the
  * host the scheduler registered for an executor and the peer port the
  * executor joined with; joins are answered with the node id and the
  * member list, and an executor Spark removes leaves the ring, taking only
  * its own splits elsewhere. */
class GraftPluginMembershipSpec extends AnyFunSuite {
  private def added(id: String, host: String) =
    SparkListenerExecutorAdded(0L, id, new ExecutorInfo(host, 1, Map.empty))

  private def join(driver: GraftPlugin.DriverSide, id: String, port: Int) =
    driver.receive((id, port)).asInstanceOf[(String, Array[String])] match {
      case (self, members) => (self, members.toSeq)
    }

  test("a removed executor leaves the ring; only its splits change owner") {
    val driver = new GraftPlugin.DriverSide
    val nodes = Seq("10.0.0.1:7001", "10.0.0.2:7002", "10.0.0.3:7003")
    try {
      // a join before the scheduler's registration is held until it
      assert(join(driver, "1", 7001) == (null, Nil))
      driver.onExecutorAdded(added("1", "10.0.0.1"))
      assert(Membership.members == nodes.take(1))
      driver.onExecutorAdded(added("2", "10.0.0.2"))
      driver.onExecutorAdded(added("3", "10.0.0.3"))
      assert(join(driver, "2", 7002) == ("10.0.0.2:7002", nodes.take(2)))
      assert(join(driver, "3", 7003) == ("10.0.0.3:7003", nodes))
      assert(Membership.members == nodes, "the driver JVM's view")

      val keys = (0 until 3000).map(i => s"s3a://bucket/t/part-$i.parquet")
      def owners = keys.map(Membership.owner(_, 0L, 256L << 20).get)
      val before = owners
      val gone = "10.0.0.2:7002"
      assert(before.contains(gone))
      driver.onExecutorRemoved(SparkListenerExecutorRemoved(0L, "2", "lost"))
      assert(Membership.members == Seq("10.0.0.1:7001", "10.0.0.3:7003"))
      val after = owners
      keys.indices.foreach { i =>
        if (before(i) == gone) assert(after(i) != gone, keys(i))
        else assert(after(i) == before(i), s"${keys(i)} moved off a live node")
      }

      // a late re-ask from the removed executor does not put it back
      assert(join(driver, "2", 7002) == (null, Seq("10.0.0.1:7001", "10.0.0.3:7003")))
      assert(!Membership.members.contains(gone))
    } finally driver.shutdown()
    assert(Membership.members.isEmpty)
  }
}
