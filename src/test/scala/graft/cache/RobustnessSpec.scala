package graft.cache

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Edge-condition robustness: multi-megabyte peer transfers (socket
  * buffer boundaries inside transferTo loops), odd path characters
  * through the cache layout, and tiny tail blocks. */
class RobustnessSpec extends AnyFunSuite with CacheFixture {

  test("multi-MB peer transfer crosses socket buffers byte-exactly") {
    val rnd = new scala.util.Random(11)
    val big = new Array[Byte](5 * 1024 * 1024 + 137) // odd tail
    rnd.nextBytes(big)
    val cA = new Configuration()
    cA.setInt(CacheConfig.BlockSizeKey, 1 << 20)
    cA.set(CacheConfig.CacheDirKey, s"$tmp/peerBigOwner")
    cA.setInt(CacheConfig.MaxReadRequestKey, 8 << 20)
    val ccA = CacheConfig.from(cA)
    val owner = new CacheManager(ccA)
    val cB = new Configuration()
    cB.setInt(CacheConfig.BlockSizeKey, 1 << 20)
    cB.set(CacheConfig.CacheDirKey, s"$tmp/peerBigReader")
    cB.setInt(CacheConfig.MaxReadRequestKey, 8 << 20)
    val ccB = CacheConfig.from(cB)
    val reader = new CacheManager(ccB)
    val server = new PeerTransferServer(owner)
    reader.ownership = Some(SplitOwnership("rB", (_, _) => Some(server.node)))
    try {
      val f = TestFiles.write(tmp, "data/big.bin", big)
      val w = openCaching(f, owner, ccA)
      readAll(w, 0, big.length); w.close()
      val s = openCaching(f, reader, ccB)
      val got = readAll(s, 0, big.length)
      s.close()
      assert(java.util.Arrays.equals(got, big),
        "5 MB peer read must be byte-identical")
      assert(reader.metrics.bytesFromPeers.get == big.length.toLong)
      assert(reader.metrics.bytesFromRemote.get == 0)
    } finally {
      server.close(); owner.clear(); reader.clear()
    }
  }

  test("paths with spaces and odd characters cache correctly") {
    val content = TestFiles.alphabetContent(1, 50)
    for (name <- Seq("data/with space.bin", "data/we%ird+name.bin",
        "data/dots..and..more.bin")) {
      val f = TestFiles.write(tmp, name, content)
      val s1 = openCaching(f)
      assert(readAll(s1, 0, content.length).sameElements(content), name)
      s1.close()
      val remoteBefore = manager.metrics.bytesFromRemote.get
      val s2 = openCaching(f)
      assert(readAll(s2, 10, 500).sameElements(content.slice(10, 510)), name)
      s2.close()
      assert(manager.metrics.bytesFromRemote.get == remoteBefore,
        s"$name: warm re-read must not touch the source")
    }
  }

  test("zero-length file: immediate EOF, no cache entry churn") {
    val f = TestFiles.write(tmp, "data/empty.bin", Array.emptyByteArray)
    val s = openCaching(f)
    assert(s.read() == -1)
    val buf = new Array[Byte](8)
    assert(s.read(buf, 0, 8) == -1)
    s.close()
  }

  test("seek to EOF reads -1; seek past EOF throws; boundary reads clamp") {
    val content = TestFiles.alphabetContent(1, 10) // 260 bytes
    val f = TestFiles.write(tmp, "data/eof.bin", content)
    val s = openCaching(f)
    s.seek(content.length)
    assert(s.read() == -1, "read at EOF must return -1")
    intercept[java.io.EOFException] { s.seek(content.length + 1) }
    // read request extending past EOF clamps to the remaining bytes
    s.seek(content.length - 5)
    val buf = new Array[Byte](100)
    assert(s.read(buf, 0, 100) == 5)
    assert(buf.take(5).sameElements(content.takeRight(5)))
    s.close()
  }

  test("hung peer surfaces as a timeout, not an indefinitely blocked task") {
    // a server that accepts but never replies
    val mute = new java.net.ServerSocket(0)
    try {
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException] {
        PeerTransferClient.read(
          new java.net.InetSocketAddress("127.0.0.1", mute.getLocalPort),
          "file:/x", 0L, 10, 100L, 0L, new Array[Byte](10), 0,
          connectTimeoutMs = 1000, readTimeoutMs = 300)
      }
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < 5000, s"timed out in ${ms}ms (must not hang)")
      assert(e.isInstanceOf[java.net.SocketTimeoutException] ||
        e.getMessage != null)
    } finally mute.close()
  }

  test("read() validates off/len against the InputStream contract") {
    val f = TestFiles.write(tmp, "data/bounds.bin", TestFiles.alphabetContent(1, 10))
    val s = openCaching(f)
    val buf = new Array[Byte](10)
    intercept[IndexOutOfBoundsException] { s.read(buf, 0, -5) }
    intercept[IndexOutOfBoundsException] { s.read(buf, -1, 5) }
    intercept[IndexOutOfBoundsException] { s.read(buf, 8, 5) }
    assert(s.getPos == 0, "failed validation must not move the position")
    s.close()
  }

  test("single-byte file and single-byte reads") {
    val f = TestFiles.write(tmp, "data/one.bin", Array[Byte](42))
    val s = openCaching(f)
    assert(s.read() == 42)
    assert(s.read() == -1, "EOF after the only byte")
    s.close()
    val s2 = openCaching(f)
    assert(readAll(s2, 0, 1).head == 42)
    s2.close()
  }
}
