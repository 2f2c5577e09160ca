package graft.cache

import java.io.IOException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end coverage for the peer-cache read path: two CacheManagers in
  * one JVM (standing in for two executors), a real PeerTransferServer
  * socket between them, and a resolver that names the owner's address
  * (its node id) for every split.
  * Mirrors the reference's TestNonLocalReadRequestChain.java:1-369
  * coverage: byte-exact transfer, refusal statuses falling back to direct
  * reads, staleness refusal, and strict-mode propagation. */
class PeerTransferSpec extends AnyFunSuite with CacheFixture {
  val content: Array[Byte] = TestFiles.alphabetContent(1, 100) // 2600 bytes

  private def mkConfAt(dir: String, strict: Boolean): CacheConfig = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, dir)
    c.setBoolean(CacheConfig.StrictKey, strict)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    CacheConfig.from(c)
  }

  /** The read policy of the reader of the running [[withPeers]]. */
  private var readerConf: CacheConfig = _

  private def withPeers[A](readerStrict: Boolean = false)(
      body: (CacheManager, CacheManager, PeerTransferServer, String) => A): A = {
    val owner = new CacheManager(mkConfAt(s"$tmp/cacheOwner", strict = true))
    readerConf = mkConfAt(s"$tmp/cacheReader", readerStrict)
    val reader = new CacheManager(readerConf)
    val server = new PeerTransferServer(owner)
    reader.ownership = Some(SplitOwnership("nodeB", (_, _) => Some(server.node)))
    try body(owner, reader, server, TestFiles.write(tmp, "data/peer.bin", content))
    finally {
      server.close()
      owner.clear()
      reader.clear()
    }
  }

  /** A `host:port` owner id at which nothing listens. */
  private def deadNode: String = {
    val s = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    try s"127.0.0.1:${s.getLocalPort}" finally s.close()
  }

  /** Route every split of `reader` to an owner that is not listening. */
  private def ownedByDeadNode(reader: CacheManager): Unit = {
    val dead = deadNode
    reader.ownership = Some(SplitOwnership("nodeB", (_, _) => Some(dead)))
  }

  private def warm(owner: CacheManager, f: String, pos: Long, len: Int): Unit = {
    val s = openCaching(f, owner)
    readAll(s, pos, len)
    s.close()
  }

  test("non-local read is byte-exact and moves zero source bytes") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      assert(owner.metadataFor("file:" + f).get.allCached(0, 26))

      val s = openCaching(f, reader, readerConf)
      val got = readAll(s, 150, 500)
      s.close()
      assert(got.sameElements(content.slice(150, 650)))
      assert(reader.metrics.bytesFromPeers.get == 500,
        "whole request must be served from the peer's disk cache")
      assert(owner.metrics.bytesToPeers.get == 500)
      assert(reader.metrics.bytesFromRemote.get == 0,
        "peer hit must not touch the source")
      assert(reader.metrics.peerFallbacks.get == 0)
    }
  }

  test("multiple disjoint spans and full-file peer reads stay byte-exact") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      val s = openCaching(f, reader, readerConf)
      assert(readAll(s, 0, 100).sameElements(content.slice(0, 100)))
      assert(readAll(s, 2500, 100).sameElements(content.slice(2500, 2600)))
      assert(readAll(s, 0, content.length).sameElements(content))
      s.close()
      assert(reader.metrics.bytesFromPeers.get == 100 + 100 + 2600)
      assert(reader.metrics.bytesFromRemote.get == 0)
    }
  }

  test("peer refusal (blocks not cached) falls back to direct read") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, 100) // only block 0 cached on the owner
      val s = openCaching(f, reader, readerConf)
      val got = readAll(s, 500, 500) // blocks 5..9: owner refuses NotCached
      s.close()
      assert(got.sameElements(content.slice(500, 1000)))
      assert(reader.metrics.bytesFromPeers.get == 0)
      assert(reader.metrics.peerFallbacks.get >= 1)
      assert(reader.metrics.bytesFromRemote.get >= 500,
        "refused range must be served directly from the source")
    }
  }

  test("stale mtime is refused by the owner and falls back") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      val st = localFs.getFileStatus(new Path(f))
      // reader believes a different mtime -> owner's staleness check refuses
      val s = new CachingInputStream(() => localFs.open(new Path(f)),
        "file:" + f, st.getLen, st.getModificationTime + 1000, reader,
        readerConf)
      val got = readAll(s, 150, 500)
      s.close()
      assert(got.sameElements(content.slice(150, 650)))
      assert(reader.metrics.bytesFromPeers.get == 0)
      assert(reader.metrics.peerFallbacks.get >= 1)
    }
  }

  test("unregistered peer endpoint falls back; strict mode throws") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      ownedByDeadNode(reader) // nothing listens at the owner's address
      val s = openCaching(f, reader, readerConf)
      val got = readAll(s, 0, 300)
      s.close()
      assert(got.sameElements(content.slice(0, 300)))
      assert(reader.metrics.peerFallbacks.get >= 1)
    }
    withPeers(readerStrict = true) { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      ownedByDeadNode(reader)
      val s = openCaching(f, reader, readerConf)
      intercept[IOException] { readAll(s, 0, 300) }
      s.close()
    }
  }

  test("strict reader surfaces peer refusal instead of silent fallback") {
    withPeers(readerStrict = true) { (owner, reader, _, f) =>
      // owner has nothing cached -> refusal must propagate in strict mode
      val s = openCaching(f, reader, readerConf)
      intercept[IOException] { readAll(s, 500, 500) }
      s.close()
    }
  }

  test("transport failure (owner down) sends no warm request") {
    withPeers() { (owner, reader, server, f) =>
      server.close() // the owner's address stops listening
      val s = openCaching(f, reader, readerConf)
      val got = readAll(s, 0, 300)
      s.close()
      assert(got.sameElements(content.slice(0, 300)))
      assert(reader.metrics.peerFallbacks.get >= 1)
    }
  }

  test("concurrent peer reads from many reader threads are byte-exact") {
    withPeers() { (owner, reader, _, f) =>
      warm(owner, f, 0, content.length)
      val threads = 16
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until threads).map { i =>
        new Thread(() => {
          try {
            val s = openCaching(f, reader, readerConf)
            val pos = (i * 37) % 2000
            val got = readAll(s, pos, 600)
            s.close()
            if (!got.sameElements(content.slice(pos, pos + 600)))
              throw new AssertionError(s"corrupt peer read at $pos")
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(30000))
      assert(errs.isEmpty, s"concurrent peer reads failed: ${errs.peek()}")
      assert(reader.metrics.bytesFromPeers.get == threads * 600L)
    }
  }
}
