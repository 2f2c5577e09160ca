package graft.cache

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Multi-node peer topology with membership churn (r14 verdict "Next
  * round" #4 — the full analog of the reference's docker multi-node
  * suite, rubix-tests/src/test/robotframework/multi-node/NonLocalRead
  * .robot): TWO owner processes each hold the warmed file, a consistent-
  * hash ring over both assigns split ownership, and the reader in THIS
  * process pulls every block over a real socket from whichever owner the
  * ring names. Then the ring churns:
  *   - graceful remap — one owner leaves the ring (and dies); a fresh
  *     reader resolves every split to the survivor and still reads
  *     byte-exact with zero source bytes;
  *   - stale membership — an owner dies but the ring still names it
  *     (SURVEY risk #3's lazy-removal reality); the reader must fall
  *     back to direct reads for exactly that owner's splits, byte-exact,
  *     with the fallback counted, while the survivor's splits still ride
  *     the peer path. */
class ThreeProcessPeerSpec extends AnyFunSuite with CacheFixture {
  val content: Array[Byte] = TestFiles.alphabetContent(1, 100) // 2600 bytes
  private val BlockSz = 100
  private val SplitSz = 200L

  private def startOwner(file: String, cacheDir: String):
      (Process, Int, StringBuilder) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(javaBin, "-Xmx512m", "-cp",
      TwoProcessPeerSpec.childClasspath,
      "graft.cache.PeerOwnerChild", file, cacheDir, BlockSz.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new StringBuilder
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var port = -1
    var line = in.readLine()
    while (line != null && port < 0) {
      log.append(line).append('\n')
      if (line.startsWith("PORT ")) port = line.stripPrefix("PORT ").trim.toInt
      else line = in.readLine()
    }
    assert(port > 0, s"child never reported a port; output:\n$log")
    (proc, port, log)
  }

  private def mkReader(dir: String, ring: ConsistentHashRing): CacheManager = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, BlockSz)
    c.set(CacheConfig.CacheDirKey, dir)
    c.setBoolean(CacheConfig.StrictKey, false)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    val m = new CacheManager(CacheConfig.from(c))
    m.ownership = Some(SplitOwnership("local-reader",
      (path, off) => ring.locateSplit(path, off, SplitSz)))
    m
  }

  test("two owners + reader: ring-distributed peer reads, graceful " +
      "remap on ring leave, direct-read fallback on stale membership") {
    val f = TestFiles.write(tmp, "data/xproc3.bin", content)
    val key = "file:" + f
    val (procA, portA, logA) = startOwner(f, s"$tmp/ownerCacheA")
    val (procB, portB, logB) = startOwner(f, s"$tmp/ownerCacheB")
    val readers = scala.collection.mutable.ListBuffer[CacheManager]()
    try {
      // each owner's node id is its server's address
      val (ownerA, ownerB) = (s"127.0.0.1:$portA", s"127.0.0.1:$portB")
      val ringAB = new ConsistentHashRing(Seq(ownerA, ownerB))
      val ringB = new ConsistentHashRing(Seq(ownerB))
      // per-block ownership under the two-node ring; with 13 splits x 64
      // vnodes both owners hold some splits — asserted, not assumed
      val blockOwner = (0 until content.length by BlockSz)
        .map(off => off -> ringAB.locateSplit(key, off.toLong, SplitSz).get)
        .toMap
      val aBytes = blockOwner.count(_._2 == ownerA).toLong * BlockSz
      val bBytes = blockOwner.count(_._2 == ownerB).toLong * BlockSz
      assert(aBytes > 0 && bBytes > 0,
        s"ring must distribute splits across both owners: a=$aBytes b=$bBytes")

      // phase 1: both owners live — the full file arrives over the two
      // sockets, byte-exact, zero source bytes, split by ring ownership
      val r1 = mkReader(s"$tmp/readerCache1", ringAB); readers += r1
      val s1 = openCaching(f, r1, mkConf(strict = false))
      assert(readAll(s1, 0, content.length).sameElements(content))
      s1.close()
      assert(r1.metrics.bytesFromPeers.get == content.length.toLong,
        s"all bytes must ride the peer path; owners:\n$logA\n$logB")
      assert(r1.metrics.bytesFromRemote.get == 0)
      assert(r1.metrics.peerFallbacks.get == 0)

      // phase 2: owner-a leaves the ring AND dies (graceful churn) — a
      // fresh reader resolves everything to owner-b, which also warmed
      // the file: still a pure peer read, no fallback, no source bytes
      procA.destroyForcibly(); procA.waitFor()
      val r2 = mkReader(s"$tmp/readerCache2", ringB); readers += r2
      val s2 = openCaching(f, r2, mkConf(strict = false))
      assert(readAll(s2, 0, content.length).sameElements(content))
      s2.close()
      assert(r2.metrics.bytesFromPeers.get == content.length.toLong,
        "remapped splits must still ride the peer path")
      assert(r2.metrics.bytesFromRemote.get == 0)
      assert(r2.metrics.peerFallbacks.get == 0)

      // phase 3: STALE membership — the ring still names dead owner-a;
      // its splits fall back to direct reads (counted), owner-b's splits
      // stay on the socket, and the assembled bytes are exact
      val r3 = mkReader(s"$tmp/readerCache3", ringAB); readers += r3
      val s3 = openCaching(f, r3, mkConf(strict = false))
      assert(readAll(s3, 0, content.length).sameElements(content))
      s3.close()
      assert(r3.metrics.peerFallbacks.get >= 1,
        "dead-but-ringed owner must surface as a fallback")
      assert(r3.metrics.bytesFromPeers.get == bBytes,
        s"survivor's splits must stay on the peer path " +
          s"(${r3.metrics.bytesFromPeers.get} vs $bBytes)")
      assert(r3.metrics.bytesFromRemote.get == aBytes,
        s"dead owner's splits must be served from the source " +
          s"(${r3.metrics.bytesFromRemote.get} vs $aBytes)")
    } finally {
      Seq(procA, procB).foreach { p =>
        if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
      }
      readers.foreach(_.clear())
    }
  }
}
