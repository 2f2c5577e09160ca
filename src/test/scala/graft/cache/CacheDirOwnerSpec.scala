package graft.cache

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** One owner per cache directory ([[CacheDirOwner]]). Two executor JVMs
  * on one host that name the same `graft.cache.dir` must never share
  * generation files; the second caches in a private `.jvm-<pid>`
  * directory, and the owner alone keeps the warm restore. The two-JVM
  * cases run a [[CacheDirChild]] process over the [[TwoProcessPeerSpec]]
  * classpath. */
class CacheDirOwnerSpec extends AnyFunSuite with CacheFixture {
  private val content = TestFiles.alphabetContent(1, 100) // 2600 B, 26 blocks

  /** A child JVM caching `file` under `dir`, driven one command at a time. */
  private final class Child(file: String, dir: String) {
    private val proc = new ProcessBuilder(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx256m", "-cp",
      TwoProcessPeerSpec.childClasspath, "graft.cache.CacheDirChild",
      file, dir, "100", "1000").redirectErrorStream(true).start()
    private val out = new java.io.PrintWriter(proc.getOutputStream, true)
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    private val log = new StringBuilder

    def apply(cmd: String): Unit = {
      out.println(cmd)
      var line = in.readLine()
      while (line != null && line != "OK" && !line.startsWith("ERR")) {
        log.append(line).append('\n'); line = in.readLine()
      }
      assert(line == "OK", s"child `$cmd` answered $line; output:\n$log")
    }

    /** Close stdin and wait for the exit, which releases its locks. */
    def close(): Unit = {
      out.close()
      if (!proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly().waitFor()
    }
  }

  private def confOn(dir: String): CacheConfig = {
    val c = new Configuration()
    c.setInt(CacheConfig.BlockSizeKey, 100)
    c.set(CacheConfig.CacheDirKey, dir)
    c.setBoolean(CacheConfig.StrictKey, false)
    c.setInt(CacheConfig.MaxReadRequestKey, 1000)
    CacheConfig.from(c)
  }

  private def mgrOn(dir: String): CacheManager = new CacheManager(confOn(dir))

  private def status(mgr: CacheManager, f: String): CacheStatus = {
    val st = localFs.getFileStatus(new org.apache.hadoop.fs.Path(f))
    mgr.getCacheStatus("file:" + f, st.getLen, st.getModificationTime, 0, 26)
  }

  test("a second JVM on the same cache directory never reads the first " +
      "JVM's re-created generation as cached bytes") {
    val f = TestFiles.write(tmp, "data/shared.bin", content)
    val dir = s"$tmp/shared"
    val a = new Child(f, dir)
    try {
      a("read 0 100") // A caches block 0
      val b = mgrOn(dir)
      status(b, f) // B looks the file up while A's entry is on disk
      a("invalidate") // A unlinks generation 1
      a("restart") // a restarted A seeds generation 1 from the empty disk
      a("read 500 100") // and its miss re-creates generation 1, sparse
      val s = openCaching(f, b, mkConf(strict = false))
      val got = readAll(s, 0, 100)
      s.close()
      assert(got.sameElements(content.slice(0, 100)),
        s"block 0 read ${got.count(_ == 0)} zero bytes")
      b.clear()
    } finally a.close()
  }

  test("a restarted owner re-adopts its predecessor's files") {
    val f = TestFiles.write(tmp, "data/warm.bin", content)
    val dir = s"$tmp/warm"
    val a = new Child(f, dir)
    try a(s"read 0 ${content.length}")
    finally a.close()
    val b = mgrOn(dir)
    val s = openCaching(f, b, mkConf(strict = false))
    assert(readAll(s, 0, content.length).sameElements(content))
    s.close()
    assert(b.metrics.bytesFromRemote.get == 0,
      "the owner after a restart must serve the previous owner's blocks")
    b.clear()
  }

  test("a locked directory sends this JVM to .jvm-<pid>; the owner sweeps " +
      "unlocked .jvm-* directories and keeps locked ones") {
    val pid = ProcessHandle.current().pid()
    // `taken` is locked as if by another process
    val taken = new File(s"$tmp/taken"); taken.mkdirs()
    val ch = FileChannel.open(new File(taken, CacheDirOwner.LockName).toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock = ch.lock()
    try {
      assert(CacheDirOwner.claim(taken.getPath) ==
        new File(taken, s".jvm-$pid").getCanonicalPath)
      val f = TestFiles.write(tmp, "data/private.bin", content)
      val b = mgrOn(taken.getPath)
      val s = openCaching(f, b, mkConf(strict = false))
      readAll(s, 0, 300); s.close()
      assert(status(b, f).blocks.take(3).forall(_ == BlockState.Cached))
      assert(!new File(taken, "local").exists(),
        "nothing may be written outside the private directory")
      b.clear()

      // the owner of `swept` finds one dead and one live .jvm-* directory
      val swept = new File(s"$tmp/swept")
      val dead = new File(swept, ".jvm-1/local/x")
      dead.mkdirs()
      new File(dead, "a_g1.data").createNewFile()
      val live = new File(swept, ".jvm-2"); live.mkdirs()
      val liveCh = FileChannel.open(new File(live, CacheDirOwner.LockName).toPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val liveLock = liveCh.lock()
      try {
        assert(CacheDirOwner.claim(swept.getPath) == swept.getCanonicalPath)
        assert(!new File(swept, ".jvm-1").exists(), "a dead JVM's directory stays")
        assert(live.exists(), "a live JVM's directory was deleted")
      } finally { liveLock.release(); liveCh.close() }
    } finally { lock.release(); ch.close() }
  }

  test("CacheValidator ignores the lock file and .jvm-* directories") {
    val f = TestFiles.write(tmp, "data/valid.bin", content)
    val dir = s"$tmp/validated"
    val mgr = mgrOn(dir)
    val s = openCaching(f, mgr, mkConf(strict = false))
    readAll(s, 0, content.length); s.close()
    // an orphan mdfile in another JVM's private directory
    val other = new File(dir, ".jvm-3/local/x"); other.mkdirs()
    new File(other, "a_mdfile_g1").createNewFile()
    val r = CacheValidator.validateFiles(confOn(dir))
    assert(r.dataFiles == 1 && r.mdFiles == 1, r.toString)
    assert(r.orphanMd.isEmpty && r.orphanData.isEmpty, r.toString)
    assert(CacheValidator.filesConsistent(confOn(dir)))
    mgr.clear()
  }
}
