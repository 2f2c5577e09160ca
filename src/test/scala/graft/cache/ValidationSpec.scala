package graft.cache

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

class CacheValidatorSpec extends AnyFunSuite with CacheFixture {
  test("file validator flags orphan mdfiles and bad sizes") {
    val content = TestFiles.alphabetContent(1, 100)
    val f = TestFiles.write(tmp, "v/a.bin", content)
    val p = "file:" + f
    // healthy entry via real warmup
    val s = openCaching(f)
    readAll(s, 0, 500); s.close()
    assert(CacheValidator.filesConsistent(conf))
    val r0 = CacheValidator.validateFiles(conf)
    assert(r0.dataFiles == 1 && r0.mdFiles == 1)
    // orphan mdfile
    val orphan = CacheFileLayout.mdFile(cacheDir, "file:/nope/b.bin", 1)
    CacheFileLayout.ensureParent(orphan)
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1))
    val r1 = CacheValidator.validateFiles(conf)
    assert(r1.orphanMd.size == 1 && !CacheValidator.filesConsistent(conf))
    orphan.delete()
    // corrupt mdfile size
    val md = CacheFileLayout.mdFile(cacheDir, p, 1)
    java.nio.file.Files.write(md.toPath, new Array[Byte](99))
    val r2 = CacheValidator.validateFiles(conf)
    assert(r2.oversized.size == 1)
  }
}

/** Concurrent access: parallel readers warming overlapping ranges of one
  * file must all observe byte-exact data and a consistent final bitmap
  * (the reference stripes locks for exactly this — FileMetadata.java:58).
  */
class ConcurrencySpec extends AnyFunSuite with CacheFixture {
  test("32 concurrent readers over one file: exact bytes, consistent state") {
    val content = TestFiles.alphabetContent(1, 400) // 10400 bytes, 104 blocks
    val f = TestFiles.write(tmp, "c/big.bin", content)
    val pool = Executors.newFixedThreadPool(32)
    val latch = new CountDownLatch(32)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rnd = new scala.util.Random(7)
    val jobs = (0 until 32).map { i =>
      val pos = rnd.nextInt(content.length - 1000)
      val len = 1 + rnd.nextInt(999)
      (pos, len)
    }
    jobs.zipWithIndex.foreach { case ((pos, len), i) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          try {
            val s = openCaching(f)
            val got = readAll(s, pos, len)
            s.close()
            if (!got.sameElements(content.slice(pos, pos + len)))
              errors.add(s"reader $i mismatch at $pos+$len")
          } catch {
            case e: Throwable => errors.add(s"reader $i: $e")
          } finally latch.countDown()
        }
      })
    }
    assert(latch.await(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(errors.isEmpty, errors.toString)
    // final state: metadata consistent, warm re-read touches no source
    val before = manager.metrics.bytesFromRemote.get
    val s = openCaching(f)
    jobs.foreach { case (pos, len) =>
      assert(readAll(s, pos, len).sameElements(content.slice(pos, pos + len)))
    }
    s.close()
    assert(manager.metrics.bytesFromRemote.get == before,
      "all previously-read ranges must be cache hits")
    assert(CacheValidator.filesConsistent(conf))
  }
}
