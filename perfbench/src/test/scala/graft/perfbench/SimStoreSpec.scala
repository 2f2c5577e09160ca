package graft.perfbench

import java.io.File
import java.net.URI
import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileRange, Path}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

class SimStoreSpec extends AnyFunSuite with BeforeAndAfterEach {
  private var dir: File = _
  private var fs: SimStoreFileSystem = _

  override def beforeEach(): Unit = {
    dir = java.nio.file.Files.createTempDirectory("simstore-spec").toFile
    SimStore.model = StoreModel(latencyMs = 0.0, mbPerSec = 1e6)
    SimStore.stats = new StoreStats
    fs = new SimStoreFileSystem
    fs.initialize(URI.create("simstore:///"), new Configuration())
  }

  override def afterEach(): Unit = {
    fs.close()
    ScanData.deleteRecursively(dir)
    SimStore.model = StoreModel(20.0, 100.0)
  }

  private def path(name: String) = new Path("simstore://" + new File(dir, name).getAbsolutePath)
  private def stats = SimStore.stats.snapshot

  private def put(name: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(path(name), true)
    try out.write(bytes) finally out.close()
  }

  test("a PUT is one request with its exact bytes, visible only at close") {
    val out = fs.create(path("a"), true)
    out.write(Array.fill[Byte](1000)(1))
    out.write(7)
    assert(!new File(dir, "a").exists(), "object visible before the upload completed")
    assert(stats("put") == 0)
    out.close()
    assert(stats("put") == 1 && stats("put_bytes") == 1001)
    assert(new File(dir, "a").length == 1001)
    assert(dir.listFiles().map(_.getName).toSet == Set("a"), "staging file left behind")
  }

  test("HEAD, LIST, rename, delete and mkdir are one request each") {
    put("a", Array[Byte](1, 2, 3))
    assert(fs.getFileStatus(path("a")).getLen == 3)
    assert(fs.listStatus(new Path("simstore://" + dir.getAbsolutePath)).length == 1)
    assert(fs.rename(path("a"), path("b")))
    assert(fs.mkdirs(path("d")))
    assert(fs.delete(path("b"), false))
    val s = stats
    assert((s("head"), s("list"), s("rename"), s("mkdirs"), s("delete")) == (1, 1, 1, 1, 1))
    assert(s("get") == 0 && s("put") == 1)
  }

  test("sequential reads share one GET; a seek or a positioned read starts another") {
    val data = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    put("a", data)
    val in = fs.open(path("a"))
    val buf = new Array[Byte](10000)
    var off = 0
    while (off < 4000) off += in.read(buf, off, 1000)
    assert(stats("get") == 1 && stats("get_bytes") == 4000)
    in.seek(100)
    assert(in.read(buf, 0, 50) == 50)
    assert(stats("get") == 2 && stats("get_bytes") == 4050)
    val pos = new Array[Byte](300)
    in.readFully(9000, pos, 0, 300)
    assert(pos.toSeq == data.slice(9000, 9300).toSeq)
    assert(stats("get") == 3 && stats("get_bytes") == 4350)
    in.close()
  }

  test("a vectored read is one GET per range, with exact bytes") {
    val data = Array.tabulate[Byte](5000)(i => (i % 127).toByte)
    put("a", data)
    val in = fs.open(path("a"))
    val ranges = java.util.Arrays.asList(
      FileRange.createFileRange(0, 100), FileRange.createFileRange(1000, 200),
      FileRange.createFileRange(4000, 1000))
    in.readVectored(ranges, (n: Int) => ByteBuffer.allocate(n))
    ranges.forEach { r =>
      val bb = r.getData.get()
      val got = new Array[Byte](bb.remaining()); bb.get(got)
      assert(got.toSeq == data.slice(r.getOffset.toInt, (r.getOffset + r.getLength).toInt).toSeq)
    }
    assert(stats("get") == 3 && stats("get_bytes") == 1300)
    assert(SimStore.stats.distinctBytesRead == 5000)
    in.close()
  }

  test("every request pays the model latency and every byte its bandwidth") {
    put("a", new Array[Byte](200000))
    SimStore.model = StoreModel(latencyMs = 30.0, mbPerSec = 10.0)
    val t0 = System.nanoTime()
    fs.getFileStatus(path("a"))
    assert((System.nanoTime() - t0) / 1e6 >= 30.0)
    val in = fs.open(path("a"))
    val t1 = System.nanoTime()
    in.readFully(0, new Array[Byte](200000), 0, 200000) // 30 ms + 20 ms transfer
    assert((System.nanoTime() - t1) / 1e6 >= 50.0)
    assert(stats("get_busy_ns") >= 50000000L)
    in.close()
  }
}
