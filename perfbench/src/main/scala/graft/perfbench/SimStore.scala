package graft.perfbench

import java.io.{File, FileNotFoundException, IOException, OutputStream, RandomAccessFile}
import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Cost model of the simulated object store: every request waits a fixed
  * first-byte latency, and every byte moves at a per-stream bandwidth. */
final case class StoreModel(latencyMs: Double, mbPerSec: Double) {
  def latencyNanos: Long = (latencyMs * 1e6).toLong
  def transferNanos(bytes: Long): Long = (bytes / (mbPerSec * 1e6) * 1e9).toLong
}

/** Exact request and byte counters of the simulated store (one set per
  * JVM; the store is JVM-global like the block cache above it). */
final class StoreStats {
  val gets = new AtomicLong
  val getBytes = new AtomicLong
  val getBusyNanos = new AtomicLong
  val heads = new AtomicLong
  val lists = new AtomicLong
  val puts = new AtomicLong
  val putBytes = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val mkdirs = new AtomicLong
  val inflight = new AtomicInteger
  val maxInflight = new AtomicInteger
  /** Distinct files read, with their length (for cache space amplification). */
  val filesRead = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  def snapshot: Map[String, Long] = Map(
    "get" -> gets.get, "get_bytes" -> getBytes.get,
    "get_busy_ns" -> getBusyNanos.get, "head" -> heads.get,
    "list" -> lists.get, "put" -> puts.get, "put_bytes" -> putBytes.get,
    "rename" -> renames.get, "delete" -> deletes.get, "mkdirs" -> mkdirs.get,
    "max_inflight" -> maxInflight.get.toLong)

  def distinctBytesRead: Long = {
    var s = 0L
    filesRead.values().forEach(v => s += v)
    s
  }

  def resetMaxInflight(): Unit = maxInflight.set(inflight.get)
}

object SimStore {
  val Scheme = "simstore"
  @volatile var model: StoreModel = StoreModel(20.0, 100.0)
  @volatile var stats: StoreStats = new StoreStats

  /** Blocks the calling thread for `nanos` (park may wake early). */
  def pause(nanos: Long): Unit = {
    val end = System.nanoTime() + nanos
    var left = nanos
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = end - System.nanoTime()
    }
  }

  /** One store request: counts it as in flight, charges the first-byte
    * latency, runs `body`, and records a `store` span when tracing. */
  def request[T](name: String)(body: => T): T = {
    val st = stats
    val n = st.inflight.incrementAndGet()
    st.maxInflight.accumulateAndGet(n, math.max)
    try Trace.span("store", name) {
      pause(model.latencyNanos)
      body
    } finally st.inflight.decrementAndGet()
  }
}

/** Hadoop FileSystem for `simstore:///<abs path>`: a remote object store
  * simulated over local files. Paths map one to one onto the local file
  * system. Every public call is one store request (HEAD, LIST, GET, PUT,
  * rename, delete, mkdir) and pays the [[StoreModel]] latency; reads and
  * writes also pay its per-stream bandwidth. A PUT becomes visible
  * atomically at close, like an object store upload: the bytes go to a
  * hidden sibling file that is renamed into place. */
class SimStoreFileSystem extends FileSystem {
  private val local = new RawLocalFileSystem
  private var workingDir = new Path("/")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
  }

  override def getUri: URI = URI.create(s"${SimStore.Scheme}:///")
  override def getScheme: String = SimStore.Scheme

  private def absPath(p: Path): String = {
    val q = if (p.isAbsolute) p else new Path(workingDir, p)
    q.toUri.getPath
  }
  private def toLocal(p: Path): Path = new Path("file", null, absPath(p))
  private def toStore(p: Path): Path =
    new Path(SimStore.Scheme, null, p.toUri.getPath)

  private def translate(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, 1, st.getBlockSize,
      st.getModificationTime, toStore(st.getPath))

  private def stats = SimStore.stats

  override def getFileStatus(f: Path): FileStatus =
    SimStore.request("head") {
      stats.heads.incrementAndGet()
      translate(local.getFileStatus(toLocal(f)))
    }

  override def listStatus(f: Path): Array[FileStatus] =
    SimStore.request("list") {
      stats.lists.incrementAndGet()
      local.listStatus(toLocal(f)).map(translate)
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val file = new File(absPath(f))
    if (!file.isFile) throw new FileNotFoundException(f.toString)
    new FSDataInputStream(new SimStoreInputStream(file))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val dst = new File(absPath(f))
    if (!overwrite && dst.exists())
      throw new FileAlreadyExistsException(f.toString)
    dst.getParentFile.mkdirs()
    val tmp = new File(dst.getParentFile,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.put")
    new FSDataOutputStream(new SimStorePutStream(tmp, dst), null)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object stores do not append")

  override def rename(src: Path, dst: Path): Boolean =
    SimStore.request("rename") {
      stats.renames.incrementAndGet()
      local.rename(toLocal(src), toLocal(dst))
    }

  override def delete(f: Path, recursive: Boolean): Boolean =
    SimStore.request("delete") {
      stats.deletes.incrementAndGet()
      local.delete(toLocal(f), recursive)
    }

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    SimStore.request("mkdir") {
      stats.mkdirs.incrementAndGet()
      local.mkdirs(toLocal(f), permission)
    }

  override def setWorkingDirectory(dir: Path): Unit = { workingDir = dir }
  override def getWorkingDirectory: Path = workingDir

  override def close(): Unit = try local.close() finally super.close()
}

/** Object-store read stream: a read at the position where the previous
  * one ended continues the open GET (bandwidth only); any other read
  * starts a new GET and pays the request latency. Positioned reads are
  * one GET each. */
final class SimStoreInputStream(file: File) extends FSInputStream {
  private val raf = new RandomAccessFile(file, "r")
  private val len = raf.length()
  private var pos = 0L
  /** Offset the open GET stream has reached; -1 when none is open. */
  private var streamPos = -1L
  SimStore.stats.filesRead.putIfAbsent(file.getPath, len)

  private def readAt(at: Long, buf: Array[Byte], off: Int, n: Int): Int =
    synchronized {
      raf.seek(at)
      raf.read(buf, off, n)
    }

  /** Serves `n` bytes at `at` as part of a GET: counts bytes, charges the
    * transfer time, and records busy time. `newRequest` also counts the
    * request and charges its latency. */
  private def get(at: Long, buf: Array[Byte], off: Int, n: Int,
      newRequest: Boolean): Int = {
    val st = SimStore.stats
    val t0 = System.nanoTime()
    def transfer(): Int = {
      val got = readAt(at, buf, off, n)
      if (got > 0) {
        st.getBytes.addAndGet(got)
        SimStore.pause(SimStore.model.transferNanos(got))
      }
      got
    }
    val got =
      if (newRequest) SimStore.request("get") { st.gets.incrementAndGet(); transfer() }
      else Trace.span("store", "get") { transfer() }
    st.getBusyNanos.addAndGet(System.nanoTime() - t0)
    got
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
  }

  override def read(buf: Array[Byte], off: Int, n: Int): Int = {
    if (n == 0) return 0
    if (pos >= len) return -1
    val want = math.min(n.toLong, len - pos).toInt
    val got = get(pos, buf, off, want, newRequest = pos != streamPos)
    if (got > 0) { pos += got; streamPos = pos }
    got
  }

  override def read(position: Long, buf: Array[Byte], off: Int, n: Int): Int = {
    if (n == 0) return 0
    if (position >= len) return -1
    get(position, buf, off, math.min(n.toLong, len - position).toInt,
      newRequest = true)
  }

  override def readFully(position: Long, buf: Array[Byte], off: Int, n: Int): Unit = {
    if (n == 0) return
    if (position < 0 || position + n > len)
      throw new java.io.EOFException(s"readFully($position, $n) past EOF $len")
    var done = get(position, buf, off, n, newRequest = true)
    // a local read may return short; the rest is the same GET
    while (done < n) {
      val got = get(position + done, buf, off + done, n - done, newRequest = false)
      if (got <= 0) throw new java.io.EOFException(s"short read of ${file.getPath}")
      done += got
    }
  }

  override def seek(p: Long): Unit = {
    if (p < 0 || p > len) throw new java.io.EOFException(s"seek $p outside [0, $len]")
    pos = p
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def available(): Int = math.min(Int.MaxValue.toLong, len - pos).toInt
  override def close(): Unit = raf.close()
}

/** Object-store upload: buffered to a hidden local file, then one PUT at
  * close (latency + bandwidth for all bytes) that renames it into place. */
final class SimStorePutStream(tmp: File, dst: File) extends OutputStream {
  private val out = new java.io.BufferedOutputStream(
    new java.io.FileOutputStream(tmp), 1 << 16)
  private var bytes = 0L
  private var closed = false

  override def write(b: Int): Unit = { out.write(b); bytes += 1 }
  override def write(b: Array[Byte], off: Int, n: Int): Unit = {
    out.write(b, off, n); bytes += n
  }
  override def flush(): Unit = out.flush()

  override def close(): Unit = if (!closed) {
    closed = true
    out.close()
    SimStore.request("put") {
      val st = SimStore.stats
      st.puts.incrementAndGet()
      st.putBytes.addAndGet(bytes)
      SimStore.pause(SimStore.model.transferNanos(bytes))
      if (!tmp.renameTo(dst)) {
        tmp.delete()
        throw new IOException(s"PUT of $dst failed")
      }
    }
  }
}
