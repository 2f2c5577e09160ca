package graft.perfbench

import java.nio.ByteBuffer
import java.util.function.IntFunction

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.cache.GraftFileSystem

/** The caching file system with a `cache` span around every open, read
  * and write call, for the traced run. Reads take the same path as the
  * plain [[GraftFileSystem]]: the wrapper forwards positioned and
  * vectored reads and advertises whatever the wrapped stream does, so
  * parquet's vectored reads still reach the cache's `readVectored`. */
class TracingGraftFileSystem extends GraftFileSystem {

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = Trace.span("cache", "open") { super.open(f, bufferSize) }
    new FSDataInputStream(new TracedInputStream(in))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = Trace.span("cache", "write") {
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = Trace.span("cache", "write") { out.write(b) }
      override def write(b: Array[Byte], off: Int, n: Int): Unit =
        Trace.span("cache", "write") { out.write(b, off, n) }
      override def flush(): Unit = out.flush()
      override def close(): Unit = Trace.span("cache", "write") { out.close() }
    }, null)
  }
}

final class TracedInputStream(in: FSDataInputStream) extends FSInputStream
    with StreamCapabilities {
  override def hasCapability(capability: String): Boolean = in.hasCapability(capability)

  override def read(): Int = Trace.span("cache", "read") { in.read() }
  override def read(buf: Array[Byte], off: Int, n: Int): Int =
    Trace.span("cache", "read") { in.read(buf, off, n) }
  override def read(position: Long, buf: Array[Byte], off: Int, n: Int): Int =
    Trace.span("cache", "read") { in.read(position, buf, off, n) }
  override def readFully(position: Long, buf: Array[Byte], off: Int, n: Int): Unit =
    Trace.span("cache", "read") { in.readFully(position, buf, off, n) }

  override def minSeekForVectorReads(): Int = in.minSeekForVectorReads()
  override def maxReadSizeForVectorReads(): Int = in.maxReadSizeForVectorReads()
  override def readVectored(ranges: java.util.List[_ <: FileRange],
      allocate: IntFunction[ByteBuffer]): Unit =
    Trace.span("cache", "read") { in.readVectored(ranges, allocate) }

  override def seek(p: Long): Unit = in.seek(p)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def skip(n: Long): Long = in.skip(n)
  override def close(): Unit = in.close()
}
