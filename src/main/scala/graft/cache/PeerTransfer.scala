package graft.cache

import java.io.{EOFException, IOException}
import java.net.{InetSocketAddress, StandardSocketOptions}
import java.nio.ByteBuffer
import java.nio.channels.{FileChannel, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.StandardOpenOption
import java.util.concurrent.Executors

/** Peer-to-peer cache transfer — the reference's LocalDataTransferServer
  * (rubix-bookkeeper LocalDataTransferServer.java:159-374) plus the client
  * half of NonLocalReadRequestChain (rubix-core
  * NonLocalReadRequestChain.java:107-146), re-expressed for Spark
  * executors. When the locality ring says another executor owns a split
  * and the scheduler could not honor the placement hint, the task fetches
  * the bytes from the owner's local disk cache over a raw socket instead
  * of re-reading the remote object store.
  *
  * Wire protocol (binary, one request per connection, mirroring
  * DataTransferHeader): request = [pathLen:Int][path UTF-8][offset:Long]
  * [length:Int][fileLen:Long][mtime:Long]; response = [status:Int] then,
  * iff status==0, exactly `length` payload bytes streamed zero-copy via
  * FileChannel.transferTo (LocalDataTransferServer.java:347-353).
  * Non-zero status means the server cannot serve (blocks not fully
  * cached, stale mtime, unknown file) and the caller must fall back.
  */
object PeerTransfer {
  val StatusOk = 0
  val StatusNotCached = 1
  val StatusStale = 2
  val StatusError = 3

  /** One request header, as read off the wire. */
  final case class Request(path: String, offset: Long, length: Int,
      fileLen: Long, mtime: Long)

  /** The socket address of node id `host:port`. */
  def address(node: String): InetSocketAddress = {
    val i = node.lastIndexOf(':')
    if (i <= 0) throw new IOException(s"peer id $node is not host:port")
    new InetSocketAddress(node.substring(0, i), node.substring(i + 1).toInt)
  }
}

/** Executor-local socket server streaming cached byte ranges to peers.
  * Serves only ranges whose blocks are fully cached here — it never
  * triggers remote reads on behalf of a peer: a refused requester reads
  * the store itself, and this node's cache fills only from its own
  * read-through misses. It listens on an ephemeral port of `bindHost`,
  * or of every interface when `bindHost` is empty (under [[GraftPlugin]]),
  * and, like the reference's LocalDataTransferServer, authenticates no
  * one: any client that reaches the port can read this node's cached
  * ranges. */
final class PeerTransferServer(manager: CacheManager,
    bindHost: String = "127.0.0.1", handlerThreads: Int = 4) {

  private val server = ServerSocketChannel.open()
  server.bind(
    if (bindHost.isEmpty) new InetSocketAddress(0) else new InetSocketAddress(bindHost, 0))
  @volatile private var running = true

  private val handlers = Executors.newFixedThreadPool(handlerThreads, r => {
    val t = new Thread(r, "graft-peer-handler"); t.setDaemon(true); t
  })
  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val ch = server.accept()
        try handlers.submit(new Runnable { override def run(): Unit = handle(ch) })
        catch { case t: Throwable => // pool rejected: don't leak the fd
          try ch.close() catch { case _: Throwable => }
          if (!running) throw t
        }
      } catch { case _: Throwable if !running => /* closed */
                case _: Throwable =>
                  // persistent failure (e.g. fd exhaustion): back off
                  // instead of spinning a hot loop
                  try Thread.sleep(50) catch { case _: InterruptedException => } }
    }
  }, "graft-peer-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def port: Int = server.socket().getLocalPort
  /** This server's node id, `bindHost:port`, when it listens on one host. */
  def node: String = s"$bindHost:$port"

  private def handle(ch: SocketChannel): Unit = {
    // once StatusOk is on the wire, NEVER write again: a late error
    // status would be consumed by the client's payload loop as file
    // bytes (silent corruption). Closing mid-payload instead makes the
    // client hit EOF and take its fallback.
    var okSent = false
    try {
      ch.setOption[java.lang.Boolean](StandardSocketOptions.TCP_NODELAY, true)
      val r = readRequest(ch).orNull
      if (r == null) { reply(ch, PeerTransfer.StatusError); return }

      val m = manager.metadataFor(r.path).orNull
      if (m == null || m.isDeleted) { reply(ch, PeerTransfer.StatusNotCached); return }
      if (!m.matches(r.fileLen, r.mtime)) { reply(ch, PeerTransfer.StatusStale); return }
      val sb = BlockMath.startBlock(r.offset, manager.blockSize)
      val eb = BlockMath.endBlock(r.offset, r.length.toLong, manager.blockSize)
      if (!m.allCached(sb, eb)) { reply(ch, PeerTransfer.StatusNotCached); return }
      val file = m.dataFile
      if (!file.exists()) { reply(ch, PeerTransfer.StatusNotCached); return }

      reply(ch, PeerTransfer.StatusOk)
      okSent = true
      val fc = FileChannel.open(file.toPath, StandardOpenOption.READ)
      try {
        var sent = 0L
        while (sent < r.length) {
          val n = fc.transferTo(r.offset + sent, r.length - sent, ch)
          if (n <= 0) throw new IOException(s"transferTo stalled at $sent")
          sent += n
        }
      } finally fc.close()
      manager.metrics.bytesToPeers.addAndGet(r.length.toLong)
    } catch {
      case _: Throwable if !okSent =>
        try reply(ch, PeerTransfer.StatusError) catch { case _: Throwable => }
      case _: Throwable => // mid-payload failure: close only (see above)
    } finally {
      try ch.close() catch { case _: Throwable => }
    }
  }

  /** The request decoder; None for an out-of-range path length. */
  private def readRequest(ch: SocketChannel): Option[PeerTransfer.Request] = {
    val pathLen = readInt(ch)
    if (pathLen <= 0 || pathLen > (1 << 16)) return None
    val rest = ByteBuffer.allocate(pathLen + 8 + 4 + 8 + 8)
    readFully(ch, rest)
    rest.flip()
    val pathBytes = new Array[Byte](pathLen)
    rest.get(pathBytes)
    Some(PeerTransfer.Request(new String(pathBytes, UTF_8), rest.getLong,
      rest.getInt, rest.getLong, rest.getLong))
  }

  private def reply(ch: SocketChannel, status: Int): Unit = {
    val b = ByteBuffer.allocate(4).putInt(status)
    b.flip()
    while (b.hasRemaining) ch.write(b)
  }

  private def readFully(ch: SocketChannel, b: ByteBuffer): Unit = {
    while (b.hasRemaining)
      if (ch.read(b) < 0) throw new EOFException("peer closed mid-header")
  }

  private def readInt(ch: SocketChannel): Int = {
    val b = ByteBuffer.allocate(4)
    readFully(ch, b)
    b.getInt(0)
  }

  def close(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => }
    handlers.shutdownNow()
  }
}

/** Client half: fetch one byte range from a peer's disk cache. Throws on
  * any non-OK status; the caller (NonLocal chain) owns the fallback.
  * Uses plain Socket streams so `soTimeout` bounds EVERY read — a hung
  * peer (GC pause, partition after connect) must surface as an exception
  * the caller can fall back from, never an indefinitely blocked task
  * (blocking SocketChannel reads ignore soTimeout). */
object PeerTransferClient {
  def read(addr: InetSocketAddress, path: String, offset: Long, length: Int,
      fileLen: Long, mtime: Long, buf: Array[Byte], bufOff: Int,
      connectTimeoutMs: Int = 2000, readTimeoutMs: Int = 10000): Unit = {
    val sock = new java.net.Socket()
    try {
      sock.connect(addr, connectTimeoutMs)
      sock.setSoTimeout(readTimeoutMs)
      sock.setTcpNoDelay(true)
      val pathBytes = path.getBytes(UTF_8)
      val req = ByteBuffer.allocate(4 + pathBytes.length + 8 + 4 + 8 + 8)
      req.putInt(pathBytes.length).put(pathBytes)
        .putLong(offset).putInt(length).putLong(fileLen).putLong(mtime)
      val out = sock.getOutputStream
      out.write(req.array(), 0, req.position())
      out.flush()
      val in = sock.getInputStream
      val head = new Array[Byte](4)
      readFully(in, head, 0, 4, s"peer closed on header ($path@$offset)")
      val status = ByteBuffer.wrap(head).getInt
      if (status != PeerTransfer.StatusOk)
        throw new IOException(
          s"peer refused range ($path@$offset+$length): status $status")
      readFully(in, buf, bufOff, length, s"peer closed mid-payload ($path@$offset)")
    } finally sock.close()
  }

  private def readFully(in: java.io.InputStream, buf: Array[Byte],
      off: Int, len: Int, eofMsg: String): Unit = {
    var done = 0
    while (done < len) {
      val n = in.read(buf, off + done, len - done)
      if (n < 0) throw new EOFException(eofMsg)
      done += n
    }
  }
}
