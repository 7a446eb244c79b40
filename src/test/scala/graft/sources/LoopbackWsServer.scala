package graft.sources

import java.io.{InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.atomic.AtomicInteger

/** Test-only in-process RFC 6455 WebSocket server, JDK sockets only — the
  * sandbox stand-in for the exchange's WSS endpoint, so [[WsTickClient]]
  * is exercised over a REAL socket (handshake, frame parse, masked client
  * frames, close/reconnect) instead of a seam.
  *
  * Behavior per accepted connection `c` (0-based):
  *   1. HTTP upgrade handshake (Sec-WebSocket-Accept per the RFC);
  *   2. waits for the client's `subscribe` text frames; each gets a
  *      `subscribed` ack with a chanId UNIQUE TO THIS CONNECTION
  *      (base = (c+1)*100) — so a client that caches ids across
  *      reconnects produces loud misses, like the real exchange;
  *   3. pushes `script(c)` as text frames (caller encodes ticker arrays /
  *      heartbeats with the connection's chanId via the `%CID%`
  *      placeholder);
  *   4. if `dropAfter(c)`, sends a ping, waits (bounded) for the
  *      client's automatic pong, then kills the TCP socket abruptly (no
  *      close frame) — the mid-stream failure the client must reconnect
  *      from; otherwise leaves the socket open until `close()`.
  *
  * Single-threaded accept loop; one connection serviced at a time (the
  * client under test holds exactly one socket). */
final class LoopbackWsServer(
    script: Int => Seq[String],
    dropAfter: Int => Boolean = _ => false,
    maxConnections: Int = 8,
    tlsContext: Option[javax.net.ssl.SSLContext] = None,
    refuse: Int => Boolean = _ => false,
    // silentPings: swallow client pings WITHOUT ponging while keeping
    // the TCP socket healthy — the half-open / silent-partition
    // simulation for the client's pong-deadline watchdog (a compliant
    // server answers every ping, RFC 6455 §5.5.3, which is the default)
    silentPings: Boolean = false) {

  private val server: ServerSocket = tlsContext match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(0)
    case None => new ServerSocket(0)
  }
  val port: Int = server.getLocalPort
  val uri: java.net.URI = java.net.URI.create(
    s"${if (tlsContext.isDefined) "wss" else "ws"}://127.0.0.1:$port/ws")
  private val accepted = new AtomicInteger(0)
  @volatile private var running = true

  def connections: Int = accepted.get()

  private val thread = new Thread(() => {
    try {
      while (running && accepted.get() < maxConnections) {
        val sock = server.accept()
        val c = accepted.getAndIncrement()
        // refuse(c): accept then slam the TCP socket shut BEFORE any
        // handshake — the fast-failing dial a budget-exhaustion test
        // needs (a never-answered upgrade would block the dialer forever)
        if (refuse(c)) sock.close()
        else {
          try serve(sock, c)
          catch { case _: Exception => () }
          finally { if (dropAfter(c)) sock.close() }
        }
      }
    } catch { case _: Exception => () } // server socket closed
  }, "loopback-ws-server")
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
  }

  private def serve(sock: Socket, c: Int): Unit = {
    val in = sock.getInputStream
    val out = sock.getOutputStream
    handshake(in, out)
    val cid = (c + 1) * 100
    // one subscribe -> one ack; the client under test subscribes to every
    // pair up front, so count them before streaming the script
    var subs = 0
    var open = true
    while (open && subs == 0) {
      readFrame(in) match {
        case Some((0x1, payload)) =>
          val txt = new String(payload, UTF_8)
          if (txt.contains("\"subscribe\"")) {
            val pair = "\"pair\"\\s*:\\s*\"([^\"]+)\"".r
              .findFirstMatchIn(txt).map(_.group(1)).getOrElse("btceur")
            sendText(out, s"""{"event":"subscribed","channel":"ticker",""" +
              s""""chanId":$cid,"pair":"$pair"}""")
            subs += 1
          }
        case Some((0x8, _)) => open = false
        case Some((0x9, p)) => if (!silentPings) sendPong(out, p)
        case Some(_) => () // pong/binary: ignore
        case None => open = false
      }
    }
    if (open) {
      script(c).foreach(m => sendText(out, m.replace("%CID%", cid.toString)))
      if (dropAfter(c)) {
        // the JDK client answers a ping only after every earlier text
        // frame has reached onText, so once its pong is back the drop
        // (the caller's finally) cannot lose the script's last frame
        sendPing(out)
        sock.setSoTimeout(5000) // a timeout ends the wait, then drops
        var acked = false
        while (!acked) readFrame(in) match {
          case Some((0xA, _)) | Some((0x8, _)) | None => acked = true
          case Some((0x9, p)) => if (!silentPings) sendPong(out, p)
          case _ => ()
        }
      } else {
        // hold the socket until the client closes or the server shuts down
        sock.setSoTimeout(250)
        var held = true
        while (held && running) {
          try {
            readFrame(in) match {
              case Some((0x8, _)) | None => held = false
              case Some((0x9, p)) => if (!silentPings) sendPong(out, p)
              case _ => ()
            }
          } catch { case _: java.net.SocketTimeoutException => () }
        }
      }
    }
  }

  private def handshake(in: InputStream, out: OutputStream): Unit = {
    val req = new StringBuilder
    var prev4 = ""
    while (!prev4.endsWith("\r\n\r\n")) {
      val b = in.read()
      require(b >= 0, "socket closed during handshake")
      req.append(b.toChar)
      prev4 = if (req.length >= 4) req.substring(req.length - 4) else req.toString
    }
    val key = "Sec-WebSocket-Key:\\s*(\\S+)".r
      .findFirstMatchIn(req.toString).map(_.group(1))
      .getOrElse(sys.error("no Sec-WebSocket-Key"))
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
    out.flush()
  }

  /** Read one client frame -> (opcode, unmasked payload); None on EOF.
    * Client frames are always masked (RFC 6455 §5.1). */
  private def readFrame(in: InputStream): Option[(Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val opcode = b0 & 0x0f
    val b1 = in.read()
    if (b1 < 0) return None
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = (in.read() << 8) | in.read()
    else if (len == 127) {
      len = 0
      (0 until 8).foreach(_ => len = (len << 8) | in.read())
    }
    val mask = if (masked) Array.fill(4)(in.read().toByte) else Array.empty[Byte]
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < len) {
      val n = in.read(payload, off, len.toInt - off)
      require(n >= 0, "socket closed mid-frame")
      off += n
    }
    if (masked) payload.indices.foreach(i =>
      payload(i) = (payload(i) ^ mask(i % 4)).toByte)
    Some((opcode, payload))
  }

  /** Pong echoing the ping's payload (RFC 6455 §5.5.3), unmasked. */
  private def sendPong(out: OutputStream, payload: Array[Byte]): Unit = {
    out.write(0x8a)
    out.write(payload.length) // client pings here are tiny (< 126)
    out.write(payload)
    out.flush()
  }

  /** Empty ping, unmasked; the client's pong ends the drop's wait. */
  private def sendPing(out: OutputStream): Unit = {
    out.write(0x89)
    out.write(0)
    out.flush()
  }

  /** Server frames are unmasked (RFC 6455 §5.1). */
  private def sendText(out: OutputStream, msg: String): Unit = {
    val payload = msg.getBytes(UTF_8)
    out.write(0x81)
    if (payload.length < 126) out.write(payload.length)
    else { out.write(126); out.write(payload.length >> 8); out.write(payload.length & 0xff) }
    out.write(payload)
    out.flush()
  }
}
