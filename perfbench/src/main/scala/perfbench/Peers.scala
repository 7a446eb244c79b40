package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The loopback network peers the program talks to during a run. They
  * live in the benchmark's process, bind to 127.0.0.1 only, and decode
  * what the program sends with their own parsers, so a wire-level fault
  * in the program shows as a failed check rather than a silent pass. */
private object Loopback {
  val addr: InetAddress = InetAddress.getLoopbackAddress

  def listen(): ServerSocket = {
    val s = new ServerSocket()
    s.bind(new InetSocketAddress(addr, 0), 512)
    s
  }

  /** Peer threads are daemons with a small stack: a leaked client
    * connection parks one of them for the rest of the run. */
  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(null, () => body, name, 256L * 1024)
    t.setDaemon(true)
    t.start()
    t
  }

  def closeQuietly(c: AutoCloseable): Unit =
    try c.close() catch { case _: Exception => () }
}

/** RFC 6455 ticker server in the Bitfinex v1 shape: acks one `subscribe`
  * per pair with its own chanId, answers pings, and pushes whatever text
  * frames the load generator hands to [[send]]. */
final class WsPeer(pairs: Seq[String]) {
  private val server = Loopback.listen()
  val uri: java.net.URI =
    java.net.URI.create(s"ws://127.0.0.1:${server.getLocalPort}/ws")
  /** pair -> chanId, fixed for the run */
  val chanIds: Map[String, Int] = pairs.zipWithIndex.map { case (p, i) =>
    p -> (100 + i) }.toMap
  private val subscribed = new CountDownLatch(pairs.size)
  @volatile private var out: OutputStream = _
  @volatile private var sock: Socket = _

  Loopback.thread("perfbench-ws-peer") {
    try while (true) {
      val s = server.accept()
      sock = s
      try serve(s) catch { case _: Exception => () }
    } catch { case _: Exception => () }
  }

  def awaitSubscribed(timeoutMs: Long): Boolean =
    subscribed.await(timeoutMs, TimeUnit.MILLISECONDS)

  /** One unmasked text frame (server frames are never masked). */
  def send(text: String): Unit = {
    val o = out
    if (o != null) o.synchronized {
      val p = text.getBytes(UTF_8)
      o.write(0x81)
      if (p.length < 126) o.write(p.length)
      else { o.write(126); o.write(p.length >> 8); o.write(p.length & 0xff) }
      o.write(p)
      o.flush()
    }
  }

  def close(): Unit = {
    Loopback.closeQuietly(server)
    if (sock != null) Loopback.closeQuietly(sock)
  }

  private def serve(s: Socket): Unit = {
    s.setTcpNoDelay(true)
    val in = new BufferedInputStream(s.getInputStream)
    val o = new BufferedOutputStream(s.getOutputStream)
    handshake(in, o)
    out = o
    val pairRe = "\"pair\"\\s*:\\s*\"([^\"]+)\"".r
    var open = true
    while (open) readFrame(in) match {
      case Some((0x1, payload)) =>
        val txt = new String(payload, UTF_8)
        if (txt.contains("\"subscribe\"")) pairRe.findFirstMatchIn(txt)
          .map(_.group(1)).flatMap(p => chanIds.get(p).map(p -> _))
          .foreach { case (p, id) =>
            send(s"""{"event":"subscribed","channel":"ticker","chanId":$id,"pair":"$p"}""")
            subscribed.countDown()
          }
      case Some((0x9, payload)) => o.synchronized { // ping -> pong
          o.write(0x8a); o.write(payload.length); o.write(payload); o.flush()
        }
      case Some((0x8, _)) | None => open = false
      case Some(_) => ()
    }
  }

  private def handshake(in: InputStream, o: OutputStream): Unit = {
    val req = new StringBuilder
    while (!req.endsWith("\r\n\r\n")) {
      val b = in.read()
      require(b >= 0, "socket closed during the upgrade")
      req.append(b.toChar)
    }
    val key = "(?i)Sec-WebSocket-Key:\\s*(\\S+)".r
      .findFirstMatchIn(req.toString).map(_.group(1))
      .getOrElse(sys.error("upgrade without Sec-WebSocket-Key"))
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    o.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(UTF_8))
    o.flush()
  }

  /** One client frame -> (opcode, unmasked payload); None on EOF. */
  private def readFrame(in: InputStream): Option[(Int, Array[Byte])] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val b1 = in.read()
    var len = (b1 & 0x7f).toLong
    if (len == 126) len = (in.read() << 8 | in.read()).toLong
    else if (len == 127) len = (0 until 8).foldLeft(0L)((a, _) => a << 8 | in.read())
    val mask = if ((b1 & 0x80) != 0) Array.fill(4)(in.read().toByte) else null
    val p = in.readNBytes(len.toInt)
    if (mask != null) p.indices.foreach(i => p(i) = (p(i) ^ mask(i % 4)).toByte)
    Some((b0 & 0x0f, p))
  }
}

/** AMQP 0-9-1 broker: the server half of the handshake, queue.declare,
  * basic.publish with its content header and body frames. Every message
  * is kept with the moment its last frame was decoded, its properties,
  * the connection it came on and whether that connection had declared
  * the queue durable before publishing to it. */
final class AmqpPeer(user: String, pass: String) {
  import AmqpPeer.Message

  private val server = Loopback.listen()
  val port: Int = server.getLocalPort
  val messages = new ConcurrentLinkedQueue[Message]()
  val received = new AtomicInteger(0)
  val connections = new AtomicInteger(0)
  val protocolErrors = new ConcurrentLinkedQueue[String]()
  private val open = new ConcurrentLinkedQueue[Socket]()

  Loopback.thread("perfbench-amqp-accept") {
    try while (true) {
      val s = server.accept()
      val id = connections.incrementAndGet()
      open.add(s)
      Loopback.thread(s"perfbench-amqp-conn-$id") {
        try serve(s, id) catch {
          case _: java.io.EOFException | _: java.net.SocketException => ()
          case e: Exception => protocolErrors.add(e.toString)
        } finally { Loopback.closeQuietly(s); open.remove(s) }
      }
    } catch { case _: Exception => () }
  }

  def drain(): Seq[Message] = messages.asScala.toSeq

  def close(): Unit = {
    Loopback.closeQuietly(server)
    open.asScala.foreach(Loopback.closeQuietly)
  }

  private final class Cur(p: Array[Byte]) {
    var i = 0
    def u8(): Int = { val v = p(i) & 0xff; i += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (u16().toLong << 16) | u16()
    def u64(): Long = (u32() << 32) | u32()
    def sstr(): String = { val n = u8(); val s = new String(p, i, n, UTF_8); i += n; s }
    def lstr(): String = {
      val n = u32().toInt; val s = new String(p, i, n, UTF_8); i += n; s
    }
    def skip(n: Int): Unit = i += n
  }

  private def method(out: DataOutputStream, ch: Int, cls: Int, mth: Int)(
      args: ByteArrayOutputStream => Unit): Unit = {
    val b = new ByteArrayOutputStream()
    b.write(cls >> 8); b.write(cls & 0xff); b.write(mth >> 8); b.write(mth & 0xff)
    args(b)
    val p = b.toByteArray
    out.writeByte(1); out.writeShort(ch); out.writeInt(p.length)
    out.write(p); out.writeByte(0xce); out.flush()
  }
  private def sstr(b: ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes(UTF_8); b.write(x.length); b.write(x, 0, x.length)
  }
  private def lstr(b: ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes(UTF_8)
    Seq(24, 16, 8, 0).foreach(sh => b.write((x.length >> sh) & 0xff))
    b.write(x, 0, x.length)
  }

  private def serve(s: Socket, conn: Int): Unit = {
    s.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
    def frame(): (Int, Int, Array[Byte]) = {
      val t = in.readUnsignedByte(); val ch = in.readUnsignedShort()
      val p = new Array[Byte](in.readInt())
      in.readFully(p)
      require(in.readUnsignedByte() == 0xce, "frame without the 0xCE end octet")
      (t, ch, p)
    }
    def expect(cls: Int, mth: Int): Cur = {
      val (t, _, p) = frame()
      val c = new Cur(p)
      require(t == 1 && c.u16() == cls && c.u16() == mth,
        s"expected method $cls.$mth")
      c
    }
    val hdr = in.readNBytes(8)
    require(new String(hdr, 0, 4, UTF_8) == "AMQP" && hdr(5) == 0 &&
      hdr(6) == 9 && hdr(7) == 1, "bad protocol header")
    method(out, 0, 10, 10) { b => // connection.start
      b.write(0); b.write(9); b.write(Array[Byte](0, 0, 0, 0))
      lstr(b, "PLAIN"); lstr(b, "en_US")
    }
    val so = expect(10, 11) // start-ok
    so.skip(so.u32().toInt)
    require(so.sstr() == "PLAIN", "mechanism must be PLAIN")
    require(so.lstr() == s"\u0000$user\u0000$pass", "bad PLAIN credentials")
    method(out, 0, 10, 30) { b => // connection.tune: RabbitMQ's defaults
      b.write(Array[Byte](0x07, 0xff.toByte, 0, 2, 0, 0, 0, 0))
    }
    expect(10, 31) // tune-ok
    require(expect(10, 40).sstr() == "/", "vhost must be /") // connection.open
    method(out, 0, 10, 41)(b => sstr(b, ""))
    val (_, ch, _) = frame() // channel.open
    method(out, ch, 20, 11)(b => lstr(b, ""))
    val durable = scala.collection.mutable.Set.empty[String]
    var queue = ""
    var header: (String, Int, Long) = null // content type, mode, size
    val body = new ByteArrayOutputStream()
    while (true) {
      val (t, fch, p) = frame()
      t match {
        case 1 =>
          val c = new Cur(p)
          (c.u16(), c.u16()) match {
            case (50, 10) => // queue.declare
              c.skip(2)
              val q = c.sstr()
              if ((c.u8() & 0x02) != 0) durable += q
              method(out, fch, 50, 11) { b => sstr(b, q); b.write(new Array[Byte](8)) }
            case (60, 40) => // basic.publish
              c.skip(2)
              require(c.sstr() == "", "expected the default exchange")
              queue = c.sstr()
            case (10, 50) => // connection.close
              method(out, 0, 10, 51)(_ => ())
              return
            case (cls, mth) => sys.error(s"unexpected method $cls.$mth")
          }
        case 2 => // content header
          val c = new Cur(p)
          require(c.u16() == 60, "content class must be basic")
          c.skip(2)
          val size = c.u64()
          val flags = c.u16()
          val ctype = if ((flags & 0x8000) != 0) c.sstr() else ""
          val mode = if ((flags & 0x1000) != 0) c.u8() else 0
          header = (ctype, mode, size)
          body.reset()
        case 3 =>
          require(header != null, "body frame without a content header")
          body.write(p)
          if (body.size().toLong == header._3) {
            messages.add(Message(System.nanoTime(), queue,
              new String(body.toByteArray, UTF_8), header._1, header._2, conn,
              durable.contains(queue)))
            received.incrementAndGet()
            header = null
          }
        case 8 => () // heartbeat
        case other => sys.error(s"unexpected frame type $other")
      }
    }
  }
}

object AmqpPeer {
  final case class Message(arrivalNs: Long, queue: String, body: String,
      contentType: String, deliveryMode: Int, connection: Int,
      declaredDurable: Boolean)
}
