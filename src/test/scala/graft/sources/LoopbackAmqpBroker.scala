package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** Test-only in-process AMQP 0-9-1 broker — decodes [[AmqpSink]]'s frames
  * per the published spec with its OWN parser (no shared encode/decode
  * helpers, so agreement between the two sides actually tests the wire
  * grammar), speaks the server half of the handshake, validates PLAIN
  * credentials, and records every queue.declare and delivered message
  * with its content properties.
  *
  * `dropAfterMessages`: kill the TCP socket abruptly after that many
  * basic deliveries on a connection — exercises the sink's re-dial path.
  *
  * Round-17 realism upgrades (the ADVICE gap: "the loopback broker
  * proposes exactly the client's constants, so the tests cannot catch"
  * a non-negotiating tune-ok):
  *  - proposes RabbitMQ's REAL defaults (channel-max 2047, frame-max
  *    131072 — both overridable) and VALIDATES the client's tune-ok:
  *    a reply above either proposal, or channel-max 0 against a finite
  *    proposal, fails the connection like a real broker;
  *  - accumulates bodies across MULTIPLE body frames up to the header's
  *    declared size (the split-at-frame-max path), rejecting any single
  *    frame above the proposed frame-max;
  *  - `tlsContext` wraps the listener in SSL (the amqps:// test half);
  *  - confirm.select is answered and every completed delivery acked
  *    with its delivery-tag — unless its queue is in `nackQueues`,
  *    which basic.nacks instead (the publisher-confirms failure path).
  */
final class LoopbackAmqpBroker(expectUser: String, expectPass: String,
    dropAfterMessages: Int = Int.MaxValue,
    channelMaxProp: Int = 2047,
    frameMaxProp: Int = 131072,
    tlsContext: Option[javax.net.ssl.SSLContext] = None,
    nackQueues: Set[String] = Set.empty,
    // queues whose publish draws a broker-initiated channel.close (20,40)
    // INSTEAD of an ack — the channel-level error path (e.g. RabbitMQ's
    // 406 PRECONDITION_FAILED); the TCP socket stays OPEN afterwards, so
    // a client that ignores the method only unblocks at TCP teardown
    channelCloseQueues: Set[String] = Set.empty) {

  final case class Delivered(queue: String, body: String,
    contentType: String, deliveryMode: Int)
  final case class Declared(queue: String, durable: Boolean)

  val declares = new ArrayBuffer[Declared]()
  val messages = new ArrayBuffer[Delivered]()
  @volatile var connections = 0
  /** connections whose socket the broker has not yet seen close */
  val openConnections = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var authFailures = 0
  @volatile var confirmsSelected = 0
  /** the client tune-ok values the broker accepted, for assertions */
  @volatile var clientChannelMax: Int = -1
  @volatile var clientFrameMax: Long = -1L
  /** max body frames observed for one message (asserts real splitting) */
  @volatile var maxBodyFramesSeen: Int = 0

  private val server: ServerSocket = tlsContext match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(0)
    case None => new ServerSocket(0)
  }
  val port: Int = server.getLocalPort
  @volatile private var running = true

  private val thread = new Thread(() => {
    try while (running) {
      val sock = server.accept()
      synchronized { connections += 1 }
      openConnections.incrementAndGet()
      // one thread per connection, like a real broker — a Spark
      // executor-side sink copy dials its own connection while the
      // driver's is still open (the per-partition connection model)
      val worker = new Thread(() => {
        try serve(sock)
        catch { case _: Exception => () }
        finally {
          try sock.close() catch { case _: Exception => () }
          openConnections.decrementAndGet()
        }
      }, "loopback-amqp-conn")
      worker.setDaemon(true)
      worker.start()
    } catch { case _: Exception => () }
  }, "loopback-amqp-broker")
  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
  }

  // --- independent wire decoding ---
  private final class Reader(in: DataInputStream) {
    def frame(): (Int, Int, Array[Byte]) = {
      val t = in.readUnsignedByte()
      val ch = in.readUnsignedShort()
      val size = in.readInt()
      val p = new Array[Byte](size)
      in.readFully(p)
      require(in.readUnsignedByte() == 0xce,
        "client frame missing frame-end 0xCE")
      (t, ch, p)
    }
  }
  private final class Cursor(p: Array[Byte]) {
    var i = 0
    def u8(): Int = { val v = p(i) & 0xff; i += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (u16().toLong << 16) | u16().toLong
    def u64(): Long = (u32() << 32) | u32()
    def shortstr(): String = {
      val n = u8()
      val s = new String(p, i, n, UTF_8); i += n; s
    }
    def longstr(): Array[Byte] = {
      val n = u32().toInt
      val b = java.util.Arrays.copyOfRange(p, i, i + n); i += n; b
    }
  }

  private def sendMethod(out: DataOutputStream, channel: Int, classId: Int,
      methodId: Int)(args: ByteArrayOutputStream => Unit): Unit = {
    val b = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { b.write((v >> 8) & 0xff); b.write(v & 0xff) }
    w16(classId); w16(methodId)
    args(b)
    val p = b.toByteArray
    out.writeByte(1); out.writeShort(channel); out.writeInt(p.length)
    out.write(p); out.writeByte(0xce); out.flush()
  }
  private def sstr(b: ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes(UTF_8); b.write(x.length); b.write(x, 0, x.length)
  }
  private def lstr(b: ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes(UTF_8)
    b.write((x.length >> 24) & 0xff); b.write((x.length >> 16) & 0xff)
    b.write((x.length >> 8) & 0xff); b.write(x.length & 0xff)
    b.write(x, 0, x.length)
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream))
    // protocol header: AMQP 0-9-1
    val hdr = new Array[Byte](8)
    in.readFully(hdr)
    require(new String(hdr, 0, 4, UTF_8) == "AMQP" &&
      hdr(5) == 0 && hdr(6) == 9 && hdr(7) == 1,
      s"bad protocol header: ${hdr.mkString(",")}")
    val rd = new Reader(in)
    sendMethod(out, 0, 10, 10) { b => // connection.start
      b.write(0); b.write(9) // version-major, version-minor
      b.write(Array[Byte](0, 0, 0, 0), 0, 4) // server-properties: empty
      lstr(b, "PLAIN"); lstr(b, "en_US")
    }
    // start-ok: client-properties table, mechanism, response, locale
    val (t1, _, p1) = rd.frame()
    require(t1 == 1, "expected method frame")
    val c1 = new Cursor(p1)
    require(c1.u16() == 10 && c1.u16() == 11, "expected connection.start-ok")
    val tableLen = c1.u32().toInt; c1.i += tableLen
    require(c1.shortstr() == "PLAIN", "mechanism must be PLAIN")
    val sasl = c1.longstr()
    val parts = new String(sasl, UTF_8).split("\u0000", -1)
    // NUL authzid NUL authcid NUL passwd -> ["", user, pass]
    if (parts.length != 3 || parts(1) != expectUser || parts(2) != expectPass) {
      synchronized { authFailures += 1 }
      sendMethod(out, 0, 10, 50) { b =>
        b.write(1); b.write(0x9e.toByte) // 403 ACCESS_REFUSED
        sstr(b, "ACCESS_REFUSED"); b.write(0); b.write(0); b.write(0); b.write(0)
      }
      return
    }
    sendMethod(out, 0, 10, 30) { b => // connection.tune: REAL defaults
      b.write((channelMaxProp >> 8) & 0xff); b.write(channelMaxProp & 0xff)
      b.write((frameMaxProp >> 24) & 0xff); b.write((frameMaxProp >> 16) & 0xff)
      b.write((frameMaxProp >> 8) & 0xff); b.write(frameMaxProp & 0xff)
      b.write(0); b.write(0) // heartbeat 0
    }
    val (_, _, p2) = rd.frame() // tune-ok
    val c2 = new Cursor(p2)
    require(c2.u16() == 10 && c2.u16() == 31, "expected connection.tune-ok")
    // a client may never reply ABOVE the proposal, and 0 (= unlimited)
    // against a finite proposal is above it — RabbitMQ closes on both
    val cMax = c2.u16()
    val fMax = c2.u32()
    require(channelMaxProp == 0 || (cMax >= 1 && cMax <= channelMaxProp),
      s"client channel-max $cMax violates the proposed $channelMaxProp")
    require(frameMaxProp == 0 || (fMax >= 4096L && fMax <= frameMaxProp),
      s"client frame-max $fMax violates the proposed $frameMaxProp")
    clientChannelMax = cMax
    clientFrameMax = fMax
    val (_, _, p3) = rd.frame() // connection.open
    val c3 = new Cursor(p3)
    require(c3.u16() == 10 && c3.u16() == 40, "expected connection.open")
    require(c3.shortstr() == "/", "vhost must be /")
    sendMethod(out, 0, 10, 41)(b => sstr(b, ""))
    val (_, ch4, p4) = rd.frame() // channel.open
    val c4 = new Cursor(p4)
    require(c4.u16() == 20 && c4.u16() == 10, "expected channel.open")
    sendMethod(out, ch4, 20, 11)(b => lstr(b, ""))

    // steady state: declare / publish(+header+body frames) / close
    var open = true
    var delivered = 0
    var confirmMode = false
    var deliveryTag = 0L
    var pending: Option[(String, String, Int, Long)] = None // q, ctype, mode, size
    var pendingQueue = ""
    val bodyAcc = new java.io.ByteArrayOutputStream()
    var bodyFrames = 0
    def completeDelivery(): Unit = {
      val (q, ctype, mode, _) = pending.get
      this.synchronized {
        messages += Delivered(q, new String(bodyAcc.toByteArray, UTF_8),
          ctype, mode)
        if (bodyFrames > maxBodyFramesSeen) maxBodyFramesSeen = bodyFrames
      }
      pending = None
      bodyAcc.reset()
      bodyFrames = 0
      delivered += 1
      if (confirmMode) {
        deliveryTag += 1
        if (channelCloseQueues.contains(q)) {
          // channel.close: reply-code, reply-text, offending class+method
          sendMethod(out, 1, 20, 40) { b =>
            b.write(406 >> 8); b.write(406 & 0xff) // PRECONDITION_FAILED
            sstr(b, "PRECONDITION_FAILED - loopback channel error")
            b.write(0); b.write(60); b.write(0); b.write(40) // basic.publish
          }
          // socket intentionally left open: the client must fail on the
          // METHOD, not on an eventual TCP teardown
        } else {
          val mid = if (nackQueues.contains(q)) 120 else 80 // nack : ack
          sendMethod(out, 1, 60, mid) { b =>
            (7 to 0 by -1).foreach(i =>
              b.write(((deliveryTag >> (8 * i)) & 0xff).toInt))
            b.write(0) // multiple=0 (+requeue=0 for nack)
          }
        }
      }
      if (delivered >= dropAfterMessages) {
        sock.close() // abrupt TCP kill — no close dialogue
        open = false
      }
    }
    while (open) {
      val (ft, ch, p) = rd.frame()
      ft match {
        case 1 =>
          val c = new Cursor(p)
          val cid = c.u16(); val mid = c.u16()
          (cid, mid) match {
            case (50, 10) => // queue.declare
              c.u16() // ticket
              val q = c.shortstr()
              val bits = c.u8()
              this.synchronized { declares += Declared(q, (bits & 0x02) != 0) }
              sendMethod(out, ch, 50, 11) { b =>
                sstr(b, q)
                b.write(Array[Byte](0, 0, 0, 0), 0, 4) // message count
                b.write(Array[Byte](0, 0, 0, 0), 0, 4) // consumer count
              }
            case (60, 40) => // basic.publish
              c.u16() // ticket
              val ex = c.shortstr()
              require(ex == "", s"expected default exchange, got '$ex'")
              pendingQueue = c.shortstr()
            case (85, 10) => // confirm.select
              confirmMode = true
              this.synchronized { confirmsSelected += 1 }
              sendMethod(out, ch, 85, 11)(_ => ())
            case (10, 50) => // connection.close
              sendMethod(out, 0, 10, 51)(_ => ())
              open = false
            case other =>
              sys.error(s"unexpected method $other")
          }
        case 2 => // content header
          val c = new Cursor(p)
          require(c.u16() == 60, "content header class must be 60 (basic)")
          c.u16() // weight
          val bodySize = c.u64()
          val flags = c.u16()
          require((flags & 0x8000) != 0, "content-type property must be set")
          require((flags & 0x1000) != 0, "delivery-mode property must be set")
          val ctype = c.shortstr()
          val mode = c.u8()
          pending = Some((pendingQueue, ctype, mode, bodySize))
          if (bodySize == 0L) completeDelivery() // no body frames follow
        case 3 => // body — may arrive split across MULTIPLE frames
          val (_, _, _, size) = pending.getOrElse(
            sys.error("body frame without a content header"))
          require(frameMaxProp == 0 || p.length + 8 <= frameMaxProp,
            s"body frame ${p.length + 8} exceeds proposed frame-max " +
              s"$frameMaxProp")
          bodyAcc.write(p, 0, p.length)
          bodyFrames += 1
          require(bodyAcc.size().toLong <= size,
            "accumulated body exceeds the header's declared size")
          if (bodyAcc.size().toLong == size) completeDelivery()
        case other => sys.error(s"unexpected frame type $other")
      }
    }
  }
}
