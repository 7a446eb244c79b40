package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import graft.sources.{HttpFetcher, JdkHttpFetcher, MessageSink}

/** Traced runs only: times each `publish` of the wrapped sink. Spark
  * deserializes one copy of the sink per task, and each copy keeps its
  * own AMQP connection, so the calls are grouped by copy. */
final class TimedSink(inner: MessageSink) extends MessageSink {
  @transient private lazy val copy = TimedSink.copies.incrementAndGet()
  override def publish(queue: String, payload: String): Boolean = {
    val t = Clock.now
    try inner.publish(queue, payload)
    finally TimedSink.calls.add((copy, t, Clock.now - t))
  }
}

object TimedSink {
  private val copies = new AtomicInteger(0)
  /** (sink copy, start, duration) */
  val calls = new ConcurrentLinkedQueue[(Int, Long, Long)]()

  /** Each call as a span, for the traced run's span file. */
  def emitSpans(trace: Trace): Unit =
    calls.asScala.foreach { case (_, s, d) =>
      trace.add("sources.amqp.publish_call", 0, s, s + d)
    }

  /** Median over sink copies first used in [from, until] of the time the
    * copy spent publishing, in ms. */
  def medianPerCopyMs(from: Long, until: Long): Double = {
    val byCopy = calls.asScala.toSeq.groupBy(_._1).values
      .filter(cs => cs.map(_._2).min >= from && cs.map(_._2).min <= until)
    Stats.median(byCopy.map(_.map(_._3).sum / 1e6).toSeq)
  }
}

/** The exchanges' ticker URLs mapped onto the loopback HTTP peer; every
  * other URL passes through. Requests go through the program's own
  * [[JdkHttpFetcher]]. Traced runs also time each ticker GET. */
final class LoopbackFetcher(port: Int, timed: Boolean) extends HttpFetcher {
  private val inner = new JdkHttpFetcher()
  private def local(url: String): String = url
    .replace("https://www.bitstamp.net/api/v2/ticker/",
      s"http://127.0.0.1:$port/bitstamp/ticker/")
    .replace("https://api.bitfinex.com/v1/pubticker/",
      s"http://127.0.0.1:$port/bitfinex/ticker/")
  override def get(url: String, basicAuth: Option[(String, String)]): (Int, String) = {
    val t = Clock.now
    try inner.get(local(url), basicAuth)
    finally if (timed && local(url) != url) LoopbackFetcher.tickerGets.add(Clock.now - t)
  }
  override def send(method: String, url: String, body: Option[String],
      basicAuth: Option[(String, String)]): (Int, String) =
    inner.send(method, local(url), body, basicAuth)
}

object LoopbackFetcher {
  /** Durations of the ticker GETs, in ns. */
  val tickerGets = new ConcurrentLinkedQueue[Long]()
}
