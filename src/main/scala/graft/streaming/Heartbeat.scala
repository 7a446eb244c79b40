package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.Bench.esc
import graft.sources.MessageSink

/** S8 — service registry / heartbeat, ops-plane (not a dataflow operator).
  *
  * The reference POSTs a registration then PUTs periodic heartbeats from a
  * dedicated thread (main.py:156-183, 233-261, with the §0.2 bug that the
  * thread never actually runs concurrently). Spark-first: a
  * StreamingQueryListener — progress events ARE the engine's liveness
  * signal, so heartbeats ride them instead of a busy loop. */
final class Heartbeat(sink: MessageSink, appName: String,
    instanceId: String = java.util.UUID.randomUUID().toString)
    extends StreamingQueryListener {

  /** The "running" beat also carries the trigger's rows and phase split
    * ([[TriggerFields]]). */
  private[streaming] def payload(state: String,
      trigger: Option[StreamingQueryProgress] = None): String = {
    val host = java.net.InetAddress.getLocalHost
    s"""{"hostname":"${esc(host.getHostName)}","ipaddr":"${esc(host.getHostAddress)}","instance_id":"${esc(instanceId)}","state":"$state"""" +
      trigger.map("," + TriggerFields(_)).getOrElse("") + "}"
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    sink.publish(s"services/$appName", payload("started"))

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    sink.publish(s"services/$appName/$instanceId",
      payload("running", Some(e.progress)))

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    sink.publish(s"services/$appName/$instanceId", payload("stopped"))
}
