package graft.ack

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import graft.model.Message

/** Ack strategy — the analog of the `Broadway.Acknowledger` behaviour
  * (/root/reference/lib/broadway/acknowledger.ex:22-42): called at the end
  * of a message's journey, once per ackRef per task that finishes messages
  * of that ackRef (the batcher task, or the processor task without
  * batchers), with that task's successful and failed messages of the
  * ackRef. Every message is acked exactly once; a micro-batch spread over
  * several tasks makes several calls for one ackRef, as Broadway's batch
  * processors each ack their own batch (batch_processor_stage.ex:86-93).
  * There is no shuffle on ackRef.
  */
trait Acknowledger extends Serializable {
  def ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]]): Unit

  /** Analog of `Acknowledger.configure/3` (acknowledger.ex:44-59): invoked
    * when a message's ack is configured (`Message.configureAck`), with the
    * options being attached — the acknowledger validates and/or normalizes
    * them, and the returned map is what the message actually carries to
    * `ack`. Raising here crashes the configuring message (contained by the
    * processor stage), mirroring the reference's raise on unsupported
    * options. Default: accept everything unchanged.
    */
  def configure(ackRef: String, options: Map[String, String]): Map[String, String] = options
}

/** Acks nothing (/root/reference/lib/broadway/noop_acknowledger.ex). */
object NoopAcknowledger extends Acknowledger {
  def ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]]): Unit = ()
}

/** One ack notification delivered to a collector. */
final case class Ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]])

/** Test-facing acknowledger — the analog of `CallerAcknowledger`
  * (/root/reference/lib/broadway/caller_acknowledger.ex): instead of sending
  * `{:ack, ref, ok, failed}` to a pid, acks land in a named in-JVM queue the
  * test polls. In `local[n]` mode executors share the driver JVM, so the
  * static registry is visible from `foreachBatch` tasks; on a real cluster
  * the production path is source-offset commit, not this collector.
  */
object AckCollector {
  private val queues = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Ack]]()

  def queue(ref: String): ConcurrentLinkedQueue[Ack] =
    queues.computeIfAbsent(ref, _ => new ConcurrentLinkedQueue[Ack]())

  def drain(ref: String): Seq[Ack] = {
    val q = queue(ref)
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
  }

  def acks(ref: String): Seq[Ack] = queue(ref).asScala.toSeq

  def clear(ref: String): Unit = queues.remove(ref)
}

/** Collector-backed acknowledger keyed by a collector id. */
final case class CallerAcknowledger(collectorId: String) extends Acknowledger {
  def ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]]): Unit =
    AckCollector.queue(collectorId).add(Ack(ackRef, successful, failed))
}
