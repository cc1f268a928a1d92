package graft.testkit

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ack.{Ack, AckCollector, CallerAcknowledger}
import graft.config.PipelineConfig
import graft.core.{Pipeline, RateLimiter, RunningPipeline}
import graft.model.{BatchMode, Message}

/** Test harness — the analog of the reference's shipped test API
  * (`Broadway.test_message/test_batch`, /root/reference/lib/broadway.ex:
  * 1299-1445, and the ManualProducer of test/broadway_test.exs:9-67):
  * a MemoryStream-backed pipeline with push injection, rate-limited
  * admission (producer-side buffering, producer_stage.ex:293-403) and a
  * CallerAcknowledger collector to assert acks on.
  */
final class TestPipeline[A](
    spark: SparkSession,
    config: PipelineConfig[A],
    // override the default CallerAcknowledger (e.g. to test ack-crash
    // containment); the reference's producer chooses the acknowledger per
    // message, so the testkit exposing the choice mirrors that freedom
    acknowledger: Option[graft.ack.Acknowledger] = None
)(implicit enc: Encoder[Message[A]]) {

  val collectorId: String = s"${config.name}-${UUID.randomUUID().toString.take(8)}"

  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val stream = MemoryStream[Message[A]]
  private val seq = new AtomicLong(0L)
  private val pending = new ConcurrentLinkedQueue[Message[A]]()
  private val limiter: Option[RateLimiter] =
    config.rateLimiting.map(r => new RateLimiter(r.allowedMessages, r.intervalMs))

  val running: RunningPipeline[A] =
    Pipeline.start(
      spark,
      stream.toDS(),
      config,
      acknowledger.getOrElse(CallerAcknowledger(collectorId)),
      limiter
    )

  limiter.foreach(_.setOnReplenish(() => drainPending()))

  /** Stamp arrival order — the groupwise sort key that preserves the
    * per-key ordering guarantee through the shuffle.
    */
  private def stamp(m: Message[A]): Message[A] =
    m.copy(metadata = m.metadata + ("seq" -> seq.getAndIncrement().toString))

  /** Analog of `Broadway.push_messages/2` (broadway.ex:1291-1297), with
    * rate-limited admission: messages beyond the interval budget buffer in
    * the producer and replay when the limiter replenishes.
    */
  def pushMessages(msgs: Seq[Message[A]]): Unit = {
    val stamped = msgs.map(stamp)
    limiter match {
      case None => if (stamped.nonEmpty) { stream.addData(stamped); () }
      case Some(l) =>
        val granted = l.tryAcquire(stamped.size)
        val (now, later) = stamped.splitAt(granted)
        if (now.nonEmpty) { stream.addData(now); () }
        later.foreach(pending.add)
    }
  }

  private def drainPending(): Unit = limiter.foreach { l =>
    var continue = true
    while (continue && !pending.isEmpty) {
      if (l.tryAcquire(1) == 1) {
        val m = pending.poll()
        if (m != null) { stream.addData(Seq(m)); () } else continue = false
      } else continue = false
    }
  }

  def push(data: A*): Unit = pushMessages(data.map(d => Message(d)))

  /** Analog of `test_message/3`: flush-mode single message. */
  def testMessage(data: A): Unit =
    pushMessages(Seq(Message(data, batchMode = BatchMode.Flush)))

  /** Analog of `test_batch/3`: bulk-mode batch. */
  def testBatch(data: Seq[A]): Unit =
    pushMessages(data.map(d => Message(d)))

  def processAllAvailable(): Unit = running.processAllAvailable()

  /** Drain collected acks (the `assert_receive {:ack, ref, ok, failed}`
    * idiom of the reference's tests).
    */
  def acks(): Seq[Ack] = AckCollector.drain(collectorId)

  def pendingCount: Int = pending.size()

  /** Graceful drain + stop. The collector is left intact so tests can
    * assert on acks delivered during the drain; `clearAcks()` releases it.
    */
  def stop(): Unit = running.stop()

  def clearAcks(): Unit = AckCollector.clear(collectorId)
}
