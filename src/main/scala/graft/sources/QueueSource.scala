package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.core.RateLimiter

/** Custom DSv2 micro-batch source with EXACT Broadway producer semantics
  * (SURVEY §4 "custom work needed"): an in-JVM named queue whose
  *  - `latestOffset` consults a rate-limit admission budget — the
  *    demand-driven `handle_demand` + RateLimiter gate of the reference
  *    (producer_stage.ex:94-105, rate_limiter.ex:45-63): a trigger never
  *    admits more than the interval budget;
  *  - `commit(offset)` invokes the acknowledger for exactly the committed
  *    range — the `ack(ack_ref, successful, failed)` contract at the source
  *    (acknowledger.ex:22-42), with the checkpoint as the ack ledger.
  *    NOTE: Spark calls `commit(N)` when it constructs batch N+1, so acks
  *    trail processing by one trigger — the offset LOG is the durable
  *    ledger; `commit` is the cleanup callback (at-least-once on recovery,
  *    same as the reference's delivery stance, broadway.ex:28-30).
  *
  * The queue itself is the SQS/PubSub stand-in for tests and local runs; on
  * a cluster the same Scan/Stream shape would front a real client. Schema:
  * (offset LONG, value STRING).
  *
  * Usage:
  * {{{
  *   val q = QueueSource.create("jobs", rateLimiter = Some(new RateLimiter(100, 1000)))
  *   q.push("a", "b")
  *   spark.readStream.format("graft.sources.QueueSourceProvider")
  *        .option("queue", "jobs").load()
  * }}}
  */
object QueueSource {

  final class Handle(val name: String, val rateLimiter: Option[RateLimiter]) {
    private[sources] val data = new ArrayBuffer[String]()
    private[sources] val admitted = new AtomicLong(0L) // offset admitted to Spark
    private[sources] val committed = new AtomicLong(0L) // offset acked back
    private[sources] val ackLog = new ArrayBuffer[Seq[String]]()
    @volatile var onAck: Seq[String] => Unit = _ => ()

    def push(values: String*): Unit = data.synchronized { data ++= values }

    def size: Int = data.synchronized(data.size)

    def admittedOffset: Long = admitted.get()
    def committedOffset: Long = committed.get()

    /** Ack batches delivered so far (each = one committed range). */
    def acks: Seq[Seq[String]] = ackLog.synchronized(ackLog.toVector)

    private[sources] def valuesInRange(from: Long, until: Long): Seq[(Long, String)] =
      data.synchronized((from until until).map(i => i -> data(i.toInt)))

    /** The original payload at an offset (for redelivery). */
    def originalValue(offset: Long): Option[String] =
      data.synchronized(if (offset >= 0 && offset < data.size) Some(data(offset.toInt)) else None)

    /** Admission: grant up to the rate budget of the pending backlog. */
    private[sources] def admit(): Long = {
      val pending = size - admitted.get()
      if (pending <= 0) admitted.get()
      else {
        val grant = rateLimiter match {
          case Some(rl) => rl.tryAcquire(pending.toInt)
          case None     => pending.toInt
        }
        admitted.addAndGet(grant.toLong)
      }
    }

    private[sources] def commitUpTo(offset: Long): Unit = {
      val from = committed.get()
      if (offset > from) {
        val vals = valuesInRange(from, offset).map(_._2)
        committed.set(offset)
        ackLog.synchronized { ackLog += vals }
        onAck(vals)
      }
    }
  }

  private val queues = new ConcurrentHashMap[String, Handle]()

  def create(name: String, rateLimiter: Option[RateLimiter] = None): Handle =
    queues.compute(name, (_, _) => new Handle(name, rateLimiter))

  def get(name: String): Handle =
    Option(queues.get(name)).getOrElse(
      throw new IllegalArgumentException(s"no queue named '$name' — call QueueSource.create first")
    )

  def remove(name: String): Unit = queues.remove(name)

  val schema: StructType = new StructType()
    .add("offset", LongType)
    .add("value", StringType)
}

final case class QueueOffset(offset: Long) extends Offset {
  override def json(): String = offset.toString
}

/** Acknowledger that completes the configure_ack round trip at the source
  * (acknowledger.ex:44-59 + the SQS adapter's `on_failure: :retry` idiom):
  * failed messages whose ack options request `requeue=true` are pushed back
  * onto the queue for redelivery on a later trigger. `configure` rejects
  * unsupported options — the raise surfaces as a crashed message in the
  * configuring processor, mirroring the reference's validation raise.
  */
final case class QueueAcknowledger(queueName: String) extends graft.ack.Acknowledger {

  override def configure(ackRef: String, options: Map[String, String]): Map[String, String] = {
    val unknown = options.keySet -- QueueAcknowledger.SupportedOptions
    require(unknown.isEmpty, s"unsupported ack options: ${unknown.mkString(", ")}")
    options
  }

  override def ack(
      ackRef: String,
      successful: Seq[graft.model.Message[_]],
      failed: Seq[graft.model.Message[_]]
  ): Unit = {
    val requeue = failed.filter(_.ackOptions.get("requeue").contains("true"))
    if (requeue.nonEmpty) {
      val h = QueueSource.get(queueName)
      // Redeliver the ORIGINAL queue payload, not the possibly-transformed
      // message data (the SQS retry idiom redelivers the consumed message):
      // the "seq" metadata carries the source offset under the queue
      // transformer convention; messages without provenance fall back to
      // their current data.
      val vals = requeue.map { m =>
        m.metadata
          .get("seq")
          .flatMap(s => s.toLongOption)
          .flatMap(h.originalValue)
          .getOrElse(String.valueOf(m.data))
      }
      h.push(vals: _*)
    }
  }
}

object QueueAcknowledger {
  val SupportedOptions: Set[String] = Set("requeue")
}

/** format("graft.sources.QueueSourceProvider") entry point. */
class QueueSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = QueueSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new QueueTable(properties.get("queue"))
}

final class QueueTable(queueName: String) extends Table with SupportsRead {
  require(queueName != null, "option 'queue' is required")
  override def name(): String = s"graft-queue:$queueName"
  override def schema(): StructType = QueueSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = QueueSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new QueueMicroBatchStream(queueName, SparkSession.active.sparkContext.defaultParallelism)
      }
    }
}

/** `slots` is the number of task slots read on the driver when the stream is
  * created (`defaultParallelism`): each micro-batch is planned as up to that
  * many contiguous offset ranges, so the processor stage runs on every slot.
  */
final class QueueMicroBatchStream(queueName: String, slots: Int) extends MicroBatchStream {
  private def handle = QueueSource.get(queueName)

  override def initialOffset(): Offset = QueueOffset(0L)

  /** Called once per trigger: this is the admission gate. */
  override def latestOffset(): Offset = QueueOffset(handle.admit())

  override def deserializeOffset(json: String): Offset = QueueOffset(json.toLong)

  /** `[start, end)` as `min(end - start, slots)` contiguous, disjoint ranges
    * of near-equal size that cover it exactly; none when it is empty.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffset].offset
    val e = end.asInstanceOf[QueueOffset].offset
    val k = math.max(0L, math.min(e - s, slots.toLong)).toInt
    Array.tabulate[InputPartition](k)(i => QueueInputPartition(queueName, s + (e - s) * i / k, s + (e - s) * (i + 1) / k))
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[QueueInputPartition]
      val rows = QueueSource.get(p.queue).valuesInRange(p.start, p.end).iterator
      new PartitionReader[InternalRow] {
        private var current: (Long, String) = _
        override def next(): Boolean = { val has = rows.hasNext; if (has) current = rows.next(); has }
        override def get(): InternalRow =
          InternalRow(current._1, UTF8String.fromString(current._2))
        override def close(): Unit = ()
      }
    }
  }

  /** The ack ledger: Spark commits a processed range exactly once. */
  override def commit(end: Offset): Unit =
    handle.commitUpTo(end.asInstanceOf[QueueOffset].offset)

  override def stop(): Unit = ()
}

final case class QueueInputPartition(queue: String, start: Long, end: Long) extends InputPartition
