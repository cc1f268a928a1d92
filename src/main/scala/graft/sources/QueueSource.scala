package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayDeque
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
  *    After the ack the committed range is dropped, so the queue holds
  *    only uncommitted messages (see [[QueueSource.Handle]]);
  *  - a query with no offset log starts at the committed offset: a fresh
  *    checkpoint does not replay acked messages.
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

  /** One named queue. It keeps only the messages that are not committed
    * yet: `commitUpTo(end)` hands `[committed, end)` to `onAck`, then drops
    * it, the way an SQS delete forgets an acked message. Offsets stay
    * logical: `size` is the end offset (every message ever pushed, not the
    * retained count) and `committedOffset` is the offset of the oldest
    * retained message.
    *
    * Keeping only the uncommitted tail is enough because Spark never reads
    * a committed offset again (`MicroBatchStream.commit` contract): it
    * calls `commit(N-1)` only after batch N's offsets are logged, so a
    * restart re-reads at most the logged, uncommitted range, and
    * `QueueAcknowledger`'s requeue reads `originalValue` inside batch N,
    * before `commit(N)`. A read below `committedOffset` (two queries on one
    * queue, or a checkpoint older than the queue's commits) throws an
    * `IllegalStateException` naming the queue and the offsets; it never
    * returns fewer rows.
    *
    * `push`, the readers and `commitUpTo` take the handle's lock; `onAck`
    * runs under it, so it must not wait on another thread that uses this
    * queue.
    */
  final class Handle(val name: String, val rateLimiter: Option[RateLimiter]) {
    // the uncommitted messages; `retained(0)` is at offset `base`
    private val retained = new ArrayDeque[String]()
    @volatile private var base = 0L // offset acked back; written under the lock
    private[sources] val admitted = new AtomicLong(0L) // offset admitted to Spark
    @volatile var onAck: Seq[String] => Unit = _ => ()

    def push(values: String*): Unit = synchronized { retained ++= values; () }

    /** The logical end offset: how many messages were ever pushed. */
    def size: Long = synchronized(base + retained.size)

    def admittedOffset: Long = admitted.get()
    def committedOffset: Long = base

    /** How many messages the handle holds: those at or past `committedOffset`. */
    private[graft] def retainedCount: Int = synchronized(retained.size)

    /** The payloads at `[from, until)`, which must lie in `[committedOffset, size]`. */
    private[sources] def valuesInRange(from: Long, until: Long): Array[String] = synchronized {
      val end = base + retained.size
      if (from < base || until > end || from > until)
        throw new IllegalStateException(
          s"queue '$name': offsets [$from, $until) requested, but it retains only [$base, $end)" +
            (if (from < base) s"; offsets below $base are committed and dropped" else ""))
      val out = new Array[String]((until - from).toInt)
      retained.copySliceToArray((from - base).toInt, out, 0, out.length)
      out
    }

    /** The original payload at an offset (for redelivery); None past the
      * end. Throws below `committedOffset`: that message is acked and gone.
      */
    def originalValue(offset: Long): Option[String] = synchronized {
      if (offset >= base + retained.size) None else Some(valuesInRange(offset, offset + 1)(0))
    }

    /** Admission: grant up to the rate budget of the pending backlog. */
    private[sources] def admit(): Long = {
      val pending = math.min(size - admitted.get(), Int.MaxValue.toLong).toInt
      if (pending <= 0) admitted.get()
      else {
        val grant = rateLimiter match {
          case Some(rl) => rl.tryAcquire(pending)
          case None     => pending
        }
        admitted.addAndGet(grant.toLong)
      }
    }

    /** Acks `[committedOffset, offset)` through `onAck`, then drops it. If
      * `onAck` throws, nothing is dropped and the commit fails.
      */
    private[sources] def commitUpTo(offset: Long): Unit = synchronized {
      if (offset > base) {
        onAck(ArraySeq.unsafeWrapArray(valuesInRange(base, offset)))
        retained.dropInPlace((offset - base).toInt)
        base = offset
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

  /** A query with no offset log (a fresh checkpoint) starts at the first
    * unacked message, as on SQS: committed messages are gone.
    */
  override def initialOffset(): Offset = QueueOffset(handle.committedOffset)

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
      val values = QueueSource.get(p.queue).valuesInRange(p.start, p.end)
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < values.length }
        override def get(): InternalRow =
          InternalRow(p.start + i, UTF8String.fromString(values(i)))
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
