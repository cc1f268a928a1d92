package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.core.RateLimiter
import graft.sources.{QueueInputPartition, QueueMicroBatchStream, QueueOffset, QueueSource, QueueTable}

object QueueProbe {
  val rows = new ConcurrentLinkedQueue[(Long, String)]()
  def drain(): Seq[(Long, String)] =
    Iterator.continually(rows.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = rows.clear()
}

/** Task partitions `handleMessage` ran in (executor-shared JVM). */
object PartitionProbe {
  val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  def clear(): Unit = ids.clear()
}

/** Per-value attempt counter for the requeue test (executor-shared JVM). */
object RequeueProbe {
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def clear(): Unit = attempts.clear()
}

/** DSv2 queue source: rate-limited admission at latestOffset, ack on
  * commit — exact Broadway producer semantics at the Spark source boundary.
  */
class QueueSourceSpec extends SparkSpec {

  test("admission is rate-limited per interval and commits drive acks in order") {
    QueueProbe.clear()
    val rl = new RateLimiter(3, 600000) // 3 messages per (long) interval
    val q = QueueSource.create("spec-q1", Some(rl))
    val acks = new ConcurrentLinkedQueue[Seq[String]]()
    q.onAck = vals => { acks.add(vals); () }
    try {
      q.push((1 to 10).map(i => s"m$i"): _*)
      val df = spark.readStream
        .format("graft.sources.QueueSourceProvider")
        .option("queue", "spec-q1")
        .load()
      val query = df.writeStream
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          d.collect().foreach(r => QueueProbe.rows.add((r.getLong(0), r.getString(1))))
          ()
        }
        .start()
      try {
        query.processAllAvailable()
        val first = QueueProbe.drain()
        assert(first.map(_._2) == Seq("m1", "m2", "m3"), s"admission over budget: $first")
        assert(q.admittedOffset == 3)

        // replenish the budget → the rest flows; constructing the next
        // batch commits the previous range (deferred source.commit)
        rl.update(Some(100), None, reset = true)
        query.processAllAvailable()
        val rest = QueueProbe.drain()
        assert(rest.map(_._2) == (4 to 10).map(i => s"m$i"))
        assert(q.committedOffset >= 3)
        assert(acks.asScala.toSeq.flatten.take(3) == Seq("m1", "m2", "m3"))

        // one more batch commits the m4..m10 range
        q.push("m11")
        query.processAllAvailable()
        assert(q.committedOffset >= 10)
        assert(acks.asScala.toSeq.flatten.take(10) == (1 to 10).map(i => s"m$i"))
      } finally query.stop()
    } finally {
      rl.shutdown()
      QueueSource.remove("spec-q1")
    }
  }

  // acknowledger.ex:44-59 — configure validates the options; the queue
  // acknowledger honors requeue=true by pushing the failed value back.
  test("configure_ack requeue: a transiently-failed message is redelivered") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.config.{BatcherConfig, PipelineConfig}
    import graft.core.Pipeline
    import graft.model.Message
    import graft.sources.QueueAcknowledger
    RequeueProbe.clear()
    val q = QueueSource.create("spec-q3", None)
    val acks = new ConcurrentLinkedQueue[Seq[String]]()
    q.onAck = vals => { acks.add(vals); () }
    try {
      q.push("good-1", "bad-2", "good-3")
      val messages = spark.readStream
        .format("graft.sources.QueueSourceProvider")
        .option("queue", "spec-q3")
        .load()
        .select(col("offset"), col("value"))
        .as[(Long, String)]
        .map { case (off, v) => Message(v, metadata = Map("seq" -> off.toString)) }
      val cfg = PipelineConfig[String](
        name = "requeue",
        handleMessage = m => {
          val n = RequeueProbe.attempts.merge(m.data, 1, (a, b) => a + b).intValue()
          // first attempt at a bad value TRANSFORMS the data, then fails
          // transiently asking for redelivery — the requeued copy must be
          // the original payload, not the transformed one
          if (m.data.startsWith("bad") && n == 1)
            m.updateData(_.toUpperCase).configureAck(Map("requeue" -> "true")).failed("transient")
          else m
        },
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10))
      )
      val running = Pipeline.start(spark, messages, cfg, QueueAcknowledger("spec-q3"))
      try {
        running.processAllAvailable()
        // the requeued copy was pushed and a later trigger processed it
        assert(RequeueProbe.attempts.get("bad-2") == 2, s"attempts=${RequeueProbe.attempts}")
        assert(RequeueProbe.attempts.get("good-1") == 1)
        assert(q.size == 4, s"queue should hold original 3 + 1 requeued copy, size=${q.size}")
        assert(!RequeueProbe.attempts.containsKey("BAD-2"), "transformed data leaked into the queue")
        // the redelivered payload is the ORIGINAL, not the uppercased data:
        // one more trigger commits offset 3, and the source acks bad-2 there
        // (committed ranges are contiguous from offset 0)
        q.push("tail")
        running.processAllAvailable()
        assert(q.committedOffset == 4, s"committed=${q.committedOffset}")
        val acked = acks.asScala.toSeq.flatten
        assert(acked.lift(3).contains("bad-2"), s"requeued=${acked.lift(3)} in $acked")
      } finally running.stop()
    } finally {
      QueueSource.remove("spec-q3")
      RequeueProbe.clear()
    }
  }

  test("configure rejects unsupported ack options") {
    import graft.sources.QueueAcknowledger
    val ex = intercept[IllegalArgumentException] {
      QueueAcknowledger("any").configure("ref", Map("visibility_timeout" -> "30"))
    }
    assert(ex.getMessage.contains("visibility_timeout"))
  }

  test("onAck callback receives each committed range") {
    QueueProbe.clear()
    val q = QueueSource.create("spec-q2", None)
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    q.onAck = vals => { seen.add(vals); () }
    try {
      q.push("a", "b")
      val df = spark.readStream
        .format("graft.sources.QueueSourceProvider")
        .option("queue", "spec-q2")
        .load()
      val query = df.writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try {
        query.processAllAvailable()
        q.push("c")
        query.processAllAvailable()
        q.push("d") // next batch construction commits the "c" range
        query.processAllAvailable()
        val acked = Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
        assert(acked.flatten == Seq("a", "b", "c"))
        assert(acked.size == 2) // one ack per committed micro-batch range
      } finally query.stop()
    } finally QueueSource.remove("spec-q2")
  }

  private def stream(queue: String): QueueMicroBatchStream =
    new QueueTable(queue)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build()
      .toMicroBatchStream("unused")
      .asInstanceOf[QueueMicroBatchStream]

  private def planned(queue: String, start: Long, end: Long): Seq[(Long, Long)] =
    stream(queue).planInputPartitions(QueueOffset(start), QueueOffset(end)).toSeq.map {
      case p: QueueInputPartition =>
        assert(p.queue == queue)
        (p.start, p.end)
    }

  /** The rows a reader of `[start, end)` returns, as (offset, value). */
  private def read(queue: String, start: Long, end: Long): Seq[(Long, String)] = {
    val reader = stream(queue).createReaderFactory().createReader(QueueInputPartition(queue, start, end))
    try Iterator.continually(reader.next()).takeWhile(identity)
      .map(_ => (reader.get().getLong(0), reader.get().getUTF8String(1).toString)).toSeq
    finally reader.close()
  }

  /** A foreachBatch query on `queue` (fresh checkpoint) that records every
    * row it reads in QueueProbe.
    */
  private def probeQuery(queue: String) =
    spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", queue)
      .load()
      .writeStream
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => QueueProbe.rows.add((r.getLong(0), r.getString(1))))
        ()
      }
      .start()

  test("the handle drops committed messages: it retains at most the last uncommitted range") {
    QueueProbe.clear()
    val q = QueueSource.create("spec-retain", None)
    val acks = new ConcurrentLinkedQueue[Seq[String]]()
    q.onAck = vals => { acks.add(vals); () }
    val values = (0 until 50 * 1000).map(i => s"v$i")
    try {
      val query = probeQuery("spec-retain")
      try values.grouped(1000).zipWithIndex.foreach { case (wave, i) =>
        q.push(wave: _*)
        query.processAllAvailable()
        // this trigger's range stays until the next trigger commits it
        assert(q.retainedCount <= 1000, s"after trigger $i the handle retains ${q.retainedCount}")
        assert(q.retainedCount == q.size - q.committedOffset)
      } finally query.stop()
      assert(q.size == 50000L && q.committedOffset == 49000L, s"size ${q.size}, committed ${q.committedOffset}")
      assert(q.retainedCount == 1000)
      // every offset is read once with its own value, and every committed
      // one is acked once, in order
      assert(QueueProbe.drain().sortBy(_._1) == values.indices.map(i => (i.toLong, values(i))))
      assert(acks.asScala.toSeq.flatten == values.take(49000))
    } finally QueueSource.remove("spec-retain")
  }

  test("a read below the committed offset throws; a fresh checkpoint starts at it") {
    QueueProbe.clear()
    val q = QueueSource.create("spec-below", None)
    try {
      q.push("a", "b", "c", "d", "e")
      val s = stream("spec-below")
      assert(s.initialOffset() == QueueOffset(0L))
      s.commit(QueueOffset(3L))
      assert(q.committedOffset == 3L && q.retainedCount == 2 && q.size == 5L)
      assert(s.initialOffset() == QueueOffset(3L))
      assert(read("spec-below", 3L, 5L) == Seq(3L -> "d", 4L -> "e"))
      assert(q.originalValue(4L).contains("e") && q.originalValue(5L).isEmpty)
      val below = Seq(
        intercept[IllegalStateException](read("spec-below", 2L, 5L)),
        intercept[IllegalStateException](q.originalValue(1L)))
      below.foreach { e =>
        assert(e.getMessage.contains("'spec-below'") && e.getMessage.contains("below 3"), e.getMessage)
      }
      assert(below.head.getMessage.contains("[2, 5)") && below(1).getMessage.contains("[1, 2)"))
      // a query on a fresh checkpoint reads from the first unacked message
      val query = probeQuery("spec-below")
      try query.processAllAvailable()
      finally query.stop()
      assert(QueueProbe.drain() == Seq(3L -> "d", 4L -> "e"))
    } finally QueueSource.remove("spec-below")
  }

  test("a micro-batch is planned as defaultParallelism contiguous, disjoint ranges") {
    val slots = spark.sparkContext.defaultParallelism
    assert(slots > 1, s"the spec session needs more than one task slot, has $slots")
    Seq((0L, slots.toLong), (7L, 7L + 1000L), (3L, 3L + 10L * slots + 3L)).foreach { case (s, e) =>
      val ranges = planned("spec-plan", s, e)
      assert(ranges.size == slots, s"[$s, $e) planned as $ranges")
      assert(ranges.head._1 == s && ranges.last._2 == e, s"[$s, $e) not covered: $ranges")
      assert(ranges.forall { case (from, until) => from < until }, s"empty range in $ranges")
      // each range starts where the previous one ends: no gap, no overlap
      assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 == b._1 }, s"gap or overlap in $ranges")
    }
    assert(planned("spec-plan", 41L, 42L) == Seq((41L, 42L)))
    assert(planned("spec-plan", 42L, 42L).isEmpty)
  }

  test("a queue pipeline runs handleMessage in several tasks and acks every offset once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ack.{AckCollector, CallerAcknowledger}
    import graft.config.PipelineConfig
    import graft.core.Pipeline
    import graft.model.Message
    PartitionProbe.clear()
    val collector = "queue-parallel-acks"
    AckCollector.clear(collector)
    val q = QueueSource.create("spec-q4", None)
    try {
      q.push((0 until 1000).map(i => s"v$i"): _*)
      val messages = spark.readStream
        .format("graft.sources.QueueSourceProvider")
        .option("queue", "spec-q4")
        .load()
        .select(col("offset"), col("value"))
        .as[(Long, String)]
        .map { case (off, v) => Message(v, metadata = Map("seq" -> off.toString)) }
      val cfg = PipelineConfig[String](
        name = "queue-parallel",
        handleMessage = m => {
          PartitionProbe.ids.add(org.apache.spark.TaskContext.getPartitionId())
          m
        }
      )
      val running = Pipeline.start(spark, messages, cfg, CallerAcknowledger(collector))
      try running.processAllAvailable()
      finally running.stop()
      val acks = AckCollector.drain(collector)
      val offsets = acks.flatMap(a => a.successful ++ a.failed).map(_.metadata("seq").toLong)
      assert(offsets.sorted == (0L until 1000L), s"offsets not acked exactly once: ${offsets.size} acked")
      assert(acks.forall(_.failed.isEmpty))
      assert(PartitionProbe.ids.size > 1, s"handleMessage ran in partitions ${PartitionProbe.ids}")
    } finally {
      QueueSource.remove("spec-q4")
      AckCollector.clear(collector)
    }
  }
}
