package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions.col
import graft.ack.{AckCollector, CallerAcknowledger}
import graft.config.{BatcherConfig, BatchSplitter, PipelineConfig, RateLimiting}
import graft.core.Pipeline
import graft.model.{BatchInfo, Message}
import graft.runtime.{LocalCheckpointFileManager, PipelineRegistry}
import graft.sources.QueueSource
import graft.testkit.TestPipeline

/** Records what reaches handleBatch — executor-side static (same JVM in
  * local mode), the CustomHandlers-via-context idiom of the reference's
  * tests (test/broadway_test.exs:83-133).
  */
object ProcessorProbe {
  val seen = new ConcurrentLinkedQueue[(Int, Int)]()
  def record(key: Int, value: Int): Unit = seen.add((key, value))
  def drain(): Seq[(Int, Int)] =
    Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = seen.clear()
}

object BadAckProbe {
  val attempted = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Messages `handleFailed` saw (executor-shared JVM). */
object FailedProbe {
  val seen = new ConcurrentLinkedQueue[Int]()
  def all: Seq[Int] = seen.asScala.toSeq
  def clear(): Unit = seen.clear()
}

object BatchProbe {
  val batches = new ConcurrentLinkedQueue[(BatchInfo, Seq[Int])]()
  def record(info: BatchInfo, data: Seq[Int]): Unit = batches.add((info, data))
  def drain(): Seq[(BatchInfo, Seq[Int])] =
    Iterator.continually(batches.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = batches.clear()
}

/** A user's own checkpoint file manager: Spark's default, counting the
  * instances Spark creates from the session conf.
  */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}

object CountingCheckpointFileManager {
  val created = new AtomicInteger(0)
}

/** End-to-end pipeline scenarios mirroring /root/reference/test/
  * broadway_test.exs (cites per test).
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def simpleConfig(name: String): PipelineConfig[Int] =
    PipelineConfig[Int](name = name)

  private val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkDefaultManager = classOf[FileContextBasedCheckpointFileManager].getName

  /** Runs `f` with the session's checkpoint file manager set to `cls`
    * (`None`: unset), then restores the previous setting.
    */
  private def withFileManager[T](cls: Option[String])(f: => T): T = {
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(FileManagerKey))(spark.conf.set(FileManagerKey, _))
    val before = spark.conf.getOption(FileManagerKey)
    put(cls)
    try f
    finally put(before)
  }

  /** One QueueSource pipeline run on `ckpt`: each group of `values` is
    * pushed and processed as its own micro-batch, then the pipeline stops.
    * Returns the batch ids this run added to the offset log, each with
    * whether it has a Hadoop `.crc` sibling.
    */
  private def queueRun(queue: String, ckpt: java.nio.file.Path, collectorId: String, values: Seq[Seq[String]]) = {
    val offsets = ckpt.resolve("offsets")
    def batchIds: Set[String] =
      if (!Files.isDirectory(offsets)) Set.empty
      else offsets.toFile.list().filter(_.forall(_.isDigit)).toSet
    val before = batchIds
    val messages = spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", queue)
      .load()
      .select(col("offset"), col("value"))
      .as[(Long, String)]
      .map { case (off, v) => Message(v, metadata = Map("seq" -> off.toString)) }
    val cfg = PipelineConfig[String](
      name = s"ckpt-$queue",
      batchers = Seq(BatcherConfig[String]("default", batchSize = 4)),
      checkpointLocation = Some(ckpt.toString)
    )
    val running = Pipeline.start(spark, messages, cfg, CallerAcknowledger(collectorId))
    try values.foreach { vs =>
      QueueSource.get(queue).push(vs: _*)
      running.processAllAvailable()
    } finally running.stop()
    (batchIds -- before).toSeq.sorted.map(id => id -> Files.exists(offsets.resolve(s".$id.crc")))
  }

  /** A checkpoint written under the `first` manager setting restarts under
    * the `second`: every message is handled and acked exactly once, and
    * the source's ack ledger commits each offset once, in order.
    */
  private def checkpointHandover(tag: String, first: Option[String], second: Option[String]): Unit = {
    val queue = s"handover-$tag"
    val collectorId = s"handover-acks-$tag"
    val ckpt = tempDir("graft-ckpt-handover")
    val v = (1 to 20).map(i => s"m$i")
    val sourceAcks = new ConcurrentLinkedQueue[Seq[String]]()
    QueueSource.create(queue, None).onAck = vs => { sourceAcks.add(vs); () }
    try {
      val run1 = withFileManager(first)(queueRun(queue, ckpt, collectorId, v.take(10).grouped(5).toSeq))
      val run2 = withFileManager(second) {
        val r = queueRun(queue, ckpt, collectorId, v.drop(10).grouped(5).toSeq)
        assert(spark.conf.get(FileManagerKey) == second.getOrElse(classOf[LocalCheckpointFileManager].getName))
        r
      }
      // Spark's default manager writes a .crc sibling per log entry; the
      // java.nio path writes none
      Seq(first -> run1, second -> run2).foreach { case (manager, ids) =>
        assert(ids.size == 2, s"expected two micro-batches per run: $ids")
        assert(ids.forall(_._2 == manager.contains(SparkDefaultManager)), s"$manager wrote $ids")
      }
      val acked = AckCollector.drain(collectorId).flatMap(_.successful).map(_.data.asInstanceOf[String])
      assert(acked.sorted == v.sorted, s"not acked exactly once: $acked")
      // the source commits a batch when the next one is planned, so the
      // restart commits the first run's last batch and the final batch stays open
      assert(sourceAcks.asScala.toSeq.flatten == v.take(15))
    } finally {
      QueueSource.remove(queue)
      AckCollector.clear(collectorId)
    }
  }

  // dummy_producer_test.exs:12-28 — single message through, acked ok.
  test("single message flows through and is acked") {
    val tp = new TestPipeline(spark, simpleConfig("single"))
    try {
      tp.testMessage(42)
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.nonEmpty)
      val ok = acks.flatMap(_.successful).map(_.data)
      assert(ok == Seq(42))
      assert(acks.flatMap(_.failed).isEmpty)
    } finally tp.stop()
  }

  // broadway_test.exs:799-806 — failed messages are not forwarded to batchers.
  test("failed message skips batcher and acks failed") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "failing",
      handleMessage = m => if (m.data % 2 == 1) m.failed("odd") else m,
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      }
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(1, 2, 3, 4))
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.flatMap(_.successful).map(_.data.asInstanceOf[Int]).sorted == Seq(2, 4))
      val failed = acks.flatMap(_.failed)
      assert(failed.map(_.data).map(_.asInstanceOf[Int]).sorted == Seq(1, 3))
      assert(failed.forall(_.status.reason == "odd"))
      val batched = BatchProbe.drain().flatMap(_._2)
      assert(batched.sorted == Seq(2, 4)) // odd ones never reached handleBatch
    } finally tp.stop()
  }

  // batcher_stage.ex:178-179 — a flush-mode message mid-group delivers the
  // open chunk at that message; later messages start a new chunk.
  test("flush message cuts the batch boundary at the message") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "flush-boundary",
      handleMessage = m => if (m.data == 2) m.putBatchMode(graft.model.BatchMode.Flush) else m,
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("default", batchSize = 100))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(1, 2, 3, 4))
      tp.processAllAvailable()
      val batches = BatchProbe.drain().map(b => (b._1.trigger, b._2))
      assert(batches == Seq(("flush", Seq(1, 2)), ("timeout", Seq(3, 4))), s"got $batches")
    } finally tp.stop()
  }

  // options.ex:182-187, 284-288 — a batcher-level partition_by groups the
  // batch stage by its own key, independent of the processor partitioning
  // and of batch_key.
  test("per-batcher partition_by overrides the batch grouping") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "batcher-partitioned",
      // processor stage partitioned one way (everything together)...
      partitionBy = Some((_: Int) => 0),
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      // ...batch stage partitioned another way (by parity), same batch_key
      batchers = Seq(
        BatcherConfig[Int]("default", batchSize = 10, concurrency = 2, partitionBy = Some((i: Int) => i))
      )
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 6)
      tp.processAllAvailable()
      val batches = BatchProbe.drain().map(_._2)
      assert(batches.size == 2, s"expected one batch per partition slot: $batches")
      // same-parity messages batch together, in arrival order, despite the
      // identical batch_key
      assert(batches.map(_.toSet).toSet == Set(Set(1, 3, 5), Set(2, 4, 6)), s"batches=$batches")
      batches.foreach(b => assert(b == b.sorted, s"out of order: $b"))
    } finally tp.stop()
  }

  // broadway_test.exs:879-1032 — per-stage telemetry span counts for a
  // mixed ok/failed run: processor processed/failed, per-batcher batches +
  // messages, handle_failed invocations, ack totals.
  test("per-stage counters track a mixed ok/failed run") {
    val cfg = PipelineConfig[Int](
      name = "counted",
      handleMessage = m =>
        if (m.data % 5 == 0) m.failed("div5")
        else m.putBatcher(if (m.data % 2 == 0) "evens" else "odds"),
      batchers = Seq(BatcherConfig[Int]("evens", batchSize = 3), BatcherConfig[Int]("odds", batchSize = 3))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 10) // 2 failed (5,10); 4 evens (2,4,6,8); 4 odds (1,3,7,9)
      tp.processAllAvailable()
      val m = tp.running.stageMetrics.getOrElse(fail("no stage metrics registered"))
      assert(m.processorProcessed == 8, s"processed: $m")
      assert(m.processorFailed == 2, s"failed: $m")
      assert(m.batcherMessages == Map("evens" -> 4L, "odds" -> 4L), s"batcher messages: $m")
      // batchSize 3 → evens chunks (3,1), odds chunks (3,1)
      assert(m.batcherBatches == Map("evens" -> 2L, "odds" -> 2L), s"batcher batches: $m")
      assert(m.batcherFailed == Map("evens" -> 0L, "odds" -> 0L), s"batcher failed: $m")
      assert(m.handleFailedInvocations == 1, s"handleFailed invocations: $m")
      assert(m.ackSuccessful == 8 && m.ackFailed == 2, s"ack totals: $m")
      // span DURATIONS (broadway.ex:651-888 measures time, not just
      // counts): every exercised stage reports positive summed nanos
      assert(m.processorNanos > 0, s"processor span duration missing: $m")
      assert(m.batcherNanos.keySet == Set("evens", "odds") && m.batcherNanos.values.forall(_ > 0),
        s"batcher span durations missing: $m")
      assert(m.handleFailedNanos > 0, s"handle_failed span duration missing: $m")
    } finally tp.stop()
  }

  // A pipeline's metrics live on its own RunningPipeline, not in a
  // JVM-wide map keyed by name: two same-named pipelines in two sessions
  // each report their own counters and progress, and one stopping leaves
  // the other's live counters alone.
  test("metrics belong to each pipeline: same-named pipelines in two sessions stay apart") {
    val spark2 = spark.newSession()
    val tp1 = new TestPipeline(spark, simpleConfig("same-name"))
    val tp2 = new TestPipeline(spark2, simpleConfig("same-name"))
    def processed(tp: TestPipeline[Int]) = tp.running.stageMetrics.map(_.processorProcessed)
    try {
      tp1.testBatch(1 to 3)
      tp2.testBatch(1 to 4)
      tp1.processAllAvailable()
      tp2.processAllAvailable()
      assert(processed(tp1).contains(3L) && processed(tp2).contains(4L),
        s"processed: ${processed(tp1)} / ${processed(tp2)}")
      tp2.stop()
      assert(tp2.running.progress.inputRows == 4, s"second pipeline: ${tp2.running.progress}")
      assert(processed(tp2).contains(4L))
      assert(!listening(tp2.running, spark2), "progress listener left on the second session")
      // the first pipeline is still live and still counts
      assert(tp1.running.query.isActive && listening(tp1.running))
      tp1.testBatch(4 to 5)
      tp1.processAllAvailable()
      assert(processed(tp1).contains(5L), s"first pipeline after the second stopped: ${processed(tp1)}")
    } finally { tp1.stop(); tp2.stop() }
    assert(tp1.running.progress.inputRows == 5, s"first pipeline: ${tp1.running.progress}")
    assert(!listening(tp1.running), "progress listener left on the first session")
  }

  // The registry is keyed by name: stopping one of two same-named pipelines
  // (two sessions) must not unregister the one still running.
  test("stopping one of two same-named pipelines leaves the other registered") {
    val a = new TestPipeline(spark, simpleConfig("same-name-registry"))
    val b = new TestPipeline(spark.newSession(), simpleConfig("same-name-registry"))
    try {
      a.stop()
      assert(PipelineRegistry.get("same-name-registry").exists(_ eq b.running), "the running pipeline was unregistered")
      assert(PipelineRegistry.allRunning.contains("same-name-registry"))
      b.stop()
      assert(PipelineRegistry.get("same-name-registry").isEmpty)
      assert(!PipelineRegistry.allRunning.contains("same-name-registry"))
    } finally { a.stop(); b.stop() }
  }

  // recentProgress is a ring of spark.sql.streaming.numRecentProgressUpdates
  // entries; the progress totals see every batch.
  test("progress totals count every batch past the recentProgress ring") {
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    val tp = new TestPipeline(session, simpleConfig("progress-ring"))
    try (1 to 5).foreach { i =>
      tp.testBatch(Seq(i))
      tp.processAllAvailable()
    } finally tp.stop()
    assert(tp.running.query.recentProgress.length <= 2)
    val p = tp.running.progress
    assert(p.batches == 5 && p.inputRows == 5 && p.lastBatchId == 4, s"totals: $p")
    assert(p.durationsMs.getOrElse("triggerExecution", 0L) > 0, s"phases: ${p.durationsMs}")
    assert(!listening(tp.running, session), "progress listener leaked")
  }

  // broadway_test.exs:808-817 — crash in handle_message marks {kind, reason},
  // pipeline keeps running.
  test("crash in handleMessage is contained with kind/reason") {
    val cfg = PipelineConfig[Int](
      name = "crashing",
      handleMessage = m =>
        if (m.data == 13) throw new IllegalStateException("boom") else m
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(12, 13, 14))
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.flatMap(_.successful).map(_.data.asInstanceOf[Int]).sorted == Seq(12, 14))
      val failed = acks.flatMap(_.failed)
      assert(failed.size == 1)
      assert(failed.head.status.kind == "java.lang.IllegalStateException")
      assert(failed.head.status.reason == "boom")
      // pipeline still alive: push more
      tp.testMessage(99)
      tp.processAllAvailable()
      assert(tp.acks().flatMap(_.successful).map(_.data) == Seq(99))
    } finally tp.stop()
  }

  // broadway_test.exs:768-789 (+ processor_stage.ex:122-147) — a raise in
  // prepare_messages marks EVERY message in the batch {kind, reason} and
  // the stage survives; handle_message never runs for that batch.
  test("crash in prepareMessages fails the whole batch and is contained") {
    val handled = new java.util.concurrent.atomic.AtomicInteger(0)
    val cfg = PipelineConfig[Int](
      name = "prep-crash",
      prepareMessages = msgs =>
        if (msgs.exists(_.data == 13)) throw new IllegalStateException("prep boom")
        else msgs,
      handleMessage = m => { handled.incrementAndGet(); m }
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(12, 13, 14))
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.flatMap(_.successful).isEmpty)
      val failed = acks.flatMap(_.failed)
      assert(failed.size == 3, s"all messages must fail, got $failed")
      assert(failed.forall(_.status.kind == "java.lang.IllegalStateException"))
      assert(failed.forall(_.status.reason == "prep boom"))
      assert(handled.get() == 0, "handleMessage must not run after a prepare crash")
      // stage survives: a clean batch processes normally
      tp.testMessage(99)
      tp.processAllAvailable()
      assert(tp.acks().flatMap(_.successful).map(_.data) == Seq(99))
    } finally tp.stop()
  }

  // processor_stage.ex:226-232 — prepare_messages must return ALL messages;
  // a dropped message fails the batch the same contained way.
  test("prepareMessages returning fewer messages fails the whole batch") {
    val cfg = PipelineConfig[Int](
      name = "prep-drop",
      prepareMessages = msgs => msgs.filterNot(_.data == 13)
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(12, 13, 14))
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.flatMap(_.successful).isEmpty)
      val failed = acks.flatMap(_.failed)
      assert(failed.size == 3)
      assert(failed.forall(_.status.reason.contains("expected all messages")))
    } finally tp.stop()
  }

  // broadway_test.exs:824-827 / 1544-1547 — "processors/consumers do not
  // crash on bad acknowledger": an ack that raises loses only the delivery
  // notification; the stage and later micro-batches keep working.
  test("a throwing acknowledger does not take down the pipeline") {
    // counter lives in a JVM-static holder: the acknowledger closure is
    // serialized into the ack stage, so instance fields would mutate a copy
    BadAckProbe.attempted.set(0)
    val badAck = new graft.ack.Acknowledger {
      def ack(ackRef: String, successful: Seq[graft.model.Message[_]], failed: Seq[graft.model.Message[_]]): Unit = {
        BadAckProbe.attempted.incrementAndGet()
        throw new IllegalStateException("ack boom")
      }
    }
    val cfg = PipelineConfig[Int](name = "bad-ack")
    val tp = new TestPipeline(spark, cfg, acknowledger = Some(badAck))
    try {
      tp.testBatch(Seq(1, 2, 3))
      tp.processAllAvailable()
      assert(BadAckProbe.attempted.get() >= 1, "ack must have been attempted")
      // stage survived: next batch still processes and attempts its ack
      val before = BadAckProbe.attempted.get()
      tp.testMessage(9)
      tp.processAllAvailable()
      assert(BadAckProbe.attempted.get() > before, "pipeline must keep acking after an ack crash")
    } finally tp.stop()
  }

  // broadway_test.exs:1128-1170 — batches by size, remainder flushed with a
  // non-size trigger at the micro-batch boundary.
  test("batching by size with remainder trigger") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "sized",
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("default", batchSize = 10, batchTimeoutMs = 100))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 25)
      tp.processAllAvailable()
      val batches = BatchProbe.drain()
      val sizes = batches.map(_._2.size).sorted
      assert(sizes == Seq(5, 10, 10))
      val triggers = batches.map(_._1.trigger)
      assert(triggers.count(_ == "size") == 2)
      assert(triggers.count(t => t == "timeout" || t == "flush") == 1)
    } finally tp.stop()
  }

  // broadway_test.exs:1205-1227 — batch_key sub-grouping.
  test("batch_key groups batches per key") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "keyed",
      handleMessage = m => m.putBatchKey(if (m.data % 2 == 0) "even" else "odd"),
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("default", batchSize = 4))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 8)
      tp.processAllAvailable()
      val batches = BatchProbe.drain()
      assert(batches.size == 2)
      batches.foreach { case (info, data) =>
        assert(Set("even", "odd").contains(info.batchKey))
        assert(data.forall(d => (d % 2 == 0) == (info.batchKey == "even")))
        assert(info.trigger == "size")
      }
    } finally tp.stop()
  }

  // broadway_test.exs:1229-1351 — custom batch splitter with accumulator.
  test("custom batch splitter emits variable-size batches") {
    BatchProbe.clear()
    // emit a batch whenever cumulative weight (data value) reaches 10
    val splitter = BatchSplitter[Int](0L, (m, acc) => {
      val next = acc + m.data
      (next >= 10, next)
    })
    val cfg = PipelineConfig[Int](
      name = "split",
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("default", batchSplitter = Some(splitter)))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(6, 6, 3, 3, 3, 3, 9, 1))
      tp.processAllAvailable()
      val batches = BatchProbe.drain().map(_._2)
      // 6+6=12 → emit; 3+3+3+3=12 → emit; 9+1=10 → emit
      assert(batches == Seq(Seq(6, 6), Seq(3, 3, 3, 3), Seq(9, 1)))
    } finally tp.stop()
  }

  // broadway_test.exs:1433-1454 — same-key messages processed in order.
  test("per-key ordering is preserved through the shuffle") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "ordered",
      handleMessage = m => m.putBatchKey((m.data % 4).toString),
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("default", batchSize = 100))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 40)
      tp.processAllAvailable()
      BatchProbe.drain().foreach { case (_, data) =>
        assert(data == data.sorted, s"out-of-order within key: $data")
      }
    } finally tp.stop()
  }

  // broadway_test.exs:1746-1833 — handle_failed invoked before failure ack.
  test("handleFailed transforms failed messages before ack") {
    val cfg = PipelineConfig[Int](
      name = "dlq",
      handleMessage = m => if (m.data < 0) m.failed("negative") else m,
      handleFailed = msgs => msgs.map(m => m.copy(metadata = m.metadata + ("dlq" -> "true")))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(-1, 5, -2))
      tp.processAllAvailable()
      val failed = tp.acks().flatMap(_.failed)
      assert(failed.size == 2)
      assert(failed.forall(_.metadata.get("dlq").contains("true")))
    } finally tp.stop()
  }

  // processor_stage.ex:213-224 — unknown batcher is rejected (as a failure,
  // keeping the pipeline alive).
  test("routing to an unknown batcher fails the message") {
    val cfg = PipelineConfig[Int](
      name = "badroute",
      handleMessage = m => m.putBatcher("nope")
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testMessage(1)
      tp.processAllAvailable()
      val failed = tp.acks().flatMap(_.failed)
      assert(failed.size == 1)
      assert(failed.head.status.reason.contains("unknown batcher"))
    } finally tp.stop()
  }

  // broadway_test.exs:2388-2399 — acks grouped per ack_ref.
  test("acks are grouped by ackRef") {
    val cfg = simpleConfig("ackgroups")
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.pushMessages(Seq(
        Message(1, ackRef = "a"),
        Message(2, ackRef = "b"),
        Message(3, ackRef = "a")
      ))
      tp.processAllAvailable()
      val acks = tp.acks()
      assert(acks.size == 2)
      val byRef = acks.map(a => a.ackRef -> a.successful.map(_.data)).toMap
      assert(byRef("a").toSet == Set(1, 3))
      assert(byRef("b") == Seq(2))
    } finally tp.stop()
  }

  // batch_processor_stage.ex:86-93 — each task acks the messages it
  // finishes. Several pushed blocks make a multi-partition micro-batch
  // (MemoryStream plans one partition per block), so one ackRef can be
  // acked by several tasks; every message must still be acked exactly once.
  test("acks under multi-partition input: each message once, one ackRef per call") {
    FailedProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "ackparts",
      handleMessage = m => {
        val routed = m.putBatcher(if (m.data % 2 == 0) "evens" else "odds").putBatchKey((m.data % 3).toString)
        if (m.data % 7 == 0) routed.failed("div7")
        else if (m.data % 5 == 0) routed.ackImmediately
        else routed
      },
      // fails multiples of 5 (ack-locked ok: the lock must win) and of 11
      handleBatch = (_, msgs, _) => msgs.map(m => if (m.data % 5 == 0 || m.data % 11 == 0) m.failed("batch") else m),
      handleFailed = msgs => {
        msgs.foreach(m => FailedProbe.seen.add(m.data))
        msgs.map(m => m.copy(metadata = m.metadata + ("dlq" -> "true")))
      },
      batchers = Seq(BatcherConfig[Int]("evens", batchSize = 4), BatcherConfig[Int]("odds", batchSize = 4))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      (0 until 4).foreach { b =>
        tp.pushMessages((1 to 15).map(i => b * 15 + i).map(d => Message(d, ackRef = if (d % 3 == 0) "a" else "b")))
      }
      tp.processAllAvailable()
      val acks = tp.acks()
      val okData = acks.flatMap(_.successful).map(_.data.asInstanceOf[Int])
      val failedMsgs = acks.flatMap(_.failed)
      val failedData = failedMsgs.map(_.data.asInstanceOf[Int])
      assert((okData ++ failedData).sorted == (1 to 60), s"not acked exactly once: ok=$okData failed=$failedData")
      acks.foreach { a =>
        val refs = (a.successful ++ a.failed).map(_.ackRef).toSet
        assert(refs == Set(a.ackRef), s"ack for ${a.ackRef} carries ackRefs $refs")
      }
      val expectedFailed = (1 to 60).filter(d => d % 7 == 0 || (d % 11 == 0 && d % 5 != 0))
      assert(failedData.sorted == expectedFailed)
      assert((1 to 60).filter(d => d % 5 == 0 && d % 7 != 0).forall(okData.contains), s"ack-locked lost: $okData")
      assert(FailedProbe.all.sorted == expectedFailed, "handleFailed must see each failed message once")
      assert(failedMsgs.forall(_.metadata.get("dlq").contains("true")))
      val m = tp.running.stageMetrics.getOrElse(fail("no stage metrics registered"))
      assert(m.ackSuccessful == okData.size.toLong && m.ackFailed == failedData.size.toLong, s"ack totals: $m")
    } finally tp.stop()
  }

  // broadway_test.exs:2595-2643 — rate limiting buffers over-limit messages.
  // (interval is long so the replenish can't race processAllAvailable; the
  // time-based replenish itself is covered in RateLimiterSpec)
  test("rate limiting admits up to the budget and buffers the rest") {
    val cfg = PipelineConfig[Int](
      name = "limited",
      rateLimiting = Some(RateLimiting(allowedMessages = 2, intervalMs = 600000))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(1, 2, 3, 4, 5))
      tp.processAllAvailable()
      val first = tp.acks().flatMap(_.successful).map(_.data)
      assert(first == Seq(1, 2), s"expected first 2 admitted, got $first")
      assert(tp.pendingCount == 3)
      // open the gate: buffered demand replays
      tp.running.updateRateLimiting(allowedMessages = Some(100), reset = true)
      tp.processAllAvailable()
      val rest = tp.acks().flatMap(_.successful).map(_.data)
      assert((first ++ rest).map(_.asInstanceOf[Int]).sorted == Seq(1, 2, 3, 4, 5))
      assert(tp.pendingCount == 0)
    } finally tp.stop()
  }

  // broadway_test.exs:2758-2812 — runtime rate-limit update with reset.
  test("updateRateLimiting with reset opens the gate immediately") {
    val cfg = PipelineConfig[Int](
      name = "limited2",
      rateLimiting = Some(RateLimiting(allowedMessages = 1, intervalMs = 60000))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(1, 2, 3))
      tp.processAllAvailable()
      assert(tp.acks().flatMap(_.successful).map(_.data) == Seq(1))
      assert(tp.running.getRateLimiting.map(_.allowedMessages).contains(1))
      tp.running.updateRateLimiting(allowedMessages = Some(100), reset = true)
      tp.processAllAvailable()
      val rest = tp.acks().flatMap(_.successful).map(_.data)
      assert(rest.map(_.asInstanceOf[Int]).sorted == Seq(2, 3))
      assert(tp.running.getRateLimiting.map(_.allowedMessages).contains(100))
    } finally tp.stop()
  }

  // broadway_test.exs:2828-2943 — introspection.
  // terminator.ex:41-60 — drain everything in flight, then stop, for every
  // registered pipeline (the shutdown-hook path calls exactly this).
  test("drainAll drains and stops every registered pipeline") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "drain-all",
      handleBatch = (_, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      }
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.push(1, 2, 3)
      PipelineRegistry.drainAll()
      // in-flight messages were processed before the stop
      assert(BatchProbe.drain().flatMap(_._2).sorted == Seq(1, 2, 3))
      assert(!PipelineRegistry.allRunning.contains("drain-all"))
      assert(!tp.running.query.isActive)
    } finally {
      try tp.stop()
      catch { case _: Throwable => () } // already stopped by drainAll
      tp.clearAcks()
    }
  }

  // broadway.ex:1525-1539 — stop/3 with an exit reason: Kill must tear
  // down immediately (no prepare_for_draining, no drain) but still
  // release runtime resources; Normal keeps the graceful contract.
  test("stop with Kill skips the drain hook but still unregisters") {
    val drained = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cfg = PipelineConfig[Int](
      name = "stop-kill",
      prepareForDraining = () => drained.set(true)
    )
    val tp = new TestPipeline(spark, cfg)
    tp.push(1, 2)
    tp.running.stop(graft.core.StopReason.Kill, 10000L)
    assert(!drained.get(), "Kill must not invoke prepare_for_draining")
    assert(!PipelineRegistry.allRunning.contains("stop-kill"), "resources not released")
    assert(!tp.running.query.isActive)

    val drained2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cfg2 = PipelineConfig[Int](
      name = "stop-normal",
      prepareForDraining = () => drained2.set(true)
    )
    val tp2 = new TestPipeline(spark, cfg2)
    tp2.push(3)
    tp2.running.stop(graft.core.StopReason.Normal, 10000L)
    assert(drained2.get(), "Normal must invoke prepare_for_draining")
    assert(!PipelineRegistry.allRunning.contains("stop-normal"))
    // post-mortem metrics: the handle's own counters and progress totals
    // outlive the query (the drain-latency bench proves its guarantee with
    // this), while the progress listener leaves the session
    assert(tp2.running.stageMetrics.map(_.processorProcessed).contains(1L),
      s"expected final totals with 1 processed, got ${tp2.running.stageMetrics}")
    assert(tp2.running.progress.inputRows == 1, s"progress: ${tp2.running.progress}")
    assert(!listening(tp2.running), "progress listener leaked after a clean stop")
    assert(tp.running.progress.batches <= 1 && !listening(tp.running), "progress listener leaked after Kill")
    tp.clearAcks(); tp2.clearAcks()
  }

  test("topology and registry introspection") {
    val cfg = PipelineConfig[Int](
      name = "introspect",
      batchers = Seq(BatcherConfig[Int]("default"), BatcherConfig[Int]("s3", batchSize = 50))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      assert(PipelineRegistry.allRunning.contains("introspect"))
      val topo = tp.running.topology
      assert(topo.batchers.map(_.name).toSet == Set("default", "s3"))
      assert(topo.batchers.find(_.name == "s3").get.batchSize == 50)
      assert(topo.processorConcurrency > 0)
      // producer_names/1 analog: the MemoryStream source leaf is listed
      val producers = PipelineRegistry.producerNames("introspect")
      assert(producers.exists(_.nonEmpty), s"no producer names: $producers")
      assert(producers.get.exists(_.toLowerCase.contains("memory")), s"unexpected: $producers")
      // process_name/2 analog: deterministic component naming
      assert(graft.core.Pipeline.processName("introspect", "processor", 3) == "introspect.graft.processor.3")
    } finally {
      tp.stop()
      assert(!PipelineRegistry.allRunning.contains("introspect"))
    }
  }

  // broadway.ex:524-607 — partition_by: same key processed serially in
  // arrival order at the PROCESSOR stage (not just inside batches).
  test("partitionBy processes same-key messages in arrival order") {
    ProcessorProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "partitioned",
      partitionBy = Some((i: Int) => i % 3),
      handleMessage = m => { ProcessorProbe.record(m.data % 3, m.data); m },
      processorConcurrency = 4
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(1 to 30)
      tp.processAllAvailable()
      val seen = ProcessorProbe.drain().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(seen.keySet == Set(0, 1, 2))
      seen.foreach { case (k, vals) =>
        assert(vals == vals.sorted, s"key $k processed out of order: $vals")
      }
    } finally tp.stop()
  }

  // message.ex:172-201 — ack_immediately locks the ack status before the batch.
  test("ackImmediately survives a handleBatch crash with its locked status") {
    val cfg = PipelineConfig[Int](
      name = "acknow",
      handleMessage = m => if (m.data == 7) m.ackImmediately else m,
      handleBatch = (_, msgs, _) => throw new RuntimeException("batch boom")
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(6, 7, 8))
      tp.processAllAvailable()
      val acks = tp.acks()
      // 7 was ack-locked as ok before the batch crashed; 6 and 8 fail
      assert(acks.flatMap(_.successful).map(_.data) == Seq(7))
      assert(acks.flatMap(_.failed).map(_.data.asInstanceOf[Int]).sorted == Seq(6, 8))
    } finally tp.stop()
  }

  // broadway_test.exs:2514-2541 — drain on shutdown processes in-flight work.
  test("stop drains in-flight messages before terminating") {
    val tp = new TestPipeline(spark, simpleConfig("draining"))
    tp.testBatch(1 to 20)
    tp.stop() // no processAllAvailable first: stop() itself must drain
    assert(!PipelineRegistry.allRunning.contains("draining"))
    val delivered = tp.acks().flatMap(_.successful).map(_.data.asInstanceOf[Int]).sorted
    assert(delivered == (1 to 20).toList, s"drain lost messages: $delivered")
    tp.clearAcks()
  }

  // multi-batcher routing (put_batcher, message.ex:90-96).
  test("messages route to their named batcher") {
    BatchProbe.clear()
    val cfg = PipelineConfig[Int](
      name = "routes",
      handleMessage = m => m.putBatcher(if (m.data > 10) "big" else "small"),
      handleBatch = (name, msgs, info) => {
        BatchProbe.record(info, msgs.map(_.data))
        msgs
      },
      batchers = Seq(BatcherConfig[Int]("small"), BatcherConfig[Int]("big"))
    )
    val tp = new TestPipeline(spark, cfg)
    try {
      tp.testBatch(Seq(1, 20, 2, 30))
      tp.processAllAvailable()
      val byBatcher = BatchProbe.drain().groupBy(_._1.batcher)
      assert(byBatcher("small").flatMap(_._2).sorted == Seq(1, 2))
      assert(byBatcher("big").flatMap(_._2).sorted == Seq(20, 30))
    } finally tp.stop()
  }

  test("checkpoint of Spark's default manager restarts under graft's, each offset acked once") {
    checkpointHandover("to-graft", first = Some(SparkDefaultManager), second = None)
  }

  test("checkpoint of graft's manager restarts under Spark's default, each offset acked once") {
    checkpointHandover("to-spark", first = None, second = Some(SparkDefaultManager))
  }

  test("Pipeline.start leaves a user-set checkpoint file manager in place") {
    val user = classOf[CountingCheckpointFileManager].getName
    def runOnce(name: String): Unit = {
      CountingCheckpointFileManager.created.set(0)
      val tp = new TestPipeline(spark, simpleConfig(name))
      try {
        tp.testBatch(1 to 3)
        tp.processAllAvailable()
        assert(tp.acks().flatMap(_.successful).map(_.data.asInstanceOf[Int]).sorted == Seq(1, 2, 3))
      } finally tp.stop()
      assert(CountingCheckpointFileManager.created.get > 0, "the query's logs did not use the user's manager")
    }
    withFileManager(Some(user)) {
      runOnce("user-file-manager")
      assert(spark.conf.get(FileManagerKey) == user)
    }
    // set through `spark.hadoop.*`, that is in the Hadoop conf only
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    withFileManager(None) {
      hadoopConf.set(FileManagerKey, user)
      try {
        runOnce("user-file-manager-hadoop")
        assert(spark.conf.getOption(FileManagerKey).isEmpty)
      } finally hadoopConf.unset(FileManagerKey)
    }
  }
}
