package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.ack.Acknowledger
import graft.config.{BatcherConfig, PipelineConfig}
import graft.core.Pipeline
import graft.model.Message
import graft.sources.QueueSource

/** The two pipeline workloads: a closed loop from one producer thread that
  * pushes a wave of records into a `QueueSource`, waits until the
  * benchmark's acknowledger has seen every message of the wave, and pushes
  * the next.
  */
object Pipelines {

  sealed trait Shape extends Serializable {
    def name: String
    def waveSize: Int
    /** Untimed waves before the window: measured to be where wave times
      * level off (see README). A fixed count keeps the messages the queue
      * retains, and so the live heap, the same from run to run.
      */
    def warmWaves: Int
    /** Timed waves per second of `--seconds`: the window is a fixed count
      * of waves, sized to the seconds asked for at today's speed, so that
      * the messages the queue retains when the live heap is sampled do not
      * vary with throughput.
      */
    def wavesPerSecond: Double
    def batchers: Seq[(String, Int)]
    def failing(seed: Long, i: Long): Boolean
    def route(data: String): Route
    def handle(m: Message[String]): Message[String]
    def config(ckpt: String): PipelineConfig[String]
  }

  /** Large waves (25,000 records), 16 batch keys, batch size 100, default ack ref: the
    * per-message path dominates.
    */
  case object Bulk extends Shape {
    val name = "perfbench-bulk"
    val waveSize = 25000
    val warmWaves = 8
    val wavesPerSecond = 1.5
    val batchers = Seq("default" -> 100)
    def failing(seed: Long, i: Long) = false
    def route(data: String) = Route("default", (Payload.user(data) % 16).toString)
    def handle(m: Message[String]): Message[String] = {
      val rec = m.data
      m.putData(Payload.enrich(rec)).putBatchKey((Payload.user(rec) % 16).toString)
    }
    def config(ckpt: String) = PipelineConfig[String](
      name = name,
      handleMessage = Handlers.handleMessage(this),
      handleBatch = Handlers.handleBatch(this),
      handleFailed = Handlers.handleFailed,
      batchers = batchers.map { case (b, n) => BatcherConfig[String](b, batchSize = n) },
      checkpointLocation = Some(ckpt))
  }

  /** Small waves (one micro-batch each), ordered by `partitionBy` over 48
    * keys, two routed batchers with small batches and a fixed 1-in-25 share
    * of messages failed by the handler: the fixed cost per trigger dominates.
    */
  case object Trickle extends Shape {
    val name = "perfbench-trickle"
    val waveSize = 500
    val warmWaves = 48
    val wavesPerSecond = 2.5
    val batchers = Seq("even" -> 4, "odd" -> 4)
    def failing(seed: Long, i: Long) = Gen.designatedFailure(seed, i)
    def route(data: String) = {
      val k = Payload.key(data)
      Route(if (k % 2 == 0) "even" else "odd", s"k$k")
    }
    def handle(m: Message[String]): Message[String] = {
      val rec = m.data
      val k = Payload.key(rec)
      State.ledger.processed(k, Payload.seq(rec))
      if (Payload.designated(rec)) m.failed("designated failure")
      else m.putData(Payload.enrich(rec)).putBatcher(if (k % 2 == 0) "even" else "odd").putBatchKey(s"k$k")
    }
    def config(ckpt: String) = PipelineConfig[String](
      name = name,
      handleMessage = Handlers.handleMessage(this),
      handleBatch = Handlers.handleBatch(this),
      handleFailed = Handlers.handleFailed,
      batchers = batchers.map { case (b, n) => BatcherConfig[String](b, batchSize = n) },
      partitionBy = Some((d: String) => Payload.key(d)),
      checkpointLocation = Some(ckpt))
  }

  /** Run-wide state the callbacks (Spark tasks in this JVM) report into. */
  object State {
    @volatile var ledger = new Ledger
    private val acked = new AtomicLong()
    private val lock = new Object
    def reset(): Unit = { ledger = new Ledger; acked.set(0) }
    def add(n: Int): Unit = { acked.addAndGet(n.toLong); lock.synchronized(lock.notifyAll()) }
    def awaitAcked(target: Long, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      lock.synchronized {
        while (acked.get() < target) {
          val left = deadline - System.currentTimeMillis()
          if (left <= 0) throw new IllegalStateException(s"acks stalled at ${acked.get()} of $target")
          lock.wait(math.min(left, 50L))
        }
      }
    }
  }

  object Handlers {
    def handleMessage(shape: Shape): Message[String] => Message[String] = (m: Message[String]) =>
      if (!Callbacks.on) shape.handle(m)
      else {
        val t0 = System.nanoTime()
        val out = shape.handle(m)
        Callbacks.of(Callbacks.batchId).processorNs.addAndGet(System.nanoTime() - t0)
        out
      }

    def handleBatch(shape: Shape): (String, Seq[Message[String]], graft.model.BatchInfo) => Seq[Message[String]] = {
      val limits = shape.batchers.toMap
      (batcher: String, msgs: Seq[Message[String]], info: graft.model.BatchInfo) => {
        val t0 = System.nanoTime()
        State.ledger.batch(batcher, info.batchKey, limits(batcher), msgs.map(_.data), shape.route)
        if (Callbacks.on) {
          val c = Callbacks.of(Callbacks.batchId)
          c.batches.incrementAndGet()
          c.batchMsgs.addAndGet(msgs.size.toLong)
          if (info.trigger == "size") c.sizeTriggers.incrementAndGet()
          if (info.trigger == "timeout") c.timeoutTriggers.incrementAndGet()
          c.batcherNs.addAndGet(System.nanoTime() - t0)
        }
        msgs
      }
    }

    val handleFailed: Seq[Message[String]] => Seq[Message[String]] = (msgs: Seq[Message[String]]) => {
      State.ledger.handledFailed(msgs.map(m => Payload.seq(m.data)))
      if (Callbacks.on) {
        val now = System.currentTimeMillis()
        val b = Callbacks.batchId
        Callbacks.of(b).handleFailedCalls.incrementAndGet()
        Callbacks.calls.add(Callbacks.Call("handle_failed", b, now, now, msgs.size))
      }
      msgs
    }
  }

  /** The benchmark's acknowledger: folds every ack into the ledger and
    * wakes the producer.
    */
  object BenchAck extends Acknowledger {
    def ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]]): Unit = {
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      State.ledger.acked(
        successful.map { m => val d = m.data.asInstanceOf[String]; (Payload.seq(d), d) },
        failed.map(m => Payload.seq(m.data.asInstanceOf[String])))
      if (Callbacks.on) {
        val b = Callbacks.batchId
        val c = Callbacks.of(b)
        c.ackCalls.incrementAndGet()
        c.ackFailed.addAndGet(failed.size.toLong)
        c.ackNs.addAndGet(System.nanoTime() - t0)
        Callbacks.calls.add(Callbacks.Call("ack", b, startMs, System.currentTimeMillis(), successful.size + failed.size))
      }
      State.add(successful.size + failed.size)
    }
  }

  def run(spark: SparkSession, s: Settings, shape: Shape): Outcome = {
    import spark.implicits._
    State.reset()
    val sparkTrace = new SparkTrace
    val progress = new ProgressTrace
    if (s.trace) {
      Callbacks.on = true
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.streams.addListener(progress)
    }
    val q = QueueSource.create(shape.name)
    val source = spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", shape.name)
      .load()
      .as[(Long, String)]
      .map { case (off, v) => Message(v, metadata = Map("seq" -> off.toString)) }
    val running = Pipeline.start(spark, source, shape.config(s"${s.runDir}/checkpoints/${shape.name}"), BenchAck)

    var pushed = 0L
    /** One closed-loop wave; returns (push wall ms, latency ms). */
    def wave(): (Long, Double) = {
      val recs = Array.tabulate(shape.waveSize)(k => Gen.record(s.seed, pushed + k))
      val target = pushed + shape.waveSize
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      q.push(recs.toIndexedSeq: _*)
      State.awaitAcked(target, 60000L)
      pushed = target
      (startMs, (System.nanoTime() - t0) / 1e6)
    }

    try {
      val warm = Seq.fill(shape.warmWaves)(wave()._2)
      s.log(s"warm-up ${warm.size} waves: ${warm.map(_.round).mkString(" ")}")

      val setupS = s.sinceStartS
      val gc0 = Main.gcMs()
      Main.resetHeapPeak()
      val metrics0 = running.stageMetrics
      val t0 = System.nanoTime()
      val waves = Seq.fill(math.max(1, math.round(s.seconds * shape.wavesPerSecond).toInt))(wave())
      val windowS = (System.nanoTime() - t0) / 1e9
      val gcWindow = Main.gcMs() - gc0
      val heapPeak = Main.heapPeakMb()
      val metrics1 = running.stageMetrics
      val liveHeap = Main.liveHeapMb(spark)

      val latencies = waves.map(_._2).toSeq
      s.log(f"timed ${waves.size} waves in $windowS%.1f s, p50 ${Main.median(latencies)}%.1f ms: ${latencies.map(_.round).mkString(" ")}")
      if (latencies.size >= 100)
        s.log(f"wave p90 ${latencies.sorted.apply(latencies.size * 9 / 10)}%.1f ms over ${latencies.size} waves")

      running.stop()
      val stage = running.stageMetrics.getOrElse(throw new IllegalStateException("no stage metrics"))
      val exp = Expected.of(s.seed, pushed, i => shape.failing(s.seed, i))
      val problems = State.ledger.problems(exp, stage.ackSuccessful, stage.batcherBatches)

      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("items_per_s", shape.waveSize * 1000.0 / Main.median(latencies), "1/s"),
        ("op_p50_ms", Main.median(latencies), "ms"),
        ("live_heap_mb", liveHeap, "MB"))
      val metrics =
        if (!s.trace) e2e
        else {
          s.log("end-to-end with tracing on: " + e2e.map { case (n, v, _) => s"$n=$v" }.mkString(" "))
          progress.settle(shape.warmWaves + waves.size)
          sparkTrace.settle()
          val spans = new Spans
          val layers = PipelineLayers.compute(sparkTrace, progress, waves, spans,
            metrics0, metrics1, gcWindow, heapPeak)
          spans.write(s"${s.runDir}/trace.json")
          layers
        }
      Outcome(problems.isEmpty, waves.size.toLong, 0L, metrics, problems)
    } finally {
      Callbacks.on = false
      if (running.query.isActive) running.stop()
      QueueSource.remove(shape.name)
    }
  }
}
