package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._
import graft.ack.{AckCollector, CallerAcknowledger}
import graft.config.{BatcherConfig, PipelineConfig, RestartPolicy}
import graft.core.Pipeline
import graft.model.{BatchInfo, Message}
import graft.runtime.Supervisor
import graft.sources.QueueSource

/** Shared one-shot crash switch + idempotent sink (static: executors share
  * the test JVM in local mode) — the analog of the reference's restart
  * tests (test/broadway_test.exs:2070-2347).
  */
object SupervisorProbe {
  val crashOnce = new AtomicBoolean(false)
  val alwaysCrash = new AtomicBoolean(false)
  val sink = new ConcurrentHashMap[String, Integer]()
  def record(v: String): Unit = { sink.merge(v, 1, (a, b) => a + b); () }
  def reset(): Unit = { crashOnce.set(false); alwaysCrash.set(false); sink.clear() }
}

class SupervisorSpec extends SparkSpec {

  import spark.implicits._

  /** Queue-backed message source; with `injectCrash` the SupervisorProbe
    * flags crash the source-side TRANSFORMER map — transformer crashes
    * restart the producer in the reference ("restart the producer if the
    * transformation raises an error", broadway_test.exs) and are NOT
    * contained per-message the way prepare/handle crashes are, so they
    * fail the query and exercise the supervisor.
    */
  private def queueMessages(queue: String, injectCrash: Boolean = false) = {
    val raw = spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", queue)
      .load()
    raw
      .select(col("offset"), col("value"))
      .as[(Long, String)]
      .map { case (off, v) =>
        if (injectCrash &&
          (SupervisorProbe.crashOnce.getAndSet(false) || SupervisorProbe.alwaysCrash.get()))
          throw new RuntimeException("injected crash")
        Message(v, metadata = Map("seq" -> off.toString))
      }
  }

  private def awaitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && !cond) Thread.sleep(100)
    cond
  }

  test("crashed query restarts from checkpoint and delivers exactly once") {
    SupervisorProbe.reset()
    Supervisor.reset("sup-restart")
    val q = QueueSource.create("sup-q1", None)
    val collectorId = "sup-collector-1"
    val ckpt = tempDir("graft-sup-ckpt").toString
    try {
      q.push("a", "b", "c")
      // one-shot transformer crash before any message enters the stage
      // chain: the whole micro-batch replays from the offset log after the
      // supervisor restarts the query
      val cfg = PipelineConfig[String](
        name = "sup-restart",
        handleBatch = (_: String, msgs: Seq[Message[String]], _: BatchInfo) => {
          msgs.foreach(m => SupervisorProbe.record(m.data))
          msgs
        },
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
        checkpointLocation = Some(ckpt),
        restartPolicy = Some(RestartPolicy(maxRestarts = 3, withinSeconds = 60))
      )
      SupervisorProbe.crashOnce.set(true)
      val running =
        Pipeline.start(spark, queueMessages("sup-q1", injectCrash = true), cfg, CallerAcknowledger(collectorId))
      try {
        assert(
          awaitUntil(30000)(AckCollector.acks(collectorId).flatMap(_.successful).size == 3),
          s"acks never arrived after restart; sink=${SupervisorProbe.sink}"
        )
        assert(Supervisor.restartCount("sup-restart") == 1)
        assert(!Supervisor.gaveUp("sup-restart"))
        // idempotent sink saw each message exactly once: the crash happened
        // before any batch handling, so the replayed micro-batch is the only
        // delivery
        val counts = SupervisorProbe.sink
        assert(counts.keySet().size == 3 && Seq("a", "b", "c").forall(v => counts.get(v) == 1), s"sink=$counts")
        val acked = AckCollector.drain(collectorId).flatMap(_.successful).map(_.data.asInstanceOf[String])
        assert(acked.sorted == Seq("a", "b", "c"))
      } finally running.stop()
      // the progress totals followed the restarted run, then left the session
      assert(running.progress.inputRows == 3, s"progress: ${running.progress}")
      assert(!listening(running), "progress listener leaked")
    } finally {
      QueueSource.remove("sup-q1")
      AckCollector.clear(collectorId)
      Supervisor.reset("sup-restart")
    }
  }

  test("restart budget exhausts and the supervisor gives up") {
    SupervisorProbe.reset()
    Supervisor.reset("sup-giveup")
    val q = QueueSource.create("sup-q2", None)
    val collectorId = "sup-collector-2"
    val ckpt = tempDir("graft-sup-ckpt2").toString
    try {
      q.push("x")
      val cfg = PipelineConfig[String](
        name = "sup-giveup",
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
        checkpointLocation = Some(ckpt),
        restartPolicy = Some(RestartPolicy(maxRestarts = 2, withinSeconds = 120))
      )
      SupervisorProbe.alwaysCrash.set(true)
      val running =
        Pipeline.start(spark, queueMessages("sup-q2", injectCrash = true), cfg, CallerAcknowledger(collectorId))
      try {
        // every restart replays the same poisoned batch and crashes again;
        // after maxRestarts the supervisor must stop restarting
        assert(awaitUntil(60000)(Supervisor.gaveUp("sup-giveup")), "supervisor never gave up")
        assert(Supervisor.restartCount("sup-giveup") == 2)
        // releasing the poison does NOT revive it: budget is spent
        SupervisorProbe.alwaysCrash.set(false)
        Thread.sleep(500)
        assert(!running.query.isActive)
        assert(awaitUntil(15000)(!listening(running)), "progress listener leaked after give-up")
      } finally {
        SupervisorProbe.alwaysCrash.set(false)
        try running.stop()
        catch { case _: Throwable => () } // already dead
      }
    } finally {
      QueueSource.remove("sup-q2")
      AckCollector.clear(collectorId)
      Supervisor.reset("sup-giveup")
    }
  }

  test("clean termination outside stop() drops the supervision record") {
    SupervisorProbe.reset()
    Supervisor.reset("sup-clean")
    val q = QueueSource.create("sup-q3", None)
    val collectorId = "sup-collector-3"
    try {
      q.push("x")
      val cfg = PipelineConfig[String](
        name = "sup-clean",
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
        restartPolicy = Some(RestartPolicy(maxRestarts = 3, withinSeconds = 60))
      )
      val running = Pipeline.start(spark, queueMessages("sup-q3"), cfg, CallerAcknowledger(collectorId))
      val before = Supervisor.supervisedCount
      assert(before >= 1)
      running.processAllAvailable()
      // a path stop() doesn't mediate: direct query stop (the same event
      // shape as source exhaustion) — the supervision record must not leak
      running.query.stop()
      assert(
        awaitUntil(15000)(Supervisor.supervisedCount == before - 1),
        "clean termination left the supervision record behind"
      )
      assert(Supervisor.restartCount("sup-clean") == 0 && !Supervisor.gaveUp("sup-clean"))
      assert(awaitUntil(15000)(!listening(running)), "clean termination left the progress listener behind")
    } finally {
      QueueSource.remove("sup-q3")
      AckCollector.clear(collectorId)
      Supervisor.reset("sup-clean")
      graft.runtime.PipelineRegistry.get("sup-clean").foreach(graft.runtime.PipelineRegistry.unregister)
    }
  }

  test("stop() on a crashed pipeline still releases runtime resources") {
    SupervisorProbe.reset()
    val q = QueueSource.create("sup-q4", None)
    val collectorId = "sup-collector-4"
    try {
      q.push("boom")
      val cfg = PipelineConfig[String](
        name = "sup-crashed",
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
        rateLimiting = Some(graft.config.RateLimiting(allowedMessages = 100, intervalMs = 1000L))
        // no restartPolicy: the query stays dead, stop() must still clean up
      )
      SupervisorProbe.alwaysCrash.set(true)
      val running =
        Pipeline.start(spark, queueMessages("sup-q4", injectCrash = true), cfg, CallerAcknowledger(collectorId))
      assert(awaitUntil(30000)(!running.query.isActive), "query never crashed")
      // awaitTermination rethrows the crash — stop() must release the
      // registry entry, progress listener and rate limiter anyway (its own
      // finally)
      intercept[Exception](running.stop())
      assert(!graft.runtime.PipelineRegistry.allRunning.contains("sup-crashed"), "registry entry leaked")
      assert(awaitUntil(15000)(!listening(running)), "progress listener leaked after stopping a crashed run")
    } finally {
      SupervisorProbe.reset()
      QueueSource.remove("sup-q4")
      AckCollector.clear(collectorId)
      graft.runtime.PipelineRegistry.get("sup-crashed").foreach(graft.runtime.PipelineRegistry.unregister)
    }
  }
}
