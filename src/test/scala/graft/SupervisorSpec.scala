package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._
import graft.ack.{AckCollector, CallerAcknowledger}
import graft.config.{BatcherConfig, PipelineConfig, RestartPolicy}
import graft.core.Pipeline
import graft.model.{BatchInfo, Message}
import graft.runtime.{LocalCheckpointFileManager, PipelineRegistry}
import graft.sources.QueueSource
import org.apache.spark.sql.SparkSession

/** Shared one-shot crash switches + idempotent sink (static: executors
  * share the test JVM in local mode) — the analog of the reference's
  * restart tests (test/broadway_test.exs:2070-2347). `crashOnceOn` holds
  * queue names: one one-shot switch per pipeline's queue.
  */
object SupervisorProbe {
  val crashOnce = new AtomicBoolean(false)
  val alwaysCrash = new AtomicBoolean(false)
  val crashOnceOn = ConcurrentHashMap.newKeySet[String]()
  val sink = new ConcurrentHashMap[String, Integer]()
  def record(v: String): Unit = { sink.merge(v, 1, (a, b) => a + b); () }
  def reset(): Unit = { crashOnce.set(false); alwaysCrash.set(false); crashOnceOn.clear(); sink.clear() }
}

class SupervisorSpec extends SparkSpec {

  import spark.implicits._

  /** Queue-backed message source; with `injectCrash` the SupervisorProbe
    * flags crash the source-side TRANSFORMER map — transformer crashes
    * restart the producer in the reference ("restart the producer if the
    * transformation raises an error", broadway_test.exs) and are NOT
    * contained per-message the way prepare/handle crashes are, so they
    * fail the query and exercise the supervisor. The source is built on
    * `session`.
    */
  private def queueMessages(queue: String, injectCrash: Boolean = false, session: SparkSession = spark) = {
    val raw = session.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", queue)
      .load()
    raw
      .select(col("offset"), col("value"))
      .as[(Long, String)]
      .map { case (off, v) =>
        if (injectCrash &&
          (SupervisorProbe.crashOnce.getAndSet(false) || SupervisorProbe.alwaysCrash.get() ||
            SupervisorProbe.crashOnceOn.remove(queue)))
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
        assert(running.restartCount == 1)
        assert(!running.gaveUp)
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
    }
  }

  test("restart budget exhausts and the supervisor gives up") {
    SupervisorProbe.reset()
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
        assert(awaitUntil(60000)(running.gaveUp), "supervisor never gave up")
        assert(running.restartCount == 2)
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
    }
  }

  test("clean termination outside stop() drops the supervision record") {
    SupervisorProbe.reset()
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
      running.processAllAvailable()
      // a path stop() doesn't mediate: direct query stop (the same event
      // shape as source exhaustion) — no restart follows, and the
      // pipeline's listener, its one supervision record, must not leak
      running.query.stop()
      assert(awaitUntil(15000)(!listening(running)), "clean termination left the progress listener behind")
      Thread.sleep(500)
      assert(!running.query.isActive, "a clean termination was restarted")
      assert(running.restartCount == 0 && !running.gaveUp)
    } finally {
      QueueSource.remove("sup-q3")
      AckCollector.clear(collectorId)
      PipelineRegistry.get("sup-clean").foreach(PipelineRegistry.unregister)
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
      assert(!PipelineRegistry.allRunning.contains("sup-crashed"), "registry entry leaked")
      assert(awaitUntil(15000)(!listening(running)), "progress listener leaked after stopping a crashed run")
    } finally {
      SupervisorProbe.reset()
      QueueSource.remove("sup-q4")
      AckCollector.clear(collectorId)
      PipelineRegistry.get("sup-crashed").foreach(PipelineRegistry.unregister)
    }
  }

  test("same-named pipelines in two sessions restart and count on their own") {
    SupervisorProbe.reset()
    val other = spark.newSession()
    val qa = QueueSource.create("sup-qa", None)
    val qb = QueueSource.create("sup-qb", None)
    def cfg(ckpt: String) = PipelineConfig[String](
      name = "sup-same",
      handleBatch = (_: String, msgs: Seq[Message[String]], _: BatchInfo) => {
        msgs.foreach(m => SupervisorProbe.record(m.data))
        msgs
      },
      batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
      checkpointLocation = Some(ckpt),
      restartPolicy = Some(RestartPolicy(maxRestarts = 3, withinSeconds = 60))
    )
    def acked(collectorId: String) = AckCollector.acks(collectorId).flatMap(_.successful).size
    try {
      val a = Pipeline.start(spark, queueMessages("sup-qa", injectCrash = true), cfg(tempDir("graft-sup-ckpta").toString),
        CallerAcknowledger("sup-collector-a"))
      try {
        val b = Pipeline.start(other, queueMessages("sup-qb", injectCrash = true, session = other),
          cfg(tempDir("graft-sup-ckptb").toString), CallerAcknowledger("sup-collector-b"))
        try {
          qa.push("a1")
          qb.push("b1")
          assert(
            awaitUntil(30000)(acked("sup-collector-a") == 1 && acked("sup-collector-b") == 1),
            s"sink=${SupervisorProbe.sink}"
          )
          // stopping B must not cancel A's restart: they share only a name
          b.stop()
          SupervisorProbe.crashOnceOn.add("sup-qa")
          qa.push("a2")
          assert(awaitUntil(30000)(acked("sup-collector-a") == 2), s"A never restarted; sink=${SupervisorProbe.sink}")
          assert(Seq("a1", "a2", "b1").forall(v => SupervisorProbe.sink.get(v) == 1), s"sink=${SupervisorProbe.sink}")
          assert(a.restartCount == 1 && b.restartCount == 0, s"restarts: A ${a.restartCount}, B ${b.restartCount}")
          assert(!a.gaveUp && !b.gaveUp)
        } finally b.stop() // a second stop() is a no-op
        assert(!listening(b, other), "B's listener outlived its stop")
      } finally a.stop()
      assert(!listening(a), "A's listener outlived its stop")
    } finally {
      QueueSource.remove("sup-qa")
      QueueSource.remove("sup-qb")
      AckCollector.clear("sup-collector-a")
      AckCollector.clear("sup-collector-b")
      PipelineRegistry.get("sup-same").foreach(PipelineRegistry.unregister)
    }
  }

  test("a source built on another session is watched and restarted in that session") {
    SupervisorProbe.reset()
    val other = spark.newSession()
    val q = QueueSource.create("sup-q5", None)
    val collectorId = "sup-collector-5"
    try {
      q.push("a", "b", "c")
      val cfg = PipelineConfig[String](
        name = "sup-other-session",
        batchers = Seq(BatcherConfig[String]("default", batchSize = 10)),
        checkpointLocation = Some(tempDir("graft-sup-ckpt5").toString),
        restartPolicy = Some(RestartPolicy(maxRestarts = 3, withinSeconds = 60))
      )
      SupervisorProbe.crashOnce.set(true)
      // `spark` is the caller's session; the query runs in `other`
      val running = Pipeline.start(spark, queueMessages("sup-q5", injectCrash = true, session = other), cfg,
        CallerAcknowledger(collectorId))
      try {
        assert(
          awaitUntil(30000)(AckCollector.acks(collectorId).flatMap(_.successful).size == 3),
          "the crashed query in the other session never restarted"
        )
        assert(running.restartCount == 1 && !running.gaveUp)
        assert(running.query.sparkSession eq other)
        assert(other.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
          classOf[LocalCheckpointFileManager].getName)
      } finally running.stop()
      assert(!listening(running, other), "progress listener leaked")
    } finally {
      QueueSource.remove("sup-q5")
      AckCollector.clear(collectorId)
      PipelineRegistry.get("sup-other-session").foreach(PipelineRegistry.unregister)
    }
  }
}
