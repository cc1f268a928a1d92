package perfbench

import scala.jdk.CollectionConverters._
import graft.runtime.StageMetrics

/** Every per-layer metric of the traced run, in one fixed list. A run
  * reports 0 for a layer its workload does not pass through (the query
  * workload never starts a pipeline; the pipelines run no registry query).
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms", "source.input_tasks" -> "count",
    "trigger.count" -> "count", "trigger.exec_ms" -> "ms", "trigger.add_batch_ms" -> "ms",
    "trigger.fixed_ms" -> "ms", "trigger.wal_commit_ms" -> "ms", "trigger.commit_offsets_ms" -> "ms",
    "trigger.query_planning_ms" -> "ms", "trigger.jobs" -> "count", "trigger.stages" -> "count",
    "trigger.tasks" -> "count",
    "processor.stage_ms" -> "ms", "processor.tasks" -> "count", "processor.shuffle_bytes" -> "bytes",
    "processor.callback_ms" -> "ms", "processor.span_ms" -> "ms",
    "batcher.stage_ms" -> "ms", "batcher.tasks" -> "count", "batcher.shuffle_bytes" -> "bytes",
    "batcher.batches" -> "count", "batcher.mean_batch_size" -> "count", "batcher.size_triggers" -> "count",
    "batcher.timeout_triggers" -> "count", "batcher.callback_ms" -> "ms",
    "ack.stage_ms" -> "ms", "ack.tasks" -> "count", "ack.shuffle_bytes" -> "bytes", "ack.calls" -> "count",
    "ack.callback_ms" -> "ms", "ack.failed_msgs" -> "count", "handle_failed.calls" -> "count",
    "serial_stage_ms" -> "ms", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "heap_used_peak_mb" -> "MB",
    "query.cold_pass_s" -> "s", "query.construct_ms" -> "ms", "query.construct_jobs" -> "count",
    "query.cache_builds" -> "count", "query.plan_ms" -> "ms", "query.codegen_ms" -> "ms",
    "query.exec_ms" -> "ms", "query.exec_jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.task_run_ms" -> "ms", "query.task_cpu_ms" -> "ms", "query.shuffle_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes", "query.gc_ms" -> "ms")

  /** The full list, with `got` filled in and every other metric 0. */
  def report(got: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = got.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    Names.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Per-layer numbers of a pipeline run, per trigger of the timed window.
  * Stages are identified by their position in the micro-batch's DAG: the
  * last three are processor, batcher and ack; the first reads the source
  * (with `partitionBy` it is a stage of its own ahead of the processor).
  */
object PipelineLayers {
  def compute(
      st: SparkTrace, pt: ProgressTrace,
      waves: Seq[(Long, Double)], spans: Spans,
      m0: Option[StageMetrics], m1: Option[StageMetrics], gcMs: Long, heapPeakMb: Double
  ): Seq[(String, Double, String)] = {
    // Every wave is admitted whole by one trigger (a push is atomic and the
    // queue has no rate limit), so the timed waves' triggers are the last
    // triggers that read data, in order.
    val triggers = pt.dataTriggers.takeRight(waves.size)
    require(triggers.size == waves.size, s"${waves.size} timed waves but ${triggers.size} traced triggers")
    def per(f: ProgressTrace#Trigger => Double): Double = Layers.mean(triggers.map(f))
    def dur(t: ProgressTrace#Trigger, k: String): Double = t.durations.getOrElse(k, 0L).toDouble
    val stagesBy = triggers.map(t => t.batchId -> st.stagesOf(t.batchId)).toMap
    def pos(t: ProgressTrace#Trigger, fromEnd: Int): Option[StageRec] = {
      val v = stagesBy(t.batchId)
      if (v.size >= fromEnd) Some(v(v.size - fromEnd)) else None
    }
    def stageAt(fromEnd: Int, f: StageRec => Double): Double = per(t => pos(t, fromEnd).map(f).getOrElse(0.0))
    def cb(f: Callbacks.PerBatch => Long): Double =
      per(t => Option(Callbacks.perBatch.get(t.batchId)).map(c => f(c).toDouble).getOrElse(0.0))
    val allStages = triggers.flatMap(t => stagesBy(t.batchId))
    val n = triggers.size.toDouble
    val batches = cb(_.batches.get)
    val spanNs = (m1.map(_.processorNanos).getOrElse(0L) - m0.map(_.processorNanos).getOrElse(0L)).toDouble

    // spans: wave → trigger → job → stage, and the ack / handleFailed calls
    val jobsBy = triggers.map(t => t.batchId -> st.jobsOf(t.batchId)).toMap
    val callsBy = Callbacks.calls.asScala.toSeq.groupBy(_.batchId)
    waves.zip(triggers).zipWithIndex.foreach { case (((startMs, latMs), t), w) =>
      val root = s"wave-$w"
      spans.add(root, null, root, "wave", startMs, startMs + latMs.round)
      val tid = s"trigger-${t.batchId}"
      spans.add(tid, root, root, "trigger", t.startMs, t.startMs + t.durations.getOrElse("triggerExecution", 0L),
        "batch_id" -> t.batchId, "rows" -> t.rows)
      jobsBy(t.batchId).foreach { j =>
        spans.add(s"job-${j.id}", tid, root, "job", j.startMs, j.endMs)
      }
      val v = stagesBy(t.batchId)
      v.zipWithIndex.foreach { case (sr, i) =>
        val role = v.size - i match { case 1 => "ack"; case 2 => "batcher"; case 3 => "processor"; case _ => "source" }
        spans.add(s"stage-${sr.id}", tid, root, s"stage:$role", sr.submitMs, sr.doneMs,
          "tasks" -> sr.tasks, "shuffle_read" -> sr.shuffleRead, "position" -> i)
      }
      callsBy.getOrElse(t.batchId, Nil).zipWithIndex.foreach { case (c, i) =>
        spans.add(s"${c.name}-${t.batchId}-$i", tid, root, s"callback:${c.name}", c.startMs, c.endMs,
          "messages" -> c.messages)
      }
    }

    Layers.report(Map(
      "source.latest_offset_ms" -> per(dur(_, "latestOffset")),
      "source.get_batch_ms" -> per(dur(_, "getBatch")),
      "source.input_tasks" -> per(t => stagesBy(t.batchId).headOption.map(_.tasks.toDouble).getOrElse(0.0)),
      "trigger.count" -> n,
      "trigger.exec_ms" -> per(dur(_, "triggerExecution")),
      "trigger.add_batch_ms" -> per(dur(_, "addBatch")),
      "trigger.fixed_ms" -> per(t => dur(t, "triggerExecution") - dur(t, "addBatch")),
      "trigger.wal_commit_ms" -> per(dur(_, "walCommit")),
      "trigger.commit_offsets_ms" -> per(dur(_, "commitOffsets")),
      "trigger.query_planning_ms" -> per(dur(_, "queryPlanning")),
      "trigger.jobs" -> per(t => jobsBy(t.batchId).size.toDouble),
      "trigger.stages" -> per(t => stagesBy(t.batchId).size.toDouble),
      "trigger.tasks" -> per(t => stagesBy(t.batchId).map(_.tasks).sum.toDouble),
      "processor.stage_ms" -> stageAt(3, _.ms.toDouble),
      "processor.tasks" -> stageAt(3, _.tasks.toDouble),
      "processor.shuffle_bytes" -> stageAt(3, _.shuffleRead.toDouble),
      "processor.callback_ms" -> cb(_.processorNs.get) / 1e6,
      "processor.span_ms" -> spanNs / n / 1e6,
      "batcher.stage_ms" -> stageAt(2, _.ms.toDouble),
      "batcher.tasks" -> stageAt(2, _.tasks.toDouble),
      "batcher.shuffle_bytes" -> stageAt(2, _.shuffleRead.toDouble),
      "batcher.batches" -> batches,
      "batcher.mean_batch_size" -> (if (batches > 0) cb(_.batchMsgs.get) / batches else 0.0),
      "batcher.size_triggers" -> cb(_.sizeTriggers.get),
      "batcher.timeout_triggers" -> cb(_.timeoutTriggers.get),
      "batcher.callback_ms" -> cb(_.batcherNs.get) / 1e6,
      "ack.stage_ms" -> stageAt(1, _.ms.toDouble),
      "ack.tasks" -> stageAt(1, _.tasks.toDouble),
      "ack.shuffle_bytes" -> stageAt(1, _.shuffleRead.toDouble),
      "ack.calls" -> cb(_.ackCalls.get),
      "ack.callback_ms" -> cb(_.ackNs.get) / 1e6,
      "ack.failed_msgs" -> cb(_.ackFailed.get),
      "handle_failed.calls" -> cb(_.handleFailedCalls.get),
      "serial_stage_ms" -> allStages.filter(_.tasks == 1).map(_.ms).sum / n,
      "task_run_ms" -> allStages.map(_.runMs).sum / n,
      "task_cpu_ms" -> allStages.map(_.cpuNs).sum / n / 1e6,
      "gc_ms" -> gcMs.toDouble,
      "heap_used_peak_mb" -> heapPeakMb))
  }
}
