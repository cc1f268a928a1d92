package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark stage as seen through the listener bus. */
final class StageRec(val id: Int, val batchId: Long, val op: String, val phase: String) {
  var submitMs, doneMs = 0L
  var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  def ms: Long = math.max(0L, doneMs - submitMs)
}

final class JobRec(val id: Int, val startMs: Long, val batchId: Long, val op: String, val phase: String) {
  var endMs = 0L
}

/** Jobs, stages and tasks from Spark's public listener API, tagged with the
  * micro-batch id Spark puts on streaming jobs and with the `perfbench.op` /
  * `perfbench.phase` local properties the query workload sets.
  */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val jobsOpen, stagesOpen = new AtomicLong(0)

  private def prop(p: java.util.Properties, k: String): String = Option(p).flatMap(x => Option(x.getProperty(k))).orNull
  private def batchOf(p: java.util.Properties): Long = Option(prop(p, "streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsOpen.incrementAndGet()
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, batchOf(e.properties), prop(e.properties, "perfbench.op"),
      prop(e.properties, "perfbench.phase")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    jobsOpen.decrementAndGet()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stagesOpen.incrementAndGet()
    val i = e.stageInfo
    val r = new StageRec(i.stageId, batchOf(e.properties), prop(e.properties, "perfbench.op"),
      prop(e.properties, "perfbench.phase"))
    r.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages.put(i.stageId, r)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get(e.stageId)
    if (r != null && e.taskMetrics != null) r.synchronized {
      val m = e.taskMetrics
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stages.get(e.stageInfo.stageId)).foreach(_.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    stagesOpen.decrementAndGet()
  }

  /** Wait (bounded) until the bus has delivered the end of every job and stage. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      if (jobsOpen.get() == 0 && stagesOpen.get() == 0) quiet += 1 else quiet = 0
    }
  }

  def stagesOf(batchId: Long): Seq[StageRec] =
    stages.values.asScala.filter(_.batchId == batchId).toSeq.sortBy(_.id)
  def jobsOf(batchId: Long): Seq[JobRec] =
    jobs.values.asScala.filter(_.batchId == batchId).toSeq.sortBy(_.id)
}

/** Every `StreamingQueryProgress`, keyed by batch id. */
final class ProgressTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Trigger(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long])
  val triggers = new ConcurrentHashMap[Long, Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.put(p.batchId, Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  /** Triggers that read data, in batch order. */
  def dataTriggers: Seq[Trigger] = triggers.values.asScala.toSeq.filter(_.rows > 0).sortBy(_.batchId)
  /** Wait (bounded) until the progress of `n` data-reading triggers has arrived. */
  def settle(n: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (dataTriggers.size < n && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

/** Time and counts inside the benchmark's own pipeline callbacks, per
  * micro-batch (read from the task's `streaming.sql.batchId`). Only fed on
  * traced runs.
  */
object Callbacks {
  @volatile var on = false
  final class PerBatch {
    val processorNs, batcherNs, ackNs, batches, batchMsgs, sizeTriggers, timeoutTriggers = new AtomicLong()
    val ackCalls, ackFailed, handleFailedCalls = new AtomicLong()
  }
  final case class Call(name: String, batchId: Long, startMs: Long, endMs: Long, messages: Int)
  val perBatch = new ConcurrentHashMap[Long, PerBatch]()
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()

  def batchId: Long =
    Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
  def of(b: Long): PerBatch = perBatch.computeIfAbsent(b, _ => new PerBatch)
}

/** Spans kept in memory and written out once at the end of a traced run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def add(id: String, parent: String, root: String, name: String, startMs: Long, endMs: Long,
      attrs: (String, Any)*): Unit = synchronized {
    val a = attrs.map { case (k, v) => q(k) + ": " + (v match { case s: String => q(s); case x => x.toString }) }
    buf += (Seq(s""""id": ${q(id)}""", s""""parent": ${if (parent == null) "null" else q(parent)}""",
      s""""root": ${q(root)}""", s""""name": ${q(name)}""", s""""start_ms": $startMs""", s""""end_ms": $endMs""") ++ a)
      .mkString("{", ", ", "}")
  }
  def write(path: String): Unit = synchronized {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), buf.mkString("[\n", ",\n", "\n]\n"))
    System.err.println(s"perfbench: wrote ${buf.size} spans to $path")
  }
}
