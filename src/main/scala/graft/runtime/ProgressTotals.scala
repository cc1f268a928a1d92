package graft.runtime

import java.util.UUID
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Micro-batch progress of one streaming query summed over every batch —
  * the query-level half of Broadway's `:telemetry` spans
  * (broadway.ex:651-888), read from Spark's per-batch
  * progress events the way *Structured Streaming* (SIGMOD 2018) reports a
  * query through `StreamingQueryListener`.
  *
  * A listener, not `query.recentProgress`: that ring keeps only
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100) entries,
  * so a longer run would silently undercount. The state is fixed-size:
  * counts, per-phase sums over Spark's fixed set of `durationMs` keys, and
  * peaks.
  *
  * It follows one run at a time (a restart is a new run), added to the
  * query's own session: listener events are per-session. Lifecycle:
  *  - a clean termination of the followed run detaches it;
  *  - a crash keeps it, so a restarted run is followed, and calls
  *    [[onCrash]] with the crashed run's id;
  *  - [[close]] detaches it once the followed run's terminated event has
  *    been delivered, without waiting for it.
  * Spark posts a run's last progress event before its terminated event, on
  * the same queue, so once detached the totals include every batch; a
  * [[snapshot]] after `close()` waits for that (bounded).
  *
  * The crash hook is how a supervised pipeline learns that its run died:
  * restart-on-crash rides on this one listener, not on a second one.
  */
final class ProgressTotals private (session: SparkSession) extends StreamingQueryListener {
  import StreamingQueryListener._

  private var run: UUID = null
  private var nextRunName: String = null
  private var ended = false
  private var closing = false
  private var attached = true

  private var batches = 0L
  private var inputRows = 0L
  private var lastBatchId = -1L
  private var stateRowsMax = -1L
  private var stateMemMax = -1L
  private val durations = mutable.Map.empty[String, Long]

  /** Called with the run id when the followed run crashes and the totals
    * are not closing. It runs on the session's listener bus thread, so it
    * must not block; a no-op unless the pipeline is supervised.
    */
  @volatile private[graft] var onCrash: UUID => Unit = _ => ()

  /** Follow the next run named `name` that starts in the session. Call it
    * right before `start()`: Spark delivers a run's started event
    * synchronously, before `start()` returns and before any of the run's
    * progress, so no batch can slip past.
    */
  def expectRun(name: String): Unit = synchronized { nextRunName = name }

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    if (nextRunName != null && nextRunName == e.name) {
      run = e.runId
      ended = false
      nextRunName = null
    }
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    synchronized {
      if (p.runId == run) {
        batches += 1
        inputRows += p.numInputRows
        lastBatchId = math.max(lastBatchId, p.batchId)
        p.durationMs.forEach((k, v) => durations(k) = durations.getOrElse(k, 0L) + v)
        val ops = p.stateOperators
        if (ops != null && ops.nonEmpty) {
          stateRowsMax = math.max(stateRowsMax, ops.map(_.numRowsTotal).sum)
          stateMemMax = math.max(stateMemMax, ops.map(_.memoryUsedBytes).sum)
        }
      }
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val crashed = synchronized {
      if (e.runId != run) false
      else {
        ended = true
        if (closing || e.exception.isEmpty) { detach(); false }
        else true
      }
    }
    if (crashed) onCrash(e.runId)
  }

  /** Stop following: detach now if the followed run has ended (or none
    * ever started), else when its terminated event arrives.
    */
  def close(): Unit = synchronized {
    closing = true
    if (ended || run == null) detach()
  }

  private def detach(): Unit =
    if (attached) {
      attached = false
      session.streams.removeListener(this)
      notifyAll()
    }

  /** The totals so far. After [[close]], first waits up to 5 s for the
    * followed run's terminated event, so the totals include every batch.
    */
  def snapshot: ProgressSnapshot = synchronized {
    val deadline = System.currentTimeMillis() + 5000L
    while (closing && attached && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    ProgressSnapshot(batches, inputRows, lastBatchId, durations.toMap, stateRowsMax, stateMemMax)
  }
}

object ProgressTotals {

  /** Totals added to `session`'s listeners, following nothing yet. */
  def on(session: SparkSession): ProgressTotals = {
    val t = new ProgressTotals(session)
    session.streams.addListener(t)
    t
  }

  /** Totals following `q`'s current run, added to the query's session. */
  def of(q: StreamingQuery): ProgressTotals = {
    val t = on(q.sparkSession)
    t.synchronized { t.run = q.runId }
    t
  }
}

/** Immutable progress totals of a query. `durationsMs` sums Spark's
  * per-batch `durationMs` phases (`triggerExecution` is the whole batch,
  * `addBatch` the data plan, `walCommit`/`commitOffsets`/`latestOffset`
  * the fixed costs). The state peaks sum over the query's state operators
  * and read -1 when it has none.
  */
final case class ProgressSnapshot(
    batches: Long,
    inputRows: Long,
    lastBatchId: Long,
    durationsMs: Map[String, Long],
    stateRowsMax: Long,
    stateMemMax: Long
)
