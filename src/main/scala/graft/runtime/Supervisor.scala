package graft.runtime

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.config.RestartPolicy
import graft.core.RunningPipeline

/** Restart-on-failure supervision — the analog of the reference's
  * supervision tree (/root/reference/lib/broadway/topology.ex:506-557:
  * crashed stages restart and resubscribe, tested at
  * test/broadway_test.exs:2070-2347). Spark's unit of failure is the whole
  * `StreamingQuery`, so supervision here means: a `StreamingQueryListener`
  * watches supervised queries, and when one terminates WITH an exception it
  * is rebuilt and restarted from its checkpoint — the offset log makes the
  * failed micro-batch replay, so an idempotent sink observes effectively-
  * once delivery. Restarts are budgeted by [[graft.config.RestartPolicy]]
  * (max_restarts within a sliding max_seconds window); exceeding the budget
  * gives up permanently (the supervisor "dies"), tearing the pipeline's
  * runtime resources down like a terminating supervisor would.
  *
  * The restart runs on a dedicated daemon thread, not the listener bus
  * thread — `DataStreamWriter.start` itself posts listener events and must
  * not block the bus. Two races are handled explicitly:
  *  - intentional `stop()` vs an in-flight restart: stop() cancels by
  *    pipeline NAME, and the restart thread re-checks the cancel flag after
  *    building (stopping the freshly-built query if it lost the race);
  *  - a restarted query failing before its registry entry lands: after
  *    every registration the query is re-checked for early termination and
  *    the handler re-invoked (the entries map's atomic remove dedups
  *    against the listener delivering the same event).
  */
object Supervisor {

  private final class State(
      val pipelineName: String,
      val running: RunningPipeline[_],
      val policy: RestartPolicy,
      val build: () => StreamingQuery,
      val restartTimes: mutable.ArrayDeque[Long] = mutable.ArrayDeque.empty
  )

  /** Live supervised runs, keyed by runId (unique per physical run). */
  private val entries = new ConcurrentHashMap[UUID, State]()

  /** Pipelines whose supervision was cancelled by an intentional stop. */
  private val cancelledNames = ConcurrentHashMap.newKeySet[String]()

  /** Terminal outcomes + counters, keyed by pipeline name (for tests and
    * operator introspection — the `all_running/0` style surface).
    */
  private val restartCounts = new ConcurrentHashMap[String, Integer]()
  private val gaveUpSet = ConcurrentHashMap.newKeySet[String]()

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.exception.isDefined) handleFailure(e.runId)
      else {
        // Clean termination through any path stop() doesn't know about
        // (direct query.stop(), source exhaustion) must still drop the
        // supervision record, or the State — holding the RunningPipeline
        // and build closure — lives forever.
        entries.remove(e.runId)
        ()
      }
  }

  private val installer = new SessionListenerInstall(listener)

  /** Atomically claim the terminated run and restart it off-bus. */
  private def handleFailure(runId: UUID): Unit = {
    val st = entries.remove(runId)
    if (st != null) {
      val t = new Thread(() => attemptRestart(st), s"graft-supervisor-${st.pipelineName}")
      t.setDaemon(true)
      t.start()
    }
  }

  /** A fast-failing query can terminate before its entry is registered (the
    * listener event then finds nothing). Re-check after every registration
    * and re-invoke the handler; entries.remove keeps it exactly-once.
    */
  private def recheckEarlyTermination(q: StreamingQuery): Unit =
    if (!q.isActive && q.exception.isDefined) handleFailure(q.runId)

  private def attemptRestart(st: State): Unit = {
    if (cancelledNames.contains(st.pipelineName)) return
    val now = System.currentTimeMillis()
    val windowStart = now - st.policy.withinSeconds * 1000L
    st.restartTimes.removeHeadWhile(_ < windowStart)
    if (st.restartTimes.size >= st.policy.maxRestarts) giveUp(st)
    else {
      st.restartTimes.append(now)
      try {
        val q = st.build()
        if (cancelledNames.contains(st.pipelineName)) {
          // lost the race against an intentional stop(): don't resurrect
          q.stop()
          ()
        } else {
          st.running.replaceQuery(q)
          restartCounts.merge(st.pipelineName, 1, (a, b) => a + b)
          entries.put(q.runId, st)
          if (cancelledNames.contains(st.pipelineName)) {
            // a stop() landed BETWEEN the post-build check and
            // replaceQuery: it read the pre-replace (already-dead) query,
            // so its own stop was a no-op and the fresh run would be a
            // zombie. forget() always sets the cancel flag FIRST, so
            // either this check sees it (kill the fresh run here) or the
            // stop() read the post-replace query and stopped it itself.
            entries.remove(q.runId)
            q.stop()
            ()
          } else recheckEarlyTermination(q)
        }
      } catch {
        case NonFatal(_) => giveUp(st)
      }
    }
  }

  /** Budget exhausted (or rebuild failed): terminal. Tear down the runtime
    * resources a normal stop() would have released.
    */
  private def giveUp(st: State): Unit = {
    gaveUpSet.add(st.pipelineName)
    st.running.release()
  }

  /** Put a running pipeline under supervision. Idempotently installs the
    * listener on the pipeline's session.
    */
  def supervise(
      spark: SparkSession,
      running: RunningPipeline[_],
      policy: RestartPolicy,
      build: () => StreamingQuery
  ): Unit = {
    installer.ensure(spark)
    cancelledNames.remove(running.name) // fresh supervision clears stale cancels
    val st = new State(running.name, running, policy, build)
    entries.put(running.query.runId, st)
    recheckEarlyTermination(running.query)
  }

  /** Drop supervision (called on intentional stop): removes the live entry
    * AND cancels any in-flight restart by name, so a clean shutdown never
    * races a restart into a zombie query.
    */
  def forget(pipelineName: String, runId: UUID): Unit = {
    cancelledNames.add(pipelineName)
    entries.remove(runId)
    ()
  }

  /** Number of live supervision records (tests assert no leak on clean
    * termination paths stop() doesn't mediate).
    */
  private[graft] def supervisedCount: Int = entries.size

  /** Completed restarts for a pipeline name. */
  def restartCount(pipelineName: String): Int =
    Option(restartCounts.get(pipelineName)).fold(0)(_.intValue())

  /** True once the restart budget was exhausted (supervisor "died"). */
  def gaveUp(pipelineName: String): Boolean = gaveUpSet.contains(pipelineName)

  /** Test hook: clear terminal state for a pipeline name. */
  def reset(pipelineName: String): Unit = {
    restartCounts.remove(pipelineName)
    gaveUpSet.remove(pipelineName)
    cancelledNames.remove(pipelineName)
    ()
  }
}
