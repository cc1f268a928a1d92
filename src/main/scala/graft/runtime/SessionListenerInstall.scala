package graft.runtime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Attach one [[StreamingQueryListener]] to each SparkSession at most
  * once. `addListener` is per-SparkSession, so a global install flag
  * would bind only the FIRST session and every later session's pipelines
  * would silently lose the listener's behavior. Sessions are WEAKLY
  * referenced: the session's listener bus owns the listener, not the
  * other way round, so a stopped/dropped session must be collectable
  * rather than pinned here for the JVM lifetime. The add-then-attach
  * pair is synchronized — two threads installing into the same fresh
  * session must not double-attach.
  *
  * Serves [[Supervisor]], whose one listener watches every supervised
  * query of a session. Per-pipeline listeners ([[ProgressTotals]]) need
  * no such guard: each is added once, to its own query's session, and
  * removes itself when its query is done.
  */
private[runtime] final class SessionListenerInstall(listener: StreamingQueryListener) {
  private val installedSessions: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
    )

  def ensure(spark: SparkSession): Unit = synchronized {
    if (installedSessions.add(spark)) spark.streams.addListener(listener)
  }
}
