package graft.runtime

/** Global registry of running pipelines — the analog of the reference's
  * config storage (/root/reference/lib/broadway/config_storage.ex:1-44)
  * powering `Broadway.all_running/0` (broadway.ex:1259-1276). The backing
  * store is pluggable ([[ConfigStorage]]): in-memory by default, with a
  * file-mirrored backend for cross-process introspection — install an
  * alternative via [[configureStorage]] BEFORE starting pipelines, the
  * same "choose the backend at boot" contract as the reference's
  * `:config_storage` application env.
  */
object PipelineRegistry {
  @volatile private var storage: ConfigStorage = new InMemoryConfigStorage

  /** Swap the storage backend (calls its `setup()`). Registrations made
    * under the previous backend stay there — configure at boot, like the
    * reference.
    */
  def configureStorage(s: ConfigStorage): Unit = synchronized {
    s.setup()
    storage = s
  }

  def register(p: graft.core.RunningPipeline[_]): Unit = synchronized(storage.put(p.name, p))

  /** Remove `p`'s registration while it is still the one stored under its
    * name: a later same-named pipeline (another session) replaced it, so
    * stopping `p` leaves that one registered.
    */
  def unregister(p: graft.core.RunningPipeline[_]): Unit = synchronized {
    if (storage.get(p.name).exists(_ eq p)) storage.delete(p.name)
    ()
  }
  def get(name: String): Option[graft.core.RunningPipeline[_]] = storage.get(name)
  def allRunning: Seq[String] = storage.list()

  /** Source descriptors of a running pipeline — the `producer_names/1`
    * analog (broadway.ex:1184-1197); None for unknown pipelines.
    */
  def producerNames(name: String): Option[Seq[String]] = get(name).map(_.producerNames)

  /** Gracefully drain and stop every running pipeline (each within its own
    * shutdown budget) — the terminator's process-everything-then-stop pass
    * (/root/reference/lib/broadway/topology/terminator.ex:41-60) applied
    * registry-wide. Failures stopping one pipeline don't prevent draining
    * the rest.
    */
  def drainAll(): Unit =
    storage.list().flatMap(storage.get).foreach { p =>
      try p.stop()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  @volatile private var hookInstalled = false

  /** Install a JVM shutdown hook that drains all pipelines — the analog of
    * Broadway draining on application termination. Idempotent; opt-in
    * because tests and short-lived drivers manage lifecycles explicitly.
    */
  def installShutdownDrain(): Unit = synchronized {
    if (!hookInstalled) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => drainAll(), "graft-shutdown-drain"))
      hookInstalled = true
    }
  }
}
