package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.config.BatchSplitter
import graft.model.{BatchMode, Message}

/** One emitted batch with its trigger ("size" | "timeout" | "flush") —
  * the `{messages, %BatchInfo{}}` pair of the reference
  * (/root/reference/lib/broadway/topology/batcher_stage.ex:259-279).
  */
final case class EmittedBatch[A](
    batcher: String,
    batchKey: String,
    trigger: String,
    messages: Seq[Message[A]]
)

/** Cross-micro-batch keyed batching with size AND processing-time timeout —
  * the full BatcherStage semantic (batcher_stage.ex:106-257): per
  * (batcher, batchKey) accumulate until `batchSize` is reached (trigger
  * "size"), a flush-mode message arrives (trigger "flush",
  * batcher_stage.ex:178-179), or the timeout fires (trigger "timeout",
  * batcher_stage.ex:80-89). Open batches survive micro-batch boundaries in
  * `GroupState`; timers are `ProcessingTimeTimeout`s, which fire when a
  * later micro-batch runs (documented deviation: timer granularity is the
  * trigger interval, SURVEY §7.3).
  *
  * A custom `BatchSplitter` replaces the fixed size with the reference's
  * tuple batch_size semantics (options.ex:233-263): the user accumulator
  * rides in `GroupState` alongside the open buffer, so dynamic boundaries
  * (e.g. cumulative bytes) also span micro-batches.
  *
  * Two state backends run that rule through one pure fold
  * ([[KeyedBatcher.foldGroup]], which `Pipeline.splitBatches` also runs
  * within a micro-batch): [[KeyedBatcher.apply]] keeps the open batch as
  * a Java-serialized `GroupState` blob and runs on any state-store
  * provider; [[KeyedBatcher.incremental]] keeps it as Avro-encoded
  * `ListState` rows on RocksDB, so appends cost O(new messages) and the
  * payload case class can gain a field across a checkpoint restart.
  *
  * Scale: state per open (batcher, batchKey) group is bounded by one open
  * batch; the shuffle key is the group key, so hot keys can be salted by
  * the caller via batchKey suffixing.
  */
object KeyedBatcher {

  /** `statePartitions`: stateful shuffle width for THIS batcher query —
    * `Some(n)` rebases the plan onto a cloned session so
    * `spark.sql.shuffle.partitions`=n binds at query start (and is then
    * pinned by the checkpoint) without touching the caller's session or
    * other queries; `None` inherits the session conf. Size to the number
    * of concurrently-open (batcher, batchKey) groups, not core count —
    * every partition pays a state-store load/commit per micro-batch
    * whether or not it holds an open batch
    * ([[graft.streaming.EventTime.statePartitionsForVolume]] is the
    * executable heuristic).
    */
  def apply[A](
      messages: Dataset[Message[A]],
      batchSize: Int = 100,
      batchTimeoutMs: Long = 1000L,
      splitter: Option[BatchSplitter[A]] = None,
      statePartitions: Option[Int] = None
  )(implicit enc: Encoder[Message[A]], outEnc: Encoder[EmittedBatch[A]]): Dataset[EmittedBatch[A]] = {
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val stateEnc: Encoder[Array[Byte]] = Encoders.BINARY
    bind(messages, batchSize, batchTimeoutMs, splitter, statePartitions)
      .groupByKey((m: Message[A]) => (m.batcher, m.batchKey))
      .flatMapGroupsWithState[Array[Byte], EmittedBatch[A]](
        OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout
      ) { (key: (String, String), it: Iterator[Message[A]], state: GroupState[Array[Byte]]) =>
        val (batcher, batchKey) = key
        if (state.hasTimedOut) {
          val (buffered, _, _) =
            state.getOption
              .map(deserialize[A](_, 0L))
              .getOrElse((Vector.empty[Message[A]], 0L, 0L))
          state.remove()
          if (buffered.nonEmpty) Iterator.single(EmittedBatch(batcher, batchKey, "timeout", buffered))
          else Iterator.empty
        } else {
          val now = state.getCurrentProcessingTimeMs()
          val prior = state.getOption.map(deserialize[A](_, now + batchTimeoutMs))
          val (emitted, next) = foldGroup(batcher, batchKey, prior, now,
            graft.core.Pipeline.seqSorted(it), batchSize, batchTimeoutMs, splitter)
          next match {
            case None => state.remove()
            case Some(s @ (_, _, deadline)) =>
              state.update(serialize(s))
              state.setTimeoutDuration(math.max(1L, deadline - now))
          }
          emitted.iterator
        }
      }
  }

  /** Check the batching arguments as `PipelineConfig.validate` does and
    * rebase `messages` onto a cloned session carrying `confs` plus
    * `spark.sql.shuffle.partitions` = `statePartitions`, so they bind at
    * query start without touching the caller's session. With neither,
    * the input is returned as is and inherits the session conf.
    */
  private def bind[A](
      messages: Dataset[Message[A]],
      batchSize: Int,
      batchTimeoutMs: Long,
      splitter: Option[BatchSplitter[A]],
      statePartitions: Option[Int],
      confs: (String, String)*
  )(implicit enc: Encoder[Message[A]]): Dataset[Message[A]] = {
    require(batchSize > 0 || splitter.isDefined, "batch_size must be positive")
    require(batchTimeoutMs > 0, "batch_timeout must be positive")
    statePartitions.foreach(p => require(p > 0, s"statePartitions must be positive, got $p"))
    val all = confs ++ statePartitions.map("spark.sql.shuffle.partitions" -> _.toString)
    if (all.isEmpty) messages
    else {
      val bound = org.apache.spark.sql.GraftColumns.cloneWithConf(messages.sparkSession, all: _*)
      org.apache.spark.sql.GraftColumns.ofRows(bound, messages.queryExecution.logical).as[Message[A]]
    }
  }

  /** The shared BatcherStage fold — prior open state + this trigger's
    * messages → (emitted batches, state to persist; None = group closed).
    * Pure, so both state backends ([[apply]]'s Java-serialized blob and
    * [[incremental]]'s list state) and the per-micro-batch
    * `Pipeline.splitBatches` (which folds from no prior state) drive
    * IDENTICAL semantics and cannot diverge.
    *
    * The timeout clock starts when a batch OPENS (its first message),
    * batcher_stage.ex:80-89 — NOT at the latest append. Re-arming a full
    * batchTimeoutMs on every data-carrying micro-batch (the original
    * code) let a steady trickle defer the timer forever: messages every
    * 200 ms under a 1 s timeout would never flush until the size trigger.
    * The open batch's absolute deadline rides in state; appends keep it.
    *
    * The deadline is ALSO enforced here, on the data path: Spark invokes
    * the timeout callback only for groups that received NO input in a
    * micro-batch, so a group fed every batch never hears its timer at all
    * — the inline check flushes an overdue open batch BEFORE this batch's
    * messages append (they belong to the next batch, exactly as if the
    * reference's timer had fired between deliveries).
    *
    * Flush is checked PER MESSAGE inside the fold: the batch is delivered
    * at the flush message itself (batcher_stage.ex:178-179) — messages
    * arriving later in the same trigger start a new batch instead of
    * riding along in the flushed one.
    */
  private[graft] def foldGroup[A](
      batcher: String,
      batchKey: String,
      prior: Option[(Vector[Message[A]], Long, Long)],
      now: Long,
      incoming: Seq[Message[A]],
      batchSize: Int,
      batchTimeoutMs: Long,
      splitter: Option[BatchSplitter[A]]
  ): (Vector[EmittedBatch[A]], Option[(Vector[Message[A]], Long, Long)]) = {
    val (buffered, acc0, deadline0) =
      prior.getOrElse((Vector.empty[Message[A]], initAcc(splitter), 0L))
    val out = Vector.newBuilder[EmittedBatch[A]]
    var rest = buffered
    var acc = acc0
    var deadline = if (buffered.nonEmpty) deadline0 else 0L
    def emit(trigger: String): Unit =
      if (rest.nonEmpty) {
        out += EmittedBatch(batcher, batchKey, trigger, rest)
        rest = Vector.empty
        acc = initAcc(splitter)
        deadline = 0L
      }
    if (rest.nonEmpty && now >= deadline) emit("timeout")
    incoming.foreach { m =>
      if (rest.isEmpty) deadline = now + batchTimeoutMs // batch opens here
      rest :+= m
      splitter match {
        case Some(sp) =>
          // dynamic boundary: fold the NEW messages through the user
          // accumulator (buffered ones were folded in prior batches)
          val (emitNow, next) = sp.step(m, acc)
          acc = next
          if (emitNow) emit("size")
        case None =>
          if (rest.size >= batchSize) emit("size")
      }
      if (m.batchMode == BatchMode.Flush) emit("flush")
    }
    (out.result(), if (rest.isEmpty) None else Some((rest, acc, deadline)))
  }

  /** Open-batch metadata for [[incremental]]: buffered message count,
    * splitter accumulator, absolute deadline — everything the append
    * fast path needs WITHOUT reading the buffer.
    */
  final case class OpenMeta(count: Long, acc: Long, deadline: Long)

  /** [[apply]] with ROW-ENCODED state and an O(new-messages) append
    * path (`transformWithState`): the open buffer lives in `ListState`
    * (one row-encoded `Message[A]` per buffered message, variable "buf")
    * beside a tiny `ValueState` ("meta" — count / splitter accumulator /
    * deadline). A trigger that fires no emission — the common case for a
    * large batch filling slowly — only APPENDS its new messages and
    * rewrites the 3-field meta row, never reading or re-encoding the
    * buffer; [[apply]] re-serializes the ENTIRE open buffer every
    * data-carrying trigger, an O(buffer) write that turns a
    * trickle-filled 100k-message batch into quadratic total state I/O.
    * Emission triggers (size / splitter / flush / overdue deadline) are
    * PRE-DECIDED from (count, acc, deadline) + the incoming messages
    * alone — the exact decision sequence [[foldGroup]] runs — and only
    * then is the buffer read once and the remainder rewritten through the
    * same [[foldGroup]] core, so the two backends cannot diverge
    * semantically. The timeout timer is a real per-group processing-time
    * timer, checked against the open batch's deadline so a stale timer
    * of an already-emitted batch is a no-op.
    *
    * Schema evolution: for payload types `A` with a product Encoder the
    * checkpoint's value schema IS the payload schema, so ADDING a
    * nullable field to the payload case class between checkpoint and
    * resume still drains the buffered batch, old rows null-filled — where
    * [[apply]]'s Java-serialized blob needs `A` binary-stable across
    * deploys. Java-ser [[apply]] remains the backend for opaque payload
    * types and for any state-store provider.
    *
    * Bound automatically onto the query via a cloned session, leaving the
    * caller's session untouched: `transformWithState` runs only on the
    * RocksDB provider, schema evolution needs the Avro state encoding,
    * and changelog checkpointing makes each commit upload only that
    * commit's writes — without it RocksDB uploads a full store snapshot
    * per commit, an O(state) cost per trigger that buries the O(new)
    * append path (ScaleStress x=10, separate runs: 53.2 s
    * under snapshot-per-commit, 21.6–25.1 s with changelogs).
    *
    * Inspectability: `StateInspect.hotKeys(..., stateVarName = "buf")`
    * ranks hot groups by their REAL buffered-row count (one state row
    * per message), where the blob backend shows one opaque row per group.
    */
  def incremental[A](
      messages: Dataset[Message[A]],
      batchSize: Int = 100,
      batchTimeoutMs: Long = 1000L,
      splitter: Option[BatchSplitter[A]] = None,
      statePartitions: Option[Int] = None
  )(implicit
      enc: Encoder[Message[A]],
      outEnc: Encoder[EmittedBatch[A]]
  ): Dataset[EmittedBatch[A]] = {
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    bind(messages, batchSize, batchTimeoutMs, splitter, statePartitions,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.encodingFormat" -> "avro",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      .groupByKey((m: Message[A]) => (m.batcher, m.batchKey))
      .transformWithState(
        new IncrementalProcessor[A](batchSize, batchTimeoutMs, splitter, enc),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** The `transformWithState` processor behind [[incremental]]: append
    * fast path + [[foldGroup]] emission path (see [[incremental]]).
    */
  private final class IncrementalProcessor[A](
      batchSize: Int,
      batchTimeoutMs: Long,
      splitter: Option[BatchSplitter[A]],
      rowEnc: Encoder[Message[A]]
  ) extends org.apache.spark.sql.streaming.StatefulProcessor[
      (String, String), Message[A], EmittedBatch[A]] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Message[A]] = _
    @transient private var meta: org.apache.spark.sql.streaming.ValueState[OpenMeta] = _

    // one appendList per trigger, NOT per-message appendValue: each
    // append call is a full state-store round trip (measured ~20 ms each
    // under RocksDB), so per-element appends would re-create exactly the
    // O(buffer)-class cost this backend exists to avoid. Array build via
    // an erased ClassTag — Message is generic but arrays only need the
    // runtime class.
    private def appendAll(ms: Seq[Message[A]]): Unit =
      if (ms.nonEmpty)
        buf.appendList(ms.toArray(
          scala.reflect.ClassTag(classOf[Message[_]]).asInstanceOf[scala.reflect.ClassTag[Message[A]]]))

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[Message[A]](
        "buf", rowEnc, org.apache.spark.sql.streaming.TTLConfig.NONE)
      meta = getHandle.getValueState[OpenMeta](
        "meta", Encoders.product[OpenMeta], org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: (String, String),
        rows: Iterator[Message[A]],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[EmittedBatch[A]] = {
      val now = timers.getCurrentProcessingTimeInMs()
      val incoming = graft.core.Pipeline.seqSorted(rows)
      val m0 = if (meta.exists()) Some(meta.get()) else None
      appendOnlyAcc(m0.map(m => (m.count, m.acc, m.deadline)), now, incoming,
        batchSize, splitter) match {
        case Some(acc) =>
          if (incoming.isEmpty) return Iterator.empty
          // FAST PATH — O(new): append the messages, rewrite only the
          // 3-field meta row; the buffer is never read or re-encoded and
          // the splitter accumulator comes folded from the pre-decision.
          // Appends keep the open batch's deadline (foldGroup's rule); a
          // batch OPENS at its first message.
          val count = m0.map(_.count).getOrElse(0L)
          val deadline = if (count > 0) m0.get.deadline else now + batchTimeoutMs
          appendAll(incoming)
          meta.update(OpenMeta(count + incoming.size, acc, deadline))
          getHandle.registerTimer(deadline)
          Iterator.empty
        case None =>
          // EMISSION PATH — read the buffer ONCE, run the shared fold,
          // rewrite the (small) remainder (the splitter re-folds inside
          // foldGroup here, which is authoritative for WHERE each batch
          // splits — the decision probe's partial fold is discarded)
          val buffered = if (buf.exists()) buf.get().toVector else Vector.empty[Message[A]]
          val prior = m0.map(m => (buffered, m.acc, m.deadline))
          val (emitted, next) = foldGroup(key._1, key._2, prior, now,
            incoming, batchSize, batchTimeoutMs, splitter)
          buf.clear()
          next match {
            case None => meta.clear()
            case Some((rest, acc, deadline)) =>
              appendAll(rest)
              meta.update(OpenMeta(rest.size.toLong, acc, deadline))
              getHandle.registerTimer(deadline)
          }
          emitted.iterator
      }
    }

    override def handleExpiredTimer(
        key: (String, String),
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[EmittedBatch[A]] = {
      if (!meta.exists()) return Iterator.empty // stale timer of a closed batch
      val m = meta.get()
      if (info.getExpiryTimeInMs >= m.deadline && m.count > 0) {
        val buffered = buf.get().toVector
        buf.clear()
        meta.clear()
        Iterator.single(EmittedBatch(key._1, key._2, "timeout", buffered))
      } else Iterator.empty // stale timer of an earlier batch under this key
    }
  }

  private def initAcc[A](splitter: Option[BatchSplitter[A]]): Long =
    splitter.map(_.init).getOrElse(0L)

  /** [[IncrementalProcessor]]'s append-only pre-decision: mirror
    * [[foldGroup]]'s emission decisions from the meta triple
    * (count, acc, deadline) + the incoming messages alone — overdue
    * prior deadline, per-message splitter emit, size threshold, flush
    * mode, in foldGroup's exact order. `None` ⇒ something fires, the
    * buffer must be read (emission path); `Some(accAfter)` ⇒ foldGroup
    * would only have appended, and `accAfter` is the folded splitter
    * accumulator — returned so the fast path reuses it instead of
    * stepping the user splitter a second time over the same messages.
    * Object-level (not a processor method) so SplitterPropSpec can
    * property-check its agreement with foldGroup directly — this is the
    * ONE piece of decision logic the incremental backend reimplements.
    */
  private[graft] def appendOnlyAcc[A](
      prior: Option[(Long, Long, Long)],
      now: Long,
      incoming: Seq[Message[A]],
      batchSize: Int,
      splitter: Option[BatchSplitter[A]]): Option[Long] = {
    if (prior.exists(m => m._1 > 0 && now >= m._3)) return None
    var cnt = prior.map(_._1).getOrElse(0L)
    var acc = prior.map(_._2).getOrElse(initAcc(splitter))
    var fire = false
    val it = incoming.iterator
    while (!fire && it.hasNext) {
      val m = it.next()
      cnt += 1
      splitter match {
        case Some(sp) =>
          val (emitNow, next) = sp.step(m, acc)
          acc = next
          fire = emitNow
        case None =>
          fire = cnt >= batchSize
      }
      if (!fire && m.batchMode == BatchMode.Flush) fire = true
    }
    if (fire) None else Some(acc)
  }

  // Open-batch state is serialized with plain Java serialization: the
  // payload type A is opaque to Spark here (arbitrary user type, like the
  // reference's `term` payloads), so a product encoder is not available.
  // Tuple: (open buffer, splitter accumulator, the open batch's absolute
  // processing-time deadline).
  private def serialize[A](state: (Vector[Message[A]], Long, Long)): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(state)
    oos.close()
    bos.toByteArray
  }

  /** Deserialize open-batch state, migrating pre-deadline checkpoints.
    *
    * The blob grew a third field (the open batch's absolute deadline) when
    * the trickle-starvation fix landed; a checkpoint written before that
    * commit holds a `(buffer, acc)` pair. Rather than an opaque
    * ClassCastException at state read — at odds with the restart guarantee
    * — the old shape is migrated in place: the open batch's clock restarts
    * at `fallbackDeadline` (recovery time + timeout), the same grace the
    * reference gives a batch whose timer died with its stage. Any OTHER
    * shape fails with an explicit message.
    *
    * Payload-class stability: the buffered `Message[A]` payloads are
    * Java-serialized (A is an opaque user type, like the reference's
    * `term`), so changing the payload CLASS between restarts fails the
    * checkpoint read (serialVersionUID mismatch). Keep `A` binary-stable
    * across deploys, or drain (`stop()`) before upgrading it.
    */
  private[graft] def deserialize[A](
      bytes: Array[Byte],
      fallbackDeadline: Long
  ): (Vector[Message[A]], Long, Long) = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    ois.readObject() match {
      case (buf, acc, deadline) =>
        (buf.asInstanceOf[Vector[Message[A]]],
          acc.asInstanceOf[Long],
          deadline.asInstanceOf[Long])
      case (buf, acc) => // pre-deadline checkpoint shape
        (buf.asInstanceOf[Vector[Message[A]]], acc.asInstanceOf[Long], fallbackDeadline)
      case other =>
        throw new IllegalStateException(
          s"unrecognized KeyedBatcher checkpoint state shape: ${other.getClass.getName} " +
            "(expected (buffer, acc, deadline) or the legacy (buffer, acc))")
    }
  }
}
