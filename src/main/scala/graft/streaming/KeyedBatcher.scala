package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.OutputMode
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
  * `transformWithState` state; timers are processing-time timers, which
  * fire when a later micro-batch runs (documented deviation: timer
  * granularity is the trigger interval, SURVEY §7.3).
  *
  * A custom `BatchSplitter` replaces the fixed size with the reference's
  * tuple batch_size semantics (options.ex:233-263): the user accumulator
  * rides in state alongside the open buffer, so dynamic boundaries
  * (e.g. cumulative bytes) also span micro-batches.
  *
  * One state backend runs that rule through one pure fold
  * ([[KeyedBatcher.foldGroup]], which `Pipeline.splitBatches` also runs
  * within a micro-batch): [[KeyedBatcher.apply]] keeps the open batch as
  * Avro-encoded `ListState` rows on RocksDB, so appends cost O(new
  * messages) and the payload case class can gain a field across a
  * checkpoint restart.
  *
  * Scale: state per open (batcher, batchKey) group is bounded by one open
  * batch; the shuffle key is the group key, so hot keys can be salted by
  * the caller via batchKey suffixing.
  */
object KeyedBatcher {

  /** The state store [[apply]] runs on, bound onto its query via a cloned
    * session whatever provider the caller's session names:
    * `transformWithState` runs only on the RocksDB provider, schema
    * evolution needs the Avro state encoding, and changelog checkpointing
    * makes each commit upload only that commit's writes — without it
    * RocksDB uploads a full store snapshot per commit, an O(state) cost
    * per trigger that buries the O(new) append path (ScaleStress x=10,
    * separate runs: 53.2 s under snapshot-per-commit, 21.6–25.1 s with
    * changelogs).
    */
  private val stateStoreConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.encodingFormat" -> "avro",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Open-batch metadata for [[apply]]: buffered message count,
    * splitter accumulator, absolute deadline — everything the append
    * fast path needs WITHOUT reading the buffer.
    */
  final case class OpenMeta(count: Long, acc: Long, deadline: Long)

  /** Cross-micro-batch batching on `transformWithState` with an
    * O(new-messages) append path: the open buffer lives in `ListState`
    * (one row-encoded `Message[A]` per buffered message, variable "buf")
    * beside a tiny `ValueState` ("meta" — count / splitter accumulator /
    * deadline). A trigger that fires no emission — the common case for a
    * large batch filling slowly — only APPENDS its new messages and
    * rewrites the 3-field meta row, never reading or re-encoding the
    * buffer, so a trickle-filled 100k-message batch costs linear, not
    * quadratic, total state I/O. Emission triggers (size / splitter /
    * flush / overdue deadline) are PRE-DECIDED from (count, acc,
    * deadline) + the incoming messages alone — the exact decision
    * sequence [[foldGroup]] runs — and only then is the buffer read once
    * and the remainder rewritten through [[foldGroup]] itself, so the
    * cross-batch and per-micro-batch paths cannot diverge semantically.
    * The timeout timer is a real per-group processing-time timer,
    * registered once per open batch and checked against the open batch's
    * deadline so a stale timer of an already-emitted batch is a no-op.
    *
    * Schema evolution: for payload types `A` with a product Encoder the
    * checkpoint's value schema IS the payload schema, so ADDING a
    * nullable field to the payload case class between checkpoint and
    * resume still drains the buffered batch, old rows null-filled.
    * Opaque payload types run too, through a binary encoder
    * (`Encoders.kryo`) for `Message[A]` and `EmittedBatch[A]`.
    *
    * The query runs on [[stateStoreConfs]], bound on a cloned session
    * that leaves the caller's session untouched. `statePartitions`:
    * stateful shuffle width for THIS batcher query — `Some(n)` also binds
    * `spark.sql.shuffle.partitions`=n on that session (then pinned by the
    * checkpoint); `None` inherits the session conf. Size to the number of
    * concurrently-open (batcher, batchKey) groups, not core count —
    * every partition pays a state-store load/commit per micro-batch
    * whether or not it holds an open batch
    * ([[graft.streaming.EventTime.statePartitionsForVolume]] is the
    * executable heuristic).
    *
    * Inspectability: `StateInspect.hotKeys(..., stateVarName = "buf")`
    * ranks hot groups by their REAL buffered-row count (one state row
    * per message).
    */
  def apply[A](
      messages: Dataset[Message[A]],
      batchSize: Int = 100,
      batchTimeoutMs: Long = 1000L,
      splitter: Option[BatchSplitter[A]] = None,
      statePartitions: Option[Int] = None
  )(implicit
      enc: Encoder[Message[A]],
      outEnc: Encoder[EmittedBatch[A]]
  ): Dataset[EmittedBatch[A]] = {
    // checked as PipelineConfig.validate checks them
    require(batchSize > 0 || splitter.isDefined, "batch_size must be positive")
    require(batchTimeoutMs > 0, "batch_timeout must be positive")
    statePartitions.foreach(p => require(p > 0, s"statePartitions must be positive, got $p"))
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val bound = org.apache.spark.sql.GraftColumns.cloneWithConf(messages.sparkSession,
      stateStoreConfs ++ statePartitions.map("spark.sql.shuffle.partitions" -> _.toString): _*)
    org.apache.spark.sql.GraftColumns.ofRows(bound, messages.queryExecution.logical).as[Message[A]]
      .groupByKey((m: Message[A]) => (m.batcher, m.batchKey))
      .transformWithState(
        new IncrementalProcessor[A](batchSize, batchTimeoutMs, splitter, enc),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** The shared BatcherStage fold — prior open state + this trigger's
    * messages → (emitted batches, state to persist; None = group closed).
    * Pure, so [[apply]]'s list-state backend and the per-micro-batch
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
    * The deadline is ALSO enforced here, on the data path, so a group
    * fed every micro-batch flushes an overdue open batch BEFORE this
    * batch's messages append (they belong to the next batch, exactly as
    * if the reference's timer had fired between deliveries).
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

  /** The `transformWithState` processor behind [[apply]]: append
    * fast path + [[foldGroup]] emission path (see [[apply]]).
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
          // batch OPENS at its first message, and only then is its timer
          // registered — re-registering the same deadline on every append
          // costs a state read and a "timer already exists" WARN per group.
          val count = m0.map(_.count).getOrElse(0L)
          val deadline = if (count > 0) m0.get.deadline else now + batchTimeoutMs
          appendAll(incoming)
          meta.update(OpenMeta(count + incoming.size, acc, deadline))
          if (count == 0) getHandle.registerTimer(deadline)
          Iterator.empty
        case None =>
          // EMISSION PATH — read the buffer ONCE, run the shared fold,
          // rewrite the (small) remainder (the splitter re-folds inside
          // foldGroup here, which is authoritative for WHERE each batch
          // splits — the decision probe's partial fold is discarded). The
          // prior batch always emits on this path, so a remainder is a
          // batch opened in this trigger and gets its own timer.
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
      if (info.getExpiryTimeInMs() >= m.deadline && m.count > 0) {
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
    * ONE piece of decision logic the list-state backend reimplements.
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
}
