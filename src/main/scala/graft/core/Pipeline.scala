package graft.core

import java.util.UUID
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ack.Acknowledger
import graft.config.{BatcherConfig, PipelineConfig}
import graft.model.{BatchInfo, Message, MessageStatus}
import graft.runtime.{LocalCheckpointFileManager, PipelineRegistry, ProgressSnapshot, ProgressTotals, StageCounters, StageMetrics}
import graft.streaming.KeyedBatcher

/** The pipeline engine: Broadway's producer → processor → batcher →
  * batch-processor topology (/root/reference/guides/internals/architecture.md:
  * 11-25) realized as a Structured Streaming lineage.
  *
  * Stage mapping (all per micro-batch, executor-side):
  *  - processor stage: `prepareMessages` over partitions (amortized setup,
  *    reference processor_stage.ex:122-147) then `handleMessage` per message
  *    with crash containment (processor_stage.ex:149-211). Without
  *    `partitionBy` it runs one task per source partition, uncapped;
  *    `processorConcurrency` applies only to `partitionBy`, where it is the
  *    number of hash groups;
  *  - batcher stage: shuffle on (batcher, batchKey) — the analog of the
  *    partition dispatch in topology.ex:286-289 — then per-group chunking by
  *    size / custom splitter with trigger labels size|timeout|flush
  *    (batcher_stage.ex:106-257);
  *  - batch-processor stage: `handleBatch` per chunk with crash containment
  *    (batch_processor_stage.ex:110-127);
  *  - ack: runs in the task that finishes the messages (the batcher task, or
  *    the processor task without batchers), one `Acknowledger.ack` per
  *    ackRef per task — each batch processor acks its own messages right
  *    after `handle_batch` (batch_processor_stage.ex:86-93); failed messages
  *    pass through `handleFailed` first (broadway.ex:1031-1056).
  *
  * Checkpoint logs: every micro-batch writes one offset-log and one
  * commit-log entry, the ack ledger. `start` names
  * [[graft.runtime.LocalCheckpointFileManager]] as the session's
  * `spark.sql.streaming.checkpointFileManagerClass` when it is unset, so
  * on a local `file:` checkpoint each entry is written with java.nio
  * (temp file, then an atomic rename or a no-clobber link) instead of
  * Hadoop's local filesystem, which without native-hadoop starts a child
  * process per `chmod` and `readlink`. A manager the user has set is left
  * as it is, and other filesystems (HDFS, S3) go to Spark's default. The
  * setting stays on the session, so its later streaming queries use the
  * manager too.
  *
  * Scale: nothing here collects to the driver. The only wide edge is the
  * (batcher, batchKey) shuffle (plus the `partitionBy` one when set); the
  * keys are user-chosen and high-cardinality at scale. There is no ackRef
  * shuffle: every message is acked exactly once, by the task that holds
  * it. Deviation from the reference
  * (documented, SURVEY §7.3): batch timeouts align to micro-batch
  * boundaries — a partial batch flushes at the end of the micro-batch with
  * trigger "timeout" instead of waiting a wall-clock timer.
  */
object Pipeline {

  /** Arrival order within a group: the ingest-stamped "seq" metadata.
    * Parsed ONCE per message into a key array before sorting — a plain
    * `sortBy(_.metadata.get("seq")…)` re-does the Map lookup + Option
    * allocation + String→Long parse on EVERY comparison (O(n log n)
    * parses per group), which the 200k-row streaming bench shows as real
    * per-micro-batch overhead across the processor/batcher/ack stages.
    */
  private[graft] def seqSorted[A](it: Iterator[Message[A]]): Vector[Message[A]] = {
    val arr = it.map(m => (m.metadata.get("seq").map(_.toLong).getOrElse(0L), m)).toArray
    arr.sortInPlaceBy(_._1)
    val b = Vector.newBuilder[Message[A]]
    b.sizeHint(arr.length)
    arr.foreach(p => b += p._2)
    b.result()
  }

  /** Process one micro-batch (or one batch DataFrame) through the full
    * stage chain in one action: every stage runs and every message is acked
    * once, by the task that finishes it. Nothing is returned: the
    * post-batch messages exist only inside that action, and re-evaluating
    * the chain would run every `handleMessage`/`handleBatch` and ack every
    * message a second time.
    */
  def processBatch[A](
      ds: Dataset[Message[A]],
      config: PipelineConfig[A],
      acknowledger: Acknowledger,
      counters: Option[StageCounters] = None
  )(implicit enc: Encoder[Message[A]]): Unit = {
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val strEnc: Encoder[String] = Encoders.STRING

    val batcherNames = config.batcherNames
    val hasBatchers = config.batchers.nonEmpty
    val prepare = config.prepareMessages
    val handle = config.handleMessage

    def runProcessor(msgs: IndexedSeq[Message[A]]): Iterator[Message[A]] = {
      // prepare_messages crash containment (processor_stage.ex:122-147):
      // a raise — or returning fewer/more messages than given, which the
      // reference validates and raises on (processor_stage.ex:226-232) —
      // fails EVERY message in the batch ({kind, reason, stack} status)
      // while the stage itself survives; the failed messages skip
      // handle_message and flow to handle_failed + failure ack like any
      // other crash.
      val (prepared, prepFailed) =
        try {
          val p = prepare(msgs)
          if (p.length != msgs.length)
            throw new IllegalStateException(
              "expected all messages to be returned from prepareMessages"
            )
          (p, Seq.empty[Message[A]])
        } catch {
          case NonFatal(e) =>
            (Seq.empty[Message[A]], msgs.map(m => m.copy(status = MessageStatus.crashed(e))))
        }
      counters.foreach(c => prepFailed.foreach(_ => c.processorFailed.add(1L)))
      prepFailed.iterator ++ prepared.iterator.map { m =>
        val t0 = System.nanoTime()
        val out =
          if (!m.isOk) m
          else
            try {
              val o = handle(m)
              // configure_ack contract (acknowledger.ex:44-59 via
              // message.ex:135-155): newly-attached ack options pass through
              // the acknowledger, which validates/normalizes them; a raise
              // here crashes the message like any handler crash.
              // Unchanged metadata (the common case) cannot carry new ack
              // options, so the two option scans are skipped.
              val o2 =
                if ((o.metadata ne m.metadata) && o.ackOptions != m.ackOptions)
                  o.withAckOptions(acknowledger.configure(o.ackRef, o.ackOptions))
                else o
              if (hasBatchers && !batcherNames.contains(o2.batcher))
                // reference raises on unknown batcher (processor_stage.ex:213-224);
                // we fail the message so the pipeline keeps running
                o2.failed(s"unknown batcher: ${o2.batcher}")
              else o2
            } catch { case NonFatal(e) => m.copy(status = MessageStatus.crashed(e)) }
        // per-stage span counts + duration (broadway.ex:651-888 processor
        // spans measure time, not just throughput)
        counters.foreach { c =>
          if (out.isOk) c.processorProcessed.add(1L) else c.processorFailed.add(1L)
          if (m.isOk) c.processorNanos.add(System.nanoTime() - t0)
        }
        out
      }
    }

    // Processor stage: prepare (per partition) + handle (per message).
    // With partition_by (broadway.ex:524-607): same key ⇒ same group ⇒
    // serial, arrival-ordered processing — the shuffle is the analog of the
    // hash dispatch to a fixed processor index (topology.ex:222-232).
    val handled: Dataset[Message[A]] = config.partitionBy match {
      case Some(pf) =>
        val n = config.processorConcurrency
        implicit val intEnc: Encoder[Int] = Encoders.scalaInt
        ds.groupByKey((m: Message[A]) => math.floorMod(pf(m.data), n))
          .flatMapGroups { (_: Int, it: Iterator[Message[A]]) =>
            runProcessor(seqSorted(it))
          }
      case None =>
        // it.toIndexedSeq materializes the partition: prepare_messages is a
        // BATCH-wide callback (broadway.ex:234-258 hands the whole
        // demand batch to the user), so the opaque typed path cannot
        // stream row-by-row. The memory guard at scale is ADMISSION,
        // not this Seq — maxOffsetsPerTrigger / maxFilesPerTrigger
        // bound a micro-batch (and with it every partition's slice)
        // exactly like Broadway's max_demand bounds the batch the
        // reference hands its processors.
        ds.mapPartitions(it => runProcessor(it.toIndexedSeq))
    }

    val afterBatches: Dataset[Message[A]] =
      if (!hasBatchers) handled // terminal processor: ack directly (broadway.ex:313-323)
      else {
        val byBatcher = config.batchers.map(b => b.name -> b).toMap
        val handleBatchF = config.handleBatch
        // Per-batcher partition_by override (options.ex:182-187): the third
        // key component is the override's hash slot (0 when unset, which
        // degenerates to the plain (batcher, batchKey) grouping).
        val partOverride: Map[String, (A => Int, Int)] =
          config.batchers.flatMap(b => b.partitionBy.map(pf => b.name -> (pf, b.concurrency))).toMap
        implicit val key3Enc: Encoder[(String, Int, String)] =
          Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.STRING)

        // Failed messages route to a pseudo-batcher that passes them
        // through untouched (they must SKIP handle_batch —
        // broadway_test.exs:799-806). Using one groupByKey for both flows
        // means the processor stage is materialized exactly once by the
        // shuffle — no double evaluation of handleMessage side effects.
        val FailedRoute = "\u0000failed"
        handled
          .groupByKey { (m: Message[A]) =>
            if (!m.isOk) (FailedRoute, 0, m.batchKey)
            else {
              val slot = partOverride.get(m.batcher) match {
                case Some((pf, conc)) => math.floorMod(pf(m.data), conc)
                case None             => 0
              }
              (m.batcher, slot, m.batchKey)
            }
          }
          .flatMapGroups { (key: (String, Int, String), it: Iterator[Message[A]]) =>
            val (batcherName, _, batchKey) = key
            if (batcherName == FailedRoute) it
            else {
              val bc = byBatcher(batcherName)
              // Stable per-key order: arrival sequence stamped at ingest
              // (the ordered-processing guarantee of partition_by,
              // broadway.ex:524-607; same key ⇒ one group ⇒ serial here).
              val msgs = seqSorted(it)
              val chunks = splitBatches(msgs, bc)
              chunks.iterator.flatMap { case (chunk, trigger) =>
                val info = BatchInfo(batcherName, batchKey, TaskContext.getPartitionId(), chunk.size, trigger)
                val t0 = System.nanoTime()
                val result =
                  try {
                    val out = handleBatchF(batcherName, chunk, info)
                    require(out.size == chunk.size, s"handleBatch must return all ${chunk.size} messages")
                    out
                  } catch {
                    case NonFatal(e) => chunk.map(_.copy(status = MessageStatus.crashed(e)))
                  }
                // batcher/batch-processor span counts + handle_batch
                // duration (batcher_stage.ex:55-77)
                counters.foreach { c =>
                  c.batcherBatches.get(batcherName).foreach(_.add(1L))
                  c.batcherMessages.get(batcherName).foreach(_.add(chunk.size.toLong))
                  c.batcherFailed.get(batcherName).foreach(_.add(result.count(!_.isOk).toLong))
                  c.batcherNanos.get(batcherName).foreach(_.add(System.nanoTime() - t0))
                }
                // ack_immediately messages keep their pre-batch status
                // (message.ex:172-201: the ack is locked in before the batch).
                chunk.lazyZip(result).map { (before, after) =>
                  if (before.isAckLocked) after.copy(status = before.status) else after
                }
              }
            }
          }
      }

    // Ack stage, in the task that finishes the messages (no shuffle): one
    // ack per ackRef among this partition's messages; handleFailed before
    // the failure ack.
    val handleFailedF = config.handleFailed
    val acked = afterBatches.mapPartitions { (part: Iterator[Message[A]]) =>
      // groupBy keeps each group in the sorted order: one sort per partition
      seqSorted(part).groupBy(_.ackRef).iterator.map { case (ref, msgs) =>
        val (ok, failed) = msgs.partition(_.isOk)
        val failedFinal =
          if (failed.nonEmpty) {
            counters.foreach(_.handleFailedInvocations.add(1L))
            val t0 = System.nanoTime()
            val r =
              try handleFailedF(failed)
              catch { case NonFatal(_) => failed } // handle_failed crash must not take down the ack (acknowledger.ex:93-151)
            counters.foreach(_.handleFailedNanos.add(System.nanoTime() - t0))
            r
          } else failed
        counters.foreach { c =>
          c.ackSuccessful.add(ok.size.toLong)
          c.ackFailed.add(failedFinal.size.toLong)
        }
        // a bad acknowledger must not take down the stage (reference wraps
        // ack_messages in try/catch + Logger.error on BOTH the processor and
        // batch-processor paths — processor_stage.ex:97-103,
        // batch_processor_stage.ex:86-93); the messages' statuses are
        // already final, only the delivery notification is lost
        try acknowledger.ack(ref, ok, failedFinal)
        catch {
          case NonFatal(e) =>
            org.slf4j.LoggerFactory
              .getLogger("graft.core.Pipeline")
              .error(s"acknowledger crashed for ackRef=$ref: ${e.getMessage}", e)
        }
        ref
      }
    }
    // The one action of the micro-batch: runs every stage, acks included;
    // it brings back one ackRef per (task, ackRef), not the messages.
    acked.collect()
  }

  /** Chunk one (batcher, batchKey) group into batches with trigger labels:
    * [[graft.streaming.KeyedBatcher.foldGroup]] from no open state, so
    * full chunks (fixed size or splitter-emitted, options.ex:233-263) are
    * "size" and a flush-mode message delivers the open chunk AT that
    * message (batcher_stage.ex:178-179), exactly as across micro-batches.
    * The fold's remainder is the trailing "timeout" chunk
    * (micro-batch-aligned timeout); with no prior state the fold's
    * deadline check never fires, so `now` is immaterial.
    */
  def splitBatches[A](
      msgs: Seq[Message[A]],
      bc: BatcherConfig[A]
  ): Seq[(Seq[Message[A]], String)] = {
    val (emitted, open) = KeyedBatcher.foldGroup(bc.name, "", None, 0L, msgs,
      bc.batchSize, bc.batchTimeoutMs, bc.batchSplitter)
    emitted.map(b => (b.messages, b.trigger)) ++ open.map { case (rest, _, _) => (rest, "timeout") }
  }

  /** Start a streaming pipeline over a source of already-wrapped messages.
    * The analog of `Broadway.start_link/2` (broadway.ex:1123-1162):
    * validates config, assembles the lineage, registers the running query.
    * The returned handle owns the pipeline's metrics and, with a
    * `restartPolicy`, its restarts: its stage counters and a
    * [[graft.runtime.ProgressTotals]] on the session the query runs in,
    * `source.sparkSession`, whose crash hook restarts the query.
    */
  def start[A](
      spark: SparkSession,
      source: Dataset[Message[A]],
      config: PipelineConfig[A],
      acknowledger: Acknowledger,
      rateLimiter: Option[RateLimiter] = None
  )(implicit enc: Encoder[Message[A]]): RunningPipeline[A] = {
    config.validate() match {
      case Left(err) => throw new IllegalArgumentException(s"invalid pipeline config: $err")
      case Right(_)  => ()
    }
    config.prepareForStart()
    val session = source.sparkSession
    useLocalCheckpointLogs(session)
    val counters = StageCounters.create(spark.sparkContext, config.name, config.batchers.map(_.name))
    val totals = ProgressTotals.on(session)
    def build(): StreamingQuery = {
      val writer = source.writeStream
        .queryName(config.name)
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(config.triggerIntervalMs))
        .foreachBatch { (df: Dataset[Message[A]], _: Long) =>
          processBatch(df, config, acknowledger, Some(counters))
        }
      config.checkpointLocation.foreach(writer.option("checkpointLocation", _))
      totals.expectRun(config.name)
      writer.start()
    }
    // Source descriptors — the producer_names/1 analog (broadway.ex:
    // 1184-1197): one entry per source leaf in the streaming plan.
    val producers = source.queryExecution.logical
      .collectLeaves()
      .map(l => l.toString.linesIterator.next().take(120))
    val firstRun =
      try build()
      catch {
        case NonFatal(e) =>
          totals.close()
          throw e
      }
    val running = new RunningPipeline[A](config, firstRun, rateLimiter, counters, totals, producers, () => build())
    if (config.restartPolicy.isDefined) {
      totals.onCrash = running.crashed
      // the first run may have crashed before the hook was set
      running.watch(firstRun)
    }
    // Registration can throw with a pluggable backend (name validation,
    // descriptor I/O). At this point the query is already started and
    // supervised — swallowing the failure OR propagating it bare would
    // leak a running, restart-supervised pipeline that drainAll can never
    // see. Tear the query back down first, then rethrow.
    try PipelineRegistry.register(running)
    catch {
      case NonFatal(e) =>
        try running.stop(StopReason.Kill, config.shutdownBudgetMs)
        catch { case NonFatal(_) => () }
        throw e
    }
    running
  }

  private val CheckpointFileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Name [[LocalCheckpointFileManager]] as the session's checkpoint file
    * manager unless a manager is already set, in the session conf or in
    * the Hadoop conf (a user's own manager wins). It is set on the caller's
    * session, not a clone, so the session's `StreamingQueryListener`s keep
    * seeing the query.
    */
  private def useLocalCheckpointLogs(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointFileManagerKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(CheckpointFileManagerKey) == null)
      spark.conf.set(CheckpointFileManagerKey, classOf[LocalCheckpointFileManager].getName)

  /** Analog of `Broadway.process_name/2` (broadway.ex:1058-1081): the
    * canonical name for a pipeline component — used as accumulator / query
    * naming convention so dashboards can address a stage deterministically.
    */
  def processName(pipelineName: String, component: String, index: Int = 0): String =
    s"$pipelineName.graft.$component.$index"
}

/** Termination reason for `RunningPipeline.stop` — the exit-reason
  * argument of `Broadway.stop/3` (broadway.ex:1525-1539) reduced to the
  * distinctions that change behavior off the BEAM: graceful (`Normal`,
  * `Shutdown` — drain first) vs brutal (`Kill` — immediate teardown).
  */
sealed trait StopReason
object StopReason {
  case object Normal extends StopReason
  case object Shutdown extends StopReason
  case object Kill extends StopReason
}

/** Handle on a started pipeline — introspection + lifecycle, the analog of
  * `Broadway.topology/1|all_running/0|stop/3` (broadway.ex:1184-1276,
  * 1525-1539) and the Terminator's graceful drain (topology/terminator.ex:
  * 41-60): process everything in flight, then stop.
  *
  * With `config.restartPolicy` it is also the pipeline's own supervisor,
  * the analog of the per-pipeline supervision tree (topology.ex:506-557:
  * crashed stages restart and resubscribe, tested at
  * test/broadway_test.exs:2070-2347). Spark's unit of failure is the whole
  * `StreamingQuery`: when the run dies with an exception, the pipeline's
  * [[graft.runtime.ProgressTotals]] listener calls [[crashed]], and the
  * query is rebuilt with `rebuild` and restarted from its checkpoint — the
  * offset log replays the failed micro-batch, so an idempotent sink sees
  * each message once. Restarts are budgeted by `RestartPolicy`
  * (`maxRestarts` within a sliding `withinSeconds` window); past the
  * budget the pipeline gives up for good and releases its runtime
  * resources. The restart state below belongs to this pipeline alone.
  *
  * The restart runs on a daemon thread, not the listener bus thread:
  * `DataStreamWriter.start` itself posts listener events. Two races:
  *  - an intentional `stop()` against an in-flight restart: `stop()` sets
  *    `cancelled` before it reads the query, and the restart thread
  *    re-checks it after `rebuild()` and after swapping the run in;
  *  - a run that crashes before anything watches it: [[watch]] re-checks
  *    the run once it is watched. A run is claimed by a compare-and-set on
  *    `watched`, so the listener and the re-check restart it once.
  */
final class RunningPipeline[A](
    val config: PipelineConfig[A],
    initialQuery: StreamingQuery,
    val rateLimiter: Option[RateLimiter],
    counters: StageCounters,
    private[graft] val progressTotals: ProgressTotals,
    /** Source descriptors (the producer_names/1 analog). */
    val producerNames: Seq[String],
    /** Builds and starts a fresh run: used to restart after a crash. */
    rebuild: () => StreamingQuery
) {
  private val queryRef = new AtomicReference[StreamingQuery](initialQuery)

  /** The run whose crash is not claimed yet; null while a restart runs. */
  private val watched = new AtomicReference[UUID](null)
  @volatile private var cancelled = false
  @volatile private var restarts = 0
  @volatile private var gaveUpFlag = false
  /** Restart times in the policy's window. Only the restart thread touches
    * it, and one restart runs at a time: the next claim needs the run that
    * this restart started.
    */
  private val restartTimes = mutable.ArrayDeque.empty[Long]

  /** The live query — replaced in place on restart. */
  def query: StreamingQuery = queryRef.get()

  def name: String = config.name

  /** Completed restarts of this pipeline. */
  def restartCount: Int = restarts

  /** True once the restart budget was spent (or a rebuild failed): the
    * pipeline is down for good.
    */
  def gaveUp: Boolean = gaveUpFlag

  /** Watch `q`, the live run, for a crash. It may already have crashed
    * before this call, with its terminated event gone by: re-check.
    */
  private[graft] def watch(q: StreamingQuery): Unit = {
    watched.set(q.runId)
    if (!q.isActive && q.exception.isDefined) crashed(q.runId)
  }

  /** The run `runId` crashed: claim it once and restart off the bus. */
  private[graft] def crashed(runId: UUID): Unit =
    if (watched.compareAndSet(runId, null)) {
      val t = new Thread(() => restart(), s"graft-restart-$name")
      t.setDaemon(true)
      t.start()
    }

  private def restart(): Unit = if (!cancelled) {
    val policy = config.restartPolicy.get
    val now = System.currentTimeMillis()
    restartTimes.removeHeadWhile(_ < now - policy.withinSeconds * 1000L)
    if (restartTimes.size >= policy.maxRestarts) giveUp()
    else {
      restartTimes.append(now)
      try {
        val q = rebuild()
        if (cancelled) q.stop() // lost the race against stop(): no resurrection
        else {
          queryRef.set(q)
          restarts += 1
          // a stop() between the check above and the swap read the old,
          // dead query: the fresh run is ours to stop
          if (cancelled) q.stop() else watch(q)
        }
      } catch {
        case NonFatal(_) => giveUp()
      }
    }
  }

  private def giveUp(): Unit = {
    gaveUpFlag = true
    release()
  }

  def processAllAvailable(): Unit = query.processAllAvailable()

  /** Graceful drain + stop within the shutdown budget (default 30 s,
    * options.ex:13-20). No restart follows an intentional stop.
    */
  def stop(): Unit = stop(StopReason.Normal, config.shutdownBudgetMs)

  /** `Broadway.stop/3` analog (broadway.ex:1525-1539): stop with an
    * explicit reason and termination budget. `Normal`/`Shutdown` drain
    * in-flight messages first (the graceful path); `Kill` is the brutal
    * variant — no `prepare_for_draining`, no drain, the query is torn
    * down immediately (still releasing runtime resources, which on the
    * BEAM the process exit handles for free). For `Kill` the budget is
    * real: `StreamingQuery.stop` itself blocks per
    * `spark.sql.streaming.stopTimeout` (default: indefinitely), so the
    * kill issues it from a daemon thread and waits at most `timeoutMs` —
    * a user callback stuck in a non-interruptible loop cannot hang the
    * caller, and resource cleanup below always runs (best-effort
    * teardown, exactly what a brutal exit means).
    */
  def stop(reason: StopReason, timeoutMs: Long): Unit = {
    val graceful = reason != StopReason.Kill
    if (graceful) config.prepareForDraining()
    // Cancel restarts BEFORE reading the query: a restart that swaps in a
    // fresh run after this read sees the flag and stops that run itself;
    // one that swapped before is the run read here.
    cancelled = true
    val q = query
    try { if (graceful) q.processAllAvailable() }
    finally {
      // On a query that already crashed, processAllAvailable/awaitTermination
      // rethrow its StreamingQueryException — runtime resources must still be
      // released (else every crashed pipeline leaks its registry entry and
      // progress listener), so the releases get their own finally.
      try {
        if (graceful) {
          q.stop()
          q.awaitTermination(timeoutMs)
        } else {
          val killer = new Thread(
            () => try q.stop() catch { case scala.util.control.NonFatal(_) => () },
            s"graft-kill-$name"
          )
          killer.setDaemon(true)
          killer.start()
          killer.join(math.max(timeoutMs, 1L))
        }
      } finally release()
    }
  }

  /** Release the runtime resources: the rate limiter, the progress
    * listener (once the last run's events are in) and the registry entry.
    * Run by `stop()` and by a restart that gives up.
    */
  private[graft] def release(): Unit = {
    rateLimiter.foreach(_.shutdown())
    progressTotals.close()
    PipelineRegistry.unregister(this)
  }

  def topology: TopologyInfo =
    TopologyInfo(
      name = name,
      processorConcurrency = config.processorConcurrency,
      batchers = config.batchers.map(b => BatcherInfo(b.name, b.batchSize, b.batchTimeoutMs, b.concurrency))
    )

  /** This pipeline's per-stage counters (the telemetry-span analog),
    * read from its own accumulators, so after stop() they are the final
    * totals. Always `Some`.
    */
  def stageMetrics: Option[StageMetrics] = Some(counters.snapshot)

  /** This pipeline's micro-batch progress totals over every run and batch;
    * read after stop(), they include the last batch.
    */
  def progress: ProgressSnapshot = progressTotals.snapshot

  def getRateLimiting: Option[graft.config.RateLimiting] = rateLimiter.map(_.get)

  def updateRateLimiting(
      allowedMessages: Option[Int] = None,
      intervalMs: Option[Long] = None,
      reset: Boolean = false
  ): Unit = rateLimiter.foreach(_.update(allowedMessages, intervalMs, reset))
}

final case class BatcherInfo(name: String, batchSize: Int, batchTimeoutMs: Long, concurrency: Int)
final case class TopologyInfo(name: String, processorConcurrency: Int, batchers: Seq[BatcherInfo])
