package graft.runtime

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Per-stage counters — the analog of Broadway's per-stage telemetry spans
  * (/root/reference/lib/broadway.ex:651-888: processor, batcher and
  * batch-processor spans with message counts, emit sites
  * processor_stage.ex:65-120 and batcher_stage.ex:55-77, payloads tested at
  * test/broadway_test.exs:879-1032). Spark's native mechanism for
  * executor-side counting is the accumulator: updates merge into the driver
  * after every micro-batch, so an operator can dashboard per-stage and
  * per-batcher throughput without any extra shuffle or driver collect.
  *
  * Accumulator caveat (standard Spark semantics): updates from re-executed
  * tasks re-apply, so counts can over-report under task retry — acceptable
  * for operational telemetry, same stance as the reference's telemetry
  * (observability, not a ledger; the ack path is the ledger).
  */
final class StageCounters private[runtime] (
    /** Messages that left handle_message still ok. */
    val processorProcessed: LongAccumulator,
    /** Messages failed or crashed in the processor stage. */
    val processorFailed: LongAccumulator,
    /** Wall nanos spent inside handle_message (the processor span
      * DURATION — `:telemetry.span` start/stop, broadway.ex:651-888).
      */
    val processorNanos: LongAccumulator,
    /** Batches assembled per batcher (one per handle_batch call). */
    val batcherBatches: Map[String, LongAccumulator],
    /** Messages through each batcher's handle_batch. */
    val batcherMessages: Map[String, LongAccumulator],
    /** Messages failed/crashed by each batcher's handle_batch. */
    val batcherFailed: Map[String, LongAccumulator],
    /** Wall nanos inside each batcher's handle_batch (batch-processor
      * span duration, batcher_stage.ex:55-77).
      */
    val batcherNanos: Map[String, LongAccumulator],
    /** handle_failed invocations (one per ackRef per finishing task with failures). */
    val handleFailedInvocations: LongAccumulator,
    /** Wall nanos inside handle_failed. */
    val handleFailedNanos: LongAccumulator,
    /** Messages acked successful / failed. */
    val ackSuccessful: LongAccumulator,
    val ackFailed: LongAccumulator
) extends Serializable {

  def snapshot: StageMetrics =
    StageMetrics(
      processorProcessed = processorProcessed.value,
      processorFailed = processorFailed.value,
      processorNanos = processorNanos.value,
      batcherBatches = batcherBatches.map { case (k, v) => k -> v.value.longValue() },
      batcherMessages = batcherMessages.map { case (k, v) => k -> v.value.longValue() },
      batcherFailed = batcherFailed.map { case (k, v) => k -> v.value.longValue() },
      batcherNanos = batcherNanos.map { case (k, v) => k -> v.value.longValue() },
      handleFailedInvocations = handleFailedInvocations.value,
      handleFailedNanos = handleFailedNanos.value,
      ackSuccessful = ackSuccessful.value,
      ackFailed = ackFailed.value
    )
}

/** Immutable snapshot of a pipeline's per-stage counters. Durations are
  * summed wall nanos inside the user callback (span time, not queue
  * time): throughput ÷ duration locates where latency lives per stage,
  * the question the reference's telemetry spans answer.
  */
final case class StageMetrics(
    processorProcessed: Long,
    processorFailed: Long,
    processorNanos: Long,
    batcherBatches: Map[String, Long],
    batcherMessages: Map[String, Long],
    batcherFailed: Map[String, Long],
    batcherNanos: Map[String, Long],
    handleFailedInvocations: Long,
    handleFailedNanos: Long,
    ackSuccessful: Long,
    ackFailed: Long
)

object StageCounters {

  /** Create a pipeline's counters (called by Pipeline.start; its
    * RunningPipeline owns them). Accumulators are built here so the
    * counters object itself holds no SparkContext and serializes cleanly
    * into executor closures.
    */
  def create(sc: SparkContext, pipelineName: String, batcherNames: Seq[String]): StageCounters = {
    def acc(suffix: String): LongAccumulator = sc.longAccumulator(s"graft.$pipelineName.$suffix")
    new StageCounters(
      processorProcessed = acc("processor.processed"),
      processorFailed = acc("processor.failed"),
      processorNanos = acc("processor.nanos"),
      batcherBatches = batcherNames.map(b => b -> acc(s"batcher.$b.batches")).toMap,
      batcherMessages = batcherNames.map(b => b -> acc(s"batcher.$b.messages")).toMap,
      batcherFailed = batcherNames.map(b => b -> acc(s"batcher.$b.failed")).toMap,
      batcherNanos = batcherNames.map(b => b -> acc(s"batcher.$b.nanos")).toMap,
      handleFailedInvocations = acc("handleFailed.invocations"),
      handleFailedNanos = acc("handleFailed.nanos"),
      ackSuccessful = acc("ack.successful"),
      ackFailed = acc("ack.failed")
    )
  }
}
