package graft.config

import graft.model.{BatchInfo, Message}

/** One named batcher (sink route) — defaults mirror the reference
  * (/root/reference/lib/broadway/options.ex:233-283: batch_size 100,
  * batch_timeout 1000 ms, concurrency 1).
  *
  * `batchSplitter`, when set, replaces the fixed `batchSize` with the
  * dynamic boundary of the reference's tuple `batch_size`
  * (options.ex:233-263): a fold over messages carrying a user accumulator;
  * returning `emit = true` closes the batch containing the current message.
  */
final case class BatcherConfig[A](
    name: String,
    batchSize: Int = 100,
    batchTimeoutMs: Long = 1000L,
    concurrency: Int = 1,
    batchSplitter: Option[BatchSplitter[A]] = None,
    /** Per-batcher partition_by override (options.ex:182-187, 284-288):
      * messages with the same key land in the same batcher group (serial,
      * arrival-ordered) independent of their batch_key, hashed over this
      * batcher's `concurrency` slots. Unset: grouping is (batcher,
      * batch_key) as before.
      */
    partitionBy: Option[A => Int] = None
)

/** Dynamic batch-boundary function: (message, acc) => (emit, newAcc). */
final case class BatchSplitter[A](init: Long, step: (Message[A], Long) => (Boolean, Long))
    extends Serializable

/** Producer rate limiting — allowed messages per interval
  * (/root/reference/lib/broadway/options.ex:98-128).
  */
final case class RateLimiting(allowedMessages: Int, intervalMs: Long)

/** Restart-on-failure budget — the supervision-tree analog
  * (/root/reference/lib/broadway/topology.ex:506-557): a query that
  * terminates with an exception is restarted from checkpoint, at most
  * `maxRestarts` times within any sliding `withinSeconds` window (the
  * reference's max_restarts/max_seconds defaults, options.ex:21-22).
  * Exceeding the budget gives up permanently (the supervisor "dies").
  */
final case class RestartPolicy(maxRestarts: Int = 3, withinSeconds: Long = 5)

/** Full pipeline configuration — the Spark analog of the NimbleOptions
  * schema the reference validates at start_link
  * (/root/reference/lib/broadway/options.ex:4-334). Callbacks are plain
  * serializable functions (the CustomHandlers idiom of the reference's own
  * test suite, test/broadway_test.exs:83-133).
  */
final case class PipelineConfig[A](
    name: String,
    handleMessage: Message[A] => Message[A] = (m: Message[A]) => m,
    prepareMessages: Seq[Message[A]] => Seq[Message[A]] = (ms: Seq[Message[A]]) => ms,
    handleBatch: (String, Seq[Message[A]], BatchInfo) => Seq[Message[A]] =
      (_: String, ms: Seq[Message[A]], _: BatchInfo) => ms,
    handleFailed: Seq[Message[A]] => Seq[Message[A]] = (ms: Seq[Message[A]]) => ms,
    batchers: Seq[BatcherConfig[A]] = Seq(BatcherConfig[A]("default")),
    partitionBy: Option[A => Int] = None,
    /** Number of `partitionBy` hash groups; without `partitionBy` the
      * processor stage runs one task per source partition and this is unused.
      */
    processorConcurrency: Int = Runtime.getRuntime.availableProcessors() * 2,
    rateLimiting: Option[RateLimiting] = None,
    shutdownBudgetMs: Long = 30000L,
    /** Analog of `prepare_for_start/2` (producer.ex:111-114): runs on the
      * driver before the query starts (register pools, warm caches).
      */
    prepareForStart: () => Unit = () => (),
    /** Analog of `prepare_for_draining/1` (producer.ex:116-133): runs on
      * the driver at the start of graceful shutdown, before the drain.
      */
    prepareForDraining: () => Unit = () => (),
    /** Streaming checkpoint dir. Required for exactly-once resume across
      * restarts (offset log + state store); without it a restarted query
      * re-reads the source from its initial offset (at-least-once).
      */
    checkpointLocation: Option[String] = None,
    /** When set, a crashed query is auto-restarted within this budget. */
    restartPolicy: Option[RestartPolicy] = None,
    /** Micro-batch trigger cadence (ms). 0 = as fast as possible. Note:
      * `rateLimiting` via the shared RateLimiter (QueueSource/TestPipeline)
      * enforces its wall-clock interval INDEPENDENTLY of this cadence —
      * admission simply waits for the next replenish. Only sources whose
      * rate limit is a bare per-trigger cap (kafka maxOffsetsPerTrigger)
      * need this set to the rate interval for the cap to mean a wall-clock
      * rate.
      */
    triggerIntervalMs: Long = 0L
) {

  /** Mirror of the reference's config validation (broadway.ex:1141-1152):
    * fail fast at build time, not when the stream is already running.
    */
  def validate(): Either[String, PipelineConfig[A]] = {
    if (name.isEmpty) Left("pipeline name must be non-empty")
    else if (batchers.isEmpty) Left("at least one batcher is required")
    else if (batchers.map(_.name).distinct.size != batchers.size)
      Left(s"duplicate batcher names: ${batchers.map(_.name).mkString(",")}")
    else if (batchers.exists(b => b.batchSize <= 0 && b.batchSplitter.isEmpty))
      Left("batch_size must be positive")
    else if (batchers.exists(_.batchTimeoutMs <= 0)) Left("batch_timeout must be positive")
    else if (batchers.exists(_.concurrency <= 0)) Left("batcher concurrency must be positive")
    else if (processorConcurrency <= 0) Left("processor concurrency must be positive")
    else if (rateLimiting.exists(r => r.allowedMessages <= 0 || r.intervalMs <= 0))
      Left("rate_limiting requires positive allowed_messages and interval")
    else if (restartPolicy.exists(p => p.maxRestarts < 0 || p.withinSeconds <= 0))
      Left("restart_policy requires max_restarts >= 0 and within_seconds > 0")
    else if (triggerIntervalMs < 0) Left("trigger interval must be >= 0")
    else Right(this)
  }

  def batcherNames: Set[String] = batchers.map(_.name).toSet
}
