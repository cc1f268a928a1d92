package graft.model

/** In-band success/failure channel. Mirrors the reference's message status
  * (`:ok | {:failed, reason} | {kind, reason, stacktrace}`,
  * /root/reference/lib/broadway/message.ex:52-55): `kind` is empty for a
  * user-initiated `failed`, or the exception class for crash containment.
  */
final case class MessageStatus(ok: Boolean, kind: String, reason: String)

object MessageStatus {
  val Ok: MessageStatus = MessageStatus(ok = true, "", "")
  def failed(reason: String): MessageStatus = MessageStatus(ok = false, "", reason)
  def crashed(e: Throwable): MessageStatus =
    MessageStatus(ok = false, e.getClass.getName, String.valueOf(e.getMessage))
}

object BatchMode {
  val Bulk = "bulk"   // wait for size/timeout (reference message.ex:118-133)
  val Flush = "flush" // deliver as soon as possible
}

/** The unit of data — the Spark analog of `%Broadway.Message{}`
  * (/root/reference/lib/broadway/message.ex:45-65). Typed payload `A` rides
  * in a `Dataset[Message[A]]`; routing/grouping fields are plain columns so
  * the engine can shuffle on them without deserializing the payload.
  *
  * `ackRef` identifies the ack group (the `{acknowledger, ack_ref}` pair of
  * acknowledger.ex:64-85): messages with one ackRef are acked together, one
  * ack call per ackRef per task that finishes them.
  */
final case class Message[A](
    data: A,
    metadata: Map[String, String] = Map.empty,
    status: MessageStatus = MessageStatus.Ok,
    batcher: String = "default",
    batchKey: String = "default",
    batchMode: String = BatchMode.Bulk,
    ackRef: String = "default"
) {

  /** Analog of `Message.update_data/2` (message.ex:67-76). */
  def updateData(f: A => A): Message[A] = copy(data = f(data))

  /** Analog of `Message.put_data/2` (message.ex:78-88). */
  def putData(a: A): Message[A] = copy(data = a)

  /** Analog of `Message.put_batcher/2` (message.ex:90-96). */
  def putBatcher(name: String): Message[A] = copy(batcher = name)

  /** Analog of `Message.put_batch_key/2` (message.ex:98-116). */
  def putBatchKey(key: String): Message[A] = copy(batchKey = key)

  /** Analog of `Message.put_batch_mode/2` (message.ex:118-133). */
  def putBatchMode(mode: String): Message[A] = copy(batchMode = mode)

  /** Analog of `Message.failed/2` (message.ex:157-170): marks the message
    * failed; the pipeline will skip all later stages and route it to
    * `handleFailed` + the failure ack.
    */
  def failed(reason: String): Message[A] = copy(status = MessageStatus.failed(reason))

  /** Analog of `Message.ack_immediately/1` (message.ex:172-201): lock in the
    * current status for the ack — later stages (handleBatch crashes, batch
    * failure marking) can no longer change what gets acked for this message.
    * (Micro-batch model: the ack call itself still happens at the end of the
    * micro-batch, but with the status as of this point.)
    */
  def ackImmediately: Message[A] =
    copy(metadata = metadata + (Message.AckNowKey -> "true"))

  def isAckLocked: Boolean = metadata.contains(Message.AckNowKey)

  /** Analog of `Message.configure_ack/2` (message.ex:135-155): attach
    * per-message ack options (e.g. retry/visibility hints) that the
    * acknowledger can read back via `ackOptions`.
    */
  def configureAck(opts: Map[String, String]): Message[A] =
    copy(metadata = metadata ++ opts.map { case (k, v) => s"${Message.AckOptPrefix}$k" -> v })

  def ackOptions: Map[String, String] =
    metadata.collect {
      case (k, v) if k.startsWith(Message.AckOptPrefix) =>
        k.stripPrefix(Message.AckOptPrefix) -> v
    }

  /** Replace the full ack-option set (used by the pipeline to store the
    * acknowledger-normalized options from `Acknowledger.configure`).
    */
  private[graft] def withAckOptions(opts: Map[String, String]): Message[A] =
    copy(metadata =
      metadata.filterNot(_._1.startsWith(Message.AckOptPrefix)) ++
        opts.map { case (k, v) => s"${Message.AckOptPrefix}$k" -> v }
    )

  def isOk: Boolean = status.ok
}

object Message {
  /** Metadata key marking an ack_immediately message. */
  val AckNowKey = "graft.ack_now"

  /** Prefix for configure_ack options carried in metadata. */
  val AckOptPrefix = "graft.ack_opt."
}

/** Batch envelope passed to `handleBatch` — the analog of
  * `%Broadway.BatchInfo{}` (/root/reference/lib/broadway/batch_info.ex:16-50).
  * `trigger` is "size" | "timeout" | "flush" (batcher_stage.ex:84,97,163).
  */
final case class BatchInfo(
    batcher: String,
    batchKey: String,
    partition: Int,
    size: Int,
    trigger: String
)
