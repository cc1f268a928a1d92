package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** The seeded input generator of the pipeline workloads. Record `i` of a
  * run is a pure function of (seed, i), so the checks can recompute every
  * expected total after the run without keeping the inputs.
  *
  * Record layout (CSV, ~150 bytes): `seq,user,key,flag,amount,text` where
  * `key` is the partition key of the trickle workload and `flag` is `F` for
  * a message the trickle handler fails by design.
  */
object Gen {
  val Keys = 48
  /** One message in this many is failed by design on the trickle workload. */
  val FailEvery = 25

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val Words = Array(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  def designatedFailure(seed: Long, i: Long): Boolean = Math.floorMod(i + seed, FailEvery.toLong) == 0

  def record(seed: Long, i: Long): String = {
    val h = mix(seed * 0x632BE59BD9B4E019L + i)
    val user = (h >>> 40) % 100000
    val key = Math.floorMod(mix(h), Keys.toLong)
    val amount = (h & 0xFFFFF) % 1000000
    val sb = new java.lang.StringBuilder(160)
    sb.append(i).append(",u").append(user).append(",k").append(key).append(',')
    sb.append(if (designatedFailure(seed, i)) 'F' else '-').append(',')
    sb.append(amount / 100).append('.').append(amount % 100).append(',')
    var w = mix(h ^ 0x5DEECE66DL)
    var n = 0
    while (sb.length < 140) {
      if (n > 0) sb.append(' ')
      sb.append(Words((w & 15).toInt))
      w = w >>> 4
      n += 1
      if (n % 15 == 0) w = mix(w ^ n)
    }
    sb.toString
  }
}

/** Field access on a record and the handler's transform, shared by the
  * handlers and the checks.
  */
object Payload {
  def field(rec: String, idx: Int): String = {
    var start = 0
    var k = 0
    while (k < idx) { start = rec.indexOf(',', start) + 1; k += 1 }
    val end = rec.indexOf(',', start)
    if (end < 0) rec.substring(start) else rec.substring(start, end)
  }
  def seq(rec: String): Long = field(rec, 0).toLong
  def user(rec: String): Long = field(rec, 1).substring(1).toLong
  def key(rec: String): Int = field(rec, 2).substring(1).toInt
  def designated(rec: String): Boolean = field(rec, 3) == "F"

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(64)
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 15, 16)).append(Character.forDigit(b & 15, 16)))
    sb.toString
  }

  /** The enrichment both pipeline handlers apply: append the record's digest. */
  def enrich(rec: String): String = rec + "," + sha256Hex(rec)

  /** Order-insensitive fingerprint of one acked message: seq and content. */
  def fingerprint(seq: Long, data: String): Long = Gen.mix(seq * 31 + data.hashCode)
}

/** Where a workload routes a message, recomputed from its payload alone. */
final case class Route(batcher: String, batchKey: String)

/** Totals the ack side must reach, computed from the generator alone. */
final case class Expected(
    count: Long, sum: Long, sumSq: Long, okPrint: Long,
    failed: Long, failedSum: Long, failedSq: Long)

object Expected {
  /** Messages 0 until n of `seed`; `failing` says which ones the handler
    * fails. Computed in parallel slices: the digest of a million records is
    * seconds of work.
    */
  def of(seed: Long, n: Long, failing: Long => Boolean): Expected = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val parts = 8
    val slices = (0 until parts).map(p => Future(slice(seed, n * p / parts, n * (p + 1) / parts, failing)))
    Await.result(Future.sequence(slices), Duration.Inf).reduce { (a, b) =>
      Expected(a.count + b.count, a.sum + b.sum, a.sumSq + b.sumSq, a.okPrint + b.okPrint,
        a.failed + b.failed, a.failedSum + b.failedSum, a.failedSq + b.failedSq)
    }
  }

  private def slice(seed: Long, from: Long, until: Long, failing: Long => Boolean): Expected = {
    var sum, sq, print, f, fs, fq = 0L
    var i = from
    while (i < until) {
      sum += i; sq += i * i
      if (failing(i)) { f += 1; fs += i; fq += i * i }
      else print += Payload.fingerprint(i, Payload.enrich(Gen.record(seed, i)))
      i += 1
    }
    Expected(until - from, sum, sq, print, f, fs, fq)
  }
}

/** Everything the benchmark's own callbacks saw, folded into totals as it
  * happens (the handlers run in Spark tasks of this JVM). Thread-safe.
  */
final class Ledger {
  private var okCount, okSum, okSq, okPrint = 0L
  private var failCount, failSum, failSq = 0L
  private var hfCount, hfSum, hfSq = 0L
  private var oversize, misrouted, unsorted, outOfOrder = 0L
  private val batchesBy = scala.collection.mutable.Map.empty[String, Long]
  private val lastSeq = scala.collection.mutable.Map.empty[Int, Long]

  /** One `Acknowledger.ack` call: (seq, data) of its ok and failed messages. */
  def acked(ok: Iterable[(Long, String)], failed: Iterable[Long]): Unit = synchronized {
    ok.foreach { case (s, d) => okCount += 1; okSum += s; okSq += s * s; okPrint += Payload.fingerprint(s, d) }
    failed.foreach { s => failCount += 1; failSum += s; failSq += s * s }
  }

  def handledFailed(seqs: Iterable[Long]): Unit = synchronized {
    seqs.foreach { s => hfCount += 1; hfSum += s; hfSq += s * s }
  }

  /** One `handleBatch` chunk; `route` is the payload's recomputed route. */
  def batch(batcher: String, batchKey: String, limit: Int, recs: Seq[String], route: String => Route): Unit = {
    val bad = recs.count(r => route(r) != Route(batcher, batchKey))
    val seqs = recs.map(Payload.seq)
    val sorted = seqs.zip(seqs.drop(1)).forall { case (a, b) => a < b }
    synchronized {
      batchesBy(batcher) = batchesBy.getOrElse(batcher, 0L) + 1
      if (recs.size > limit) oversize += 1
      misrouted += bad
      if (!sorted) unsorted += 1
    }
  }

  /** The processor handled `seq` of partition key `key` (ordered workloads). */
  def processed(key: Int, seq: Long): Unit = synchronized {
    if (lastSeq.get(key).exists(_ >= seq)) outOfOrder += 1
    lastSeq(key) = seq
  }

  /** Every disagreement between what was seen and what must hold. */
  def problems(exp: Expected, stageAckOk: Long, stageBatches: Map[String, Long]): Seq[String] = synchronized {
    val p = Seq.newBuilder[String]
    def eq(what: String, got: Long, want: Long): Unit = if (got != want) p += s"$what: got $got, want $want"
    eq("acked ok + failed", okCount + failCount, exp.count)
    eq("sum of acked seq", okSum + failSum, exp.sum)
    eq("sum of squared acked seq", okSq + failSq, exp.sumSq)
    eq("acked-failed count", failCount, exp.failed)
    eq("sum of acked-failed seq", failSum, exp.failedSum)
    eq("sum of squared acked-failed seq", failSq, exp.failedSq)
    eq("handleFailed messages", hfCount, exp.failed)
    eq("sum of handleFailed seq", hfSum, exp.failedSum)
    eq("sum of squared handleFailed seq", hfSq, exp.failedSq)
    eq("fingerprint of acked payloads", okPrint, exp.okPrint)
    eq("chunks over their batch size", oversize, 0)
    eq("misrouted messages", misrouted, 0)
    eq("chunks not in seq order", unsorted, 0)
    eq("messages processed out of key order", outOfOrder, 0)
    eq("stageMetrics ackSuccessful vs ack callbacks", stageAckOk, okCount)
    (stageBatches.keySet ++ batchesBy.keySet).foreach { b =>
      eq(s"stageMetrics batcherBatches($b) vs handleBatch calls", stageBatches.getOrElse(b, 0L), batchesBy.getOrElse(b, 0L))
    }
    p.result()
  }
}

/** Order-insensitive digest of a query result, computed the same way here
  * (on Spark rows) and in `oracle.py` (on DuckDB rows): columns sorted by
  * name, each value rendered canonically, each row hashed with SHA-256 and
  * the first 8 bytes summed modulo 2^64.
  */
final case class QDigest(rows: Long, digest: String, columns: Seq[String])

object QDigest {
  private val Sig = new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN)

  /** Canonical text of a non-integral number: 9 significant digits. */
  def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0"
    else {
      val s = b.stripTrailingZeros()
      if (s.scale <= 0) s.toBigInteger.toString
      else b.round(Sig).stripTrailingZeros().toPlainString
    }

  def value(v: Any): String = v match {
    case null                          => "\\N"
    case b: java.lang.Boolean          => b.toString
    case x: java.lang.Byte             => x.toString
    case x: java.lang.Short            => x.toString
    case x: java.lang.Integer          => x.toString
    case x: java.lang.Long             => x.toString
    case x: java.math.BigInteger       => x.toString
    case x: java.math.BigDecimal       => decimal(x)
    case x: scala.math.BigDecimal      => decimal(x.bigDecimal)
    case x: java.lang.Float            => double(x.toDouble)
    case x: java.lang.Double           => double(x)
    case s: String                     => s
    case d: java.sql.Date              => d.toLocalDate.toString
    case d: java.time.LocalDate        => d.toString
    case t: java.sql.Timestamp         =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant          => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime    =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte]                => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]    => s.map(value).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row   => r.toSeq.map(value).mkString("(", ",", ")")
    case other                         => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else decimal(new java.math.BigDecimal(d))

  /** Hash contribution of one row given its values in sorted-column order. */
  def rowHash(values: Seq[Any]): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(values.map(value).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(columns: Seq[String], rows: Long, hashSum: Long): QDigest =
    QDigest(rows, java.lang.Long.toUnsignedString(hashSum), columns)

  /** Why `got` disagrees with the oracle's `want`, if it does. */
  def problem(want: QDigest, got: QDigest): Option[String] =
    if (want.columns != got.columns) Some(s"columns ${got.columns.mkString(",")} vs oracle ${want.columns.mkString(",")}")
    else if (want.rows != got.rows) Some(s"${got.rows} rows vs oracle ${want.rows}")
    else if (want.digest != got.digest) Some(s"content digest ${got.digest} vs oracle ${want.digest}")
    else None
}
