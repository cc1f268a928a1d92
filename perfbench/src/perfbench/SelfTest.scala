package perfbench

/** Tests that the benchmark's checkers can fail: each corrupts one record
  * of an otherwise clean run and expects the checker to reject it.
  * Run with `python3 perfbench/run.py --self-test`; exits 1 on any failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private val seed = 7L
  private val n = 600L
  private def route(data: String) = Pipelines.Trickle.route(data)
  // lazy: computed on other threads, which must not wait on this object's initializer
  private lazy val exp = Expected.of(seed, n, i => Gen.designatedFailure(seed, i))

  /** Feed a simulated trickle run into a ledger: per-key processing in seq
    * order, chunks of at most 4 per (batcher, key), one ack per chunk.
    */
  private def simulate(
      ackOk: Seq[Long] => Seq[Long] = identity,
      processOrder: Seq[Long] => Seq[Long] = identity,
      relabel: Option[Long] = None,
      chunk: Int = 4): (Ledger, Long, Map[String, Long]) = {
    val l = new Ledger
    val recs = (0L until n).map(i => Gen.record(seed, i))
    processOrder((0L until n)).foreach(i => l.processed(Payload.key(recs(i.toInt)), i))
    val failed = (0L until n).filter(i => Gen.designatedFailure(seed, i))
    val ok = (0L until n).filterNot(i => Gen.designatedFailure(seed, i))
    val data = ok.map(i => i -> Payload.enrich(recs(i.toInt))).toMap
    var batches = Map.empty[String, Long]
    ok.groupBy(i => route(data(i))).toSeq.sortBy(_._1.batchKey).foreach { case (r, is) =>
      is.grouped(chunk).foreach { c =>
        val key = if (relabel.exists(c.contains)) r.copy(batchKey = "k999") else r
        l.batch(key.batcher, key.batchKey, 4, c.map(data), route)
        batches += r.batcher -> (batches.getOrElse(r.batcher, 0L) + 1)
      }
    }
    l.handledFailed(failed)
    val acked = ackOk(ok)
    l.acked(acked.map(i => i -> data(i)), failed)
    (l, acked.size.toLong, batches)
  }

  private def rejects(name: String, run: (Ledger, Long, Map[String, Long]), stageAck: Option[Long] = None): Unit = {
    val (l, ackCount, batches) = run
    val p = l.problems(exp, stageAck.getOrElse(ackCount), batches)
    expect(s"$name is rejected (${p.headOption.getOrElse("no problem found")})", p.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val clean = simulate()
    expect("a clean run passes every check", clean._1.problems(exp, clean._2, clean._3).isEmpty)
    rejects("a dropped ack record", simulate(ackOk = _.filterNot(_ == 101L)))
    rejects("a duplicated ack record", simulate(ackOk = ok => ok :+ ok(5)))
    rejects("a dropped and a duplicated record that keep the count",
      simulate(ackOk = ok => ok.filterNot(_ == ok(10)) :+ ok(11)))
    rejects("two dropped records and a duplicate that keep count and sum",
      simulate(ackOk = ok => ok.filterNot(i => i == 20L || i == 22L) ++ Seq(21L, 21L)))
    rejects("a misrouted chunk", simulate(relabel = Some(1L)))
    val (a, b) = {
      val keyOf = (i: Long) => Payload.key(Gen.record(seed, i))
      val b = (41L until n).find(i => keyOf(i) == keyOf(40L)).get
      (40L, b)
    }
    rejects("an out-of-order record",
      simulate(processOrder = is => is.updated(a.toInt, b).updated(b.toInt, a)))
    rejects("an oversized chunk", simulate(chunk = 5))
    rejects("stageMetrics disagreeing with the ack callbacks", simulate(), stageAck = Some(clean._2 + 1))
    val wrongPayload = {
      val l = new Ledger
      val ok = (0L until n).filterNot(i => Gen.designatedFailure(seed, i))
      l.handledFailed((0L until n).filter(i => Gen.designatedFailure(seed, i)))
      l.acked(ok.map(i => i -> (if (i == 3) "tampered" else Payload.enrich(Gen.record(seed, i)))),
        (0L until n).filter(i => Gen.designatedFailure(seed, i)))
      (l, ok.size.toLong, Map.empty[String, Long])
    }
    rejects("a wrong transformed payload", wrongPayload)
    val undesignated = {
      val l = new Ledger
      val failed = (0L until n).filter(i => Gen.designatedFailure(seed, i) || i == 2)
      val ok = (0L until n).filterNot(failed.contains)
      l.handledFailed(failed)
      l.acked(ok.map(i => i -> Payload.enrich(Gen.record(seed, i))), failed)
      (l, ok.size.toLong, Map.empty[String, Long])
    }
    rejects("a failure the generator did not designate", undesignated)

    val want = QDigest.of(Seq("a", "b"), 3, 12345L)
    expect("an equal query digest passes", QDigest.problem(want, want).isEmpty)
    expect("a wrong query digest is rejected", QDigest.problem(want, want.copy(digest = "12346")).nonEmpty)
    expect("a wrong query row count is rejected", QDigest.problem(want, want.copy(rows = 4)).nonEmpty)
    expect("wrong query columns are rejected", QDigest.problem(want, want.copy(columns = Seq("a", "c"))).nonEmpty)
    val rows = Seq(Seq[Any](1L, "x", 0.1 + 0.2), Seq[Any](2L, null, 1.5))
    def sumOf(rs: Seq[Seq[Any]]) = rs.map(QDigest.rowHash).sum
    expect("the query digest ignores row order", sumOf(rows) == sumOf(rows.reverse))
    expect("the query digest sees a changed value", sumOf(rows) != sumOf(Seq(rows(0), Seq[Any](2L, null, 1.25))))
    expect("the query digest sees a duplicated row", sumOf(rows) != sumOf(rows :+ rows(0)))
    expect("canonical numbers: 0.30000000000000004 reads 0.3", QDigest.value(0.1 + 0.2) == "0.3")
    expect("canonical numbers: 3.0 reads 3", QDigest.value(3.0) == "3" && QDigest.value(new java.math.BigDecimal("3.00")) == "3")

    println(if (failures == 0) "all checks ok" else s"$failures check(s) FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
