package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** The streaming window-top-1 arm (r13 prescription #5): the hand-written
  * `row_number() = 1` over a two-sided-bounded stream-stream join — a
  * shape Spark REFUSES outright ("non-time-based windows are not
  * supported on streaming DataFrames") — rewrites at analysis time onto
  * the bounded-as-of composition (join kept verbatim + watermark-
  * finalized max_by/min_by) and runs refusal-free with finite state.
  *
  * Needs a session built WITH the extensions (analyzer rules cannot be
  * added to a live session), so this suite builds its own over the
  * shared SparkContext.
  */
class StreamingTop1RewriteSpec extends SparkSpec {

  override lazy val spark: SparkSession = {
    SparkSpec.session // materialize the shared context first
    // builder.create() (NOT getOrCreate): a brand-new session over the
    // existing context, with builder-time extensions, leaving the
    // suite-shared default session alone — suites run in parallel, so
    // clearing/restoring the default here would race them
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-streaming-top1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .create()
  }

  import spark.implicits._

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private def idiomSql(joinKind: String, dir: String, tieDir: String) =
    s"""SELECT user_id, click_id, imp_id, rk FROM (
       |  SELECT l.user_id, l.click_id, l.click_ts, r.imp_id, r.cost,
       |         row_number() OVER (
       |           PARTITION BY l.user_id, l.click_id, l.click_ts
       |           ORDER BY r.imp_ts $dir, r.imp_id $tieDir) AS rk
       |  FROM clicks_s l $joinKind imps_s r
       |    ON l.user_id = r.user_id
       |   AND r.imp_ts <= l.click_ts
       |   AND r.imp_ts >= l.click_ts - INTERVAL 15 MINUTES
       |) WHERE rk = 1""".stripMargin

  test("refused streaming SQL runs: randomized-redelivery differential vs brute force, inner and left-outer") {
    val rnd = new scala.util.Random(2024)
    val users = 8
    val clicks = (0 until 60).map(i => (rnd.nextInt(users).toLong, i.toLong, t(1 + rnd.nextInt(90))))
    val imps = (0 until 100).map(i =>
      (rnd.nextInt(users).toLong, 1000L + i, t(1 + rnd.nextInt(90)), (i % 40) + 1.0))
    // brute force: latest imp_ts in [click_ts - 15 min, click_ts], ties
    // to the LARGEST imp_id (the DESC, DESC ordering below)
    def expected(outerMode: Boolean): Set[(Long, Long, Option[Long])] =
      clicks.flatMap { case (u, cid, ts) =>
        val cand = imps.filter(r => r._1 == u &&
          !r._3.after(ts) && r._3.getTime >= ts.getTime - 15 * 60000L)
        if (cand.isEmpty) { if (outerMode) Some((u, cid, None)) else None }
        else Some((u, cid, Some(cand.maxBy(r => (r._3.getTime, r._2))._2)))
      }.toSet

    // provider axis: the rewritten composition must answer identically
    // from the heap provider and RocksDB (the 100 TB state posture) —
    // inner on both, outer on the default (the provider binds at
    // start() from the session conf)
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for ((outerMode, provider) <- Seq(
        (false, None), (true, None), (false, Some(rocksDb)))) {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val savedProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      provider.foreach(spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      val cs = MemoryStream[(Long, Long, Timestamp)]
      val is = MemoryStream[(Long, Long, Timestamp, Double)]
      cs.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "500 minutes")
        .createOrReplaceTempView("clicks_s")
      is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
        .withWatermark("imp_ts", "500 minutes")
        .createOrReplaceTempView("imps_s")
      val df = spark.sql(idiomSql(if (outerMode) "LEFT JOIN" else "JOIN", "DESC", "DESC"))
      // the rewrite FIRED: no Window survives analysis (Spark would
      // refuse it at start), an Aggregate carries the top-1 pick
      val analyzed = df.queryExecution.analyzed
      assert(!analyzed.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
        s"window not rewritten:\n$analyzed")
      assert(analyzed.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))

      val out = new ConcurrentLinkedQueue[(Long, Long, Option[Long], Int)]()
      val q = df.writeStream
        .outputMode("append")
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          d.select(col("user_id"), col("click_id"), col("imp_id"), col("rk"))
            .collect().foreach { r =>
              out.add((r.getLong(0), r.getLong(1),
                if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getInt(3)))
            }
          ()
        }
        .start()
      try {
        // shuffled out-of-order waves on both sides; later waves REDELIVER
        // random earlier rows (at-least-once sources) — the per-anchor
        // groups absorb duplicates, so the answer must not change
        val cW = rnd.shuffle(clicks).grouped(20).toSeq
        val iW = rnd.shuffle(imps).grouped(34).toSeq
        cW.zipAll(iW, Seq.empty, Seq.empty).zipWithIndex.foreach { case ((cw, iw), i) =>
          val cwAll = cw ++ (if (i > 0) rnd.shuffle(clicks).take(8) else Nil)
          val iwAll = iw ++ (if (i > 0) rnd.shuffle(imps).take(12) else Nil)
          if (cwAll.nonEmpty) cs.addData(cwAll)
          if (iwAll.nonEmpty) is.addData(iwAll)
          q.processAllAvailable()
        }
        // sentinel: advance both watermarks past every real click so all
        // groups finalize (sentinel's own group stays open, excluded)
        cs.addData(Seq((99L, 9999L, t(4000))))
        is.addData(Seq((99L, 9999L, t(4000), 0.0)))
        q.processAllAvailable()
        val rows = Iterator.continually(out.poll()).takeWhile(_ != null)
          .filter(_._2 != 9999L).toSeq
        assert(rows.nonEmpty, "differential is vacuous — nothing emitted")
        assert(rows.forall(_._4 == 1), "rk must read 1 on every emitted row")
        val got = rows.map(r => (r._1, r._2, r._3)).toSet
        assert(rows.size == got.size, s"duplicate per-anchor emissions: ${rows.size} vs ${got.size}")
        val exp = expected(outerMode)
        assert(got == exp,
          s"outer=$outerMode provider=$provider: " +
            s"missing=${exp.diff(got).take(5)} spurious=${got.diff(exp).take(5)}")
      } finally {
        q.stop()
        savedProvider match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("ASC orientation picks the EARLIEST (min_by twin): next-event semantics") {
    // same idiom with ASC ordering and the bounds flipped to the
    // look-AHEAD horizon: earliest imp in [click_ts, click_ts + 15 min],
    // ties to the smallest imp_id
    val rnd = new scala.util.Random(77)
    val clicks = (0 until 40).map(i => (rnd.nextInt(5).toLong, i.toLong, t(1 + rnd.nextInt(60))))
    val imps = (0 until 70).map(i =>
      (rnd.nextInt(5).toLong, 1000L + i, t(1 + rnd.nextInt(60)), 1.0))
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cs = MemoryStream[(Long, Long, Timestamp)]
    val is = MemoryStream[(Long, Long, Timestamp, Double)]
    cs.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "500 minutes").createOrReplaceTempView("clicks_s")
    is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
      .withWatermark("imp_ts", "500 minutes").createOrReplaceTempView("imps_s")
    val df = spark.sql(
      """SELECT user_id, click_id, imp_id FROM (
        |  SELECT l.user_id, l.click_id, l.click_ts, r.imp_id,
        |         row_number() OVER (
        |           PARTITION BY l.user_id, l.click_id, l.click_ts
        |           ORDER BY r.imp_ts ASC, r.imp_id ASC) AS rk
        |  FROM clicks_s l JOIN imps_s r
        |    ON l.user_id = r.user_id
        |   AND r.imp_ts >= l.click_ts
        |   AND r.imp_ts <= l.click_ts + INTERVAL 15 MINUTES
        |) WHERE rk = 1""".stripMargin)
    assert(!df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]))
    val out = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = df.writeStream.outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => out.add((r.getLong(0), r.getLong(1), r.getLong(2))))
        ()
      }.start()
    try {
      cs.addData(clicks); is.addData(imps); q.processAllAvailable()
      cs.addData(Seq((99L, 9999L, t(4000)))); is.addData(Seq((99L, 9999L, t(4000), 0.0)))
      q.processAllAvailable()
      val got = Iterator.continually(out.poll()).takeWhile(_ != null)
        .filter(_._2 != 9999L).toSet
      val exp = clicks.flatMap { case (u, cid, ts) =>
        val cand = imps.filter(r => r._1 == u &&
          !r._3.before(ts) && r._3.getTime <= ts.getTime + 15 * 60000L)
        if (cand.isEmpty) None
        else Some((u, cid, cand.minBy(r => (r._3.getTime, r._2))._2))
      }.toSet
      assert(got.nonEmpty && got == exp,
        s"missing=${exp.diff(got).take(5)} spurious=${got.diff(exp).take(5)}")
    } finally q.stop()
  }

  test("residual WHERE conjuncts and the flipped FROM orientation both rewrite correctly") {
    val rnd = new scala.util.Random(555)
    val clicks = (0 until 50).map(i => (rnd.nextInt(6).toLong, i.toLong, t(1 + rnd.nextInt(80))))
    val imps = (0 until 90).map(i =>
      (rnd.nextInt(6).toLong, 1000L + i, t(1 + rnd.nextInt(80)), 1.0))
    def best(u: Long, ts: Timestamp): Option[Long] = {
      val cand = imps.filter(r => r._1 == u &&
        !r._3.after(ts) && r._3.getTime >= ts.getTime - 15 * 60000L)
      if (cand.isEmpty) None else Some(cand.maxBy(r => (r._3.getTime, r._2))._2)
    }
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    def run(q: String): Set[(Long, Long, Long)] = {
      val cs = MemoryStream[(Long, Long, Timestamp)]
      val is = MemoryStream[(Long, Long, Timestamp, Double)]
      cs.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "500 minutes").createOrReplaceTempView("clicks_s")
      is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
        .withWatermark("imp_ts", "500 minutes").createOrReplaceTempView("imps_s")
      val df = spark.sql(q)
      assert(!df.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
        s"shape did not rewrite:\n$q")
      val out = new ConcurrentLinkedQueue[(Long, Long, Long)]()
      val qq = df.writeStream.outputMode("append")
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          d.select(col("user_id"), col("click_id"), col("imp_id")).collect()
            .foreach(r => out.add((r.getLong(0), r.getLong(1), r.getLong(2))))
          ()
        }.start()
      try {
        cs.addData(clicks); is.addData(imps); qq.processAllAvailable()
        cs.addData(Seq((99L, 9999L, t(4000)))); is.addData(Seq((99L, 9999L, t(4000), 0.0)))
        qq.processAllAvailable()
        Iterator.continually(out.poll()).takeWhile(_ != null).filter(_._2 != 9999L).toSet
      } finally qq.stop()
    }

    // residual conjunct beside the rk pin: filters AFTER the top-1 pick
    // (commutes with the rank in both forms — it references no rk)
    val gotResidual = run(
      """SELECT user_id, click_id, imp_id FROM (
        |  SELECT l.user_id, l.click_id, l.click_ts, r.imp_id,
        |         row_number() OVER (PARTITION BY l.user_id, l.click_id, l.click_ts
        |                            ORDER BY r.imp_ts DESC, r.imp_id DESC) AS rk
        |  FROM clicks_s l JOIN imps_s r
        |    ON l.user_id = r.user_id
        |   AND r.imp_ts <= l.click_ts
        |   AND r.imp_ts >= l.click_ts - INTERVAL 15 MINUTES
        |) WHERE rk = 1 AND imp_id % 2 = 0""".stripMargin)
    val expResidual = clicks.flatMap { case (u, cid, ts) =>
      best(u, ts).filter(_ % 2 == 0).map(b => (u, cid, b))
    }.toSet
    assert(gotResidual.nonEmpty && gotResidual == expResidual,
      s"missing=${expResidual.diff(gotResidual).take(5)} spurious=${gotResidual.diff(expResidual).take(5)}")

    // flipped FROM order: the anchor (partition side) is the join's RIGHT
    // — same idiom, same answer
    val gotFlipped = run(
      """SELECT user_id, click_id, imp_id FROM (
        |  SELECT l.user_id, l.click_id, l.click_ts, r.imp_id,
        |         row_number() OVER (PARTITION BY l.user_id, l.click_id, l.click_ts
        |                            ORDER BY r.imp_ts DESC, r.imp_id DESC) AS rk
        |  FROM imps_s r JOIN clicks_s l
        |    ON l.user_id = r.user_id
        |   AND r.imp_ts <= l.click_ts
        |   AND r.imp_ts >= l.click_ts - INTERVAL 15 MINUTES
        |) WHERE rk = 1""".stripMargin)
    val expAll = clicks.flatMap { case (u, cid, ts) => best(u, ts).map(b => (u, cid, b)) }.toSet
    assert(gotFlipped.nonEmpty && gotFlipped == expAll,
      s"missing=${expAll.diff(gotFlipped).take(5)} spurious=${gotFlipped.diff(expAll).take(5)}")
  }

  test("checkpoint RESTART: the rewritten plan resumes mid-stream, cumulative output equals brute force") {
    // The analyzer-rewrite's restart story: the plan Spark checkpoints
    // is the REWRITTEN one (join + aggregation), so a restart re-plans
    // the same SQL, lines its stateful operators up with the
    // checkpoint, and carries phase-1 join/agg state into phase 2. The
    // 500-minute watermark keeps everything un-finalized until the
    // post-restart sentinel, so EVERY emission crosses the restart
    // boundary — the strongest version of the claim.
    val rnd = new scala.util.Random(909)
    val clicks = (0 until 60).map(i => (rnd.nextInt(6).toLong, i.toLong, t(1 + rnd.nextInt(80))))
    val imps = (0 until 100).map(i =>
      (rnd.nextInt(6).toLong, 1000L + i, t(1 + rnd.nextInt(80)), 1.0))
    val (c1, c2) = rnd.shuffle(clicks).splitAt(30)
    val (i1, i2) = rnd.shuffle(imps).splitAt(50)
    val expected = clicks.flatMap { case (u, cid, ts) =>
      val cand = imps.filter(r => r._1 == u &&
        !r._3.after(ts) && r._3.getTime >= ts.getTime - 15 * 60000L)
      if (cand.isEmpty) None else Some((u, cid, cand.maxBy(r => (r._3.getTime, r._2))._2))
    }.toSet
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-top1-restart").toString
    val out = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    def start(
        cs: MemoryStream[(Long, Long, Timestamp)],
        is: MemoryStream[(Long, Long, Timestamp, Double)]) = {
      cs.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "500 minutes").createOrReplaceTempView("rst_clicks")
      is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
        .withWatermark("imp_ts", "500 minutes").createOrReplaceTempView("rst_imps")
      val df = spark.sql(idiomSql("JOIN", "DESC", "DESC")
        .replace("clicks_s", "rst_clicks").replace("imps_s", "rst_imps"))
      assert(!df.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]))
      df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          d.select(col("user_id"), col("click_id"), col("imp_id")).collect()
            .foreach(r => out.add((r.getLong(0), r.getLong(1), r.getLong(2))))
          ()
        }.start()
    }
    // phase 1: half the data, nothing finalizes, stop
    val cs1 = MemoryStream[(Long, Long, Timestamp)]
    val is1 = MemoryStream[(Long, Long, Timestamp, Double)]
    val q1 = start(cs1, is1)
    try { cs1.addData(c1); is1.addData(i1); q1.processAllAvailable() } finally q1.stop()
    // phase 2: NEW MemoryStreams with one placeholder block each (the
    // checkpoint committed the old streams' block 0 — offset alignment)
    val cs2 = MemoryStream[(Long, Long, Timestamp)]
    val is2 = MemoryStream[(Long, Long, Timestamp, Double)]
    cs2.addData(Seq.empty[(Long, Long, Timestamp)])
    is2.addData(Seq.empty[(Long, Long, Timestamp, Double)])
    val q2 = start(cs2, is2)
    try {
      cs2.addData(c2); is2.addData(i2); q2.processAllAvailable()
      cs2.addData(Seq((99L, 9999L, t(4000)))); is2.addData(Seq((99L, 9999L, t(4000), 0.0)))
      q2.processAllAvailable()
      val got = Iterator.continually(out.poll()).takeWhile(_ != null)
        .filter(_._2 != 9999L).toSet
      assert(got.nonEmpty && got == expected,
        s"missing=${expected.diff(got).take(5)} spurious=${got.diff(expected).take(5)}")
    } finally q2.stop()
  }

  test("decline guards: no watermark, one-sided bound, rank<=2, mixed directions keep the Window") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def hasWindow(q: String): Boolean =
      spark.sql(q).queryExecution.analyzed
        .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
    val cs = MemoryStream[(Long, Long, Timestamp)]
    val is = MemoryStream[(Long, Long, Timestamp, Double)]
    // watermarked views (the admissible baseline)
    cs.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "1 hour").createOrReplaceTempView("clicks_s")
    is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
      .withWatermark("imp_ts", "1 hour").createOrReplaceTempView("imps_s")
    assert(!hasWindow(idiomSql("JOIN", "DESC", "DESC")), "baseline shape must rewrite")
    // rank <= 2 admits non-best rows the reduction cannot produce
    assert(hasWindow(idiomSql("JOIN", "DESC", "DESC").replace("rk = 1", "rk <= 2")))
    // mixed sort directions: max_by/min_by cannot reproduce the ordering
    assert(hasWindow(idiomSql("JOIN", "DESC", "ASC")))
    // one-sided bound: state would be unbounded — decline
    assert(hasWindow(idiomSql("JOIN", "DESC", "DESC")
      .replace("AND r.imp_ts >= l.click_ts - INTERVAL 15 MINUTES", "")))
    // stream-STATIC join (static anchor side): the aggregation's groups
    // would never finalize — decline, stay with Spark's refusal
    Seq((1L, 10L, t(5))).toDF("user_id", "click_id", "click_ts")
      .createOrReplaceTempView("clicks_static")
    assert(hasWindow(idiomSql("JOIN", "DESC", "DESC").replace("clicks_s l", "clicks_static l")))
    // unwatermarked sides: no state-eviction story — decline
    cs.toDF().toDF("user_id", "click_id", "click_ts").createOrReplaceTempView("clicks_s")
    is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost").createOrReplaceTempView("imps_s")
    assert(hasWindow(idiomSql("JOIN", "DESC", "DESC")))
  }

  test("explainRefusal: names BOTH escape hatches on a plain session, stays silent where the rewrite runs") {
    import graft.plans.StreamingTop1Rewrite
    // a session WITHOUT builder-time extensions: the analyzer keeps the
    // refused window; start() would throw Spark's generic refusal with no
    // pointer to the engine's solution — the diagnostic is that pointer
    val plain = SparkSpec.session
    locally {
      implicit val plainSql: org.apache.spark.sql.SQLContext = plain.sqlContext
      val pc = MemoryStream[(Long, Long, Timestamp)]
      val pi = MemoryStream[(Long, Long, Timestamp, Double)]
      pc.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "1 hour").createOrReplaceTempView("clicks_plain")
      pi.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
        .withWatermark("imp_ts", "1 hour").createOrReplaceTempView("imps_plain")
    }
    val refusedSql = idiomSql("JOIN", "DESC", "DESC")
      .replace("clicks_s", "clicks_plain").replace("imps_s", "imps_plain")
    val refused = plain.sql(refusedSql)
    assert(refused.queryExecution.analyzed
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      "precondition: plain session must NOT have rewritten the window")
    val msg = StreamingTop1Rewrite.explainRefusal(refused)
    assert(msg.isDefined, "diagnostic must fire on the admissible refused shape")
    assert(msg.get.contains("spark.sql.extensions=graft.GraftExtensions"),
      s"diagnostic must name the builder-time extensions hatch:\n${msg.get}")
    assert(msg.get.contains("asofJoinBounded"),
      s"diagnostic must name the manual composition hatch:\n${msg.get}")

    // a shape the rewrite would DECLINE even with extensions (one-sided
    // bound): the diagnostic names the guard matrix + the manual hatch
    val declined = plain.sql(refusedSql
      .replace("AND r.imp_ts >= l.click_ts - INTERVAL 15 MINUTES", ""))
    val dmsg = StreamingTop1Rewrite.explainRefusal(declined)
    assert(dmsg.isDefined, "diagnostic must fire on the declined refused shape")
    assert(dmsg.get.contains("guard matrix") && dmsg.get.contains("asofJoinBounded"),
      s"declined diagnostic must name the guards and the manual hatch:\n${dmsg.get}")

    // on THIS suite's extensions session the same idiom rewrites away at
    // analysis — nothing to diagnose, the query simply runs
    locally {
      implicit val extSql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ec = MemoryStream[(Long, Long, Timestamp)]
      val ei = MemoryStream[(Long, Long, Timestamp, Double)]
      ec.toDF().toDF("user_id", "click_id", "click_ts")
        .withWatermark("click_ts", "1 hour").createOrReplaceTempView("clicks_s")
      ei.toDF().toDF("user_id", "imp_id", "imp_ts", "cost")
        .withWatermark("imp_ts", "1 hour").createOrReplaceTempView("imps_s")
    }
    assert(StreamingTop1Rewrite.explainRefusal(spark.sql(idiomSql("JOIN", "DESC", "DESC"))).isEmpty,
      "diagnostic must stay silent where the rewrite already ran")
    // batch frames are never refused — silent
    import plain.implicits._
    assert(StreamingTop1Rewrite.explainRefusal(
      Seq((1L, 2L)).toDF("a", "b")).isEmpty)
  }
}
