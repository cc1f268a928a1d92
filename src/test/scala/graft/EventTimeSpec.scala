package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventTime

object WindowProbe {
  val rows = new ConcurrentLinkedQueue[(Timestamp, String, Long)]()
  def drain(): Seq[(Timestamp, String, Long)] =
    Iterator.continually(rows.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = rows.clear()
}

/** Event-time windows + watermark: finalized windows emit in append mode;
  * data later than the watermark is dropped.
  */
class EventTimeSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming dedup drops duplicate ids within the watermark horizon") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long)]
    val out = new ConcurrentLinkedQueue[java.lang.Long]()
    val deduped = EventTime.dedupStream(
      stream.toDF().toDF("ts", "id"),
      eventTimeCol = "ts",
      watermarkDelay = "10 minutes",
      idCols = Seq("id")
    )
    val q = deduped.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => out.add(r.getLong(1)))
        ()
      }
      .start()
    try {
      stream.addData(Seq((ts(0), 1L), (ts(0), 2L), (ts(0), 1L)))
      q.processAllAvailable()
      stream.addData(Seq((ts(1), 2L), (ts(1), 3L))) // 2 is a dup across batches
      q.processAllAvailable()
      val got = Iterator.continually(out.poll()).takeWhile(_ != null).map(_.longValue).toSeq
      // 1,2 from batch one; 3 from batch two; the cross-batch dup of 2 dropped
      assert(got.sorted == Seq(1L, 2L, 3L), s"got $got")
    } finally q.stop()
  }

  test("tumbling windows finalize when the watermark passes and drop late data") {
    WindowProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val windowed = EventTime.tumblingAgg(
      stream.toDF().toDF("ts", "kind"),
      eventTimeCol = "ts",
      windowDuration = "5 minutes",
      watermarkDelay = "1 minute",
      keys = Seq(col("kind")),
      aggs = Seq(count(lit(1)).as("cnt"))
    )
    val q = windowed.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.select(col("window.start"), col("kind"), col("cnt")).collect().foreach { r =>
          WindowProbe.rows.add((r.getTimestamp(0), r.getString(1), r.getLong(2)))
        }
        ()
      }
      .start()
    try {
      stream.addData(Seq((ts(0), "a"), (ts(1), "a"), (ts(2), "b")))
      q.processAllAvailable()
      assert(WindowProbe.drain().isEmpty) // window [10:00,10:05) not finalized yet

      // advance the watermark past 10:05 (+1 min delay) → window finalizes
      stream.addData(Seq((ts(7), "a")))
      q.processAllAvailable()
      stream.addData(Seq((ts(8), "a"))) // one more batch so append emits
      q.processAllAvailable()
      val emitted = WindowProbe.drain()
      val first = emitted.filter(_._1 == ts(0))
      assert(first.map(t => t._2 -> t._3).toMap == Map("a" -> 2L, "b" -> 1L), s"got $emitted")

      // a very late row for the finalized window is dropped
      stream.addData(Seq((ts(1), "a")))
      q.processAllAvailable()
      assert(WindowProbe.drain().forall(_._1 != ts(0)))
    } finally q.stop()
  }

  test("sliding windows count each event in every overlapping window") {
    WindowProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val windowed = EventTime.slidingAgg(
      stream.toDF().toDF("ts", "kind"),
      eventTimeCol = "ts",
      windowDuration = "10 minutes",
      slideDuration = "5 minutes",
      watermarkDelay = "1 minute",
      keys = Seq(col("kind")),
      aggs = Seq(count(lit(1)).as("cnt"))
    )
    val q = windowed.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.select(col("window.start"), col("kind"), col("cnt")).collect().foreach { r =>
          WindowProbe.rows.add((r.getTimestamp(0), r.getString(1), r.getLong(2)))
        }
        ()
      }
      .start()
    try {
      // 10:02 belongs to [09:55,10:05) and [10:00,10:10)
      stream.addData(Seq((ts(2), "a")))
      q.processAllAvailable()
      // advance the watermark past 10:10 + delay so both windows finalize
      stream.addData(Seq((ts(12), "a")))
      q.processAllAvailable()
      stream.addData(Seq((ts(13), "a")))
      q.processAllAvailable()
      val emitted = WindowProbe.drain().filter(t => t._1 == Timestamp.valueOf("2024-01-01 09:55:00") || t._1 == ts(0))
      assert(
        emitted.map(t => t._1 -> t._3).toMap ==
          Map(Timestamp.valueOf("2024-01-01 09:55:00") -> 1L, ts(0) -> 1L),
        s"got $emitted"
      )
    } finally q.stop()
  }

  test("streaming windowed approx-distinct sketch equals the batch sketch") {
    // HLL++ register-merge is a max — order-independent — so the streaming
    // estimate over incremental micro-batches is IDENTICAL to the batch
    // estimate over the same rows: the mergeable-sketch property (q99/q100)
    // carried into Structured Streaming. State per (window, key) is one
    // fixed-size sketch, never a distinct-values set — the unbounded-
    // cardinality streaming distinct-count architecture.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Long)]
    val agg = stream
      .toDF()
      .toDF("ts", "kind", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes"), col("kind"))
      .agg(approx_count_distinct(col("uid"), 0.02).as("approx_users"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hll_stream")
      .start()
    try {
      val batch1 = Seq((ts(0), "a", 1L), (ts(1), "a", 2L), (ts(2), "b", 1L), (ts(3), "a", 1L))
      val batch2 = Seq((ts(4), "a", 3L), (ts(4), "b", 9L), (ts(6), "a", 1L))
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
      val streamed = spark
        .table("hll_stream")
        .select(col("window.start"), col("kind"), col("approx_users"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = (batch1 ++ batch2)
        .toDF("ts", "kind", "uid")
        .groupBy(window(col("ts"), "5 minutes"), col("kind"))
        .agg(approx_count_distinct(col("uid"), 0.02).as("approx_users"))
        .select(col("window.start"), col("kind"), col("approx_users"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // sanity: the [10:00,10:05) 'a' window saw uids {1,2,3}
      assert(streamed.exists { case (w, k, n) => w == ts(0) && k == "a" && n == 3L })
    } finally q.stop()
  }

  test("streaming count-min sketch merged per micro-batch equals the batch sketch") {
    // CMS counters ADD under merge (mergeInPlace sums the counter matrix),
    // so per-micro-batch sketches merged incrementally are BIT-IDENTICAL
    // to one batch sketch over the union — q109's heavy-hitter
    // architecture carried into streaming: the driver holds one ~100 KB
    // sketch however long the stream runs, and every estimate it serves
    // mid-stream is exactly what a batch rebuild would say. Same seed on
    // both sides (hash functions must agree for counter-level equality).
    import org.apache.spark.util.sketch.CountMinSketch
    import java.io.ByteArrayInputStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[String]
    val sketchOf = "count_min_sketch(tok, 0.001d, 0.99d, 42)"
    @volatile var merged: CountMinSketch = null
    val q = stream
      .toDF()
      .toDF("tok")
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val bytes = df.agg(expr(sketchOf)).head().getAs[Array[Byte]](0)
        val sk = CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
        if (merged == null) merged = sk else merged.mergeInPlace(sk)
        (): Unit
      }
      .start()
    try {
      val batch1 = Seq("spark", "data", "spark", "join", "data", "spark")
      val batch2 = Seq("data", "window", "spark", "window", "join")
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
      val batchBytes = (batch1 ++ batch2)
        .toDF("tok")
        .agg(expr(sketchOf))
        .head()
        .getAs[Array[Byte]](0)
      val batchSk = CountMinSketch.readFrom(new ByteArrayInputStream(batchBytes))
      assert(merged.totalCount() == batchSk.totalCount())
      Seq("spark", "data", "join", "window", "absent").foreach { w =>
        assert(
          merged.estimateCount(w) == batchSk.estimateCount(w),
          s"streaming and batch CMS disagree on '$w'"
        )
      }
      // and the estimates are exact here (11 items, far under sketch width)
      assert(merged.estimateCount("spark") == 4L && merged.estimateCount("absent") == 0L)
    } finally q.stop()
  }

  test("stream-stream interval join: randomized redelivery differential vs the static sweep") {
    // The refused both-streaming static shapes name EventTime.intervalJoin
    // as their remediation, which makes it load-bearing: prove it against
    // the NATIVE static sweep on randomized data, delivered out of order
    // across micro-batches with at-least-once redelivery absorbed by an
    // upstream dropDuplicatesWithinWatermark (dedup → join is the chained
    // stateful-operator pipeline Spark supports in append mode).
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(42)
    def t(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val users = 12
    val clicks = (0 until 80).map(i => (rnd.nextInt(users).toLong, i.toLong, t(rnd.nextInt(100))))
    val buys = (0 until 120).map(i =>
      (rnd.nextInt(users).toLong, 1000L + i, t(rnd.nextInt(100)), (i % 50) + 1.0))

    val cs = MemoryStream[(Long, Long, Timestamp)]
    val bs = MemoryStream[(Long, Long, Timestamp, Double)]
    // watermark far beyond the data span: nothing is ever late-dropped, so
    // the streaming answer must equal the static sweep EXACTLY
    val cDedup = EventTime.dedupStream(
      cs.toDF().toDF("user_id", "click_id", "click_ts"), "click_ts", "500 minutes", Seq("click_id"))
    val bDedup = EventTime.dedupStream(
      bs.toDF().toDF("user_id", "buy_id", "buy_ts", "amount"), "buy_ts", "500 minutes", Seq("buy_id"))
    val joined = EventTime.intervalJoin(
      cDedup, "click_ts", bDedup, "buy_ts", Seq("user_id"),
      watermarkDelay = "500 minutes", within = "10 minutes")
    val out = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.select(col("click_id"), col("buy_id")).collect()
          .foreach(r => out.add((r.getLong(0), r.getLong(1))))
        ()
      }
      .start()
    try {
      // three shuffled waves per side; each later wave REDELIVERS a random
      // sample of rows already sent (at-least-once semantics)
      val cWaves = rnd.shuffle(clicks).grouped(30).toSeq
      val bWaves = rnd.shuffle(buys).grouped(45).toSeq
      cWaves.zipAll(bWaves, Seq.empty, Seq.empty).zipWithIndex.foreach {
        case ((cw, bw), i) =>
          val cRedeliver = if (i > 0) rnd.shuffle(clicks).take(10) else Nil
          val bRedeliver = if (i > 0) rnd.shuffle(buys).take(15) else Nil
          if ((cw ++ cRedeliver).nonEmpty) cs.addData(cw ++ cRedeliver)
          if ((bw ++ bRedeliver).nonEmpty) bs.addData(bw ++ bRedeliver)
          q.processAllAvailable()
      }
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq.sorted
      // static sweep: buys are the points, clicks open [ts, ts + within]
      val got = graft.plans.Interval
        .intervalJoin(
          buys.toDF("user_id", "buy_id", "buy_ts", "amount"),
          clicks.toDF("c_user", "click_id", "click_ts")
            .withColumn("w_end", col("click_ts") + expr("INTERVAL 10 minutes")),
          Seq("user_id"), Seq("c_user"), "buy_ts", "click_ts", "w_end")
        .select(col("click_id"), col("buy_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(streamed.nonEmpty, "differential is vacuous — no joined rows")
      assert(streamed == got,
        s"stream != static sweep: missing=${got.diff(streamed).take(5)} spurious=${streamed.diff(got).take(5)}")
    } finally q.stop()
  }

  test("stream-stream interval join: a row later than the watermark horizon is dropped") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "click_ts"), "click_ts",
      bs.toDF().toDF("user_id", "buy_ts", "amount"), "buy_ts",
      Seq("user_id"), watermarkDelay = "10 minutes", within = "10 minutes")
    val out = new ConcurrentLinkedQueue[(Long, Double)]()
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => out.add((r.getLong(0), r.getDouble(3))))
        ()
      }
      .start()
    try {
      def drain(): Seq[(Long, Double)] =
        Iterator.continually(out.poll()).takeWhile(_ != null).toSeq
      cs.addData(Seq((1L, t(0))))
      q.processAllAvailable()
      // an on-time buy inside [click, click+10m] joins
      bs.addData(Seq((1L, t(5), 10.0)))
      q.processAllAvailable()
      assert(drain() == Seq((1L, 10.0)))
      // advance BOTH watermarks far past click@0 + within + delay...
      cs.addData(Seq((99L, t(600))))
      bs.addData(Seq((99L, t(500), 1.0)))
      q.processAllAvailable()
      drain()
      // ...then a buy whose event time WOULD match click@0 arrives — it is
      // behind the watermark horizon: the click's join state is already
      // evicted, so it must NOT produce a match
      bs.addData(Seq((1L, t(7), 99.0)))
      q.processAllAvailable()
      val late = drain()
      assert(!late.exists(_._2 == 99.0),
        s"late buy joined against evicted state: $late")
    } finally q.stop()
  }

  test("q250's session_window call is streaming-capable: closed sessions replay the batch answer") {
    // The q250 design comment claims the IDENTICAL session_window
    // aggregation runs under readStream with a watermark — prove it on
    // real events with out-of-order delivery and at-least-once redelivery
    // (absorbed by dropDuplicatesWithinWatermark on event_id upstream,
    // the chained stateful pipeline). Closed sessions in append mode must
    // equal the batch session frame row for row.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type").isin("view", "click", "purchase") && col("user_id") < 25)
      .select(col("user_id"), col("event_id"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .toSeq
    assert(rows.size > 100, s"corpus too small to be meaningful: ${rows.size}")
    val rnd = new scala.util.Random(7)
    val stream = MemoryStream[(Long, Long, Timestamp)]
    val deduped = EventTime.dedupStream(
      stream.toDF().toDF("user_id", "event_id", "ts"), "ts", "40 days", Seq("event_id"))
    val sessions = deduped
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))
    val out = new ConcurrentLinkedQueue[(Long, Timestamp, Timestamp, Long)]()
    val q = sessions.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r =>
          out.add((r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))))
        ()
      }
      .start()
    try {
      // three shuffled waves (out-of-order within the 10-day watermark) +
      // redelivery of already-seen events in later waves
      val waves = rnd.shuffle(rows).grouped((rows.size + 2) / 3).toSeq
      waves.zipWithIndex.foreach { case (w, i) =>
        val redelivered = if (i > 0) rnd.shuffle(rows).take(20) else Nil
        stream.addData(w ++ redelivered)
        q.processAllAvailable()
      }
      // a far-future sentinel (fake user) pushes the watermark past every
      // real session's end + delay; one more batch applies it so every
      // real session closes and emits
      val maxTs = rows.map(_._3.getTime).max
      stream.addData(Seq((999999L, 888888L, new Timestamp(maxTs + 90L * 24 * 3600 * 1000))))
      q.processAllAvailable()
      stream.addData(Seq((999999L, 888889L, new Timestamp(maxTs + 91L * 24 * 3600 * 1000))))
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null)
        .filter(_._1 != 999999L).toSeq.sorted
      val batch = rows.toDF("user_id", "event_id", "ts")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start"),
          col("session_window.end"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSeq.sorted
      assert(streamed == batch,
        s"streaming sessions != batch: missing=${batch.diff(streamed).take(3)} spurious=${streamed.diff(batch).take(3)}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("q251's DYNAMIC per-event gap session_window streams: closed sessions replay batch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .toSeq
    assert(rows.size > 100, s"corpus too small: ${rows.size}")
    val gapOf = when(col("event_type") === "purchase", lit("1 hour"))
      .when(col("event_type") === "error", lit("5 minutes"))
      .otherwise(lit("15 minutes"))
    val rnd = new scala.util.Random(11)
    val stream = MemoryStream[(Long, Long, Timestamp, String)]
    val deduped = EventTime.dedupStream(
      stream.toDF().toDF("user_id", "event_id", "ts", "event_type"),
      "ts", "40 days", Seq("event_id"))
    val sessions = deduped
      .groupBy(col("user_id"), session_window(col("ts"), gapOf))
      .agg(
        count(lit(1)).as("n_events"),
        max((col("event_type") === "purchase").cast("long")).as("has_purchase"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"),
        col("has_purchase"))
    val out = new ConcurrentLinkedQueue[(Long, Timestamp, Timestamp, Long, Long)]()
    val q = sessions.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r =>
          out.add((r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))))
        ()
      }
      .start()
    try {
      val waves = rnd.shuffle(rows).grouped((rows.size + 2) / 3).toSeq
      waves.zipWithIndex.foreach { case (w, i) =>
        val redelivered = if (i > 0) rnd.shuffle(rows).take(15) else Nil
        stream.addData(w ++ redelivered)
        q.processAllAvailable()
      }
      val maxTs = rows.map(_._3.getTime).max
      stream.addData(Seq((999999L, 888888L, new Timestamp(maxTs + 90L * 24 * 3600 * 1000), "view")))
      q.processAllAvailable()
      stream.addData(Seq((999999L, 888889L, new Timestamp(maxTs + 91L * 24 * 3600 * 1000), "view")))
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null)
        .filter(_._1 != 999999L).toSeq.sorted
      val batch = rows.toDF("user_id", "event_id", "ts", "event_type")
        .groupBy(col("user_id"), session_window(col("ts"), gapOf))
        .agg(
          count(lit(1)).as("n_events"),
          max((col("event_type") === "purchase").cast("long")).as("has_purchase"))
        .select(
          col("user_id"),
          col("session_window.start"),
          col("session_window.end"),
          col("n_events"),
          col("has_purchase"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4)))
        .toSeq.sorted
      assert(streamed == batch,
        s"dynamic-gap streaming sessions != batch: missing=${batch.diff(streamed).take(3)} spurious=${streamed.diff(batch).take(3)}")
      assert(batch.exists(_._5 == 1L), "no purchase session — has_purchase leg vacuous")
    } finally q.stop()
  }

  test("session windows close after the gap and group by key") {
    WindowProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val sessions = EventTime.sessionAgg(
      stream.toDF().toDF("ts", "kind"),
      eventTimeCol = "ts",
      gapDuration = "5 minutes",
      watermarkDelay = "1 minute",
      keys = Seq(col("kind")),
      aggs = Seq(count(lit(1)).as("cnt"))
    )
    val q = sessions.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.select(col("session_window.start"), col("kind"), col("cnt")).collect().foreach { r =>
          WindowProbe.rows.add((r.getTimestamp(0), r.getString(1), r.getLong(2)))
        }
        ()
      }
      .start()
    try {
      // two events 2 min apart (one session), then a 18-min gap (new session)
      stream.addData(Seq((ts(0), "a"), (ts(2), "a")))
      q.processAllAvailable()
      stream.addData(Seq((ts(20), "a"))) // watermark jumps past session end
      q.processAllAvailable()
      stream.addData(Seq((ts(21), "a")))
      q.processAllAvailable()
      val emitted = WindowProbe.drain()
      assert(emitted.contains((ts(0), "a", 2L)), s"first session missing: $emitted")
      assert(!emitted.exists(_._1 == ts(20)), s"open session emitted early: $emitted")
    } finally q.stop()
  }

  /** The chained dedup → interval-join differential, factored so the
    * checkpoint-restart and RocksDB-provider tests below run the SAME
    * pipeline shape the redelivery differential proved. Returns
    * (streamed pairs via `run`, static-sweep pairs) for comparison.
    */
  private def chainedPipelineDifferential(
      seed: Int
  )(run: (MemoryStream[(Long, Long, Timestamp)],
          MemoryStream[(Long, Long, Timestamp, Double)],
          () => org.apache.spark.sql.DataFrame,
          Seq[Seq[(Long, Long, Timestamp)]],
          Seq[Seq[(Long, Long, Timestamp, Double)]]) => Seq[(Long, Long)])
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(seed)
    def t(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val users = 10
    val clicks = (0 until 60).map(i => (rnd.nextInt(users).toLong, i.toLong, t(rnd.nextInt(90))))
    val buys = (0 until 90).map(i =>
      (rnd.nextInt(users).toLong, 1000L + i, t(rnd.nextInt(90)), (i % 50) + 1.0))
    val cs = MemoryStream[(Long, Long, Timestamp)]
    val bs = MemoryStream[(Long, Long, Timestamp, Double)]
    def joined(): org.apache.spark.sql.DataFrame = {
      val cDedup = EventTime.dedupStream(
        cs.toDF().toDF("user_id", "click_id", "click_ts"), "click_ts", "500 minutes", Seq("click_id"))
      val bDedup = EventTime.dedupStream(
        bs.toDF().toDF("user_id", "buy_id", "buy_ts", "amount"), "buy_ts", "500 minutes", Seq("buy_id"))
      EventTime.intervalJoin(cDedup, "click_ts", bDedup, "buy_ts", Seq("user_id"),
        watermarkDelay = "500 minutes", within = "10 minutes")
    }
    val streamed = run(cs, bs, joined _,
      rnd.shuffle(clicks).grouped(20).toSeq, rnd.shuffle(buys).grouped(30).toSeq)
    val expected = graft.plans.Interval
      .intervalJoin(
        buys.toDF("user_id", "buy_id", "buy_ts", "amount"),
        clicks.toDF("c_user", "click_id", "click_ts")
          .withColumn("w_end", col("click_ts") + expr("INTERVAL 10 minutes")),
        Seq("user_id"), Seq("c_user"), "buy_ts", "click_ts", "w_end")
      .select(col("click_id"), col("buy_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    (streamed.sorted, expected)
  }

  test("self-join outer keys survive: both sides from ONE frame keep the LEFT key on unmatched rows") {
    // Regression: when both join inputs derive from the same frame, the
    // un-aliased right key shares the left key's exprId; the analyzer's
    // self-join dedup re-aliases the right side and a post-join
    // drop(r(k)) resolved to the LEFT attribute — every outer-unmatched
    // row emitted a NULL key (inner modes mask it: matched keys are
    // equal). Found by q258's oracle gate; both intervalJoin and
    // asofJoinBounded now rename right keys pre-join.
    import spark.implicits._
    val base = Seq(
      (1L, "click", ts(0), 101L),  // view@min2 is AFTER → interval match, asof miss
      (1L, "click", ts(5), 103L),  // view@min2 is 3 min before → asof match, interval miss
      (2L, "click", ts(10), 102L), // user 2 has no views → outer null in both
      (1L, "view", ts(2), 201L)
    ).toDF("user_id", "kind", "ts", "id")
    val clicks = base.filter(col("kind") === "click")
      .select(col("user_id"), col("id").as("click_id"), col("ts").as("cts"))
    val views = base.filter(col("kind") === "view")
      .select(col("user_id"), col("id").as("view_id"), col("ts").as("vts"))
    def collect3(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("click_id"), col("view_id"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val ij = collect3(EventTime.intervalJoin(clicks, "cts", views, "vts",
      Seq("user_id"), watermarkDelay = "1 hour", within = "5 minutes",
      joinType = "left_outer"))
    assert(ij == Set(
      (Some(1L), 101L, Some(201L)), (Some(1L), 103L, None), (Some(2L), 102L, None)),
      s"intervalJoin self-join outer got $ij")
    val asof = collect3(EventTime.asofJoinBounded(clicks, "cts", views, "vts",
      Seq("user_id"), watermarkDelay = "1 hour", lookback = "5 minutes",
      outer = true))
    assert(asof == Set(
      (Some(1L), 101L, None), (Some(1L), 103L, Some(201L)), (Some(2L), 102L, None)),
      s"asofJoinBounded self-join outer got $asof")
  }

  test("AutoStatePartitions is identity-matched: an equal-valued Some from config still fails fast") {
    // The auto sentinel must not swallow misconfiguration: Some(0) (a
    // misread config wiring width = conf.getInt(...) = 0) and even an
    // independently constructed Some(Int.MinValue) are NOT the sentinel
    // object, so they hit withStatePartitions' positive check instead of
    // silently auto-sizing. Only the AutoStatePartitions object itself
    // (the parameter default) requests auto.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    def joined(width: Option[Int]) = EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "cts"), "cts",
      bs.toDF().toDF("user_id", "bts", "amount"), "bts",
      Seq("user_id"), watermarkDelay = "10 minutes", within = "5 minutes",
      statePartitions = width)
    Seq(Some(0), Some(Int.MinValue), Some(-4)).foreach { w =>
      val ex = intercept[IllegalArgumentException](joined(w))
      assert(ex.getMessage.contains("must be positive"), s"$w: ${ex.getMessage}")
    }
    // the sentinel object itself binds auto (streaming frame → floor width)
    assert(joined(EventTime.AutoStatePartitions).isStreaming)
  }

  test("statePartitions binds THIS query's stateful width, leaves the session alone, and the checkpoint pins it") {
    // The r12 measurement (width 32→8 = 4.1× on the interval join) was
    // session-conf folklore: the caller had to set
    // spark.sql.shuffle.partitions before start(), and got every
    // concurrent query's width changed as a side effect. The operator
    // parameter rebases the plan onto a cloned session, so: (a) the
    // query's state operator runs at the requested width; (b) the
    // caller's session conf is untouched; (c) the width rides the
    // checkpoint — a restart WITHOUT the parameter (or with a different
    // one) keeps the original width, because Spark pins it in the offset
    // log at first start.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-sp-ckpt").toString
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    def joined(width: Option[Int]) = EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "cts"), "cts",
      bs.toDF().toDF("user_id", "bts", "amount"), "bts",
      Seq("user_id"), watermarkDelay = "10 minutes", within = "5 minutes",
      statePartitions = width)
    def start(width: Option[Int]) = joined(width).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .format("noop")
      .start()
    def widthOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numShufflePartitions).max

    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val q1 = start(Some(3))
    try {
      cs.addData((1L, ts(0))); bs.addData((1L, ts(2), 5.0))
      q1.processAllAvailable()
      assert(widthOf(q1) == 3L, s"operator width not bound: ${widthOf(q1)}")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == sessionWidth,
        "operator parameter leaked into the session conf")
    } finally q1.stop()
    // restart from the same checkpoint with NO parameter: the pinned
    // width (3), not the session's 4, governs — proving a deployment can
    // drop the knob after first start without a silent width change
    val q2 = start(None)
    try {
      cs.addData((2L, ts(10))); bs.addData((2L, ts(12), 7.0))
      q2.processAllAvailable()
      assert(widthOf(q2) == 3L, s"checkpoint-pinned width not honored on restart: ${widthOf(q2)}")
    } finally q2.stop()
  }

  test("withStatePartitions binds any stateful frame's width (tumbling agg)") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val es = MemoryStream[(Long, Timestamp)]
    val agg = EventTime.tumblingAgg(
      es.toDF().toDF("user_id", "ets"), "ets", "10 minutes", "1 hour",
      keys = Seq(col("user_id")), aggs = Seq(count(lit(1)).as("n")))
    val bound = EventTime.withStatePartitions(agg, 2)
    val q = bound.writeStream.outputMode("append").format("noop").start()
    try {
      es.addData((1L, ts(0)), (2L, ts(1)))
      q.processAllAvailable()
      val widths = q.recentProgress.flatMap(_.stateOperators).map(_.numShufflePartitions)
      assert(widths.nonEmpty && widths.max == 2L, s"width not bound: ${widths.toSeq}")
    } finally q.stop()
  }

  test("StateInspect reads a real checkpoint: operators listed, hot key found, partition profile sums") {
    // The 100 TB ops tool: find the hot key from the CHECKPOINT, before
    // it aborts the state budget — no query restart, no stream replay.
    // Build a deliberately skewed interval join (key 7 gets 40 right rows
    // buffered, every other key 2), stop the query, then read its state
    // through Spark's state data source.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-inspect").toString
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "cts"), "cts",
      bs.toDF().toDF("user_id", "bts", "amount"), "bts",
      Seq("user_id"), watermarkDelay = "10 minutes", within = "5 minutes",
      statePartitions = Some(3))
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint).format("noop").start()
    try {
      cs.addData((0L until 10L).map(k => (k, ts(0))))
      bs.addData((0L until 10L).flatMap(k =>
        (0 until (if (k == 7L) 40 else 2)).map(i => (k, ts(1), i.toDouble))))
      q.processAllAvailable()
    } finally q.stop()

    val ops = graft.streaming.StateInspect.operators(spark, checkpoint)
    assert(ops.count() >= 1, "state-metadata listed no operators")
    val opId = ops.selectExpr("operatorId").head().getLong(0).toInt
    val hot = graft.streaming.StateInspect
      .hotKeys(spark, checkpoint, operatorId = opId, joinSide = Some("right"), topK = 3)
      .collect()
    // join-state key fields are positional (field0 = first key column)
    assert(hot.head.getAs[Long]("field0") == 7L,
      s"hot key not ranked first: ${hot.map(_.mkString(",")).toSeq}")
    assert(hot.head.getAs[Long]("state_rows") == 40L,
      s"hot key row count wrong: ${hot.head}")
    val profile = graft.streaming.StateInspect
      .partitionProfile(spark, checkpoint, operatorId = opId, joinSide = Some("right"))
      .collect()
    assert(profile.map(_.getAs[Long]("state_rows")).sum == 40L + 9 * 2,
      s"partition profile does not sum to the buffered right rows: ${profile.toSeq}")
    // the profile ranges over the checkpoint-pinned width (statePartitions=3)
    assert(profile.forall(_.getAs[Int]("partition_id") < 3),
      s"partition ids exceed the pinned width: ${profile.toSeq}")
  }

  test("StateInspect reads a RocksDB-provider checkpoint identically (the 100 TB provider)") {
    // the ops tool must not care which provider wrote the state — a
    // RocksDB deployment (state beyond heap) gets the same hot-key
    // answer from its checkpoint files
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-inspect-rdb").toString
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    val bound = EventTime.withStatePartitions(
      EventTime.intervalJoin(
        cs.toDF().toDF("user_id", "cts"), "cts",
        bs.toDF().toDF("user_id", "bts", "amount"), "bts",
        Seq("user_id"), watermarkDelay = "10 minutes", within = "5 minutes"), 3)
    // the provider binds at query start from the frame's (cloned) session
    bound.sparkSession.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = bound.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint).format("noop").start()
    try {
      cs.addData((0L until 6L).map(k => (k, ts(0))))
      bs.addData((0L until 6L).flatMap(k =>
        (0 until (if (k == 2L) 25 else 3)).map(i => (k, ts(1), i.toDouble))))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
    val hot = graft.streaming.StateInspect
      .hotKeys(spark, checkpoint, joinSide = Some("right"), topK = 2).collect()
    assert(hot.head.getAs[Long]("field0") == 2L && hot.head.getAs[Long]("state_rows") == 25L,
      s"RocksDB checkpoint hot key wrong: ${hot.map(_.mkString(",")).toSeq}")
    val profile = graft.streaming.StateInspect
      .partitionProfile(spark, checkpoint, joinSide = Some("right")).collect()
    assert(profile.map(_.getAs[Long]("state_rows")).sum == 25L + 5 * 3)
  }

  test("StateInspect hotKeys ranks by bytes: a few-but-WIDE-rows key outranks an equal-count narrow one") {
    // r13 prescription #7: a key buffering one giant aggregation buffer
    // (collect_list of long strings) hides completely from a row-count
    // ranking — both keys below hold exactly ONE state row — but it is
    // the one about to abort the memory budget. The bytes estimate ranks
    // it first; rankBy = "rows" remains available for the row view.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-inspect-bytes").toString
    val ms = MemoryStream[(String, String)]
    val agg = ms.toDF().toDF("k", "payload")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.collect_list("payload").as("payloads"))
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint).format("noop").start()
    try {
      ms.addData(("wide", "x" * 4000), ("narrow", "y"))
      q.processAllAvailable()
    } finally q.stop()
    val hot = graft.streaming.StateInspect.hotKeys(spark, checkpoint, topK = 2).collect()
    assert(hot.length == 2)
    assert(hot.head.getAs[String]("k") == "wide",
      s"bytes ranking did not surface the wide-value key: ${hot.map(_.mkString(",")).toSeq}")
    assert(hot.forall(_.getAs[Long]("state_rows") == 1L),
      s"both keys should hold exactly one state row: ${hot.map(_.mkString(",")).toSeq}")
    assert(hot.head.getAs[Long]("state_bytes_est") > 10L * hot(1).getAs[Long]("state_bytes_est"),
      s"bytes estimate not separating 4 KB from 1 B: ${hot.map(_.mkString(",")).toSeq}")
  }

  test("asofJoinBounded rejects a MapType left column up front with the column named") {
    import spark.implicits._
    val clicks = Seq((1L, ts(0), Map("a" -> 1)))
      .toDF("user_id", "cts", "attrs")
    val views = Seq((1L, 201L, ts(2))).toDF("user_id", "view_id", "vts")
    val e = intercept[IllegalArgumentException](
      EventTime.asofJoinBounded(clicks, "cts", views, "vts", Seq("user_id"),
        watermarkDelay = "1 hour", lookback = "5 minutes"))
    assert(e.getMessage.contains("attrs"), s"column not named: ${e.getMessage}")
    assert(e.getMessage.contains("map_entries"))
  }

  test("right-preserving interval-join modes coalesce the key: right-unmatched rows keep it") {
    // Regression (ADVICE r12): the pre-join right-key rename fixed
    // left_outer, but for right/full outer the post-join drop of the
    // renamed right keys discarded the join key entirely on
    // right-unmatched rows (left key is NULL there) — not the
    // usingColumns semantics the Scaladoc claims. The key must now be
    // COALESCEd across the sides before the drop.
    import spark.implicits._
    val clicks = Seq((1L, 101L, ts(0)), (2L, 102L, ts(10)))
      .toDF("user_id", "click_id", "cts")
    val views = Seq((1L, 201L, ts(2)), (3L, 203L, ts(4)))
      .toDF("user_id", "view_id", "vts")
    def keysOf(joinType: String): Set[(Option[Long], Option[Long], Option[Long])] =
      EventTime.intervalJoin(clicks, "cts", views, "vts", Seq("user_id"),
        watermarkDelay = "1 hour", within = "5 minutes", joinType = joinType)
        .select(col("user_id"), col("click_id"), col("view_id"))
        .collect().map(r => (
          if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(keysOf("full_outer") == Set(
      (Some(1L), Some(101L), Some(201L)), // matched
      (Some(2L), Some(102L), None),       // left-unmatched keeps its key
      (Some(3L), None, Some(203L))),      // right-unmatched MUST keep user_id=3
      s"full_outer keys wrong: ${keysOf("full_outer")}")
    assert(keysOf("right_outer") == Set(
      (Some(1L), Some(101L), Some(201L)),
      (Some(3L), None, Some(203L))),
      s"right_outer keys wrong: ${keysOf("right_outer")}")
  }

  test("both-streams bounded-lookback as-of: randomized differential vs brute force, inner and outer") {
    // The LAST refused stream shape's remediation (plans/AsOfJoin names
    // it): latest same-key right row with rt ∈ [t − lookback, t], ties
    // to the largest tie-break — proven against a driver-side brute
    // force over shuffled out-of-order waves on BOTH streams. The far-
    // future sentinel on both sides advances both watermarks past every
    // real left time so every group finalizes (sentinel rows themselves
    // stay open and are excluded).
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(131)
    def t(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val users = 8
    val clicks = (0 until 70).map(i => (rnd.nextInt(users).toLong, i.toLong, t(1 + rnd.nextInt(90))))
    val imps = (0 until 110).map(i =>
      (rnd.nextInt(users).toLong, 1000L + i, t(1 + rnd.nextInt(90)), (i % 40) + 1.0))
    val lookbackMin = 15
    // fwd=true: latest rt in [t-lookback, t], ties to the LARGEST id;
    // fwd=false: earliest rt in [t, t+lookback], ties to the SMALLEST —
    // both directions of the batch as-of's tie-break contract
    def expected(outerMode: Boolean, fwd: Boolean): Set[(Long, Long, Option[Long])] =
      clicks.flatMap { case (u, cid, ts) =>
        val cand = imps.filter(r => r._1 == u && (
          if (fwd) !r._3.after(ts) && r._3.getTime >= ts.getTime - lookbackMin * 60000L
          else !r._3.before(ts) && r._3.getTime <= ts.getTime + lookbackMin * 60000L))
        if (cand.isEmpty) { if (outerMode) Some((u, cid, None)) else None }
        else Some((u, cid, Some(
          if (fwd) cand.maxBy(r => (r._3.getTime, r._2))._2
          else cand.minBy(r => (r._3.getTime, r._2))._2)))
      }.toSet
    for ((outerMode, fwd) <- Seq((false, true), (true, true), (false, false), (true, false))) {
      val cs = MemoryStream[(Long, Long, Timestamp)]
      val is = MemoryStream[(Long, Long, Timestamp, Double)]
      val joined = EventTime.asofJoinBounded(
        cs.toDF().toDF("user_id", "click_id", "click_ts"), "click_ts",
        is.toDF().toDF("user_id", "imp_id", "imp_ts", "cost"), "imp_ts",
        // watermark far beyond the data span: the shuffled waves deliver
        // 90-min-old rows after much newer ones, and the differential
        // must see NOTHING late-dropped to equal brute force exactly
        // (late-drop behavior itself is pinned by the interval-join
        // lateness spec; the lookback bound below is independent of it)
        Seq("user_id"), watermarkDelay = "500 minutes", lookback = s"$lookbackMin minutes",
        rightTieBreak = Seq("imp_id"), outer = outerMode, forward = fwd)
      val out = new ConcurrentLinkedQueue[(Long, Long, Option[Long])]()
      val q = joined.writeStream
        .outputMode("append")
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          d.select(col("user_id"), col("click_id"), col("imp_id")).collect().foreach { r =>
            out.add((r.getLong(0), r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2))))
          }
          ()
        }
        .start()
      try {
        val cW = rnd.shuffle(clicks).grouped(24).toSeq
        val iW = rnd.shuffle(imps).grouped(37).toSeq
        cW.zipAll(iW, Seq.empty, Seq.empty).foreach { case (cw, iw) =>
          if (cw.nonEmpty) cs.addData(cw)
          if (iw.nonEmpty) is.addData(iw)
          q.processAllAvailable()
        }
        // sentinel wave: push both watermarks past every real left time
        cs.addData(Seq((99L, 9999L, t(4000))))
        is.addData(Seq((99L, 9999L, t(4000), 0.0)))
        q.processAllAvailable()
        val got = Iterator.continually(out.poll()).takeWhile(_ != null)
          .filter(_._2 != 9999L).toSet
        val exp = expected(outerMode, fwd)
        assert(got.nonEmpty, "bounded as-of differential is vacuous")
        assert(got == exp,
          s"outer=$outerMode fwd=$fwd: missing=${exp.diff(got).take(5)} spurious=${got.diff(exp).take(5)}")
      } finally q.stop()
    }
  }

  test("checkpoint RESTART: the chained stateful pipeline resumes and the cumulative output equals one-shot, multiset-exact") {
    // The exactly-once story so far covers sinks (manifest/replay) and
    // at-least-once REDELIVERY; this covers checkpoint RECOVERY: stop the
    // running dedup → interval-join query after two waves, deliver a
    // third wave + redeliveries while it is DOWN, rebuild the query DAG
    // from scratch against the same checkpoint, and require (a) the
    // restarted query RESUMES (batchIds continue, state intact — a
    // from-scratch rerun would re-emit wave-1/2 joins and double them),
    // (b) cumulative output across both incarnations equals the static
    // sweep exactly. The sink dedups by batchId (overwrite-on-replay),
    // which is precisely the idempotence contract a replayed micro-batch
    // relies on.
    RestartProbe.clear()
    val (streamed, expected) = chainedPipelineDifferential(77) { (cs, bs, joined, cW, bW) =>
      val ckpt = tempDir("graft-restart-ckpt").toString
      def start() = joined().writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, bid: Long) =>
          RestartProbe.byBatch.put(bid,
            d.select(col("click_id"), col("buy_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSeq)
          ()
        }
        .start()
      val q1 = start()
      val before =
        try {
          cs.addData(cW(0)); bs.addData(bW(0)); q1.processAllAvailable()
          cs.addData(cW(1)); bs.addData(bW(1)); q1.processAllAvailable()
          Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
        } finally q1.stop()
      // the rest of the data (+ at-least-once redeliveries of rows both
      // incarnations have seen) arrives while the pipeline is down
      cs.addData(cW(2) ++ cW(0).take(5)); bs.addData(bW(2) ++ bW(1).take(5))
      val q2 = start()
      try {
        q2.processAllAvailable()
        val after = Option(q2.lastProgress).map(_.batchId).getOrElse(-1L)
        assert(after > before,
          s"restart did not resume from the checkpoint (batchId $before -> $after)")
      } finally q2.stop()
      RestartProbe.byBatch.values.asScala.flatten.toSeq
    }
    assert(streamed.nonEmpty, "restart differential is vacuous — no joined rows")
    assert(streamed == expected,
      s"restart != one-shot static sweep: missing=${expected.diff(streamed).take(5)} " +
        s"spurious=${streamed.diff(expected).take(5)}")
  }

  test("state-store provider independence: the chained pipeline on RocksDB equals the static sweep") {
    // All stateful twins prove correctness on the default HDFS-backed
    // (heap) provider; at 100 TB state the deployment answer is RocksDB.
    // Same chained dedup → join differential, state in RocksDB — the
    // semantics must not know which provider holds them.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (streamed, expected) = chainedPipelineDifferential(91) { (cs, bs, joined, cW, bW) =>
        val out = new ConcurrentLinkedQueue[(Long, Long)]()
        val q = joined().writeStream
          .outputMode("append")
          .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
            d.select(col("click_id"), col("buy_id")).collect()
              .foreach(r => out.add((r.getLong(0), r.getLong(1))))
            ()
          }
          .start()
        try {
          // verify the provider actually bound (conf is cloned at start)
          assert(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.sparkSession.sessionState.conf
            .getConfString(key).contains("RocksDB"))
          cW.zipAll(bW, Seq.empty, Seq.empty).foreach { case (cw, bw) =>
            if (cw.nonEmpty) cs.addData(cw)
            if (bw.nonEmpty) bs.addData(bw)
            q.processAllAvailable()
          }
        } finally q.stop()
        Iterator.continually(out.poll()).takeWhile(_ != null).toSeq
      }
      assert(streamed.nonEmpty, "RocksDB differential is vacuous — no joined rows")
      assert(streamed == expected,
        s"RocksDB != static sweep: missing=${expected.diff(streamed).take(5)} " +
          s"spurious=${streamed.diff(expected).take(5)}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }
}

/** Batch-id-keyed output probe for the checkpoint-restart test: a replayed
  * micro-batch OVERWRITES its slot (the idempotent-sink contract), so the
  * cumulative view is exactly what an idempotent external sink would hold.
  */
object RestartProbe {
  val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Long)]]()
  def clear(): Unit = byBatch.clear()
}
