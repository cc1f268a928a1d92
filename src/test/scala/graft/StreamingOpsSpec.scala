package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** The LLM-data operators are pure Column expressions, so the same code
  * runs over a stream unchanged — scoring/language-ID on documents as they
  * arrive is the 100 TB ingestion-time shape (filter-at-ingest beats
  * store-then-filter). This spec pins that composition: streaming results
  * must be bit-identical to the batch computation on the same rows.
  */
class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._

  test("streaming priority sample is exactly the batch bottom-k under splits and redelivery") {
    import graft.streaming.{SampleDoc, SampleStream}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = (1L to 30L).map(i => SampleDoc(i, s"src${i % 3}", 10L + (i * 7L) % 50L))
    val stream = MemoryStream[SampleDoc]
    val events = SampleStream.sample(stream.toDS(), k = 8)
    val q = events.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sample_events")
      .start()
    try {
      stream.addData(docs.take(10))
      q.processAllAvailable()
      // redeliver 5 already-seen docs alongside fresh ones
      stream.addData(docs.slice(5, 20))
      q.processAllAvailable()
      stream.addData(docs.drop(20) ++ docs.take(3)) // more redelivery
      q.processAllAvailable()
      val ev = spark
        .table("sample_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      val admitted = ev.filter(_._3 == "admit").map(e => e._1 -> e._2).toMap
      val evicted = ev.filter(_._3 == "evict").map(_._1).toSet
      val live = admitted.keySet -- evicted
      val expect = docs
        .map(dc => (SampleStream.priorityOf(dc.docId, dc.nTokens), dc.docId))
        .sorted
        .take(8)
        .map(_._2)
        .toSet
      assert(live == expect, s"live=$live expected=$expect")
      // no duplicate admits (redelivery burned nothing)
      assert(ev.count(_._3 == "admit") == admitted.size, "duplicate admit events")
      // every evict had a prior admit
      assert(evicted.subsetOf(admitted.keySet), "evict without admit")
    } finally q.stop()
  }

  test("stream-static range join: RangeJoinRewrite stays off streaming plans, results == batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.GraftExtensions.register(spark)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the rewrite's hand
    try {
      val ivals = (1L to 40L).map(i => (i % 5, i, i + 8)).toDF("rk", "s", "e")
      val points = (1L to 60L).map(i => (i % 5, i))
      val stream = MemoryStream[(Long, Long)]
      val joined = stream
        .toDS()
        .toDF("k", "t")
        .join(ivals, col("k") === col("rk") && col("t").between(col("s"), col("e")))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("rjr_stream")
        .start()
      try {
        stream.addData(points.take(30))
        q.processAllAvailable()
        stream.addData(points.drop(30))
        q.processAllAvailable()
        // the micro-batch plan must NOT contain the batch-only interval
        // exec — the guard is j.isStreaming on the logical node
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) { q.explain() }
        val lastPlan = baos.toString("UTF-8")
        assert(lastPlan.contains("Join"), s"explain produced no join plan:\n$lastPlan")
        assert(!lastPlan.contains("IntervalJoin"), s"rewrite fired on a streaming plan:\n$lastPlan")
        val got = spark.table("rjr_stream").collect().map(_.toSeq).toSet
        val expected = points
          .toDF("k", "t")
          .join(ivals, col("k") === col("rk") && col("t").between(col("s"), col("e")))
          .collect()
          .map(_.toSeq)
          .toSet
        assert(got == expected && expected.nonEmpty, "stream-static range join diverged from batch")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stream priority formula is bit-identical to the q199 SQL expression") {
    import graft.streaming.SampleStream
    val rows = spark
      .range(1, 200)
      .selectExpr(
        "id",
        "10 + (id * 7) % 50 AS n",
        """(cast(conv(substring(md5(cast(id as string)), 1, 4), 16, 10) as bigint) + 1L)
          | * 1000000L div greatest(10 + (id * 7) % 50, 1L)""".stripMargin
      )
      .collect()
    rows.foreach { r =>
      val (id, n, sqlPri) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(
        SampleStream.priorityOf(id, n) == sqlPri,
        s"priority mismatch for id=$id n=$n"
      )
    }
  }

  test("streaming graft_top_k holds k-row state per group and matches batch") {
    // GroupTopK's merge is associative and its buffer is k pairs, so it
    // drops into a streaming aggregation with FIXED-size state per group
    // — the unbounded-stream top-k architecture (a rank window cannot run
    // on a stream at all; collect-everything state grows without bound).
    // Parity with the batch aggregate over the union of the micro-batches
    // is exact because the (score DESC, id ASC) order is tie-free.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, Long, Long)]
    val agg = stream
      .toDF()
      .toDF("kind", "score", "id")
      .groupBy(col("kind"))
      .agg(graft.functions.AggFunctions.topK(col("score"), col("id"), 2).as("top"))
      .select(col("kind"), to_json(col("top")).as("top"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("topk_stream")
      .start()
    try {
      val batch1 = Seq(("a", 5L, 1L), ("a", 7L, 2L), ("b", 1L, 9L))
      val batch2 = Seq(("a", 7L, 0L), ("a", 2L, 3L), ("b", 4L, 8L), ("b", 4L, 7L))
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
      val streamed = spark
        .table("topk_stream")
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
      val batch = (batch1 ++ batch2)
        .toDF("kind", "score", "id")
        .groupBy(col("kind"))
        .agg(graft.functions.AggFunctions.topK(col("score"), col("id"), 2).as("top"))
        .select(col("kind"), to_json(col("top")).as("top"))
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // spot: 'a' keeps (7,0),(7,2) — the id tiebreak evicted (5,1); 'b'
      // keeps (4,7),(4,8)
      assert(batch("a") == """[{"score":7,"id":0},{"score":7,"id":2}]""", batch("a"))
      assert(batch("b") == """[{"score":4,"id":7},{"score":4,"id":8}]""", batch("b"))
    } finally q.stop()
  }

  test("incremental skyline: streaming per-length max + metadata frontier equals batch q131") {
    // Incremental maintenance of the q131 pareto frontier: the streamed
    // state is ONE long per distinct token-length (groupBy(n).max(q) in
    // complete mode — bounded by the length domain, never the corpus),
    // and the frontier re-derives per trigger from that length METADATA
    // exactly as the batch query does. Feeding the sf0.001 documents in
    // two arbitrary halves must land on the identical frontier — max is
    // order/partition-insensitive, and the frontier is a pure function
    // of the per-length maxima.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docRows = graft.ops.Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val toksC = TextOps.tokens(col("text"))
    val agg = stream
      .toDF()
      .toDF("doc_id", "text")
      .select(
        size(toksC).cast("long").as("n_tokens"),
        TextOps.qualityScore10k(toksC).cast("long").as("q10k")
      )
      .groupBy(col("n_tokens"))
      .agg(max(col("q10k")).as("mq"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("skyline_state")
      .start()
    try {
      val (h1, h2) = docRows.splitAt(docRows.length / 2)
      stream.addData(h1.toSeq)
      q.processAllAvailable()
      stream.addData(h2.toSeq)
      q.processAllAvailable()
      // frontier from the streamed per-length maxima (metadata-size)
      val byN = spark.table("skyline_state")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_tokens").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val streamedFrontier = byN
        .withColumn("m1", max(col("mq")).over(w))
        .filter(col("m1").isNull || col("mq") > col("m1"))
        .select(col("n_tokens"), col("mq"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val batchFrontier = graft.ops.QueryRegistry
        .byName("q131_skyline")
        .fn(spark, sfDir)
        .select(col("n_tokens"), col("q10k"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(streamedFrontier == batchFrontier, s"stream=$streamedFrontier batch=$batchFrontier")
      assert(batchFrontier.nonEmpty)
    } finally q.stop()
  }

  test("quality scoring and language-ID run over a stream, matching batch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "der hund und die katze das ist gut und schon"),
      (3L, "le chat et la souris est dans les jardins"),
      (4L, "short text")
    )
    val out = new ConcurrentLinkedQueue[(Long, Double, String)]()
    val stream = MemoryStream[(Long, String)]

    def score(df: org.apache.spark.sql.DataFrame) = {
      val toks = TextOps.tokens(col("text"))
      df.select(
        col("doc_id"),
        TextOps.qualityScore(toks).as("quality"),
        TextOps.langIdExpr(col("text")).as("lang")
      )
    }

    val q = score(stream.toDF().toDF("doc_id", "text")).writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => out.add((r.getLong(0), r.getDouble(1), r.getString(2))))
        ()
      }
      .start()
    try {
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq.sortBy(_._1)
      val batch = score(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSeq
        .sortBy(_._1)
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(batch.map(_._3) == Seq("en", "de", "fr", "en"))
    } finally q.stop()
  }

  test("window-granular streaming dedup matches batch distinct windows under redelivery") {
    // q106's chunk-window fingerprint projection is pure Column algebra, so
    // it runs on an unbounded stream unchanged; dropDuplicatesWithinWatermark
    // on fp gives exactly-one-row-per-window with watermark-bounded state —
    // the ingestion-time exact-substring dedup shape.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val docRows = graft.ops.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
      .limit(30)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), ts))
      .toSeq
    val out = new ConcurrentLinkedQueue[String]()
    val stream = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val wins = graft.ops.DedupOps.windowFingerprints(
      stream.toDF().toDF("doc_id", "source", "text", "ts"),
      carry = Seq("ts")
    )
    val q = graft.streaming.EventTime
      .dedupStream(wins, eventTimeCol = "ts", watermarkDelay = "10 minutes", idCols = Seq("fp"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.select("fp").collect().foreach(r => out.add(r.getString(0)))
        ()
      }
      .start()
    try {
      stream.addData(docRows.take(15))
      q.processAllAvailable()
      stream.addData(docRows.drop(15))
      q.processAllAvailable()
      stream.addData(docRows.take(15)) // full redelivery of batch one
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null).toVector
      val batchFps = graft.ops.DedupOps
        .windowFingerprints(docRows.toDF("doc_id", "source", "text", "ts"))
        .select("fp")
        .distinct()
        .collect()
        .map(_.getString(0))
        .toSet
      // exactly once per distinct window, redelivery emitted nothing new
      assert(streamed.size == streamed.toSet.size, "duplicate window emitted")
      assert(streamed.toSet == batchFps, s"stream=${streamed.size} batch=${batchFps.size}")
    } finally q.stop()
  }

  test("streaming curation pipeline matches batch q70 under at-least-once redelivery") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val docRows = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, String, String, String)]
    val docsDf = stream.toDF().toDF("doc_id", "text", "lang", "source")
    val q = graft.streaming.CurationStream
      .curationStats(docsDf, graft.ops.Tables.embeddings(spark, sfDir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("curation_stream_stats")
      .start()
    try {
      // every doc delivered twice, split across triggers — the fp-dedup
      // state must absorb the redelivery so stats equal exactly-once batch
      stream.addData(docRows)
      q.processAllAvailable()
      stream.addData(docRows)
      q.processAllAvailable()
      val streamed = spark.table("curation_stream_stats")
        .orderBy(col("source"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      val batch = graft.ops.QueryRegistry.byName("q70_curation").fn(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      assert(streamed.nonEmpty, "curation stream produced no stats")
      assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("curation dedup is first-wins: out-of-order duplicate arrival keeps the first arrival") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical text => identical fp; the higher doc_id arrives FIRST
    // ≥80 mostly-non-stopword words so the length and stopword-ratio
    // terms of qualityScore10k both clear the 5000 acceptance gate
    val text = "the quick brown fox " + (1 to 80).map(i => s"token$i").mkString(" ")
    // precondition: the text passes the lang/quality acceptance gate
    val gateQ = graft.ops.CurationOps
      .scoreDocs(Seq((1L, text, "en", "web")).toDF("doc_id", "text", "lang", "source"))
      .select(col("q10k"))
      .collect()
      .head
      .getLong(0)
    val gateLang = Seq(Tuple1(text)).toDF("text")
      .select(graft.ops.TextOps.langIdExpr(col("text")))
      .collect()
      .head
      .getString(0)
    assert(gateQ >= 5000L && gateLang == "en", s"gate text unsuitable: q=$gateQ lang=$gateLang")

    // distinct norms make the kept duplicate observable: |(0.6,0.8)|=1, |(3,4)|=5
    val emb = Seq(
      (10L, Array(0.6f, 0.8f)),
      (20L, Array(3.0f, 4.0f))
    ).toDF("vec_id", "embedding")

    val stream = MemoryStream[(Long, String, String, String)]
    val docsDf = stream.toDF().toDF("doc_id", "text", "lang", "source")
    val q = graft.streaming.CurationStream
      .acceptedDocs(docsDf, emb)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("curation_first_wins")
      .start()
    try {
      stream.addData(Seq((20L, text, "en", "web"))) // later doc_id, earlier arrival
      q.processAllAvailable()
      stream.addData(Seq((10L, text, "en", "web"))) // batch's min-doc_id canonical row
      q.processAllAvailable()
      val rows = spark.table("curation_first_wins").collect().map(r => r.getLong(2)).toSeq
      // first arrival (doc 20, n10k = 50000) wins; batch q70 would keep doc 10 (10000)
      assert(rows == Seq(50000L), s"expected first-arrival norm only, got $rows")
    } finally q.stop()
  }

  test("quota admission caps each source, dedups redelivery, and survives across triggers") {
    import graft.streaming.{QuotaDoc, QuotaStream}
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[QuotaDoc]
    val admitted = QuotaStream.admit(
      stream.toDS().dropDuplicates("docId"), // redelivery dedup upstream of the quota
      cap = 5
    )
    val q = admitted.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("quota_admitted")
      .start()
    try {
      // trigger 1: 4 docs for A (shuffled ids), 2 for B
      stream.addData(Seq(QuotaDoc(7, "A"), QuotaDoc(3, "A"), QuotaDoc(9, "A"), QuotaDoc(1, "A"), QuotaDoc(100, "B"), QuotaDoc(101, "B")))
      q.processAllAvailable()
      // trigger 2: redeliver two already-admitted A docs (must not burn
      // quota or re-emit) + 3 fresh A docs — only 1 slot remains
      stream.addData(Seq(QuotaDoc(3, "A"), QuotaDoc(7, "A"), QuotaDoc(2, "A"), QuotaDoc(8, "A"), QuotaDoc(4, "A")))
      q.processAllAvailable()
      val rows = spark.table("quota_admitted")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
      val a = rows.filter(_._2 == "A").sortBy(_._3)
      val b = rows.filter(_._2 == "B").sortBy(_._3)
      // trigger 1 admits all 4 A docs in docId order; trigger 2 has one
      // slot and admits the LOWEST fresh docId of that batch (2)
      assert(a.map(_._1) == Seq(1L, 3L, 7L, 9L, 2L), s"A admissions: $a")
      assert(a.map(_._3) == Seq(1L, 2L, 3L, 4L, 5L), s"A sequence: $a")
      assert(b.map(_._1) == Seq(100L, 101L), s"B admissions: $b")
      // trigger 3: A is exhausted — nothing more is ever admitted
      stream.addData(Seq(QuotaDoc(50, "A"), QuotaDoc(102, "B")))
      q.processAllAvailable()
      val after = spark.table("quota_admitted").collect()
      assert(after.count(_.getString(1) == "A") == 5, "A exceeded its cap")
      assert(after.count(_.getString(1) == "B") == 3, "fresh B doc not admitted")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join across micro-batches") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    // buys match a click by the same user within 10 minutes AFTER the click
    val clicks = Seq((1L, ts(0)), (2L, ts(5)), (3L, ts(30)))
    val buys = Seq(
      (1L, ts(3), 10.0), // matches click@0
      (1L, ts(20), 99.0), // outside the 10-minute window — no match
      (2L, ts(6), 20.0), // matches click@5
      (3L, ts(31), 30.0) // arrives in a LATER micro-batch than its click
    )
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    val joined = graft.streaming.EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "click_ts"),
      "click_ts",
      bs.toDF().toDF("user_id", "buy_ts", "amount"),
      "buy_ts",
      Seq("user_id"),
      watermarkDelay = "10 minutes",
      within = "10 minutes"
    )
    val out = new ConcurrentLinkedQueue[(Long, Timestamp, Timestamp, Double)]()
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach { r =>
          out.add((r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3)))
        }
        ()
      }
      .start()
    try {
      cs.addData(clicks) // all clicks first; user-3's buy comes later
      bs.addData(buys.take(3))
      q.processAllAvailable()
      bs.addData(buys.drop(3))
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq.sorted
      val batch = clicks
        .toDF("user_id", "click_ts")
        .as("l")
        .join(
          buys.toDF("user_id", "buy_ts", "amount").as("r"),
          col("l.user_id") === col("r.user_id") &&
            col("buy_ts") >= col("click_ts") &&
            col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 minutes")
        )
        .select(col("l.user_id"), col("click_ts"), col("buy_ts"), col("amount"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3)))
        .toSeq
        .sorted
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.size == 3, s"expected 3 joined rows, got $streamed")
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched rows once the watermark proves no match") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val cs = MemoryStream[(Long, Timestamp)]
    val bs = MemoryStream[(Long, Timestamp, Double)]
    val joined = graft.streaming.EventTime.intervalJoin(
      cs.toDF().toDF("user_id", "click_ts"),
      "click_ts",
      bs.toDF().toDF("user_id", "buy_ts", "amount"),
      "buy_ts",
      Seq("user_id"),
      watermarkDelay = "10 minutes",
      within = "10 minutes",
      joinType = "left_outer"
    )
    val out = new ConcurrentLinkedQueue[(Long, Boolean)]()
    val q = joined.writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach(r => out.add((r.getLong(0), !r.isNullAt(2))))
        ()
      }
      .start()
    try {
      cs.addData(Seq((1L, ts(0)), (9L, ts(1)))) // user 9 never buys
      bs.addData(Seq((1L, ts(3), 10.0)))
      q.processAllAvailable() // inner match for user 1 emits
      // advance BOTH watermarks far past click@1 + within + delay so the
      // join state for user 9 is provably unmatched...
      cs.addData(Seq((99L, ts(600))))
      bs.addData(Seq((99L, ts(700), 1.0)))
      q.processAllAvailable()
      // ...and one more micro-batch applies the advanced watermark,
      // evicting user-9's state as a null-extended row
      cs.addData(Seq((98L, ts(601))))
      bs.addData(Seq((98L, ts(701), 1.0)))
      q.processAllAvailable()
      val rows = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq
      assert(rows.contains((1L, true)), s"matched row missing: $rows")
      assert(rows.contains((9L, false)), s"unmatched left row not emitted null-extended: $rows")
    } finally q.stop()
  }

  test("streaming funnel matches batch q98 on real events under redelivery") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.{FunnelEvent, FunnelStream, StageReached}
    val sfDir = "/root/testdata/sf0.001"
    // all events in event-time order (the in-order regime where the
    // streaming machine provably equals the batch formulation)
    val evs = graft.ops.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .orderBy(col("us"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val stream = MemoryStream[FunnelEvent]
    val out = new ConcurrentLinkedQueue[StageReached]()
    val q = FunnelStream
      .track(stream.toDS(), Seq("view", "click", "purchase"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.Dataset[StageReached], _: Long) =>
        d.collect().foreach(out.add)
        ()
      }
      .start()
    try {
      val (first, second) = evs.splitAt(evs.size / 2)
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(first.takeRight(200)) // at-least-once redelivery
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
      stream.addData(second.take(200)) // replay across the batch boundary
      q.processAllAvailable()
      val streamed = Iterator.continually(out.poll()).takeWhile(_ != null).toSeq
      // exactly-once per (user, stage) despite redelivery
      assert(streamed.map(s => (s.userId, s.stage)).distinct.size == streamed.size)
      val stageCounts = streamed.groupBy(_.stage).view.mapValues(_.size.toLong).toMap
      val batch = graft.ops.QueryRegistry.byName("q98_funnel").fn(spark, sfDir)
        .collect()
        .map(r => (r.getString(0).takeWhile(_ != '_').toInt, r.getLong(1)))
        .toMap
      assert(stageCounts == batch, s"stream=$stageCounts batch=$batch")
    } finally q.stop()
  }

  test("incremental admission: history grows across batches; later near-copy is rejected") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.AdmissionStream
    val dir = tempDir("graft-admission")
    val historyDir = dir.resolve("history").toString
    val verdictDir = dir.resolve("verdicts").toString
    val docs = graft.ops.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val archive = docs.filter(col("doc_id") < 400)
    AdmissionStream.seedHistory(archive, historyDir)

    // the batch-q113 gate against an explicit history frame — the oracle
    // for each micro-batch's verdicts
    def expectedVs(histDocs: org.apache.spark.sql.DataFrame, incoming: Seq[(Long, String)]): Map[Long, Boolean] = {
      val inc = AdmissionStream.gramsOf(incoming.toDF("doc_id", "text"))
      val hist = AdmissionStream.gramsOf(histDocs).select("g").distinct()
      val totals = inc.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val hits = inc.join(hist, Seq("g"), "left_semi").groupBy("doc_id").agg(count(lit(1)).as("h"))
      totals
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), (coalesce(col("h"), lit(0L)) * 2 < col("n")).as("adm"))
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
    }

    val all = docs
      .filter(col("doc_id") >= 400)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val batch0 = all.take(50).toSeq
    val stream = MemoryStream[(Long, String)]
    val q = AdmissionStream.start(spark, stream.toDF().toDF("doc_id", "text"), historyDir, verdictDir)
    try {
      stream.addData(batch0)
      q.processAllAvailable()
      val v0 = spark.read
        .parquet(verdictDir)
        .filter(col("ingest_batch") === 0)
        .select("doc_id", "admitted")
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
      assert(v0.size == batch0.size)
      val exp0 = expectedVs(archive, batch0)
      batch0.foreach { case (id, _) =>
        assert(v0(id) == exp0.getOrElse(id, true), s"batch-0 verdict drift for doc $id")
      }

      // a verbatim copy of an ADMITTED batch-0 doc arrives in batch 1: it
      // must be rejected by history that GREW at batch 0 — the seed
      // archive alone admitted that text
      val dupOf = batch0.find(d => v0(d._1)).get
      val batch1 = all.drop(50).toSeq :+ ((9999L, dupOf._2))
      stream.addData(batch1)
      q.processAllAvailable()
      val v1 = spark.read
        .parquet(verdictDir)
        .filter(col("ingest_batch") === 1)
        .select("doc_id", "admitted")
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
      assert(!v1(9999L), "verbatim copy of a batch-0-admitted doc must be rejected in batch 1")
      val admitted0Ids = batch0.collect { case (id, _) if v0(id) => id }.toSet
      val grownHistory = archive.unionByName(
        batch0.filter(d => admitted0Ids(d._1)).toDF("doc_id", "text")
      )
      val exp1 = expectedVs(grownHistory, batch1)
      batch1.foreach { case (id, _) =>
        assert(v1(id) == exp1.getOrElse(id, true), s"batch-1 verdict drift for doc $id")
      }
    } finally q.stop()
  }

  test("winnow-fingerprint admission: same gate discipline at a fraction of the history size") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.AdmissionStream
    val dir = tempDir("graft-winnow-admission")
    val historyDir = dir.resolve("history").toString
    val verdictDir = dir.resolve("verdicts").toString
    val docs = graft.ops.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val archive = docs.filter(col("doc_id") < 400)
    // the winnowing value proposition in one assertion: the SAME archive
    // needs well under half the history rows when fingerprint-selected
    val gramRows = AdmissionStream.gramsOf(archive).count()
    val winRows = AdmissionStream.winnowFeaturesOf(archive).count()
    assert(winRows * 100 < gramRows * 60, s"winnow history $winRows not < 60% of gram $gramRows")
    AdmissionStream.seedHistory(archive, historyDir, AdmissionStream.winnowFeaturesOf)
    val stream = MemoryStream[(Long, String)]
    val q = AdmissionStream.start(
      spark,
      stream.toDF().toDF("doc_id", "text"),
      historyDir,
      verdictDir,
      AdmissionStream.winnowFeaturesOf
    )
    try {
      val fresh = docs
        .filter(col("doc_id") >= 400)
        .limit(30)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSeq
      val copied = archive.limit(1).collect().head.getString(1)
      stream.addData(fresh :+ ((8888L, copied)))
      q.processAllAvailable()
      val v = spark.read
        .parquet(verdictDir)
        .filter(col("ingest_batch") === 0)
        .select("doc_id", "admitted")
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
      assert(!v(8888L), "verbatim archive copy must be rejected by winnow admission")
      // exact verdict oracle: the same gate evaluated against an explicit
      // winnow-feature history frame
      val inc = AdmissionStream.winnowFeaturesOf((fresh :+ ((8888L, copied))).toDF("doc_id", "text"))
      val hist = AdmissionStream.winnowFeaturesOf(archive).select("g").distinct()
      val totals = inc.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val hits =
        inc.join(hist, Seq("g"), "left_semi").groupBy("doc_id").agg(count(lit(1)).as("h"))
      val expected = totals
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), (coalesce(col("h"), lit(0L)) * 2 < col("n")).as("adm"))
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
      (fresh.map(_._1) :+ 8888L).foreach { id =>
        assert(v(id) == expected.getOrElse(id, true), s"winnow verdict drift for doc $id")
      }
    } finally q.stop()
  }

  test("streaming drift monitor reports each closed window against its predecessor, matching batch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.{DriftObs, DriftReport, DriftStream}
    val dayMicros = 86400L * 1000000L
    // real events, quantized exactly like q117, daily event-time windows
    val obs = graft.ops.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select(
        col("event_type"),
        (unix_micros(col("ts")).cast("long") / dayMicros).cast("long").as("day"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents")
      )
      .collect()
      .map(r => DriftObs(r.getString(0), r.getLong(1) * dayMicros, r.getLong(2)))
      .sortBy(_.windowStart) // global window order ⇒ per-key windows never regress across batches
    val out = new ConcurrentLinkedQueue[DriftReport]()
    val stream = MemoryStream[DriftObs]
    val q = DriftStream
      .track(stream.toDS())
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.Dataset[DriftReport], _: Long) =>
        d.collect().foreach(out.add)
        ()
      }
      .start()
    try {
      val (first, second) = obs.splitAt(obs.length / 2)
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      val streamed = Iterator
        .continually(out.poll())
        .takeWhile(_ != null)
        .toVector
        .sortBy(r => (r.key, r.windowStart))

      // driver-side ground truth: per key, consecutive closed-window means;
      // the FIRST window has no predecessor and the LAST never closes
      val expected = obs
        .groupBy(_.key)
        .toVector
        .flatMap { case (k, os) =>
          val wins = os.groupBy(_.windowStart).toVector.sortBy(_._1).map { case (w, xs) =>
            (w, xs.length.toLong, math.floorDiv(xs.map(_.cents).sum, xs.length.toLong))
          }
          wins.dropRight(1).zipWithIndex.collect {
            case ((w, n, m), i) if i > 0 =>
              val prev = wins(i - 1)._3
              DriftReport(k, w, n, m, prev, math.abs(m - prev))
          }
        }
        .sortBy(r => (r.key, r.windowStart))
      assert(streamed == expected, s"stream=${streamed.take(3)}… batch=${expected.take(3)}…")
      assert(expected.size > 20, "corpus produced too few closed windows — test is vacuous")
    } finally q.stop()
  }

  test("streaming volume-anomaly monitor fences each closed window against trailing history, matching q147's algebra") {
    import graft.streaming.{AnomalyObs, AnomalyReport, AnomalyStream}
    val dayMicros = 86400L * 1000000L
    // real events keyed by event type, daily event-time windows; one obs
    // row per event — volume is counted, not carried
    val obs = graft.ops.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select(
        col("event_type"),
        (unix_micros(col("ts")).cast("long") / dayMicros).cast("long").as("day")
      )
      .collect()
      .map(r => AnomalyObs(r.getString(0), r.getLong(1) * dayMicros))
      .sortBy(_.windowStart) // per-key windows never regress across batches
    val out = new ConcurrentLinkedQueue[AnomalyReport]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[AnomalyObs]
    val q = AnomalyStream
      .track(stream.toDS())
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.Dataset[AnomalyReport], _: Long) =>
        d.collect().foreach(out.add)
        ()
      }
      .start()
    try {
      val (first, second) = obs.splitAt(obs.length / 2)
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      val streamed = Iterator
        .continually(out.poll())
        .takeWhile(_ != null)
        .toVector
        .sortBy(r => (r.key, r.windowStart))

      // driver-side ground truth: per key, each closed window judged
      // against the q147 fence over its trailing <=HistoryK predecessors;
      // the LAST window never closes
      def lowerMedian(xs: Seq[Long]): Long = {
        val sr = xs.sorted
        sr(((sr.length + 1) / 2) - 1)
      }
      val expected = obs
        .groupBy(_.key)
        .toVector
        .flatMap { case (k, os) =>
          val wins = os.groupBy(_.windowStart).toVector.sortBy(_._1).map { case (w, xs) =>
            (w, xs.length.toLong)
          }
          wins.dropRight(1).zipWithIndex.map { case ((w, n), i) =>
            val hist = wins.slice(math.max(0, i - AnomalyStream.HistoryK), i).map(_._2)
            if (hist.isEmpty) AnomalyReport(k, w, n, 0L, 0L, 0L, anomaly = false)
            else {
              val med = lowerMedian(hist)
              val mad = lowerMedian(hist.map(h => math.abs(h - med)))
              AnomalyReport(
                k,
                w,
                n,
                med,
                mad,
                hist.length.toLong,
                math.abs(n - med) * 10000L > 3L * 14826L * mad
              )
            }
          }
        }
        .sortBy(r => (r.key, r.windowStart))
      assert(streamed == expected, s"stream=${streamed.take(3)}… batch=${expected.take(3)}…")
      assert(expected.size > 20, "corpus produced too few closed windows — test is vacuous")
      assert(
        expected.count(_.histN >= AnomalyStream.HistoryK.toLong) > 5,
        "history ring never filled — eviction path untested"
      )
    } finally q.stop()
  }

  test("streaming mix monitor scores each closed window's category mix against the baseline, matching q155's TVD") {
    import graft.streaming.{MixObs, MixReport, MixStream}
    val dayMicros = 86400L * 1000000L
    // real events: one global key, daily event-time windows, the event
    // type as the category; baseline = the first 10 days' type mix (the
    // q155 early-epoch convention, counts at their natural scale)
    val rows = graft.ops.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select(
        (unix_micros(col("ts")).cast("long") / dayMicros).cast("long").as("day"),
        col("event_type")
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val firstDay = rows.head._1
    val baseline: Map[String, Long] = rows
      .filter(_._1 < firstDay + 10L)
      .groupBy(_._2)
      .map { case (c, xs) => c -> xs.length.toLong }
    val obs = rows.map { case (day, c) => MixObs("events", day * dayMicros, c) }
    val out = new ConcurrentLinkedQueue[MixReport]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[MixObs]
    val q = MixStream
      .track(stream.toDS(), baseline)
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.Dataset[MixReport], _: Long) =>
        d.collect().foreach(out.add)
        ()
      }
      .start()
    try {
      val (first, second) = obs.splitAt(obs.length / 2)
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      val streamed = Iterator
        .continually(out.poll())
        .takeWhile(_ != null)
        .toVector
        .sortBy(_.windowStart)
      // driver-side ground truth: every closed window (all but the last)
      // scored by the same integer TVD against the same baseline
      val expected = obs
        .groupBy(_.windowStart)
        .toVector
        .sortBy(_._1)
        .dropRight(1)
        .map { case (w, xs) =>
          val cats = xs.groupBy(_.category).map { case (c, ys) => c -> ys.length.toLong }
          MixReport("events", w, xs.length.toLong, MixStream.tvdBp(cats, baseline))
        }
      assert(streamed == expected, s"stream=${streamed.take(3)}… batch=${expected.take(3)}…")
      assert(expected.size > 20, "corpus produced too few closed windows — test is vacuous")
      assert(expected.exists(_.tvdBp > 0L), "every window matched baseline exactly — TVD path untested")
    } finally q.stop()
  }

  test("streaming CUSUM monitor reproduces the batch drift chart under redelivery") {
    import graft.streaming.{CusumObs, CusumReport, CusumStream}
    val sfDir = "/root/testdata/sf0.001"
    // same centered deviations as q188, in the same (doc_id) order
    val obs = graft.ops.Tables
      .documents(spark, sfDir)
      .select(
        col("source"),
        col("doc_id"),
        (TextOps.qualityScore10k(TextOps.tokens(col("text"))).cast("long") - 5000L).as("x")
      )
      .collect()
      .map(r => CusumObs(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.seq)
    val out = new ConcurrentLinkedQueue[CusumReport]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[CusumObs]
    val q = CusumStream
      .track(stream.toDS())
      .writeStream
      .outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.Dataset[CusumReport], _: Long) =>
        d.collect().foreach(out.add)
        ()
      }
      .start()
    try {
      val (first, second) = obs.splitAt(obs.length / 2)
      stream.addData(first.toSeq)
      q.processAllAvailable()
      // at-least-once redelivery: replay the tail of the first chunk —
      // the lastSeq guard must make it a no-op
      stream.addData(first.takeRight(20).toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      val lastByKey = Iterator
        .continually(out.poll())
        .takeWhile(_ != null)
        .toVector
        .groupBy(_.key)
        .map { case (k, rs) => k -> rs.maxBy(_.docs) }
      val batch = graft.ops.QueryRegistry
        .byName("q188_cusum_drift")
        .fn(spark, sfDir)
        .collect()
        .map(r =>
          r.getString(0) -> CusumReport(
            r.getString(0),
            r.getAs[Long]("docs"),
            r.getAs[Long]("max_up_cusum"),
            r.getAs[Long]("max_down_cusum"),
            r.getAs[Long]("net_drift")
          )
        )
        .toMap
      assert(batch.nonEmpty && batch.keySet == lastByKey.keySet)
      batch.foreach { case (k, exp) =>
        assert(lastByKey(k) == exp, s"key $k: stream ${lastByKey(k)} != batch $exp")
      }
    } finally q.stop()
  }

  test("streaming bitmap distinct is exact and redelivery-proof where a sum is not") {
    // q220's bounded-domain trick as a streaming aggregate: bit_or is
    // idempotent, so at-least-once redelivery CANNOT corrupt the distinct
    // count — the same replay visibly inflates a row counter. 8 bytes of
    // state per key in update/complete mode.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Long)] // (user_id, day in 0..63)
    val agg = stream
      .toDS()
      .toDF("user_id", "day")
      .groupBy(col("user_id"))
      .agg(
        expr("CAST(bit_count(bit_or(shiftleft(1L, CAST(day AS INT)))) AS BIGINT)")
          .as("active_days"),
        count(lit(1)).as("delivered_rows")
      )
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("bitmap_distinct")
      .start()
    try {
      val rows = for { u <- 1L to 5L; d <- 0L to (u * 3 % 7) } yield (u, d)
      stream.addData(rows)
      q.processAllAvailable()
      stream.addData(rows.take(8)) // at-least-once redelivery
      q.processAllAvailable()
      val got = spark
        .table("bitmap_distinct")
        .collect()
        .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("active_days"), r.getAs[Long]("delivered_rows")))
        .toMap
      val expected = rows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).distinct.size.toLong }
      got.foreach { case (u, (days, _)) =>
        assert(days == expected(u), s"user $u: bitmap $days != exact ${expected(u)}")
      }
      // the replayed rows DID reach the aggregate — the naive counter
      // inflated; the idempotent OR did not
      assert(got.values.map(_._2).sum == rows.size + 8L)
    } finally q.stop()
  }
}
