package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.model.Message
import graft.streaming.{EmittedBatch, KeyedBatcher}

object EmitProbe {
  val emitted = new ConcurrentLinkedQueue[(String, String, String, Seq[Int])]()
  def drain(): Seq[(String, String, String, Seq[Int])] =
    Iterator.continually(emitted.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = emitted.clear()
}

/** String-rendered probe for the case-class payload specs (payloads are
  * rendered to stable strings at emit time).
  */
object EmitProbeS {
  val emitted = new ConcurrentLinkedQueue[(String, Seq[String])]()
  def drain(): Seq[(String, Seq[String])] =
    Iterator.continually(emitted.poll()).takeWhile(_ != null).toSeq
  def clear(): Unit = emitted.clear()
}

/** The evolution pair: V2 is V1 plus an added nullable field — the
  * payload change [[KeyedBatcher]]'s Avro-encoded list state survives
  * across a checkpoint restart.
  */
case class PayV1(s: String)
case class PayV2(s: String, n: Option[Long] = None)

/** A payload with no product encoder (a plain class, not a case class):
  * it reaches the batcher only through a binary encoder such as kryo.
  */
class Opaque(val v: Int) extends Serializable

/** Streaming-state batching: size batches within and across micro-batches,
  * timeout flush of open batches (batcher_stage.ex:80-89,106-257).
  *
  * NOTE: `transformWithState` queries in processing-time mode always
  * "require another batch" (a timer may fire), so `processAllAvailable()`
  * never quiesces — these specs poll the probe with a deadline instead.
  */
class KeyedBatcherSpec extends SparkSpec {

  import spark.implicits._

  private def awaitEmitted(
      atLeast: Int,
      timeoutMs: Long = 20000
  ): Seq[(String, String, String, Seq[Int])] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var got = Seq.empty[(String, String, String, Seq[Int])]
    while (got.size < atLeast && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      got = got ++ EmitProbe.drain()
    }
    got
  }

  test("size batches across micro-batches; timeout flushes the remainder") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    val batches = KeyedBatcher(stream.toDS(), batchSize = 10, batchTimeoutMs = 300)
    val query = batches.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      // 15 messages: one full size-10 batch emits; 5 buffer until the
      // processing-time timer fires, then flush with trigger "timeout".
      stream.addData((1 to 15).map(i => Message(i, metadata = Map("seq" -> i.toString))))
      val got = awaitEmitted(atLeast = 2)
      assert(got.size == 2, s"expected size+timeout batches, got $got")
      assert(got.head._3 == "size")
      assert(got.head._4 == (1 to 10))
      assert(got(1)._3 == "timeout")
      assert(got(1)._4 == (11 to 15))
    } finally query.stop()
  }

  test("timeout clock starts at batch OPEN: a steady trickle cannot defer the flush forever") {
    // Regression (self-review r12): the timer was re-armed a full
    // batchTimeoutMs on every data-carrying micro-batch, so messages
    // trickling faster than the timeout deferred the flush until the
    // size trigger — unbounded latency for the batch's FIRST message.
    // The reference starts the clock when the batch opens
    // (batcher_stage.ex:80-89). With a 600 ms timeout and a ~200 ms
    // trickle (size trigger far away), the open batch must flush on
    // timeout WHILE the trickle continues: at least two timeout batches
    // across the run, none holding all the messages.
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    val batches = KeyedBatcher(stream.toDS(), batchSize = 100, batchTimeoutMs = 600)
    val query = batches.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      // warm the query first: the FIRST micro-batch pays seconds of
      // codegen/state-store init and would swallow the whole trickle
      // into one batch, making the assertion vacuous on a cold JVM
      stream.addData(Message(0, metadata = Map("seq" -> "0")))
      awaitEmitted(atLeast = 1)
      EmitProbe.clear()
      (1 to 14).foreach { i =>
        stream.addData(Message(i, metadata = Map("seq" -> i.toString)))
        Thread.sleep(250)
      }
      val got = awaitEmitted(atLeast = 2)
      assert(got.forall(_._3 == "timeout"), s"expected timeout flushes, got $got")
      assert(got.size >= 2, s"trickle deferred the timeout to one terminal flush: $got")
      assert(got.head._4.size < 14, s"first flush held the whole trickle: ${got.head}")
      // nothing lost, nothing duplicated, arrival order preserved
      assert(got.flatMap(_._4) == got.flatMap(_._4).sorted)
    } finally query.stop()
  }

  test("custom splitter accumulator spans micro-batches") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    // emit when cumulative weight reaches 10
    val sp = graft.config.BatchSplitter[Int](0L, (m, acc) => {
      val next = acc + m.data
      (next >= 10, next)
    })
    val batches = KeyedBatcher(stream.toDS(), batchTimeoutMs = 600000, splitter = Some(sp))
    val query = batches.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      // 4+4=8 < 10: buffered across the micro-batch boundary with acc=8
      // (poll, don't processAllAvailable: timeout-state queries never quiesce)
      stream.addData(Seq(Message(4, metadata = Map("seq" -> "1")), Message(4, metadata = Map("seq" -> "2"))))
      Thread.sleep(1500)
      assert(EmitProbe.drain().isEmpty)
      // +3 → 11 ≥ 10: the accumulated state (not just this batch) emits
      stream.addData(Seq(Message(3, metadata = Map("seq" -> "3"))))
      val out = awaitEmitted(atLeast = 1)
      assert(out.map(_._3) == Seq("size"))
      assert(out.head._4 == Seq(4, 4, 3))
    } finally query.stop()
  }

  test("open-batch state survives a query restart via checkpoint") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-ckpt").toString
    val stream = MemoryStream[Message[Int]]

    def startQuery() = KeyedBatcher(stream.toDS(), batchSize = 10, batchTimeoutMs = 600000).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()

    val q1 = startQuery()
    try {
      stream.addData((1 to 7).map(i => Message(i, metadata = Map("seq" -> i.toString))))
      Thread.sleep(2000) // let the micro-batch buffer the 7 into state
      assert(EmitProbe.drain().isEmpty)
    } finally q1.stop()

    // crash/restart analog (topology.ex:506-557 → checkpoint recovery):
    // the recovered state still holds 1..7
    val q2 = startQuery()
    try {
      stream.addData((8 to 12).map(i => Message(i, metadata = Map("seq" -> i.toString))))
      val out = awaitEmitted(atLeast = 1)
      assert(out.map(_._3) == Seq("size"))
      assert(out.head._4 == (1 to 10), s"state lost across restart: ${out.head._4}")
    } finally q2.stop()
  }

  test("statePartitions binds the batcher's stateful width without touching the session") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val query = KeyedBatcher(stream.toDS(), batchSize = 2, batchTimeoutMs = 600000,
      statePartitions = Some(2)).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      stream.addData(Seq(Message(1, metadata = Map("seq" -> "1")), Message(2, metadata = Map("seq" -> "2"))))
      assert(awaitEmitted(atLeast = 1).nonEmpty)
      // progress events trail the foreachBatch callback (and idle events
      // carry no stateOperators) — poll the recent ring for the
      // data-carrying batch
      def widths() = query.recentProgress.flatMap(_.stateOperators).map(_.numShufflePartitions)
      val deadline = System.currentTimeMillis() + 20000
      while (widths().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(widths().nonEmpty && widths().max == 2L,
        s"batcher state width not bound to the operator parameter: ${widths().toSeq}")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == sessionWidth)
    } finally query.stop()
  }

  test("non-positive batch size or timeout is rejected like PipelineConfig.validate") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ds = MemoryStream[Message[PayV1]].toDS()
    assert(intercept[IllegalArgumentException](KeyedBatcher(ds, batchSize = 0, batchTimeoutMs = 1000L))
      .getMessage.contains("batch_size must be positive"))
    assert(intercept[IllegalArgumentException](KeyedBatcher(ds, batchSize = 10, batchTimeoutMs = 0L))
      .getMessage.contains("batch_timeout must be positive"))
    // a splitter replaces the size budget, so batchSize is then unused
    val sp = graft.config.BatchSplitter[PayV1](0L, (_, acc) => (false, acc))
    KeyedBatcher(ds, batchSize = 0, splitter = Some(sp))
  }

  test("incremental: ADDING a payload field between checkpoint and resume still drains the open batch") {
    // State written with Message[PayV1] is read back by a query compiled
    // against Message[PayV2] (one added nullable field) — Avro-encoded
    // state evolves the schema, old rows null-fill the new field, and the
    // buffered batch drains.
    EmitProbeS.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-evolve").toString

    val s1 = MemoryStream[Message[PayV1]]
    val batches1 = KeyedBatcher(s1.toDS(), batchSize = 10, batchTimeoutMs = 600000)
    // changelog checkpointing binds on the batcher's cloned session only
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert(batches1.sparkSession.conf.get(changelog) == "true")
    assert(spark.conf.getOption(changelog).isEmpty, "caller's session was modified")
    val q1 = batches1.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[PayV1]], _: Long) =>
        ds.collect().foreach(b => EmitProbeS.emitted.add((b.trigger, b.messages.map(_.data.s))))
        ()
      }
      .start()
    try {
      s1.addData((1 to 7).map(i => Message(PayV1(s"m$i"), metadata = Map("seq" -> i.toString))))
      // wait until a committed micro-batch has actually CONSUMED the 7
      // (cold RocksDB+Avro startup can exceed seconds; stopping earlier
      // kills batch 0 mid-flight and checkpoints nothing)
      val deadline = System.currentTimeMillis() + 60000
      def consumed(): Long = q1.recentProgress.map(_.numInputRows).sum
      while (consumed() < 7 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(consumed() >= 7, "first query never buffered the batch into state")
      Thread.sleep(500) // let the commit finish before stop
      assert(EmitProbeS.drain().isEmpty)
    } finally q1.stop()

    // "deploy": the payload class gained a field; resume the SAME checkpoint.
    // The new-typed MemoryStream needs a placeholder block 0 — the
    // checkpoint already committed the old stream's block 0, so the
    // restarted query resumes reading at block 1 (offset alignment, not
    // an engine concern)
    val s2 = MemoryStream[Message[PayV2]]
    s2.addData(Seq.empty[Message[PayV2]])
    val q2 = KeyedBatcher(s2.toDS(), batchSize = 10, batchTimeoutMs = 600000).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[PayV2]], _: Long) =>
        ds.collect().foreach(b =>
          EmitProbeS.emitted.add((b.trigger, b.messages.map(m => s"${m.data.s}/${m.data.n}"))))
        ()
      }
      .start()
    try {
      s2.addData((8 to 10).map(i =>
        Message(PayV2(s"m$i", Some(i.toLong)), metadata = Map("seq" -> i.toString))))
      val deadline = System.currentTimeMillis() + 30000
      var got = Seq.empty[(String, Seq[String])]
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); got = got ++ EmitProbeS.drain()
      }
      assert(got.map(_._1) == Seq("size"), s"open batch did not drain after evolution: $got")
      assert(got.head._2 ==
        (1 to 7).map(i => s"m$i/None") ++ (8 to 10).map(i => s"m$i/Some($i)"),
        s"evolved payloads wrong: ${got.head._2}")
    } finally q2.stop()
  }

  test("incremental == apply: deterministic differential across keys, flush modes, and wave splits") {
    // The message sequence (3 batch keys, interleaved, flush messages,
    // size boundaries straddling waves) runs through KeyedBatcher in three
    // waves with an unreachable timeout. The reference is the pure
    // foldGroup, run offline per batch key over the same messages in seq
    // order (where the waves split cannot change it: SplitterPropSpec's
    // wave-split property). Emitted batches must be identical per key, in
    // order, trigger included — the append fast path must be invisible.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msgs = (1 to 60).map { i =>
      Message(
        PayV1(s"m$i"),
        metadata = Map("seq" -> i.toString),
        batchKey = s"k${i % 3}",
        batchMode = if (i % 17 == 0) graft.model.BatchMode.Flush else graft.model.BatchMode.Bulk)
    }
    def order(bs: Seq[(String, String, Seq[String])]) = bs.sortBy(b => (b._1, b._3.head.drop(1).toInt))
    val out = new ConcurrentLinkedQueue[(String, String, Seq[String])]()
    val s = MemoryStream[Message[PayV1]]
    val q = KeyedBatcher(s.toDS(), batchSize = 7, batchTimeoutMs = 600000).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[PayV1]], _: Long) =>
        ds.collect().foreach(b => out.add((b.batchKey, b.trigger, b.messages.map(_.data.s))))
        ()
      }
      .start()
    try {
      msgs.grouped(20).foreach { wave =>
        s.addData(wave)
        val deadline = System.currentTimeMillis() + 20000
        while (q.recentProgress.map(_.numInputRows).sum <
          msgs.indexOf(wave.last) + 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
      }
      Thread.sleep(500)
    } finally q.stop()
    val inc = order(Iterator.continually(out.poll()).takeWhile(_ != null).toSeq)
    val ref = order(msgs.groupBy(_.batchKey).toSeq.flatMap { case (k, ms) =>
      KeyedBatcher.foldGroup("default", k, None, 0L, ms, batchSize = 7,
        batchTimeoutMs = 600000L, splitter = None)._1
        .map(b => (b.batchKey, b.trigger, b.messages.map(_.data.s)))
    })
    assert(ref.nonEmpty, "differential is vacuous — nothing emitted")
    assert(inc == ref, s"list state diverged from foldGroup:\nfoldGroup=$ref\nKeyedBatcher=$inc")
  }

  test("incremental: buffered rows are per-message list state, inspectable and restart-drainable") {
    // One open group of 6 messages: StateInspect over stateVarName "buf"
    // must see SIX rows (one per buffered message), and a RESTART against the same
    // checkpoint must drain the buffer intact on timeout.
    EmitProbeS.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val checkpoint = tempDir("graft-inc-inspect").toString
    val s1 = MemoryStream[Message[PayV1]]
    val q1 = KeyedBatcher(s1.toDS(), batchSize = 100, batchTimeoutMs = 600000)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[PayV1]], _: Long) =>
        ds.collect().foreach(b => EmitProbeS.emitted.add((b.trigger, b.messages.map(_.data.s))))
        ()
      }
      .start()
    try {
      // two waves — the second rides the append FAST PATH (no emission)
      s1.addData((1 to 4).map(i =>
        Message(PayV1(s"m$i"), metadata = Map("seq" -> i.toString), batchKey = "hot")))
      val deadline = System.currentTimeMillis() + 60000
      def consumed(): Long = q1.recentProgress.map(_.numInputRows).sum
      while (consumed() < 4 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      s1.addData((5 to 6).map(i =>
        Message(PayV1(s"m$i"), metadata = Map("seq" -> i.toString), batchKey = "hot")))
      while (consumed() < 6 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(consumed() >= 6)
      Thread.sleep(500)
    } finally q1.stop()
    val rows = graft.streaming.StateInspect
      .stateRows(spark, checkpoint, stateVarName = Some("buf")).collect()
    assert(rows.length == 6, s"expected one state row per buffered message, got ${rows.length}")
    val hot = graft.streaming.StateInspect
      .hotKeys(spark, checkpoint, stateVarName = Some("buf"), topK = 1, rankBy = "rows").collect()
    assert(hot.length == 1 && hot.head.getAs[Long]("state_rows") == 6L)
    assert(hot.head.getAs[Long]("state_bytes_est") > 0L)
    // the value-state variable: one "meta" row for the one open group,
    // its (batcher, batchKey) key visible
    val meta = graft.streaming.StateInspect
      .stateRows(spark, checkpoint, stateVarName = Some("meta")).collect()
    assert(meta.length == 1, s"expected the one open group, got ${meta.toSeq}")
    val key = meta.head.getStruct(meta.head.fieldIndex("key"))
    assert(key.toSeq.contains("hot"), s"group key not visible: $key")
    // restart with batchSize 7: one more message tips the recovered
    // 6-message buffer over the size trigger — the checkpointed list
    // state must drain in order (placeholder blocks align the offsets)
    EmitProbeS.clear()
    val s2 = MemoryStream[Message[PayV1]]
    s2.addData(Seq.empty[Message[PayV1]])
    s2.addData(Seq.empty[Message[PayV1]])
    val q2 = KeyedBatcher(s2.toDS(), batchSize = 7, batchTimeoutMs = 600000)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[PayV1]], _: Long) =>
        ds.collect().foreach(b => EmitProbeS.emitted.add((b.trigger, b.messages.map(_.data.s))))
        ()
      }
      .start()
    try {
      s2.addData(Seq(Message(PayV1("m7"), metadata = Map("seq" -> "7"), batchKey = "hot")))
      val deadline = System.currentTimeMillis() + 60000
      var got = Seq.empty[(String, Seq[String])]
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); got = got ++ EmitProbeS.drain()
      }
      assert(got.nonEmpty, "restart did not drain the list-state buffer")
      assert(got.head._1 == "size" && got.head._2 == (1 to 7).map(i => s"m$i"),
        s"buffer content/order lost across restart: $got")
    } finally q2.stop()
  }

  test("hotKeys byte estimate tracks ACTUAL checkpoint state-file growth for binary-blob values") {
    // One binary blob per group — the value shape a JSON-length estimate
    // inflates by 4/3 (base64) plus framing. The physical estimator
    // charges the blob's exact octet length, so the estimate's DELTA
    // between a narrow-payload run and a wide-payload run must track the
    // checkpoint state dir's actual on-disk growth, and the wide key must
    // top the ranking. The blob comes from a local flatMapGroupsWithState
    // producer on the session's default provider: KeyedBatcher's RocksDB
    // store uploads a snapshot with its first commit beside that commit's
    // changelog, so its state dir holds each first-batch byte twice and
    // its growth measures the provider's layout, not the state.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def du(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    def run(checkpoint: String, wideA: Boolean): Unit = {
      val s = MemoryStream[Message[String]]
      // per (batcher, batchKey): the group's payload bytes so far, one blob
      val q = s.toDS()
        .groupByKey((m: Message[String]) => (m.batcher, m.batchKey))
        .flatMapGroupsWithState[Array[Byte], Int](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (_: (String, String), it: Iterator[Message[String]], st: GroupState[Array[Byte]]) =>
            st.update(st.getOption.getOrElse(Array.emptyByteArray) ++
              it.flatMap(_.data.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            Iterator.empty
        }
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime(100))
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Int], _: Long) =>
          ds.collect() // consume every partition (commit validation); nothing emits here
          ()
        }
        .start()
      try {
        // INCOMPRESSIBLE wide payloads (deterministic random alnum): the
        // provider LZ4-compresses its delta files, so a repeated-char
        // payload would vanish on disk and the growth comparison below
        // would measure the codec, not the state
        val rnd = new scala.util.Random(7)
        def blob(n: Int): String = {
          val alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
          Iterator.fill(n)(alnum(rnd.nextInt(alnum.length))).mkString
        }
        s.addData(
          (1 to 3).map(i => Message(blob(if (wideA) 40000 else 16),
            metadata = Map("seq" -> i.toString), batchKey = "a")) ++
            (1 to 3).map(i => Message(blob(16),
              metadata = Map("seq" -> i.toString), batchKey = "b")))
        val deadline = System.currentTimeMillis() + 60000
        def consumed(): Long = q.recentProgress.map(_.numInputRows).sum
        while (consumed() < 6 && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(consumed() >= 6)
        Thread.sleep(300)
      } finally q.stop()
    }
    def estSum(checkpoint: String): Long = graft.streaming.StateInspect
      .hotKeys(spark, checkpoint, topK = 10)
      .agg(org.apache.spark.sql.functions.sum("state_bytes_est")).head().getLong(0)
    val ckNarrow = tempDir("graft-bytes-narrow").toString
    val ckWide = tempDir("graft-bytes-wide").toString
    run(ckNarrow, wideA = false)
    run(ckWide, wideA = true)
    // ranking: the wide key tops the bytes ranking, not just the row count
    val top = graft.streaming.StateInspect.hotKeys(spark, ckWide, topK = 2).collect()
    assert(top.length == 2 && top.head.getAs[String]("_2") == "a",
      s"wide-blob key must rank first by bytes: ${top.toSeq}")
    assert(top.head.getAs[Long]("state_rows") == top(1).getAs[Long]("state_rows"),
      "precondition: both keys hold ONE blob — only bytes separate them")
    // growth attribution: estimate delta vs actual state-file growth
    // (identical runs except the payload width, so per-run provider
    // overhead cancels in the delta)
    val dEst = estSum(ckWide) - estSum(ckNarrow)
    val dDu = du(s"$ckWide/state") - du(s"$ckNarrow/state")
    assert(dEst > 50000, s"estimate delta must see the ~120 KB payload, got $dEst")
    assert(dDu > 0, s"state files must actually have grown, got $dDu")
    val ratio = dEst.toDouble / dDu.toDouble
    assert(ratio > 0.5 && ratio < 2.0,
      s"estimate delta ($dEst) must track actual state-file growth ($dDu), ratio $ratio")
  }

  test("flush-mode message flushes its open batch immediately") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    val batches = KeyedBatcher(stream.toDS(), batchSize = 100, batchTimeoutMs = 600000)
    val query = batches.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      stream.addData(Seq(Message(1, metadata = Map("seq" -> "1")), Message(2, metadata = Map("seq" -> "2"))))
      Thread.sleep(1000)
      assert(EmitProbe.drain().isEmpty) // buffered: far from size, long timeout
      stream.addData(Seq(Message(3, metadata = Map("seq" -> "3"), batchMode = "flush")))
      val out = awaitEmitted(atLeast = 1)
      assert(out.map(_._3) == Seq("flush"))
      assert(out.head._4 == Seq(1, 2, 3))
    } finally query.stop()
  }

  // batcher_stage.ex:178-179 — the batch is delivered AT the flush message;
  // later arrivals in the same trigger open a new batch.
  test("messages after a flush message in the same trigger start a new batch") {
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Message[Int]]
    val batches = KeyedBatcher(stream.toDS(), batchSize = 100, batchTimeoutMs = 600000)
    val query = batches.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      stream.addData(
        Seq(
          Message(1, metadata = Map("seq" -> "1")),
          Message(2, metadata = Map("seq" -> "2"), batchMode = "flush"),
          Message(3, metadata = Map("seq" -> "3"))
        )
      )
      val out = awaitEmitted(atLeast = 1)
      assert(out == Seq(("default", "default", "flush", Seq(1, 2))), s"flush boundary leaked: $out")
      // 3 is buffered in a fresh batch; a later flush delivers it
      stream.addData(Seq(Message(4, metadata = Map("seq" -> "4"), batchMode = "flush")))
      val next = awaitEmitted(atLeast = 1)
      assert(next == Seq(("default", "default", "flush", Seq(3, 4))), s"new batch wrong: $next")
    } finally query.stop()
  }

  test("an open batch registers its timeout timer once, not on every append") {
    // Spark's TimerStateImpl.registerTimer reads state to look the timer
    // up and logs a WARN "... since it already exists" when it finds it,
    // so re-registering an open batch's unchanged deadline on every
    // append costs a state read and a log line per group per trigger.
    // Three append-only waves into one open group must log no such line,
    // and the one timer registered when the batch opened still flushes it.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    EmitProbe.clear()
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val timerLog = "org.apache.spark.sql.execution.streaming.operators.stateful." +
      "transformwithstate.timers.TimerStateImpl"
    val warnings = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("timer-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { warnings.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    val logger = LogManager.getLogger(timerLog).asInstanceOf[Logger]
    val priorLevel = logger.getLevel
    logger.addAppender(appender)
    Configurator.setLevel(timerLog, Level.WARN)
    // the capture is live: a WARN on the timer logger reaches it
    LogManager.getLogger(timerLog).warn("probe")
    assert(warnings.poll() == "probe", "appender does not see the timer logger's WARN lines")
    val stream = MemoryStream[Message[Int]]
    val query = KeyedBatcher(stream.toDS(), batchSize = 100, batchTimeoutMs = 6000,
      statePartitions = Some(1)).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Int]], _: Long) =>
        ds.collect().foreach { b =>
          EmitProbe.emitted.add((b.batcher, b.batchKey, b.trigger, b.messages.map(_.data)))
        }
        ()
      }
      .start()
    try {
      def consumed(): Long = query.recentProgress.map(_.numInputRows).sum
      val deadline = System.currentTimeMillis() + 60000
      (0 until 3).foreach { w =>
        stream.addData((1 to 3).map(i => 3 * w + i).map(i => Message(i, metadata = Map("seq" -> i.toString))))
        while (consumed() < 3 * (w + 1) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      }
      assert(consumed() == 9, s"the three waves were not consumed: ${consumed()}")
      val again = warnings.toArray.toSeq.map(_.toString).filter(_.contains("already exists"))
      assert(again.isEmpty, s"the open batch's timer was registered again: $again")
      val out = awaitEmitted(atLeast = 1)
      assert(out == Seq(("default", "default", "timeout", 1 to 9)), s"timeout did not flush the batch: $out")
    } finally {
      query.stop()
      logger.removeAppender(appender)
      Configurator.setLevel(timerLog, priorLevel)
    }
  }

  test("opaque payloads buffer across a micro-batch and emit by size through kryo encoders") {
    // Opaque has no product encoder: Message[Opaque] and
    // EmittedBatch[Opaque] are kryo-encoded, so the list state holds one
    // binary value per buffered message.
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val msgEnc = org.apache.spark.sql.Encoders.kryo[Message[Opaque]]
    val outEnc = org.apache.spark.sql.Encoders.kryo[EmittedBatch[Opaque]]
    val out = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val stream = MemoryStream[Message[Opaque]](msgEnc, sql)
    val query = KeyedBatcher(stream.toDS(), batchSize = 5, batchTimeoutMs = 600000)(msgEnc, outEnc)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[EmittedBatch[Opaque]], _: Long) =>
        ds.collect().foreach(b => out.add((b.trigger, b.messages.map(_.data.v))))
        ()
      }
      .start()
    def msgs(r: Range) = r.map(i => Message(new Opaque(i), metadata = Map("seq" -> i.toString)))
    try {
      def consumed(): Long = query.recentProgress.map(_.numInputRows).sum
      val deadline = System.currentTimeMillis() + 60000
      stream.addData(msgs(1 to 3))
      while (consumed() < 3 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(consumed() == 3, "the first wave was not consumed")
      assert(out.isEmpty, s"3 of 5 messages emitted early: $out")
      stream.addData(msgs(4 to 6))
      while (out.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(out.toArray.toSeq == Seq(("size", 1 to 5)), s"size batch wrong: ${out.toArray.toSeq}")
    } finally query.stop()
  }
}
