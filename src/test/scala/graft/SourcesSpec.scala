package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Sources

object FileProbe {
  val rows = new AtomicLong(0)
  val batches = new AtomicLong(0)
}

/** Source adapters: drop-directory file stream with per-trigger admission —
  * the producer/back-pressure surface of SURVEY §2.1 (demand window ≈
  * maxFilesPerTrigger), plus lifecycle hooks.
  */
class SourcesSpec extends SparkSpec {

  test("fileStream ingests a drop directory with per-trigger file admission") {
    FileProbe.rows.set(0)
    FileProbe.batches.set(0)
    val dir = tempDir("graft-src")
    val src = Paths.get("/root/testdata/sf0.001/nation.parquet")
    Files.copy(src, dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val df = Sources.fileStream(
      spark,
      "parquet",
      dir.toString,
      schemaFrom = Some(src.toString),
      maxFilesPerTrigger = Some(1)
    )
    val q = df.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        FileProbe.rows.addAndGet(d.count())
        FileProbe.batches.incrementAndGet()
        ()
      }
      .start()
    q.awaitTermination(60000)
    assert(FileProbe.rows.get() == 50, s"expected 2x25 nation rows, got ${FileProbe.rows.get()}")
    // admission: 1 file per trigger → at least 2 micro-batches
    assert(FileProbe.batches.get() >= 2)
  }

  // options.ex:98-128 → maxOffsetsPerTrigger: the kafka adapter's reader
  // config, asserted without a broker (integration-shape test).
  test("kafka adapter maps RateLimiting to maxOffsetsPerTrigger") {
    import graft.config.RateLimiting
    val opts = Sources.kafkaOptions(
      bootstrapServers = "broker1:9092,broker2:9092",
      topics = "events,clicks",
      rateLimiting = Some(RateLimiting(allowedMessages = 5000, intervalMs = 1000))
    )
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "events,clicks")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("maxOffsetsPerTrigger") == "5000")

    val unlimited = Sources.kafkaOptions("b:9092", "t", rateLimiting = None)
    assert(!unlimited.contains("maxOffsetsPerTrigger"))
    assert(unlimited("startingOffsets") == "earliest")
  }

  test("kafka adapter emits the full reader config for every subscription mode") {
    import graft.config.RateLimiting
    // subscribe (topic list): the complete option map, nothing extra
    val sub = Sources.kafkaOptions(
      "b1:9092",
      Sources.Subscribe("events,clicks"),
      Some(RateLimiting(allowedMessages = 250, intervalMs = 1000)),
      startingOffsets = "latest",
      failOnDataLoss = true
    )
    assert(
      sub == Map(
        "kafka.bootstrap.servers" -> "b1:9092",
        "subscribe" -> "events,clicks",
        "startingOffsets" -> "latest",
        "failOnDataLoss" -> "true",
        "maxOffsetsPerTrigger" -> "250"
      )
    )

    // subscribePattern: regex subscription, no rate limit key when absent
    val pat = Sources.kafkaOptions(
      "b1:9092",
      Sources.SubscribePattern("events-.*"),
      None,
      startingOffsets = "earliest",
      failOnDataLoss = false
    )
    assert(pat("subscribePattern") == "events-.*")
    assert(!pat.contains("subscribe") && !pat.contains("assign"))
    assert(pat("failOnDataLoss") == "false")
    assert(!pat.contains("maxOffsetsPerTrigger"))

    // assign: pinned partitions (ordering aligned with partition_by)
    val asg = Sources.kafkaOptions(
      "b1:9092",
      Sources.Assign("""{"events":[0,1,2]}"""),
      None,
      startingOffsets = """{"events":{"0":-2,"1":-2,"2":-2}}""",
      failOnDataLoss = false
    )
    assert(asg("assign") == """{"events":[0,1,2]}""")
    assert(asg("startingOffsets").contains("\"events\""))
    assert(!asg.contains("subscribe") && !asg.contains("subscribePattern"))

    // NOTE the spark-sql-kafka provider jar is not on this sandbox's
    // classpath, so `Sources.kafka(...)` (readStream wiring) cannot be
    // resolved here — the option map above IS the adapter's entire
    // behavior; the wiring is a one-line `.format("kafka").options(...)`.
  }

  test("jsonl reader parses good lines and routes malformed lines to the dead-letter frame") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-jsonl")
    Files.write(
      dir.resolve("part-0.jsonl"),
      java.util.Arrays.asList(
        """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
        """{"doc_id": 2, "text": "zweite zeile", "lang": "de"}""",
        "", // blank padding line: dropped, NOT a dead letter
        """{"doc_id": 3, "text": "truncated""", // malformed → dead letter
        """not json at all""" // malformed → dead letter
      )
    )
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)
    ))
    val (good, dead) = Sources.jsonl(spark, dir.toString, schema)
    val rows = good.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(rows == Seq((1L, "en"), (2L, "de")), s"got $rows")
    val dlq = dead.collect().map(_.getString(0)).toSet
    assert(dlq == Set("""{"doc_id": 3, "text": "truncated""", "not json at all"), s"got $dlq")

    // streaming twin over the same drop directory: same split, same rows
    val (goodS, deadS) = Sources.jsonlStream(spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
    val q1 = goodS.writeStream.format("memory").queryName("jsonl_good").trigger(Trigger.AvailableNow()).start()
    val q2 = deadS.writeStream.format("memory").queryName("jsonl_dead").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000); q2.awaitTermination(60000)
    assert(spark.table("jsonl_good").count() == 2)
    assert(spark.table("jsonl_dead").count() == 2)
  }

  test("csv reader parses good lines and routes malformed lines to the dead-letter frame") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-csv")
    Files.write(
      dir.resolve("part-0.csv"),
      java.util.Arrays.asList(
        "1,hello world,en",
        "2,zweite zeile,de",
        "", // blank padding line: dropped, NOT a dead letter
        "not-a-number,broken row,xx" // type mismatch → dead letter
      )
    )
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)
    ))
    val (good, dead) = Sources.csv(spark, dir.toString, schema)
    val rows = good.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(rows == Seq((1L, "en"), (2L, "de")), s"got $rows")
    val dlq = dead.collect().map(_.getString(0)).toSet
    assert(dlq == Set("not-a-number,broken row,xx"), s"got $dlq")

    // streaming twin over the same drop directory: same split, same rows
    val (goodS, deadS) = Sources.csvStream(spark, dir.toString, schema, maxFilesPerTrigger = Some(1))
    val q1 = goodS.writeStream.format("memory").queryName("csv_good").trigger(Trigger.AvailableNow()).start()
    val q2 = deadS.writeStream.format("memory").queryName("csv_dead").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000); q2.awaitTermination(60000)
    assert(spark.table("csv_good").count() == 2)
    assert(spark.table("csv_dead").count() == 1)
  }

  test("orc round-trip preserves schema; predicates and pruning reach the ORC scan") {
    val dir = tempDir("graft-orc").resolve("docs").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").orc(dir)
    val back = Sources.orc(spark, dir)
    assert(back.schema == docs.schema, s"schema drift: ${back.schema} vs ${docs.schema}")
    assert(back.count() == docs.count())
    val q = back.filter(org.apache.spark.sql.functions.col("lang") === "en").select("doc_id", "lang")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("lang"), s"filter not pushed to ORC scan:\n$p")
    assert(!p.contains("text"), s"ORC scan reads a column the query never touches:\n$p")
    assert(q.count() == docs.filter("lang = 'en'").count())
  }

  test("splitJsonl partitions an arbitrary line mix: good and dead are disjoint and exhaustive") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val valid = (1 to 40).map(i => s"""{"id": $i, "text": "${rnd.alphanumeric.take(8).mkString}"}""")
    // trailing '{' keeps every garbage line unparseable regardless of prefix
    val garbage = (1 to 17).map(_ => rnd.alphanumeric.take(rnd.nextInt(20)).mkString + "{")
    val lines = rnd.shuffle(valid ++ garbage)
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val (good, dead) = Sources.splitJsonl(lines.toDF("value"))(schema)
    assert(good.select("id").collect().map(_.getLong(0)).toSet == (1L to 40L).toSet)
    assert(dead.collect().map(_.getString(0)).toSet == garbage.toSet)
  }

  test("schema evolution: mergeSchema unifies generations, old files read new columns as null") {
    // a corpus written over months gains columns; readers must see ONE
    // unified schema without rewriting petabytes of old files — Parquet
    // schema merge is that contract (additive evolution only; renames or
    // type changes still require a rewrite pass)
    import spark.implicits._
    val dir = tempDir("graft-evo").toString
    Seq((1L, "alpha")).toDF("id", "text").write.parquet(s"$dir/gen=1")
    Seq((2L, "beta", 0.9)).toDF("id", "text", "quality").write.parquet(s"$dir/gen=2")
    val df = spark.read.option("mergeSchema", true).parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("gen", "id", "quality", "text"))
    val byId = df.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("quality"))) // old gen: null-extended
    assert(byId(2L).getAs[Double]("quality") == 0.9)
    assert(byId(1L).getAs[Int]("gen") == 1 && byId(2L).getAs[Int]("gen") == 2)
  }

  test("prepareForStart and prepareForDraining hooks fire in order") {
    import graft.config.PipelineConfig
    import graft.testkit.TestPipeline
    import spark.implicits._
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val cfg = PipelineConfig[Int](
      name = "hooks",
      prepareForStart = () => { events += "start"; () },
      prepareForDraining = () => { events += "drain"; () }
    )
    val tp = new TestPipeline(spark, cfg)
    tp.testMessage(1)
    tp.processAllAvailable()
    tp.stop()
    assert(events.toList == List("start", "drain"))
  }
}
