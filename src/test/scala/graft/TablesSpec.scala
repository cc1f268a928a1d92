package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.ops.Tables

/** `Tables.table` pins each file's inferred schema: a repeated read runs no
  * inference job, plans the same scan as an unpinned read, and re-resolves
  * when the file or the session's Parquet read confs change.
  */
class TablesSpec extends SparkSpec {
  /** A table directory holding one single-file `documents` table. */
  private lazy val sfDir = {
    import spark.implicits._
    val dir = tempDir("graft_tables_docs")
    val docs = (1L to 40L).map(i => (i, s"text $i", if (i % 3 == 0) "de" else "en", s"src${i % 4}", 5L + i))
    writeTable(docs.toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    dir.toString
  }

  /** Job groups of every job started, in start order. */
  private val jobGroups = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Spark jobs `body` launches on this thread. A marker job started after
    * it is awaited on the listener bus, which delivers job starts in order,
    * so every job of `body` has been seen by then.
    */
  private def jobsOf(body: => Unit): Int = {
    listener
    val group = java.util.UUID.randomUUID().toString
    val marker = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setJobGroup(group, "TablesSpec probe")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, "TablesSpec marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobGroups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(jobGroups.contains(marker), "marker job never reached the listener")
    jobGroups.asScala.count(_ == group)
  }

  /** Write `df` as a single Parquet file at `dir/name.parquet`, replacing
    * whatever is there (the testdata layout: one file per table).
    */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = tempDir("graft_tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("d").toString)
    val part = Files.list(out.resolve("d")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def scanMeta(df: DataFrame, key: String): Seq[String] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s.metadata(key) }

  test("a second Tables.documents in one session launches no Spark job") {
    Tables.documents(spark, sfDir)
    assert(jobsOf(Tables.documents(spark, sfDir)) == 0)
    // the unpinned read it replaces runs the inference job every time
    assert(jobsOf(spark.read.parquet(s"$sfDir/documents.parquet")) > 0)
  }

  test("the pinned read has the unpinned schema, ReadSchema and PushedFilters") {
    val unpinned = spark.read.parquet(s"$sfDir/documents.parquet")
    val pinned = Tables.documents(spark, sfDir)
    assert(pinned.schema == unpinned.schema)
    def query(df: DataFrame) =
      df.filter(col("doc_id") > 5 && col("lang") === "en").select("doc_id", "n_chars")
    for (key <- Seq("ReadSchema", "PushedFilters")) {
      val expected = scanMeta(query(unpinned), key)
      assert(expected.size == 1)
      assert(scanMeta(query(pinned), key) == expected, key)
    }
    assert(scanMeta(query(pinned), "PushedFilters").head.contains("GreaterThan(doc_id,5)"))
    assert(query(pinned).collect().toSet == query(unpinned).collect().toSet)
  }

  test("a file rewritten at the same path with another schema is re-resolved") {
    import spark.implicits._
    val dir = tempDir("graft_tables")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "t")
    val first = Tables.table(spark, dir.toString, "t")
    assert(first.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "name" -> StringType))
    assert(jobsOf(Tables.table(spark, dir.toString, "t")) == 0)

    writeTable(Seq(("x", 10L, 20L)).toDF("tag", "lo", "hi"), dir, "t")
    val second = Tables.table(spark, dir.toString, "t")
    assert(second.schema.map(f => f.name -> f.dataType) ==
      Seq("tag" -> StringType, "lo" -> LongType, "hi" -> LongType))
    assert(second.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(("x", 10L, 20L)))

    // a Spark-written directory is read with inference, unpinned
    Seq(3L, 4L).toDF("v").write.parquet(dir.resolve("d.parquet").toString)
    assert(Tables.table(spark, dir.toString, "d").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("flipping spark.sql.parquet.binaryAsString re-resolves a binary column") {
    import spark.implicits._
    // written without Spark's schema in the footer, which would otherwise
    // override the conf: a plain parquet-mr file with an unannotated binary
    val dir = tempDir("graft_tables_bin")
    val schema = MessageTypeParser.parseMessageType("message b { required int64 id; required binary payload; }")
    val out = HadoopOutputFile.fromPath(
      new HadoopPath(dir.resolve("b.parquet").toUri), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("payload", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir.toString, "b").schema("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.table(spark, dir.toString, "b")
      assert(asString.schema("payload").dataType == StringType)
      assert(asString.select("payload").as[String].collect().toSeq == Seq("hi"))
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir.toString, "b").schema("payload").dataType == BinaryType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
