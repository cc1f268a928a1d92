package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bucketing, Tables}

/** Bucketed co-located joins: both fact tables written bucketed+sorted on
  * the join key must sort-merge join with NO Exchange and NO Sort in the
  * plan — the write-once/join-many layout that replaces a per-query fact
  * shuffle at 100 TB.
  */
class BucketingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("joins on co-bucketed tables have no exchange and no per-query sort") {
    val tmp = tempDir("graft-bucketed").toFile.getAbsolutePath
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: broadcast would hide the exchange question
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(
        Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity")),
        "l_orderkey", 4, "graft_li_bkt", s"$tmp/li"
      )
      Bucketing.writeBucketed(
        Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice")),
        "o_orderkey", 4, "graft_ord_bkt", s"$tmp/ord"
      )
      val joined = spark.table("graft_li_bkt")
        .join(spark.table("graft_ord_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"), max(col("o_totalprice")).as("price"))
      val expected = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"), max(col("o_totalprice")).as("price"))
      assert(
        joined.orderBy("l_orderkey").collect().toSeq ==
          expected.orderBy("l_orderkey").collect().toSeq,
        "bucketed join result diverges from the plain join"
      )
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      val joinSection = p.split("HashAggregate")(0)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
        s"join re-shuffled the bucketed left side:\n$p")
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
        s"join re-shuffled the bucketed right side:\n$p")
      assert(!joinSection.contains("Sort "),
        s"join re-sorted a bucket-sorted side:\n$p")
      // the bucket layout also serves the downstream aggregation: grouping
      // on the bucket key needs no further exchange either
      assert("Exchange".r.findAllIn(p).isEmpty,
        s"aggregation on the bucket key still exchanged:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_li_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_ord_bkt")
    }
  }

  test("partitioned layout prunes non-matching partitions at planning time") {
    val dir = tempDir("graft_part").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars")
    Bucketing.writePartitioned(docs, "source", dir)
    val read = spark.read.parquet(dir).filter(col("source") === "src3")
    val rows = read.collect()
    // semantic: exactly the src3 slice survives
    val expected = docs.filter(col("source") === "src3").count()
    assert(rows.length.toLong == expected && rows.forall(_.getAs[String]("source") == "src3"))
    // plan: the source predicate is a PARTITION filter (directory pruning,
    // zero I/O on other partitions), not a post-scan data filter
    val p = read.queryExecution.executedPlan.toString
    val pfIdx = p.indexOf("PartitionFilters:")
    assert(pfIdx >= 0, s"no PartitionFilters section in scan:\n$p")
    val pf = p.substring(pfIdx, p.indexOf(']', pfIdx) max (pfIdx + 1))
    assert(pf.contains("src3"), s"source predicate not pushed to partition pruning:\n$p")
    // layout: the pre-write repartition makes each partition value owned
    // by one task — one data file per value, not (tasks × values) files
    // (the small-files explosion q239_partition_file_planner audits)
    val srcDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("source="))
    assert(srcDirs.nonEmpty, s"no partition directories under $dir")
    srcDirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(
        files.length == 1,
        s"${sd.getName}: expected 1 file per partition value, found ${files.length}"
      )
    }
  }

  test("partitioned layout: hotValueSalt spreads a value across writers, bounded by the salt") {
    val dir = tempDir("graft_part_salt").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars")
    // ADVERSARIAL input layout: pre-clustered by the partition column —
    // exactly the shape of a frame read back from a previous partitionBy
    // write, and the shape under which an input-partition-derived salt
    // collapses to one value. The row-content-hash salt must spread
    // anyway. AQE coalescing off, or it would legally re-merge the tiny
    // salted partitions at this test's scale and hide the spread.
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try
      Bucketing.writePartitioned(
        docs.repartition(org.apache.spark.sql.functions.col("source")),
        "source", dir, hotValueSalt = 3)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    val srcDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("source="))
    assert(srcDirs.nonEmpty, s"no partition directories under $dir")
    val counts = srcDirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    // every value writes at most `salt` files (parallelism bound holds)...
    assert(counts.forall(c => c >= 1 && c <= 3), s"file counts per value out of [1,3]: ${counts.toSeq}")
    // ...and at least one value actually used >1 writer (the salt engaged
    // DESPITE the value-clustered input)
    assert(counts.exists(_ > 1), s"salt never engaged — all values single-file: ${counts.toSeq}")
    // round trip unchanged
    assert(spark.read.parquet(dir).count() == docs.count())

    // schema robustness: map columns (unhashable since Spark 3.0) and
    // dotted top-level names must not break the salt path
    import spark.implicits._
    val awkward = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("src", "v")
      .withColumn("attrs", org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("k"), org.apache.spark.sql.functions.col("v")))
      .withColumnRenamed("v", "user.id")
    val dir2 = tempDir("graft_part_salt2").toString
    Bucketing.writePartitioned(awkward, "src", dir2, hotValueSalt = 2)
    assert(spark.read.parquet(dir2).count() == 3)
  }

  test("range-sorted layout skips row groups a shuffled layout must read") {
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
        }
        .getOrElse(fail("no FileSourceScanExec in plan"))
    }
    val docs = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "source", "text")
    val total = docs.count()
    val sortedDir = tempDir("graft_sorted").toString
    val shuffledDir = tempDir("graft_shuffled").toString
    // tiny row groups so skipping granularity exists at test scale
    Bucketing.writeSorted(docs, "doc_id", sortedDir, rowGroupBytes = 64L << 10)
    // control: SAME rows, scattered layout (hash-clustered on source, so
    // every row group spans nearly the full doc_id range)
    docs
      .repartition(8, col("source"))
      .write
      .mode("overwrite")
      .option("parquet.block.size", 64L << 10)
      .parquet(shuffledDir)

    val pred = col("doc_id") >= 100L && col("doc_id") < 200L
    val sortedRead = spark.read.parquet(sortedDir).filter(pred)
    // correctness is layout-independent
    assert(sortedRead.count() == docs.filter(pred).count())
    val rowsSorted = scanRows(sortedRead)
    val rowsShuffled = scanRows(
      spark.read.parquet(shuffledDir).filter(col("doc_id") >= 100L && col("doc_id") < 200L)
    )
    // the sorted layout's min/max statistics confine the range predicate to
    // a few row groups; the same predicate over the value-shuffled layout
    // (every row group spans the full key range) decodes nearly everything
    assert(
      rowsSorted < total / 4,
      s"sorted layout skipped nothing: scan produced $rowsSorted of $total rows"
    )
    assert(
      rowsSorted < rowsShuffled,
      s"sorted ($rowsSorted) not better than shuffled ($rowsShuffled) of $total"
    )
  }

  test("z-order layout skips row groups on BOTH columns; single-sort only on one") {
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
        }
        .getOrElse(fail("no FileSourceScanExec in plan"))
    }
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val total = li.count()
    val Array(maxOrd, maxPart) =
      li.agg(max("l_orderkey"), max("l_partkey")).head().toSeq.map(_.toString.toLong).toArray
    val zDir = tempDir("graft_zorder").toString
    val aDir = tempDir("graft_asort").toString
    Bucketing.writeZOrder(li, "l_orderkey", "l_partkey", zDir, rowGroupBytes = 64L << 10)
    // control: one-dimensional sort on l_orderkey only
    Bucketing.writeSorted(li, "l_orderkey", aDir, rowGroupBytes = 64L << 10)

    // ~1/8th range predicates on each dimension
    val predA = col("l_orderkey") >= 0L && col("l_orderkey") < maxOrd / 8
    val predB = col("l_partkey") >= 0L && col("l_partkey") < maxPart / 8
    val zReadA = spark.read.parquet(zDir).filter(predA)
    val zReadB = spark.read.parquet(zDir).filter(predB)
    // correctness is layout-independent
    assert(zReadA.count() == li.filter(predA).count())
    assert(zReadB.count() == li.filter(predB).count())
    val zA = scanRows(zReadA)
    val zB = scanRows(zReadB)
    val aSortB = scanRows(spark.read.parquet(aDir).filter(predB))
    // each row group covers a rectangle of (orderkey, partkey) space, so
    // BOTH single-column range predicates confine the scan to a fraction
    // of the groups...
    assert(zA < total / 2, s"z-order skipped nothing on colA: $zA of $total")
    assert(zB < total / 2, s"z-order skipped nothing on colB: $zB of $total")
    // ...whereas the one-dimensional layout leaves every group spanning
    // the full l_partkey range: the same predB decodes nearly everything
    assert(
      zB * 2 < aSortB,
      s"z-order on colB ($zB) not clearly better than single-sorted layout ($aSortB)"
    )
  }
}
