package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one run hands back: its end-to-end or per-layer metrics, the
  * operations it attempted and how many failed, and the check outcome.
  */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    problems: Seq[String])

/** Settings of one run, as passed by run.py. */
final case class Settings(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, runDir: String, startNs: Long) {
  /** Seconds since run.py started this JVM. */
  def sinceStartS: Double = (System.currentTimeMillis() * 1000000.0 - startNs) / 1e9
  def log(msg: String): Unit = System.err.println(f"perfbench [$sinceStartS%.1f s] $msg")
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("dump-oracle-sql")) {
      Queries.dumpOracleSql(a("dump-oracle-sql"))
      sys.exit(0)
    }
    val s = Settings(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("root"), a("run-dir"), a("start-ns").toLong)
    val spark = session(s)
    s.log("session ready")
    val out =
      try s.workload match {
        case "pipeline_bulk"    => Pipelines.run(spark, s, Pipelines.Bulk)
        case "pipeline_trickle" => Pipelines.run(spark, s, Pipelines.Trickle)
        case "queries_mix"      => Queries.run(spark, s)
        case w                  => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    out.problems.foreach(p => System.out.println(s"CHECK FAILED: $p"))
    val metrics = out.metrics
      .map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    System.out.println(
      s"""PERFBENCH_RESULT {"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $metrics}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is not a number: $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  /** Task threads: at most 4 and at most the machine's cores. */
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(s: Settings): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${s.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"${s.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${s.runDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${s.runDir}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- small shared helpers ----

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val v = xs.sorted
    val n = v.size
    if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
  }

  /** Heap in use after a full collection, in MB, once no RDD is cached. */
  def liveHeapMb(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    // the context cleaner frees broadcasts and shuffles of collected
    // references asynchronously: give it time between collections
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Summed collection time of all collectors so far, ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Reset the heap pools' peak usage (start of a traced window). */
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, MB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
