package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.ops.Caches

/** The query workload: a fixed, stratified sample of registry queries over
  * the sf0.1 tables in perfbench/data, each ending in a noop write, with
  * `Caches.invalidate()` before every query. One untimed pass first checks
  * every sampled query against the digest DuckDB computed from the
  * registry's oracle SQL (and warms the JVM); then a fixed number of whole
  * timed passes, sized to `--seconds`.
  */
object Queries {
  /** The registry's modules in registry order. */
  def modules: Seq[(String, Seq[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries, "PipelineOps" -> graft.ops.PipelineOps.queries,
    "TextOps" -> graft.ops.TextOps.queries, "DedupOps" -> graft.ops.DedupOps.queries,
    "SimilarityOps" -> graft.ops.SimilarityOps.queries, "MultimodalOps" -> graft.ops.MultimodalOps.queries,
    "CurationOps" -> graft.ops.CurationOps.queries, "QualityOps" -> graft.ops.QualityOps.queries
  ).map { case (m, qs) => m -> qs.map(_.name) }

  /** The sample rule, fixed before any timing: the middle query, in
    * registry order, of every module.
    */
  def sample: Seq[(String, String)] = modules.map { case (m, qs) => m -> qs(qs.size / 2) }

  /** Timed passes per second of `--seconds`. */
  val PassesPerSecond = 0.2

  def dumpOracleSql(path: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val out = sample.map { case (m, q) =>
      Map("name" -> q, "module" -> m, "sql" -> oracle.getOrElse(q, throw new IllegalStateException(s"$q has no oracle SQL"))).asJava
    }.asJava
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), out)
  }

  private def loadExpected(path: String): Map[String, QDigest] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.get("queries").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> QDigest(v.get("rows").asLong, v.get("digest").asText, v.get("columns").elements().asScala.map(_.asText).toSeq)
    }.toMap
  }

  /** Digest of a query's result, computed on the executors. */
  def digest(df: DataFrame): QDigest = {
    val cols = df.columns.toSeq
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, h) = df.rdd.mapPartitions { it =>
      var c, s = 0L
      it.foreach { r => c += 1; s += QDigest.rowHash(order.map(r.get)) }
      Iterator((c, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    QDigest.of(order.map(cols), n, h)
  }

  final class Timing(val name: String, val pass: Int) {
    var constructMs, planMs, execMs = 0.0
    var cacheBuilds = 0
    var error: Option[String] = None
    def totalMs: Double = constructMs + planMs + execMs
  }

  def run(spark: SparkSession, s: Settings): Outcome = {
    val dataDir = s"${s.root}/perfbench/data/sf0.1"
    val expected = loadExpected(s"${s.root}/perfbench/expected.json")
    val picked = sample.map(_._2)
    val missing = picked.filterNot(expected.contains)
    require(missing.isEmpty, s"no oracle digest for ${missing.mkString(", ")}; run perfbench/oracle.py")
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    val trace = new SparkTrace
    if (s.trace) sc.addSparkListener(trace)
    val rnd = new scala.util.Random(s.seed)

    def once(name: String, pass: Int): Timing = {
      val t = new Timing(name, pass)
      sc.setLocalProperty("perfbench.op", s"$name#$pass")
      try {
        Caches.invalidate()
        sc.setLocalProperty("perfbench.phase", "construct")
        var t0 = System.nanoTime()
        val df = fns(name)(spark, dataDir)
        t.constructMs = (System.nanoTime() - t0) / 1e6
        t.cacheBuilds = Caches.registrationLog.size
        if (s.trace) {
          sc.setLocalProperty("perfbench.phase", "plan")
          t0 = System.nanoTime()
          df.queryExecution.executedPlan
          t.planMs = (System.nanoTime() - t0) / 1e6
        }
        sc.setLocalProperty("perfbench.phase", "exec")
        t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        t.execMs = (System.nanoTime() - t0) / 1e6
      } catch {
        case scala.util.control.NonFatal(e) =>
          t.error = Some(s"${e.getClass.getName}: ${e.getMessage}")
          System.err.println(s"perfbench: $name pass $pass failed: ${t.error.get}")
      } finally {
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
      t
    }
    def pass(p: Int): Seq[Timing] = rnd.shuffle(picked).map(once(_, p))

    // Warm-up and check in one untimed pass: each sampled query once with
    // the timed passes' noop write (without it the first timed pass runs
    // the write path cold), its result digested and compared with the
    // oracle digest.
    val coldT0 = System.nanoTime()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val problems = rnd.shuffle(picked).flatMap { q =>
      Caches.invalidate()
      sc.setLocalProperty("perfbench.phase", "check")
      val q0 = System.nanoTime()
      val p =
        try {
          val df = fns(q)(spark, dataDir)
          df.write.mode("overwrite").format("noop").save()
          QDigest.problem(expected(q), digest(df))
        } catch { case scala.util.control.NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      s.log(f"checked $q in ${(System.nanoTime() - q0) / 1e6}%.0f ms")
      p.map(x => q -> x)
    }.toMap
    sc.setLocalProperty("perfbench.phase", null)
    val coldS = (System.nanoTime() - coldT0) / 1e9
    val coldCodegenMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e6
    s.log(f"warm-up and check pass $coldS%.1f s")

    val setupS = s.sinceStartS
    val gc0 = Main.gcMs()
    Main.resetHeapPeak()
    val warm = ArrayBuffer.empty[Seq[Timing]]
    // A fixed count of passes, sized to `--seconds` at today's speed (a
    // pass takes 5-6 s), so that every query's warm time is the fastest of
    // the same number of executions on every run. At least two: the first
    // pass after the check pass still runs partly cold, and a run that only
    // has that pass measures another state.
    val passes = math.max(2, math.round(s.seconds * PassesPerSecond).toInt)
    while (warm.size < passes) warm += pass(warm.size + 1)
    val gcWindow = Main.gcMs() - gc0
    val heapPeak = Main.heapPeakMb()
    Caches.invalidate()
    val liveHeap = Main.liveHeapMb(spark)

    val all = warm.toSeq
    val attempted = all.map(_.size).sum.toLong
    val failed = all.flatten.count(t => t.error.nonEmpty || problems.contains(t.name)).toLong
    // A query's warm time is the fastest of its timed executions that did
    // not fail: a window holds two to four passes, and a median of so few
    // carries the scheduling stalls of the slower ones. An execution
    // that failed counts in `failed` and makes the run incorrect.
    val warmByQuery = warm.flatten.filter(_.error.isEmpty).groupBy(_.name).map { case (q, ts) => q -> ts.map(_.totalMs).min }
    warm.foreach(p => s.log(p.map(t => f"${t.name} ${t.totalMs}%.0f").mkString(", ")))
    s.log(s"${warm.size} warm passes; " +
      warmByQuery.toSeq.sortBy(-_._2).map { case (q, ms) => f"$q $ms%.0f" }.mkString(", "))

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", warmByQuery.size / (warmByQuery.values.sum / 1000.0), "1/s"),
      ("op_p50_ms", Main.median(warmByQuery.values.toSeq), "ms"),
      ("live_heap_mb", liveHeap, "MB"))
    val metrics =
      if (!s.trace) e2e
      else {
        s.log("end-to-end with tracing on: " + e2e.map { case (n, v, _) => s"$n=$v" }.mkString(" "))
        trace.settle()
        val spans = new Spans
        val stages = trace.stages.values.asScala.toSeq
        val jobs = trace.jobs.values.asScala.toSeq
        def ofRun(t: Timing) = s"${t.name}#${t.pass}"
        all.flatten.foreach { t =>
          val root = ofRun(t)
          val js = jobs.filter(_.op == root).sortBy(_.id)
          val start = js.headOption.map(_.startMs).getOrElse(0L)
          spans.add(root, null, root, "query", start, js.map(_.endMs).foldLeft(start)(math.max),
            "construct_ms" -> t.constructMs, "plan_ms" -> t.planMs, "exec_ms" -> t.execMs,
            "cache_builds" -> t.cacheBuilds)
          js.foreach(j => spans.add(s"job-${j.id}", root, root, s"job:${j.phase}", j.startMs, j.endMs))
          stages.filter(_.op == root).foreach(st =>
            spans.add(s"stage-${st.id}", root, root, s"stage:${st.phase}", st.submitMs, st.doneMs,
              "tasks" -> st.tasks, "shuffle_read" -> st.shuffleRead))
        }
        spans.write(s"${s.runDir}/trace.json")
        val w = warm.flatten.toSeq
        val warmOps = w.map(ofRun).toSet
        val wStages = stages.filter(st => warmOps(st.op))
        val n = w.size.toDouble
        Layers.report(Map(
          "query.cold_pass_s" -> coldS,
          "query.construct_ms" -> Layers.mean(w.map(_.constructMs)),
          "query.construct_jobs" -> jobs.count(j => warmOps(j.op) && j.phase == "construct") / n,
          "query.cache_builds" -> Layers.mean(w.map(_.cacheBuilds.toDouble)),
          "query.plan_ms" -> Layers.mean(w.map(_.planMs)),
          "query.codegen_ms" -> coldCodegenMs / picked.size,
          "query.exec_ms" -> Layers.mean(w.map(_.execMs)),
          "query.exec_jobs" -> jobs.count(j => warmOps(j.op) && j.phase == "exec") / n,
          "query.stages" -> wStages.size / n,
          "query.tasks" -> wStages.map(_.tasks).sum / n,
          "query.task_run_ms" -> wStages.map(_.runMs).sum / n,
          "query.task_cpu_ms" -> wStages.map(_.cpuNs).sum / n / 1e6,
          "query.shuffle_bytes" -> wStages.map(_.shuffleWrite).sum / n,
          "query.spill_bytes" -> wStages.map(_.spill).sum / n,
          "query.gc_ms" -> wStages.map(_.gcMs).sum / n,
          "serial_stage_ms" -> wStages.filter(_.tasks == 1).map(_.ms).sum / n,
          "task_run_ms" -> wStages.map(_.runMs).sum / n,
          "task_cpu_ms" -> wStages.map(_.cpuNs).sum / n / 1e6,
          "gc_ms" -> gcWindow.toDouble,
          "heap_used_peak_mb" -> heapPeak))
      }
    val errors = all.flatten.filter(_.error.nonEmpty).map(t => s"${t.name} pass ${t.pass}: ${t.error.get}")
    Outcome(problems.isEmpty && errors.isEmpty, attempted, failed, metrics,
      problems.toSeq.sorted.map { case (q, p) => s"$q: $p" } ++ errors)
  }
}
