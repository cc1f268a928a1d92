package graft

import org.apache.spark.sql.functions._
import graft.plans.Interval

/** Native sweep-line interval-containment join
  * ([[graft.plans.IntervalJoinExec]]) pinned to hand-checked fixtures for
  * the edge semantics (inclusive bounds, multi-containment fan-out,
  * inverted/null intervals, outer null-extension), to a plain
  * equi-key + range-filter Spark join on real events, to a randomized
  * in-memory reference on skewed data, and to the zero-Exchange bucketed
  * layout.
  */
class IntervalJoinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("interval semantics: inclusive bounds, fan-out, key isolation, dead intervals") {
    import spark.implicits._
    val points = Seq(
      ("k1", 10L, "p10"), // == start of r[10,20] (inclusive)
      ("k1", 20L, "p20"), // == end of r[10,20] AND inside r[15,25] → 2 rows
      ("k1", 26L, "p26"), // inside r[15,25]? no (26>25); nothing
      ("k1", 5L, "p5"), // before everything
      ("k2", 12L, "p12"), // k2 has only an inverted interval → nothing
      ("k3", 7L, "p7") // single containing interval after k2's miss
    ).toDF("k", "t", "pname")
    val ivals = Seq(
      ("k1", 10L, 20L, "r_a"),
      ("k1", 15L, 25L, "r_b"),
      ("k2", 30L, 20L, "r_inv"), // inverted: contains no instant
      ("k3", 7L, 7L, "r_pt") // degenerate single-instant interval
    ).toDF("rk", "s", "e", "rname")

    val inner = Interval
      .intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(
      inner == Set(
        ("p10", "r_a"),
        ("p20", "r_a"),
        ("p20", "r_b"),
        ("p7", "r_pt")
      ),
      s"got $inner"
    )

    val outer = Interval
      .intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e", outer = true)
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
      .toSet
    assert(
      outer == Set(
        ("p10", Some("r_a")),
        ("p20", Some("r_a")),
        ("p20", Some("r_b")),
        ("p26", None),
        ("p5", None),
        ("p12", None),
        ("p7", Some("r_pt"))
      ),
      s"got $outer"
    )
  }

  test("SQL null semantics: null keys/times/bounds never match; ambiguity rejected") {
    import spark.implicits._
    val points = Seq(
      (Option("k"), Option(10L), "p1"),
      (Option.empty[String], Option(10L), "pNullKey"),
      (Option("k"), Option.empty[Long], "pNullTime")
    ).toDF("k", "t", "pname")
    val ivals = Seq(
      (Option("k"), Option(5L), Option(15L), "rOk"),
      (Option.empty[String], Option(1L), Option(99L), "rNullKey"),
      (Option("k"), Option.empty[Long], Option(99L), "rNullStart"),
      (Option("k"), Option(1L), Option.empty[Long], "rNullEnd")
    ).toDF("rk", "s", "e", "rname")
    val inner = Interval
      .intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(inner == Set(("p1", "rOk")), s"got $inner")
    val outer = Interval
      .intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e", outer = true)
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
      .toSet
    assert(
      outer == Set(("p1", Some("rOk")), ("pNullKey", None), ("pNullTime", None)),
      s"got $outer"
    )
    val dup = points.select(col("k"), col("k"), col("t"))
    val err = intercept[IllegalArgumentException] {
      Interval.intervalJoin(dup, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
    }
    assert(err.getMessage.contains("ambiguous"))
    // mismatched key types must fail loudly — hash-partitioning Int vs Long
    // sides would otherwise return silently empty results
    val intKeyed = points.withColumn("k_int", lit(1))
    val keyErr = intercept[IllegalArgumentException] {
      Interval.intervalJoin(intKeyed, ivals, Seq("k_int"), Seq("rk"), "t", "s", "e")
    }
    assert(keyErr.getMessage.contains("key types must match"))
  }

  test("native join equals the equi-key + range-filter join on real sessions") {
    val ev = graft.ops.Tables
      .events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val sess = ev
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn(
        "new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 30L * 60 * 1000000, 1L)
          .otherwise(0L)
      )
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy(col("user_id").as("s_user"), col("sid"))
      .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
    val native = Interval
      .intervalJoin(ev, sess, Seq("user_id"), Seq("s_user"), "us", "s_start", "s_end")
      .select(col("event_id"), col("sid"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // control must stay Spark's own equi+range plan: RangeJoinRewrite
    // would otherwise silently turn this into native-vs-native
    spark.conf.set(graft.plans.RangeJoinRewrite.EnabledKey, "false")
    val plain =
      try
        ev.join(
          sess,
          col("user_id") === col("s_user") &&
            col("us") >= col("s_start") && col("us") <= col("s_end")
        )
          .select(col("event_id"), col("sid"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
      finally spark.conf.set(graft.plans.RangeJoinRewrite.EnabledKey, "true")
    assert(native == plain, s"native minus plain: ${(native -- plain).take(3)}; plain minus native: ${(plain -- native).take(3)}")
    assert(native.nonEmpty, "interval join produced no rows at sf0.001")
  }

  test("plan: IntervalJoinExec with co-partitioned sorted children, no BNLJ/cartesian") {
    import spark.implicits._
    val points = spark.range(100).selectExpr("id % 7 AS k", "id AS t")
    val ivals = spark.range(50).selectExpr("id % 7 AS rk", "id AS s", "id + 10 AS e")
    val df = Interval.intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("IntervalJoin"), s"native operator missing from plan:\n$p")
    assert(
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic join shape:\n$p"
    )
    assert("hashpartitioning\\(k".r.findAllIn(p).nonEmpty, s"left not clustered by key:\n$p")
    assert("hashpartitioning\\(rk".r.findAllIn(p).nonEmpty, s"right not clustered by key:\n$p")
    assert("Sort \\[".r.findAllIn(p).size >= 2, s"children not sorted:\n$p")
  }

  test("bucketed sides join with NO exchange") {
    val tmp = tempDir("graft_ival_bkt").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = graft.ops.Tables
        .events(spark, sf)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val sess = ev
        .groupBy(col("user_id").as("s_user"))
        .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
      graft.ops.Bucketing.writeBucketed(ev, "user_id", 4, "graft_pts_bkt", s"$tmp/p")
      graft.ops.Bucketing.writeBucketed(sess, "s_user", 4, "graft_iv_bkt", s"$tmp/i")
      val df = Interval.intervalJoin(
        spark.table("graft_pts_bkt"),
        spark.table("graft_iv_bkt"),
        Seq("user_id"),
        Seq("s_user"),
        "us",
        "s_start",
        "s_end"
      )
      val n = df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("IntervalJoin"), s"native operator missing:\n$p")
      assert(!p.contains("Exchange"), s"bucketed interval join still exchanged:\n$p")
      assert(n > 0, "bucketed join empty")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_pts_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_iv_bkt")
    }
  }

  test("randomized differential: sweep-line equals an in-memory reference on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 4) {
      val nKeys = 1 + rnd.nextInt(5)
      val points = Seq.fill(200)((rnd.nextInt(nKeys).toLong, rnd.nextInt(60).toLong, rnd.nextLong()))
      val ivals = Seq.fill(120) {
        val s = rnd.nextInt(60).toLong
        // mix of short, long, degenerate and inverted intervals
        (rnd.nextInt(nKeys).toLong, s, s + rnd.nextInt(20) - 4L, rnd.nextLong())
      }
      val got = Interval
        .intervalJoin(
          points.toDF("k", "t", "pid"),
          ivals.toDF("rk", "s", "e", "rid"),
          Seq("k"),
          Seq("rk"),
          "t",
          "s",
          "e",
          outer = true
        )
        .select(col("pid"), col("rid"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .sorted(Ordering.by((x: (Long, Option[Long])) => (x._1, x._2)))
      val expected = points.flatMap { case (k, t, pid) =>
        val m = ivals.filter(iv => iv._1 == k && iv._2 <= t && t <= iv._3)
        if (m.isEmpty) Seq((pid, Option.empty[Long])) else m.map(iv => (pid, Some(iv._4)))
      }.sorted(Ordering.by((x: (Long, Option[Long])) => (x._1, x._2)))
      assert(got.toSeq == expected, s"trial $trial diverged (nKeys=$nKeys)")
    }
  }

  test("self-join from one cached source: fresh right exprIds avoid ambiguity") {
    import spark.implicits._
    val base = Seq(("k", 1L, 5L), ("k", 3L, 9L)).toDF("k", "t", "e")
    // each row's t against both rows' [t, e] windows
    val n = Interval.intervalJoin(base, base, Seq("k"), Seq("k"), "t", "t", "e").count()
    assert(n == 3, s"got $n") // t=1∈[1,5]; t=3∈[1,5] and [3,9]
  }

  test("active-set budget: an axis-spanning key fails loud, naming the key") {
    import graft.plans.IntervalJoinExec
    import spark.implicits._
    // adversarial worst case: every interval of one key spans the whole
    // axis, so the active buffer degrades to the key's group size — the
    // exact input shape the budget exists to refuse
    val points = Seq(("hot", 50L, "p")).toDF("k", "t", "pname")
    val ivals = (1 to 64).map(i => ("hot", 0L, 100L, s"r$i")).toDF("rk", "s", "e", "rname")
    spark.conf.set(IntervalJoinExec.MaxActiveKey, "16")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        Interval.intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e").count()
      }
      val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
      assert(msg.contains("active-interval budget exceeded"), s"got: $msg")
      assert(msg.contains("[hot]"), s"budget error must name the offending key, got: $msg")
      assert(msg.contains(IntervalJoinExec.MaxActiveKey), s"got: $msg")
      // same data under a sufficient budget completes and fans out fully
      spark.conf.set(IntervalJoinExec.MaxActiveKey, "64")
      val n = Interval.intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e").count()
      assert(n == 64, s"got $n")
      // budget counts only truly-concurrent intervals: intervals that
      // already ENDED before the sweep position must be evicted before
      // the admission check, else a key whose true peak overlap equals
      // the budget aborts spuriously on its dead history
      spark.conf.set(IntervalJoinExec.MaxActiveKey, "2")
      val pts2 = Seq(("k", 10L, "p10"), ("k", 20L, "p20")).toDF("k", "t", "pname")
      val iv2 = Seq(
        ("k", 10L, 10L, "dead"), ("k", 20L, 20L, "a"), ("k", 20L, 20L, "b")
      ).toDF("rk", "s", "e", "rname")
      val n2 = Interval.intervalJoin(pts2, iv2, Seq("k"), Seq("rk"), "t", "s", "e").count()
      assert(n2 == 3, s"peak overlap == budget must pass despite dead history, got $n2")
    } finally spark.conf.unset(IntervalJoinExec.MaxActiveKey)
  }

  test("semi/anti modes: EXISTS/NOT EXISTS semantics incl. NULL and fan-out edges") {
    import spark.implicits._
    val points = Seq(
      ("k1", Some(10L), "in_one"),      // covered by r_a
      ("k1", Some(20L), "in_two"),      // covered by r_a AND r_b — semi emits ONCE
      ("k1", Some(26L), "uncovered"),   // no interval
      ("k2", Some(12L), "inv_only"),    // k2's only interval is inverted → uncovered
      ("k9", Some(5L), "no_key"),       // key absent on the right
      (null.asInstanceOf[String], Some(5L), "null_key"), // never matches → anti keeps
      ("k1", Option.empty[Long], "null_t")               // never matches → anti keeps
    ).toDF("k", "t", "pname")
    val ivals = Seq(
      ("k1", 10L, 20L, "r_a"),
      ("k1", 15L, 25L, "r_b"),
      ("k2", 30L, 20L, "r_inv")
    ).toDF("rk", "s", "e", "rname")

    val semi = Interval
      .intervalSemiJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
    assert(semi.columns.toSeq == Seq("k", "t", "pname"), "semi emits left columns only")
    assert(semi.collect().map(_.getString(2)).sorted.toSeq == Seq("in_one", "in_two"),
      s"semi: ${semi.collect().toSeq}")

    val anti = Interval
      .intervalAntiJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
    assert(anti.columns.toSeq == Seq("k", "t", "pname"), "anti emits left columns only")
    assert(
      anti.collect().map(_.getString(2)).sorted.toSeq ==
        Seq("inv_only", "no_key", "null_key", "null_t", "uncovered"),
      s"anti: ${anti.collect().toSeq}"
    )
    // semi + anti partition the left side exactly
    assert(semi.count() + anti.count() == points.count())
  }

  test("semi/anti randomized differential vs EXISTS/NOT EXISTS on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(9876)
    for (trial <- 1 to 3) {
      val nKeys = 1 + rnd.nextInt(4)
      // points span [0, 200) but intervals end below 105: the tail is
      // always uncovered, so neither side of the partition is vacuous
      val points = Seq.tabulate(300)(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(200).toLong, i.toLong))
      val ivals = Seq.fill(100) {
        val s = rnd.nextInt(80).toLong
        (rnd.nextInt(nKeys).toLong, s, s + rnd.nextInt(25) - 5L, rnd.nextLong())
      }
      val pdf = points.toDF("k", "t", "pid")
      val idf = ivals.toDF("rk", "s", "e", "rid")
      def covered(k: Long, t: Long) = ivals.exists(iv => iv._1 == k && iv._2 <= t && t <= iv._3)
      val semiGot = Interval.intervalSemiJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .collect().map(_.getLong(2)).sorted.toSeq
      val semiExp = points.collect { case (k, t, pid) if covered(k, t) => pid }.sorted
      assert(semiGot == semiExp, s"semi trial $trial diverged")
      val antiGot = Interval.intervalAntiJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .collect().map(_.getLong(2)).sorted.toSeq
      val antiExp = points.collect { case (k, t, pid) if !covered(k, t) => pid }.sorted
      assert(antiGot == antiExp, s"anti trial $trial diverged")
      assert(semiExp.nonEmpty && antiExp.nonEmpty, s"trial $trial vacuous")
    }
  }

  test("spillBeyondBudget: an over-budget hot key degrades gracefully, all modes exact") {
    import graft.plans.IntervalJoinExec
    import spark.implicits._
    val rnd = new scala.util.Random(424242)
    // hot key: 200 wide intervals whose peak overlap (~100+) far exceeds
    // the budget of 16; cold/post keys around it prove the key enters AND
    // leaves spill mode cleanly (sort order: cold < hot < post)
    val ivals =
      (1 to 200).map { i =>
        val s = rnd.nextInt(30).toLong
        ("hot", s, s + 40 + rnd.nextInt(40), i.toLong)
      } ++
        (1 to 20).map(i => ("cold", i.toLong, i + 3L, (1000 + i).toLong)) ++
        (1 to 10).map(i => ("post", i.toLong, i + 2L, (2000 + i).toLong))
    val points =
      (0 to 100 by 5).map(t => ("hot", t.toLong, (3000 + t).toLong)) ++
        (1 to 20).map(i => ("cold", i.toLong, (200 + i).toLong)) ++
        (1 to 12).map(i => ("post", i.toLong, (400 + i).toLong)) ++
        // beyond every interval: uncovered on a spilled AND a fast key
        Seq(("hot", 500L, 9001L), ("post", 500L, 9002L))
    val pdf = points.toDF("k", "t", "pid")
    val idf = ivals.toDF("rk", "s", "e", "rid")
    def cover(k: String, t: Long) = ivals.filter(iv => iv._1 == k && iv._2 <= t && t <= iv._3)
    spark.conf.set(IntervalJoinExec.MaxActiveKey, "16")
    spark.conf.set(IntervalJoinExec.SpillKey, "true")
    try {
      val inner = Interval.intervalJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .select(col("pid"), col("rid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val innerExp = (for { (k, t, pid) <- points; iv <- cover(k, t) } yield (pid, iv._4)).sorted
      assert(inner == innerExp, s"inner spill diverged: got ${inner.size}, want ${innerExp.size}")
      assert(innerExp.size > 16 * points.size / 4, "fixture too thin to exceed the budget")

      val outer = Interval.intervalJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e", outer = true)
        .select(col("pid"), col("rid")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val outerExp = points.flatMap { case (k, t, pid) =>
        val m = cover(k, t)
        if (m.isEmpty) Seq((pid, -1L)) else m.map(iv => (pid, iv._4))
      }.sorted
      assert(outer == outerExp, "outer spill diverged")
      assert(outerExp.exists(_._2 == -1L), "outer fixture must include uncovered points")

      val semi = Interval.intervalSemiJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .collect().map(_.getLong(2)).sorted.toSeq
      assert(semi == points.collect { case (k, t, pid) if cover(k, t).nonEmpty => pid }.sorted)

      val anti = Interval.intervalAntiJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .collect().map(_.getLong(2)).sorted.toSeq
      assert(anti == points.collect { case (k, t, pid) if cover(k, t).isEmpty => pid }.sorted)

      // existence mode (reachable only through the RangeJoinRewrite on a
      // WHERE p OR EXISTS shape) over the same over-budget hot key: every
      // point must flag correctly through the spilled sweep — even pids
      // admit uncovered points via the left disjunct (9002 in, 9001 out)
      pdf.createOrReplaceTempView("ij_spill_pts")
      idf.createOrReplaceTempView("ij_spill_ivs")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val ex = spark.sql(
          """SELECT pid FROM ij_spill_pts p
            |WHERE pid % 2 = 0 OR EXISTS (
            |  SELECT 1 FROM ij_spill_ivs i
            |  WHERE i.rk = p.k AND p.t BETWEEN i.s AND i.e)""".stripMargin)
        assert(ex.queryExecution.executedPlan.toString.contains("IntervalJoin"),
          s"existence shape did not rewrite:\n${ex.queryExecution.executedPlan}")
        val got = ex.collect().map(_.getLong(0)).sorted.toSeq
        val exp = points.collect {
          case (k, t, pid) if pid % 2 == 0 || cover(k, t).nonEmpty => pid
        }.sorted
        assert(got == exp, s"existence spill diverged: got ${got.size}, want ${exp.size}")
        assert(exp.contains(9002L) && !exp.contains(9001L),
          "fixture must exercise both disjuncts on uncovered points")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    } finally {
      spark.conf.unset(IntervalJoinExec.MaxActiveKey)
      spark.conf.unset(IntervalJoinExec.SpillKey)
    }
  }

  test("full outer: matched pairs plus BOTH orphan classes, every skip site covered") {
    import spark.implicits._
    val points = Seq(
      (Option("k1"), Option(10L), "p1"), // covered by r1
      (Option("k1"), Option(30L), "p2"), // uncovered (r2 ends at 25)
      (Option("k2"), Option(50L), "p3"), // k2 interval starts later → both orphan
      (Option.empty[String], Option(7L), "p4"), // null key
      (Option("k1"), Option.empty[Long], "p5") // null time
    ).toDF("k", "t", "pname")
    val ivals = Seq(
      (Option("k1"), Option(5L), Option(15L), "r1"), // matched by p1
      (Option("k1"), Option(16L), Option(25L), "r2"), // dead on arrival at p2
      (Option("k1"), Option(40L), Option(60L), "r3"), // starts after k1's last point
      (Option("k0"), Option(1L), Option(99L), "r4"), // key below every point key
      (Option("k3"), Option(1L), Option(99L), "r5"), // key above every point key (tail drain)
      (Option("k2"), Option(60L), Option(70L), "r6"), // same key as p3, starts after it
      (Option("k1"), Option(20L), Option(10L), "r_inv"), // inverted: contains no instant
      (Option.empty[String], Option(0L), Option(100L), "r_nullk"), // null key
      (Option("k1"), Option.empty[Long], Option(5L), "r_nulls") // null start
    ).toDF("rk", "s", "e", "rname")

    // MULTISET comparison (sorted seq, not Set): a Set would hide exactly
    // the regression class this fixture exists to catch — a skipped
    // interval re-emitted null-extended by more than one drain site
    val full = Interval
      .intervalFullOuterJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))))
      .sortBy(p => (p._1.getOrElse(""), p._2.getOrElse("")))
      .toSeq
    val expected: Seq[(Option[String], Option[String])] =
      (Seq((Option("p1"), Option("r1"))) ++
        Seq("p2", "p3", "p4", "p5").map(p => (Option(p), Option.empty[String])) ++
        Seq("r2", "r3", "r4", "r5", "r6", "r_inv", "r_nullk", "r_nulls")
          .map(r => (Option.empty[String], Option(r))))
        .sortBy(p => (p._1.getOrElse(""), p._2.getOrElse("")))
    assert(full == expected, s"got $full")

    // differential against Spark's own FULL OUTER join on the same input
    val viaSpark = points
      .join(ivals, col("k") === col("rk") && col("t").between(col("s"), col("e")), "full")
      .select(col("pname"), col("rname"))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))))
      .sortBy(p => (p._1.getOrElse(""), p._2.getOrElse("")))
      .toSeq
    assert(full == viaSpark)

    // empty sides: all rows of the other side null-extend, exactly once
    val emptyPts = points.filter(lit(false))
    val allIvals = Interval
      .intervalFullOuterJoin(emptyPts, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
      .select(col("rname")).collect().map(_.getString(0)).sorted.toSeq
    assert(allIvals ==
      Seq("r1", "r2", "r3", "r4", "r5", "r6", "r_inv", "r_nullk", "r_nulls").sorted)
    val emptyIvs = ivals.filter(lit(false))
    val allPts = Interval
      .intervalFullOuterJoin(points, emptyIvs, Seq("k"), Seq("rk"), "t", "s", "e")
      .select(col("pname")).collect().map(_.getString(0)).sorted.toSeq
    assert(allPts == Seq("p1", "p2", "p3", "p4", "p5"))
  }

  test("existence family carries O(1) state: axis-spanning hot key passes with NO budget and NO spill") {
    import graft.plans.IntervalJoinExec
    import spark.implicits._
    // the fixture that makes INNER abort under budget 16 (see the budget
    // test): 64 axis-spanning intervals of one key; semi/anti/existence
    // answer from the running-max end bound and must not even notice
    val points = Seq(("hot", 50L, 1L), ("hot", 200L, 2L)).toDF("k", "t", "pid")
    val ivals = ((1 to 64).map(i => ("hot", 0L, 100L, i.toLong)) ++
      // DOA noise: ends behind every later point, must not poison the max
      Seq(("hot", 60L, 61L, 900L))).toDF("rk", "s", "e", "rid")
    spark.conf.set(IntervalJoinExec.MaxActiveKey, "16")
    try {
      val semi = Interval.intervalSemiJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
        .select(col("pid")).collect().map(_.getLong(0)).toSet
      assert(semi == Set(1L), s"got $semi") // t=200 is past every end
      val anti = Interval.intervalAntiJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
        .select(col("pid")).collect().map(_.getLong(0)).toSet
      assert(anti == Set(2L), s"got $anti")
      // inner still aborts on the same data — the budget exists for the
      // pair-emitting modes only
      val ex = intercept[org.apache.spark.SparkException] {
        Interval.intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e").count()
      }
      val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
      assert(msg.contains("active-interval budget exceeded"), s"got: $msg")
    } finally spark.conf.unset(IntervalJoinExec.MaxActiveKey)
  }

  test("full outer: a point-free right stretch past the heap cap overflows to the spillable array, exact") {
    import spark.implicits._
    // two long gaps of skipped keys (so the overflow pair swaps at least
    // twice) around sparse points; heap cap forced tiny via the window
    // buffer threshold the exec shares
    val points = Seq((500L, 100L, 10L), (1500L, 100L, 20L)).toDF("k", "t", "pid")
    val ivals =
      ((1L to 1000L).map(k => (k, 0L, 5L, k)) ++ // skipped keys / DOA at k=500
        Seq((500L, 0L, 200L, 9500L), (1500L, 0L, 200L, 9501L)) ++ // matched
        (2000L to 2400L).map(k => (k, 0L, 5L, k))) // tail drain
        .toDF("rk", "s", "e", "rid")
    val prev = spark.conf.getOption("spark.sql.windowExec.buffer.in.memory.threshold")
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "8")
    try {
      val got = graft.plans.Interval
        .intervalFullOuterJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
        .select(col("pid"), col("rid")).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                   if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val exp = (Seq((10L, 9500L), (20L, 9501L)) ++
        (1L to 1000L).map(k => (-1L, k)) ++ // incl. DOA [0,5] at the point keys
        (2000L to 2400L).map(k => (-1L, k))).sorted
      assert(got == exp, s"overflow path diverged: got ${got.size}, want ${exp.size}")
    } finally {
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      prev.foreach(spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", _))
    }
  }

  test("full outer through the spill path: over-budget hot key stays exact") {
    import graft.plans.IntervalJoinExec
    import spark.implicits._
    val rnd = new scala.util.Random(171717)
    val ivals =
      (1 to 200).map { i =>
        val s = rnd.nextInt(30).toLong
        ("hot", s, s + 40 + rnd.nextInt(40), i.toLong)
      } ++
        // dead-on-arrival INSIDE spill mode: no point falls in [3, 4]
        // (points sit at multiples of 5), and by t=5 the ~40 intervals
        // with s ≤ 5 have blown the budget of 16
        Seq(("hot", 3L, 4L, 5001L), ("hot", 203L, 204L, 5002L)) ++
        (1 to 20).map(i => ("cold", i.toLong, i + 3L, (1000 + i).toLong)) ++
        // a key with no points at all: tail-drained unmatched
        Seq(("zzz", 1L, 5L, 6001L))
    val points =
      (0 to 100 by 5).map(t => ("hot", t.toLong, (3000 + t).toLong)) ++
        (1 to 20).map(i => ("cold", i.toLong, (200 + i).toLong)) ++
        Seq(("hot", 500L, 9001L)) // uncovered point on the spilled key
    val pdf = points.toDF("k", "t", "pid")
    val idf = ivals.toDF("rk", "s", "e", "rid")
    def cover(k: String, t: Long) = ivals.filter(iv => iv._1 == k && iv._2 <= t && t <= iv._3)
    def coveredBy(rk: String, s: Long, e: Long) =
      points.exists(p => p._1 == rk && s <= p._2 && p._2 <= e)
    spark.conf.set(IntervalJoinExec.MaxActiveKey, "16")
    spark.conf.set(IntervalJoinExec.SpillKey, "true")
    try {
      val got = Interval
        .intervalFullOuterJoin(pdf, idf, Seq("k"), Seq("rk"), "t", "s", "e")
        .select(col("pid"), col("rid")).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                   if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      val exp = (
        (for { (k, t, pid) <- points; iv <- cover(k, t) } yield (pid, iv._4)) ++
          points.collect { case (k, t, pid) if cover(k, t).isEmpty => (pid, -1L) } ++
          ivals.collect { case (rk, s, e, rid) if !coveredBy(rk, s, e) => (-1L, rid) }
      ).sorted
      assert(got == exp, s"full-outer spill diverged: got ${got.size}, want ${exp.size}")
      assert(exp.contains((9001L, -1L)) && exp.contains((-1L, 5001L)) &&
        exp.contains((-1L, 5002L)) && exp.contains((-1L, 6001L)),
        "fixture must exercise uncovered points and all unmatched-interval skip sites")
    } finally {
      spark.conf.unset(IntervalJoinExec.MaxActiveKey)
      spark.conf.unset(IntervalJoinExec.SpillKey)
    }
  }

  test("maxActiveIntervals metric records the per-task peak (max stat, sum headline)") {
    import spark.implicits._
    val points = Seq(("k", 10L, "p1"), ("k", 11L, "p2")).toDF("k", "t", "pname")
    val ivals = Seq(
      ("k", 0L, 100L, "r1"), ("k", 5L, 100L, "r2"), ("k", 9L, 100L, "r3")
    ).toDF("rk", "s", "e", "rname")
    val df = Interval.intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
    df.collect()
    // descend through AQE wrappers — collectFirst on executedPlan stops at
    // AdaptiveSparkPlanExec without seeing the finalized physical plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findExec(p: SparkPlan): Option[graft.plans.IntervalJoinExec] = p match {
      case e: graft.plans.IntervalJoinExec => Some(e)
      case a: AdaptiveSparkPlanExec        => findExec(a.executedPlan)
      case q: QueryStageExec               => findExec(q.plan)
      case other                           => other.children.view.flatMap(findExec(_)).headOption
    }
    val exec = findExec(df.queryExecution.executedPlan)
    assert(exec.nonEmpty, "expected an IntervalJoinExec in the executed plan")
    // one key ⇒ one task holds it ⇒ the summed headline IS that task's
    // peak here: 3 simultaneously-active intervals
    assert(exec.get.metrics("maxActiveIntervals").value == 3L,
      s"got ${exec.get.metrics("maxActiveIntervals").value}")
  }

  test("adversarial mass expiry: whole active sets die on one point, one-pass compaction exact") {
    import spark.implicits._
    // three admit/expire cycles on ONE key: each cycle admits 20k
    // intervals at its opening point, partially expires them mid-cycle,
    // then a closing point expires the rest at once. The old remove(i)
    // eviction scan paid a quadratic-ish tail shift exactly here; the
    // one-pass compaction keeps eviction linear. Correctness is a full
    // differential against the computed expectation.
    val n = 20000
    val cycles = 3
    val ivals = (0 until cycles).flatMap { c =>
      val base = c * 1000000L
      (0 until n).map(i => ("hot", base, base + (i % 500) + 1, c.toLong * n + i))
    }.toDF("rk", "s", "e", "rid")
    // per cycle: opening point admits all n; a mid point at +250 sees the
    // surviving half (ends are base+1..base+500, so ends >= base+250 ⇒
    // i%500 >= 249 ⇒ 251/500 of each block); a closing point at +600
    // mass-evicts everything and matches nothing
    val points = (0 until cycles).flatMap { c =>
      val base = c * 1000000L
      Seq(("hot", base, s"open$c"), ("hot", base + 250L, s"mid$c"), ("hot", base + 600L, s"close$c"))
    }.toDF("k", "t", "pname")
    val got = Interval
      .intervalJoin(points, ivals, Seq("k"), Seq("rk"), "t", "s", "e")
      .groupBy(col("pname"))
      .agg(count(lit(1)).as("matches"), sum(col("rid")).as("rid_sum"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected = (0 until cycles).flatMap { c =>
      val ids = (0 until n).map(i => c.toLong * n + i)
      val surviving = (0 until n).filter(i => (i % 500) + 1 >= 250).map(i => c.toLong * n + i)
      Seq(
        (s"open$c", ids.size.toLong, ids.sum),
        (s"mid$c", surviving.size.toLong, surviving.sum)
        // close$c: zero matches — absent under inner join
      )
    }.toSet
    assert(got == expected,
      s"diff: missing=${expected -- got}, spurious=${(got -- expected).take(3)}")
  }
}
