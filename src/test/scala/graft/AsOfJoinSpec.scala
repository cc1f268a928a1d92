package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOf

/** Native sort-merge as-of join ([[graft.plans.AsOfJoinExec]]) pinned to
  * the compositional union+window encoding (q19) and to hand-checked
  * fixtures for the edge semantics: inclusive time bound, tie-break order,
  * outer null-extension, empty right side, O(1)-state merge across
  * multiple keys in one partition.
  */
class AsOfJoinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def clicksAndViews = {
    val ev = graft.ops.Tables
      .events(spark, sf)
      .filter(col("event_type").isin("view", "click"))
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev
      .filter(col("event_type") === "view")
      .select(
        col("event_id").as("view_id"),
        col("user_id").as("v_user"),
        col("ts").as("vts"),
        col("value").as("view_value")
      )
    (clicks, views)
  }

  test("native as-of join equals the union+window compositional encoding on real events") {
    val (clicks, views) = clicksAndViews
    val native = AsOf
      .asofJoin(
        clicks,
        views,
        Seq("user_id"),
        Seq("v_user"),
        "ts",
        "vts",
        rightTieBreak = Seq("view_id")
      )
      .select(
        col("event_id"),
        col("user_id"),
        col("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("vts"))).as("gap_us"),
        col("view_value")
      )
    val compositional = graft.ops.QueryRegistry.byName("q19_asof_join").fn(spark, sf)
    val n = native.collect().map(_.toSeq).toSet
    val c = compositional.collect().map(_.toSeq).toSet
    assert(n == c, s"native minus comp: ${(n -- c).take(3)}; comp minus native: ${(c -- n).take(3)}")
    assert(n.nonEmpty, "as-of join produced no rows at sf0.001")
  }

  test("as-of semantics: inclusive bound, last-tie-break wins, outer null-extends") {
    import spark.implicits._
    val left = Seq(
      ("k1", 10L, "l1"), // exact-time right row counts (inclusive)
      ("k1", 25L, "l2"), // picks latest of two eligible; equal-time ties → highest tb
      ("k1", 5L, "l3"), // before any right row → unmatched
      ("k2", 99L, "l4"), // key with no right rows at all → unmatched
      ("k3", 7L, "l5") // single-row key after k2's miss (state must reset)
    ).toDF("k", "t", "lname")
    val right = Seq(
      ("k1", 10L, 1L, "r10"),
      ("k1", 20L, 2L, "r20a"),
      ("k1", 20L, 3L, "r20b"), // same time as r20a, higher tb → wins
      ("k3", 6L, 4L, "r6")
    ).toDF("k", "t", "tb", "rname")
      .select(col("k").as("rk"), col("t").as("rt"), col("tb"), col("rname"))

    val inner = AsOf
      .asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", rightTieBreak = Seq("tb"))
      .select(col("lname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(inner == Set(("l1", "r10"), ("l2", "r20b"), ("l5", "r6")), s"got $inner")

    val outer = AsOf
      .asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", Seq("tb"), outer = true)
      .select(col("lname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
      .toSet
    assert(
      outer == Set(
        ("l1", Some("r10")),
        ("l2", Some("r20b")),
        ("l3", None),
        ("l4", None),
        ("l5", Some("r6"))
      ),
      s"got $outer"
    )
  }

  test("SQL null semantics: null keys/times never match; ambiguous names are rejected") {
    import spark.implicits._
    val left = Seq(
      (Option("k"), Option(10L), "l1"), // normal match
      (Option.empty[String], Option(5L), "l2"), // null key → never matches
      (Option("k"), Option.empty[Long], "l3") // null time → never matches
    ).toDF("k", "t", "lname")
    val right = Seq(
      (Option("k"), Option(8L), "r8"),
      (Option.empty[String], Option(1L), "rNullKey"), // skipped at fetch
      (Option("k"), Option.empty[Long], "rNullTime") // skipped at fetch
    ).toDF("rk", "rt", "rname")
    val inner = AsOf
      .asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(inner == Set(("l1", "r8")), s"got $inner")
    val outer = AsOf
      .asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", Nil, outer = true)
      .select(col("lname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1))))
      .toSet
    assert(outer == Set(("l1", Some("r8")), ("l2", None), ("l3", None)), s"got $outer")
    // duplicate column names must fail loudly, not bind the first match
    val dup = left.select(col("k"), col("k"), col("t"))
    val err = intercept[IllegalArgumentException] {
      AsOf.asofJoin(dup, right, Seq("k"), Seq("rk"), "t", "rt")
    }
    assert(err.getMessage.contains("ambiguous"))
  }

  test("column resolution honors spark.sql.caseSensitive like the DataFrame API") {
    import spark.implicits._
    val left = Seq(("k", 10L, "l1")).toDF("k", "ts", "lname")
    val right = Seq(("k", 8L, "r8")).toDF("rk", "rts", "rname")
    // default caseSensitive=false: "TS" must resolve to "ts"
    val rows = AsOf
      .asofJoin(left, right, Seq("K"), Seq("Rk"), "TS", "RTS")
      .select(col("lname"), col("rname"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(rows == Set(("l1", "r8")), s"got $rows")
    // with caseSensitive=true the same lookup must fail loudly
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val err = intercept[IllegalArgumentException] {
        AsOf.asofJoin(left, right, Seq("k"), Seq("rk"), "TS", "rts")
      }
      assert(err.getMessage.contains("no column"))
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("empty right side: inner empties, outer keeps every left row null-extended") {
    import spark.implicits._
    val left = Seq(("a", 1L), ("b", 2L)).toDF("k", "t")
    val right = Seq.empty[(String, Long)].toDF("rk", "rt")
    assert(AsOf.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt").count() == 0)
    val outer = AsOf.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", Nil, outer = true)
    assert(outer.count() == 2 && outer.filter(col("rt").isNull).count() == 2)
  }

  test("plan: AsOfJoinExec with co-partitioned sorted children, no BNLJ/cartesian") {
    val (clicks, views) = clicksAndViews
    val df = AsOf.asofJoin(clicks, views, Seq("user_id"), Seq("v_user"), "ts", "vts", Seq("view_id"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"native operator missing from plan:\n$p")
    assert(
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic join shape:\n$p"
    )
    // both sides arrive hash-partitioned on the key and sorted (key, time)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty, s"left not clustered by key:\n$p")
    assert("hashpartitioning\\(v_user".r.findAllIn(p).nonEmpty, s"right not clustered by key:\n$p")
    assert("Sort \\[".r.findAllIn(p).size >= 2, s"children not sorted:\n$p")
  }

  test("bucketed sides join with NO exchange — the pre-partitioned layout pays zero shuffle") {
    val tmp = tempDir("graft_asof_bkt").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (clicks, views) = clicksAndViews
      graft.ops.Bucketing.writeBucketed(clicks, "user_id", 4, "graft_clicks_bkt", s"$tmp/c")
      graft.ops.Bucketing.writeBucketed(views, "v_user", 4, "graft_views_bkt", s"$tmp/v")
      val df = AsOf.asofJoin(
        spark.table("graft_clicks_bkt"),
        spark.table("graft_views_bkt"),
        Seq("user_id"),
        Seq("v_user"),
        "ts",
        "vts",
        rightTieBreak = Seq("view_id")
      )
      val n = df.count()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin"), s"native operator missing:\n$p")
      assert(!p.contains("Exchange"), s"bucketed as-of join still exchanged:\n$p")
      val plain = AsOf
        .asofJoin(clicks, views, Seq("user_id"), Seq("v_user"), "ts", "vts", Seq("view_id"))
        .count()
      assert(n == plain, s"bucketed rows $n != plain rows $plain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_clicks_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_views_bkt")
    }
  }

  test("randomized differential: native merge equals an in-memory reference on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      // few hot keys + duplicate timestamps on both sides to stress the
      // merge's tie and key-boundary handling across shuffle partitions
      val nKeys = 1 + rnd.nextInt(6)
      val left = Seq.fill(200)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val right = Seq.fill(150)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val lDf = left.toDF("k", "t", "payload")
      val rDf = right.toDF("rk", "rt", "rid")
      val got = AsOf
        .asofJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt", rightTieBreak = Seq("rid"), outer = true)
        .select(col("k"), col("t"), col("payload"), col("rid"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sorted(Ordering.by((x: (Long, Long, Long, Option[Long])) => (x._1, x._2, x._3, x._4)))
      val expected = left
        .map { case (k, t, p) =>
          val m = right.filter(r => r._1 == k && r._2 <= t)
          val best = if (m.isEmpty) None else Some(m.maxBy(r => (r._2, r._3))._3)
          (k, t, p, best)
        }
        .sorted(Ordering.by((x: (Long, Long, Long, Option[Long])) => (x._1, x._2, x._3, x._4)))
      assert(got.toSeq == expected, s"trial $trial diverged (nKeys=$nKeys)")
    }
  }

  test("self-join from one cached source: fresh right exprIds avoid ambiguity") {
    import spark.implicits._
    val base = Seq(("k", 1L, "x"), ("k", 2L, "y")).toDF("k", "t", "v")
    val joinedCount = AsOf
      .asofJoin(base, base, Seq("k"), Seq("k"), "t", "t")
      .count() // row at t=1 matches itself; t=2 matches t=2 (inclusive)
    assert(joinedCount == 2)
  }

  test("semi/anti modes: single-bound EXISTS/NOT EXISTS semantics incl. NULL edges") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(10L), "has_prior"),   // r@10 (inclusive bound)
      (Some(1L), Some(5L), "before_all"),   // earliest r@10 > 5
      (Some(2L), Some(99L), "no_key"),      // key 2 has no right rows
      (None: Option[Long], Some(7L), "null_key"),
      (Some(1L), None: Option[Long], "null_time")
    ).toDF("k", "t", "name")
    val right = Seq((1L, 10L), (1L, 20L), (3L, 1L)).toDF("rk", "rt")
    val semi = AsOf.asofSemiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .select(col("name")).collect().map(_.getString(0)).toSet
    // EXISTS: only left rows with a same-key right row at or before t;
    // null key/time rows never satisfy the bound
    assert(semi == Set("has_prior"), s"semi got $semi")
    val anti = AsOf.asofAntiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .select(col("name")).collect().map(_.getString(0)).toSet
    // NOT EXISTS keeps the complement INCLUDING null key/time rows (the
    // condition is always false for them)
    assert(anti == Set("before_all", "no_key", "null_key", "null_time"), s"anti got $anti")
    // left columns only, left's schema untouched
    assert(AsOf.asofSemiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .columns.toSeq == Seq("k", "t", "name"))
  }

  test("semi/anti randomized differential vs EXISTS/NOT EXISTS on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val nKeys = 1 + rnd.nextInt(5)
      val left = Seq.fill(200)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val right = Seq.fill(120)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong))
      val lDf = left.toDF("k", "t", "payload")
      val rDf = right.toDF("rk", "rt")
      val semi = AsOf.asofSemiJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val anti = AsOf.asofAntiJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val expectSemi = left
        .filter { case (k, t, _) => right.exists(r => r._1 == k && r._2 <= t) }
        .sorted
      val expectAnti = left
        .filterNot { case (k, t, _) => right.exists(r => r._1 == k && r._2 <= t) }
        .sorted
      assert(semi.toSeq == expectSemi, s"semi trial $trial diverged (nKeys=$nKeys)")
      assert(anti.toSeq == expectAnti, s"anti trial $trial diverged (nKeys=$nKeys)")
      // partition: every left row lands in exactly one of the two outputs
      assert(semi.length + anti.length == left.size)
    }
  }

  test("backward (next-event) join: earliest at-or-after match, ties to the smallest tie-break") {
    import spark.implicits._
    val left = Seq(("k", 10L, "a"), ("k", 21L, "b"), ("k", 99L, "c")).toDF("k", "t", "name")
    val right = Seq(
      ("k", 10L, 1L), // == t of 'a' (inclusive)
      ("k", 20L, 2L),
      ("k", 21L, 3L), ("k", 21L, 4L), // tie at 21: smallest rid wins
      ("x", 100L, 9L) // other key — never matches
    ).toDF("rk", "rt", "rid")
    val got = graft.plans.AsOf
      .asofNextJoin(left, right, Seq("k"), Seq("rk"), "t", "rt",
        rightTieBreak = Seq("rid"), outer = true)
      .select(col("name"), col("rid"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(got == Set(("a", Some(1L)), ("b", Some(3L)), ("c", None)), s"got $got")
  }

  test("backward join randomized differential: earliest rt >= t, smallest (rt, tie) wins") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 4) {
      val nKeys = 1 + rnd.nextInt(6)
      val left = Seq.fill(200)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val right = Seq.fill(150)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val got = graft.plans.AsOf
        .asofNextJoin(left.toDF("k", "t", "payload"), right.toDF("rk", "rt", "rid"),
          Seq("k"), Seq("rk"), "t", "rt", rightTieBreak = Seq("rid"), outer = true)
        .select(col("k"), col("t"), col("payload"), col("rid"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sorted(Ordering.by((x: (Long, Long, Long, Option[Long])) => (x._1, x._2, x._3, x._4)))
      val expected = left
        .map { case (k, t, p) =>
          val m = right.filter(r => r._1 == k && r._2 >= t)
          val best = if (m.isEmpty) None else Some(m.minBy(r => (r._2, r._3))._3)
          (k, t, p, best)
        }
        .sorted(Ordering.by((x: (Long, Long, Long, Option[Long])) => (x._1, x._2, x._3, x._4)))
      assert(got.toSeq == expected, s"trial $trial diverged (nKeys=$nKeys)")
    }
  }

  test("backward semi/anti (forward = false): EXISTS/NOT EXISTS over rt >= t, API-symmetric") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val nKeys = 1 + rnd.nextInt(6)
      val left = Seq.fill(200)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val right = Seq.fill(120)((rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong))
      val lDf = left.toDF("k", "t", "payload")
      val rDf = right.toDF("rk", "rt")
      val semi = AsOf.asofSemiJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt", forward = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val anti = AsOf.asofAntiJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt", forward = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val expectSemi = left
        .filter { case (k, t, _) => right.exists(r => r._1 == k && r._2 >= t) }
        .sorted
      assert(semi.toSeq == expectSemi, s"backward semi trial $trial diverged (nKeys=$nKeys)")
      assert(anti.toSeq == left.filterNot(expectSemi.contains).sorted,
        s"backward anti trial $trial diverged (nKeys=$nKeys)")
      // partition: every left row lands in exactly one of the two outputs
      assert(semi.length + anti.length == left.size)
      // left columns only, like the forward family
      assert(AsOf.asofSemiJoin(lDf, rDf, Seq("k"), Seq("rk"), "t", "rt", forward = false)
        .columns.toSeq == Seq("k", "t", "payload"))
    }
  }

  test("backward semi/anti NULL edges: null key/time rows fail EXISTS, survive NOT EXISTS") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(10L), "has_next"),   // r@10 (inclusive bound)
      (Some(1L), Some(25L), "after_all"),  // latest r@20 < 25
      (Some(2L), Some(1L), "no_key"),      // key 2 has no right rows
      (None: Option[Long], Some(7L), "null_key"),
      (Some(1L), None: Option[Long], "null_time")
    ).toDF("k", "t", "name")
    val right = Seq((1L, 10L), (1L, 20L), (3L, 99L)).toDF("rk", "rt")
    val semi = AsOf.asofSemiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", forward = false)
      .select(col("name")).collect().map(_.getString(0)).toSet
    assert(semi == Set("has_next"), s"backward semi got $semi")
    val anti = AsOf.asofAntiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt", forward = false)
      .select(col("name")).collect().map(_.getString(0)).toSet
    // NOT EXISTS keeps the complement INCLUDING null key/time rows (the
    // bound is always false for them), same as the forward family
    assert(anti == Set("after_all", "no_key", "null_key", "null_time"), s"backward anti got $anti")
  }

  test("semi/anti prune the right side to keys+time and never shuffle the payload") {
    import spark.implicits._
    val left = (1L to 1000L).map(i => (i % 7, i, i * 2)).toDF("k", "t", "pv")
    val right = (1L to 1000L).map(i => (i % 7, i, s"payload$i", i * 3)).toDF("rk", "rt", "junk", "rv")
    val semi = AsOf.asofSemiJoin(left, right, Seq("k"), Seq("rk"), "t", "rt")
    // output is left-only, so CustomJoinOptimization's pruning narrows the
    // right child to (rk, rt) — the payload never reaches the exchange
    val agg = semi.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val optimized = agg.queryExecution.optimizedPlan
    val asofNode = optimized.collectFirst { case a: graft.plans.AsOfJoinPlan => a }.get
    assert(asofNode.right.output.map(_.name).toSet == Set("rk", "rt"),
      s"right side not pruned: ${asofNode.right.output.map(_.name)}")
  }
}
