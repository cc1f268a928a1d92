package graft

import java.nio.file.Files
import graft.sinks.Sinks

/** Idempotent + routed sinks: a retried batch replaces its own output. */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  test("idempotentParquet makes a re-run of the same batch a no-op") {
    val root = tempDir("graft-sink").toString
    val df = (1 to 10).toDF("v")
    Sinks.idempotentParquet(df, root, batchId = 7)
    Sinks.idempotentParquet(df, root, batchId = 7) // retry of the same batch
    val back = spark.read.parquet(s"$root/batch_id=7")
    assert(back.count() == 10) // not 20: overwrite, not append
  }

  test("routedParquet fans out by batcher column") {
    val root = tempDir("graft-routes").toString
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "batcher")
    Sinks.routedParquet(df, Seq("a", "b"), r => s"$root/$r", batchId = 0)
    assert(spark.read.parquet(s"$root/a/batch_id=0").count() == 2)
    assert(spark.read.parquet(s"$root/b/batch_id=0").count() == 1)
  }

  test("routedManifested: per-route atomic publication, replay re-publishes only missing routes") {
    val root = tempDir("graft-routes-m").toString
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "batcher")
    Sinks.routedManifested(df, Seq("a", "b"), r => s"$root/$r", batchId = 0)
    assert(Sinks.readManifested(spark, s"$root/a").count() == 2)
    assert(Sinks.readManifested(spark, s"$root/b").count() == 1)
    // full replay of the batch: both routes already manifested → no-ops
    Sinks.routedManifested(df, Seq("a", "b"), r => s"$root/$r", batchId = 0)
    assert(Sinks.readManifested(spark, s"$root/a").count() == 2)
    assert(Sinks.readManifested(spark, s"$root/b").count() == 1)
    // crash-mid-fanout analog: batch 1 published route a only; the
    // replay fills in route b without duplicating route a
    Sinks.routedManifested(df.filter(org.apache.spark.sql.functions.col("batcher") === "a"),
      Seq("a"), r => s"$root/$r", batchId = 1)
    Sinks.routedManifested(df, Seq("a", "b"), r => s"$root/$r", batchId = 1)
    assert(Sinks.readManifested(spark, s"$root/a").count() == 4)
    assert(Sinks.readManifested(spark, s"$root/b").count() == 2)
  }

  test("manifestedParquet publishes atomically: unmanifested data is invisible, replay is a no-op") {
    val root = tempDir("graft-manifest").toString
    // batch 0 published normally
    Sinks.manifestedParquet((1 to 5).toDF("v"), root, batchId = 0)
    assert(Sinks.readManifested(spark, root).count() == 5)

    // simulate a crash mid-batch-1: data files exist, manifest never renamed
    (6 to 9).toDF("v").write.mode("overwrite").parquet(s"$root/data/batch_id=1")
    assert(
      Sinks.readManifested(spark, root).count() == 5,
      "a reader must never see an unmanifested (crashed/in-flight) batch"
    )

    // recovery replays batch 1: overwrites its own staging dir, publishes
    Sinks.manifestedParquet((6 to 9).toDF("v"), root, batchId = 1)
    val all = Sinks.readManifested(spark, root)
    assert(all.count() == 9)
    assert(all.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 45L)

    // replay of an already-published batch is a no-op, not a duplicate
    Sinks.manifestedParquet((6 to 9).toDF("v"), root, batchId = 1)
    assert(Sinks.readManifested(spark, root).count() == 9)
  }

  test("readManifested on an empty root returns an empty frame; with a schema it is selectable") {
    val root = tempDir("graft-manifest-empty").toString
    assert(Sinks.readManifested(spark, root).count() == 0)
    // a reader starting before the first publish must be able to reference
    // its columns, not die on the column-less emptyDataFrame
    val sc = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType))
    )
    val typed = Sinks.readManifested(spark, root, Some(sc))
    assert(typed.select("v").count() == 0)
  }

  test("vacuumUnmanifested reclaims only unreferenced staging dirs") {
    val root = tempDir("graft-manifest-vac").toString
    Sinks.manifestedParquet((1 to 3).toDF("v"), root, batchId = 0)
    // a crashed attempt: staging data with no manifest
    (7 to 9).toDF("v").write.parquet(s"$root/data/batch-1-deadbeef")
    assert(Sinks.readManifested(spark, root).count() == 3)
    val reclaimed = Sinks.vacuumUnmanifested(spark, root)
    assert(reclaimed == 1, s"expected exactly the orphan reclaimed, got $reclaimed")
    // the published batch survives and still reads
    assert(Sinks.readManifested(spark, root).count() == 3)
    assert(Sinks.vacuumUnmanifested(spark, root) == 0)
  }

  test("manifestedParquet works as a real streaming foreachBatch sink") {
    val root = tempDir("graft-manifest-stream").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = stream
      .toDS()
      .toDF("v")
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Sinks.manifestedParquet(df, root, batchId)
      }
      .start()
    try {
      stream.addData(1 to 4)
      q.processAllAvailable()
      stream.addData(5 to 6)
      q.processAllAvailable()
      val out = Sinks.readManifested(spark, root)
      assert(out.count() == 6)
      assert(out.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 21L)
    } finally q.stop()
  }

  test("compactParquet collapses a many-tiny-file directory, preserving the data") {
    val dir = tempDir("graft-compact").toString + "/data"
    // simulate many trigger-sized writes: 64 partitions → 64 tiny files
    spark.range(10000).repartition(64).write.parquet(dir)
    def files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val before = files
    assert(before >= 32, s"expected many small files, got $before")
    val sumBefore = spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0)
    Sinks.compactParquet(spark, dir, targetBytes = 8L * 1024 * 1024)
    val after = files
    assert(after < before / 4, s"compaction did not shrink file count: $before -> $after")
    val sumAfter = spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0)
    assert(sumAfter == sumBefore, "compaction changed the data")
  }

  test("compactParquet heals every crash state of its rename swap, loss-free") {
    // The original swap was delete-then-rename: a crash between the two
    // left the data only under `.compacting` with the directory GONE —
    // contradicting the Scaladoc's crash-safety claim (self-review r12).
    // The two-rename swap's windows are each simulated here and the next
    // compactParquet call must heal them before compacting.
    val root = tempDir("graft-compact-crash").toString
    val dir = root + "/data"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def sum() = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
    spark.range(5000).repartition(16).write.parquet(dir)
    val expected = sum()
    // crash BETWEEN the renames: dst missing, original under .precompact
    fs.rename(p(dir), p(s"$dir.precompact"))
    Sinks.compactParquet(spark, dir, targetBytes = 8L * 1024 * 1024)
    assert(sum() == expected, "between-renames crash state lost data")
    assert(!fs.exists(p(s"$dir.precompact")) && !fs.exists(p(s"$dir.compacting")))
    // crash BEFORE the swap: stale .compacting beside an intact dst
    spark.range(3).write.parquet(s"$dir.compacting")
    Sinks.compactParquet(spark, dir, targetBytes = 8L * 1024 * 1024)
    assert(sum() == expected, "stale .compacting leaked into the data")
    // crash AFTER the second rename (cleanup missed): stale .precompact
    spark.range(3).write.parquet(s"$dir.precompact")
    Sinks.compactParquet(spark, dir, targetBytes = 8L * 1024 * 1024)
    assert(sum() == expected, "stale .precompact overwrote an intact dst")
    assert(!fs.exists(p(s"$dir.precompact")) && !fs.exists(p(s"$dir.compacting")))
  }

  test("compactManifested: one atomic superseding manifest, data preserved, old batches reclaimed") {
    val root = tempDir("graft-mcompact").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def manifests() = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 6).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val expected = (0 until 60).sum.toLong
    assert(total() == expected && manifests().length == 6)

    // crash BEFORE the publish: orphan compact staging + dot-tmp manifest
    // are invisible to readers and reclaimed by vacuum
    (100 to 103).toDF("v").write.parquet(s"$root/data/compact-9-dead")
    val tmpOut = fs.create(p(s"$root/_manifests/.compact-9-dead.tmp"), true)
    tmpOut.write("junk".getBytes("UTF-8")); tmpOut.close()
    assert(total() == expected, "a crashed compaction attempt leaked into readers")
    assert(Sinks.vacuumUnmanifested(spark, root) == 1)

    val parts = Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    assert(parts == 1)
    assert(total() == expected, "compaction changed the data")
    assert(manifests().toSeq == Seq("compact-1"), s"retired manifests not cleaned: ${manifests().toSeq}")
    val dataDirs = fs.listStatus(p(s"$root/data")).filter(_.isDirectory).map(_.getPath.getName)
    assert(dataDirs.length == 1 && dataDirs.head.startsWith("compact-1-"),
      s"old batch staging not reclaimed: ${dataDirs.toSeq}")

    // a batch published AFTER the compaction stays live alongside it
    Sinks.manifestedParquet((60 until 70).toDF("v"), root, batchId = 6)
    assert(total() == (0 until 70).sum.toLong)
  }

  test("compactManifested window + leftovers: superseded manifests on disk are ignored, never resurrected") {
    val root = tempDir("graft-mcompact-win").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val expected = (0 until 30).sum.toLong
    // freeze the pre-compaction manifest contents so the crash window
    // (publish done, cleanup not) can be reconstructed exactly
    val frozen = fs.listStatus(p(s"$root/_manifests")).filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false); buf.toByteArray
      } finally in.close()
      st.getPath.getName -> bytes
    }
    Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    // reconstruct "publish done, cleanup crashed": retired batch manifests
    // back on disk beside compact-1 — the exact state a concurrent reader
    // can observe between the rename and the deletes
    def restoreFrozen(): Unit = frozen.foreach { case (name, bytes) =>
      val out = fs.create(p(s"$root/_manifests/$name"), true)
      out.write(bytes); out.close()
    }
    restoreFrozen()
    assert(total() == expected,
      "reader in the publish-to-cleanup window double-counted superseded batches")
    // two fresh batches make the next compaction REAL (≥ 2 small files);
    // it must supersede EVERY manifest file — retired leftovers included —
    // so that deleting the old compaction manifest can never resurrect
    // the batches it retired
    Sinks.manifestedParquet((30 until 40).toDF("v"), root, batchId = 3)
    Sinks.manifestedParquet((40 until 50).toDF("v"), root, batchId = 4)
    val expected2 = (0 until 50).sum.toLong
    Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    def names() = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    assert(names().toSeq == Seq("compact-2"), s"second compaction left leftovers: ${names().toSeq}")
    val in = fs.open(p(s"$root/_manifests/compact-2"))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(body.contains("#supersedes:compact-1"))
    frozen.foreach { case (name, _) =>
      assert(body.contains(s"#supersedes:$name"), s"leftover $name not superseded by compact-2")
    }
    assert(total() == expected2)
    // the NO-OP path (nothing worth merging) still heals interrupted
    // cleanup: leftovers are deleted, the live manifest survives
    restoreFrozen()
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 0)
    assert(names().toSeq == Seq("compact-2"),
      s"no-op compaction did not heal leftovers: ${names().toSeq}")
    assert(total() == expected2)
  }

  test("compactManifested: a batch published INSIDE the compaction window survives, data intact") {
    // The r13 hazard: the supersedes snapshot / leftover-cleanup set came
    // from a SECOND listing taken after the live-file set, so a manifest
    // published between the listings was superseded (or deleted as a
    // leftover) without its files being carried — silent batch loss. Now
    // everything derives from one listing; this interleaves a publish AND
    // an in-flight (manifest-less) write into the exact window and
    // asserts both survive.
    val root = tempDir("graft-mcompact-race").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val parts = Sinks.compactManifestedHooked(
      spark, root, targetBytes = 512L * 1024 * 1024, retainMillis = 0L,
      afterSnapshot = () => {
        // a full publish landing mid-compaction...
        Sinks.manifestedParquet((30 until 40).toDF("v"), root, batchId = 3)
        // ...and a writer still in flight: data staged, manifest not yet
        // renamed — the dir the old blanket vacuum used to destroy
        (40 until 50).toDF("v").write.parquet(s"$root/data/batch-4-inflight")
      })
    assert(parts == 1)
    // the mid-window batch is live alongside the compacted set, its data intact
    assert(total() == (0 until 40).sum.toLong,
      "a batch published during compaction was superseded or its data deleted")
    val manifests = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    assert(manifests.toSeq == Seq("batch-3", "compact-1"), s"got ${manifests.toSeq}")
    // the in-flight writer's staging dir was NOT vacuumed: finishing the
    // publish (replay writes its own attempt dir, manifest renames) works
    assert(fs.exists(p(s"$root/data/batch-4-inflight")),
      "compaction deleted a concurrent writer's in-flight staging dir")
    Sinks.manifestedParquet((40 until 50).toDF("v"), root, batchId = 4)
    assert(total() == (0 until 50).sum.toLong)
  }

  test("compactManifested under a CONCURRENT writer thread: every published batch survives, total exact") {
    // The seam test pins the exact r13 hazard window; this one runs the
    // real race: a writer thread publishing batches flat-out while the
    // main thread compacts in a housekeeping loop ("call it blindly").
    // No timing assertions — only end-state integrity: every batch's sum
    // present exactly once, readable mid-run and after.
    val root = tempDir("graft-mcompact-conc").toString
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    val batches = 24
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val published = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      try {
        (0 until batches).foreach { b =>
          Sinks.manifestedParquet(((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong)
          published.incrementAndGet()
        }
      } catch { case t: Throwable => failure.set(t) }
    }, "graft-conc-writer")
    writer.start()
    val deadline = System.currentTimeMillis() + 120000
    while (writer.isAlive && System.currentTimeMillis() < deadline) {
      Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
      // a reader racing both: whatever set it resolves must sum to a
      // prefix-consistent value (each batch is all-or-nothing); the
      // pre-first-publish window resolves an empty columnless frame —
      // the documented schema-param case, typed here explicitly
      val sc = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType)))
      val seen = Sinks.readManifested(spark, root, Some(sc))
        .agg(org.apache.spark.sql.functions.sum("v")).head()
      if (!seen.isNullAt(0)) {
        val s = seen.getLong(0)
        val valid = (0 to batches).map(n => (0 until n * 10).sum.toLong).toSet
        assert(valid.contains(s), s"mid-run reader saw a non-batch-atomic sum: $s")
      }
    }
    writer.join(10000)
    assert(failure.get() == null, s"writer thread failed: ${failure.get()}")
    assert(published.get() == batches)
    // final compaction pass, then the invariant: nothing lost, nothing doubled
    Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    assert(total() == (0 until batches * 10).sum.toLong,
      "a batch published concurrently with compaction was lost or doubled")
  }

  test("compactManifested retention: retired state outlives the publish by retainMillis for lazy readers") {
    val root = tempDir("graft-mcompact-retain").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val expected = (0 until 30).sum.toLong
    // a reader that resolved its file list BEFORE the compaction...
    val preResolved = fs.globStatus(p(s"$root/data/batch-*/*.parquet")).map(_.getPath.toString)
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    // ...can still scan it inside the grace window (Delta-style retention)
    assert(spark.read.parquet(preResolved.toIndexedSeq: _*)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == expected,
      "retention did not protect a pre-compaction reader's resolved file set")
    // a fresh reader sees the compacted set exactly once, never old + new
    assert(total() == expected)
    val dataDirs = fs.listStatus(p(s"$root/data")).filter(_.isDirectory).map(_.getPath.getName)
    assert(dataDirs.count(_.startsWith("batch-")) == 3, s"retention violated: ${dataDirs.toSeq}")
    // a later housekeeping pass with the window elapsed reclaims everything
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 0L) == 0)
    val after = fs.listStatus(p(s"$root/data")).filter(_.isDirectory).map(_.getPath.getName)
    assert(after.count(_.startsWith("batch-")) == 0, s"aged-out dirs not reclaimed: ${after.toSeq}")
    assert(total() == expected)
  }

  test("retention: a dir shared by an AGED and an in-grace retired manifest survives until BOTH age") {
    // A kept-by-reference file shares its dir across manifest
    // generations: the batch manifest that first wrote it and the later
    // compaction manifest that carried it by reference can be retired at
    // DIFFERENT times. The long-aged batch manifest must not collapse
    // the grace window of the freshly retired compaction manifest naming
    // the same dir — the reader the window protects resolved the
    // compaction manifest's list.
    val root = tempDir("graft-mcompact-shared").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    // batch 0 big (kept by reference at the first compaction), 1-2 small
    Sinks.manifestedParquet(spark.range(20000).selectExpr("id AS v"), root, batchId = 0)
    (1 to 2).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).map(_.toLong).toDF("v"), root, batchId = b.toLong))
    val expected = (0L until 20000L).sum + (10 until 30).sum
    val bigDir = fs.globStatus(p(s"$root/data/batch-0-*")).head.getPath
    val bigFiles = fs.globStatus(p(s"$root/data/batch-0-*/*.parquet")).map(_.getPath.toString)
    // compact-1 with retention: batch manifests retire IN GRACE (stay on
    // disk), big file rides into compact-1 by reference
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 16L * 1024, retainMillis = 3600L * 1000) == 1)
    Thread.sleep(2000) // age gap between the two retirement generations
    // compact-2 with a huge target: the big file is now "small" and gets
    // REWRITTEN — its dir loses live protection, held only by retired refs
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    // cleanup pass where the batch manifests (retired ~2 s ago) are aged
    // but compact-1 (retired just now) is still in grace
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 1000L) == 0)
    assert(fs.exists(bigDir),
      "aged batch manifest collapsed the in-grace compaction manifest's dir")
    // the in-grace reader's resolved list still scans
    assert(spark.read.parquet(bigFiles.toIndexedSeq: _*).count() == 20000L)
    assert(total() == expected)
    // once compact-1 ages too, the dir is reclaimed via ITS refs
    Thread.sleep(1500)
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 1000L) == 0)
    assert(!fs.exists(bigDir), "dir not reclaimed after every referencer aged")
    assert(total() == expected)
  }

  test("replay AFTER compaction reclaimed the batch manifest is a no-op: tombstones make publish-once durable") {
    // The r14 hazard: the replay no-op check was solely exists(manifest),
    // so a batch replayed after compaction retired AND reclaimed its
    // manifest (default retainMillis = 0) re-published and silently
    // duplicated its rows. Tombstones (`#retired:` ranges, folded forward
    // across generations) make the publish-once record durable.
    val root = tempDir("graft-mcompact-tomb").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    def names() = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val expected = (0 until 30).sum.toLong
    // retention 0: batch manifests retired AND reclaimed immediately
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 1)
    assert(names().toSeq == Seq("compact-1"))
    // the exact r14 interleaving: Spark replays batch 1 (checkpoint commit
    // never landed) — the manifest file is GONE, only the tombstone knows
    Sinks.manifestedParquet((10 until 20).toDF("v"), root, batchId = 1)
    assert(total() == expected, "replayed-after-retirement batch duplicated its rows")
    assert(names().toSeq == Seq("compact-1"), s"replay re-published a retired batch: ${names().toSeq}")
    // TWO generations: compact-2 retires compact-1; batch-0's tombstone
    // must survive compact-1's reclamation (folded forward)
    Sinks.manifestedParquet((30 until 40).toDF("v"), root, batchId = 3)
    Sinks.manifestedParquet((40 until 50).toDF("v"), root, batchId = 4)
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 1)
    assert(names().toSeq == Seq("compact-2"))
    val in = fs.open(p(s"$root/_manifests/compact-2"))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(body.contains("#retired:batch-0..4"),
      s"tombstones not folded forward into one coalesced range:\n$body")
    val expected2 = (0 until 50).sum.toLong
    Sinks.manifestedParquet((0 until 10).toDF("v"), root, batchId = 0) // replay, 2 gens later
    Sinks.manifestedParquet((30 until 40).toDF("v"), root, batchId = 3) // replay, 1 gen later
    assert(total() == expected2, "a tombstoned batch re-published after two compaction generations")
    // a genuinely NEW batch still publishes normally
    Sinks.manifestedParquet((50 until 60).toDF("v"), root, batchId = 5)
    assert(total() == (0 until 60).sum.toLong)
  }

  test("vacuumUnmanifested inside the retention grace window protects retired-but-in-grace dirs") {
    // ADVICE r14: vacuum used to protect only LIVE manifests' dirs, so
    // running it during a compaction's retainMillis window deleted the
    // retired dirs a lazy reader was still scanning — silently violating
    // the retention guarantee. Protection now covers dirs referenced by
    // ANY on-disk manifest, retired included.
    val root = tempDir("graft-vac-grace").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val expected = (0 until 30).sum.toLong
    val preResolved = fs.globStatus(p(s"$root/data/batch-*/*.parquet")).map(_.getPath.toString)
    // retire the batch manifests with a long grace window — they and
    // their dirs stay on disk for lazy readers
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    // a genuine orphan (crashed attempt) beside them
    (99 to 99).toDF("v").write.parquet(s"$root/data/batch-7-deadbeef")
    val reclaimed = Sinks.vacuumUnmanifested(spark, root)
    assert(reclaimed == 1, s"vacuum must reclaim ONLY the orphan, got $reclaimed")
    // the in-grace reader's resolved file set still scans
    assert(spark.read.parquet(preResolved.toIndexedSeq: _*)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == expected,
      "vacuum deleted retired-but-in-grace dirs a lazy reader still needs")
    assert(total() == expected)
  }

  test("routedManifestedComposite: one manifest covers all routes — crash mid-fanout leaves NO route visible") {
    val root = tempDir("graft-routes-comp").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "batcher")
    Sinks.routedManifestedComposite(df, Seq("a", "b"), root, batchId = 0)
    assert(Sinks.readRoutedManifested(spark, root, "a").count() == 2)
    assert(Sinks.readRoutedManifested(spark, root, "b").count() == 1)
    // the batcher column rides in the data (route= is only a path segment)
    assert(Sinks.readRoutedManifested(spark, root, "a")
      .filter(org.apache.spark.sql.functions.col("batcher") === "a").count() == 2)
    // full replay: one manifest, one no-op
    Sinks.routedManifestedComposite(df, Seq("a", "b"), root, batchId = 0)
    assert(Sinks.readManifested(spark, root).count() == 3)

    // crash mid-fanout: batch 1's data staged (all routes written), the
    // manifest never renamed — NO route may see any slice
    df.withColumn("route", org.apache.spark.sql.functions.col("batcher"))
      .write.partitionBy("route").parquet(s"$root/data/batch-1-deadbeef")
    assert(Sinks.readRoutedManifested(spark, root, "a").count() == 2,
      "route a saw a slice of an unpublished (crashed) composite batch")
    assert(Sinks.readRoutedManifested(spark, root, "b").count() == 1,
      "route b saw a slice of an unpublished (crashed) composite batch")
    // the replay publishes ALL routes with one rename — all-or-nothing
    Sinks.routedManifestedComposite(df, Seq("a", "b"), root, batchId = 1)
    assert(Sinks.readRoutedManifested(spark, root, "a").count() == 4)
    assert(Sinks.readRoutedManifested(spark, root, "b").count() == 2)
    // the crashed attempt's staging dir is an orphan; vacuum reclaims it
    // without touching the published attempts' route dirs
    assert(Sinks.vacuumUnmanifested(spark, root) == 1)
    assert(!fs.exists(p(s"$root/data/batch-1-deadbeef")))
    assert(Sinks.readRoutedManifested(spark, root, "a").count() == 4)
    // rows outside the declared routes are dropped, same as the per-route
    // variant's filters
    Sinks.routedManifestedComposite(
      Seq((9, "a"), (10, "zz")).toDF("v", "batcher"), Seq("a", "b"), root, batchId = 2)
    assert(Sinks.readManifested(spark, root).count() == 7)
  }

  test("composite root compaction is route-aware: rewrites never mix routes; tombstones apply") {
    val root = tempDir("graft-routes-comp-c").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    (0 until 4).foreach { b =>
      val df = Seq((b * 10 + 1, "a"), (b * 10 + 2, "b"), (b * 10 + 3, "a")).toDF("v", "batcher")
      Sinks.routedManifestedComposite(df, Seq("a", "b"), root, batchId = b.toLong)
    }
    def sumRoute(r: String) = Sinks.readRoutedManifested(spark, root, r)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    val (sumA, sumB) = (sumRoute("a"), sumRoute("b"))
    val parts = Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    assert(parts == 2, s"expected one rewrite per route group, got $parts")
    // per-route reads are exact after compaction
    assert(sumRoute("a") == sumA, "route a changed under route-aware compaction")
    assert(sumRoute("b") == sumB, "route b changed under route-aware compaction")
    // no compacted file mixes routes: every manifested file carries its
    // route segment, and each reads back route-pure
    val manifested = fs.listStatus(p(s"$root/_manifests")).filter(_.isFile)
    assert(manifested.length == 1 && manifested.head.getPath.getName == "compact-1")
    val in = fs.open(manifested.head.getPath)
    val files = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).toVector finally in.close()
    assert(files.nonEmpty && files.forall(_.contains("/route=")),
      s"compacted files lost their route segment: $files")
    files.foreach { f =>
      val routes = spark.read.parquet(f)
        .select("batcher").distinct().collect().map(_.getString(0)).toSet
      assert(routes.size == 1, s"compacted file $f mixes routes: $routes")
    }
    // retired composite staging dirs are FULLY reclaimed — including the
    // staging parent that holds only Spark's _SUCCESS marker once its
    // route= subdirs are deleted (a bare emptiness check would leave one
    // marker-only dir per batch forever)
    val leftovers = fs.listStatus(p(s"$root/data")).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch-"))
    assert(leftovers.isEmpty,
      s"retired composite staging dirs not reclaimed: ${leftovers.toSeq}")
    // replay of a retired composite batch is a tombstone no-op too
    Sinks.routedManifestedComposite(
      Seq((1, "a"), (2, "b"), (3, "a")).toDF("v", "batcher"), Seq("a", "b"), root, batchId = 0)
    assert(sumRoute("a") == sumA && sumRoute("b") == sumB,
      "a retired composite batch re-published on replay")
  }

  test("aged-out files inside a kept (shared) dir are reclaimed individually — no space leak") {
    // ADVICE r14: a batch whose staging dir holds BOTH a kept-by-reference
    // file (still named by the live compaction manifest) and a rewritten
    // small file used to leak the small file forever — the dir stays
    // protected, so neither dir-level cleanup nor vacuum could touch it.
    // File-level reclamation deletes exactly the aged manifest's files no
    // live/in-grace manifest names, inside dirs that must survive.
    val root = tempDir("graft-mcompact-leak").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    // batch 0: TWO partitions of wildly different sizes in ONE staging dir
    // (RDD union preserves partitioning: 1 tiny + 1 fat = 2 files)
    import org.apache.spark.sql.functions.{col, concat, lit, md5, when}
    val tiny = spark.sparkContext.parallelize(0L until 100L, 1)
    val fat = spark.sparkContext.parallelize(100L until 10100L, 1)
    val df0 = spark.createDataset(tiny.union(fat))(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("v")
      .withColumn("pad", when(col("v") < 100, lit("")).otherwise(
        concat(md5(col("v").cast("string")), md5((col("v") + 7).cast("string")))))
    Sinks.manifestedParquet(df0, root, batchId = 0)
    val b0Files = fs.globStatus(p(s"$root/data/batch-0-*/*.parquet"))
    assert(b0Files.length == 2, s"need two files in one dir, got ${b0Files.length}")
    val bigFile = b0Files.maxBy(_.getLen).getPath
    val smallFile = b0Files.minBy(_.getLen).getPath
    val target = 2L * b0Files.minBy(_.getLen).getLen + 1024 // small rewrites, big keeps
    assert(bigFile.toString != smallFile.toString && b0Files.maxBy(_.getLen).getLen > target)
    (1 to 2).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).map(_.toLong).toDF("v"), root, batchId = b.toLong))
    val expected = (0L until 10100L).sum + (10 until 30).sum
    assert(total() == expected)
    assert(Sinks.compactManifested(spark, root, targetBytes = target) >= 1)
    // the shared dir survives (big file rides by reference in compact-1)…
    assert(fs.exists(bigFile), "kept-by-reference file must survive")
    // …but the aged batch-0 manifest's rewritten small file inside it is
    // individually reclaimed instead of leaking
    assert(!fs.exists(smallFile),
      "aged-out rewritten file inside the kept dir leaked (the r14 ADVICE case)")
    assert(total() == expected, "file-level reclamation changed the data")
    // and vacuum still sees the dir as referenced — nothing to do
    assert(Sinks.vacuumUnmanifested(spark, root) == 0)
    assert(total() == expected)
  }

  test("END-TO-END recovery: Spark's own replay after compaction reclaimed the manifest is a no-op") {
    // The full r14 interleaving on the REAL recovery mechanism, not a
    // simulated replay call: a streaming query publishes batches through
    // manifestedParquet; the driver "dies" after the sink published
    // batch 1 but before the checkpoint commit (we delete commits/1 —
    // offsets/1 survives, exactly that crash point); the housekeeping
    // compactor runs during the outage with retention 0, retiring AND
    // reclaiming batch manifests; the query restarts and Spark genuinely
    // re-executes batch 1 (at-least-once side effects). The tombstone in
    // compact-1 must make the re-publish a no-op — before round 15 this
    // silently doubled batch 1's rows.
    val root = tempDir("graft-e2e-recovery").toString
    val ck = tempDir("graft-e2e-recovery-ck").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    def names() = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val seenBatchIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start(stream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]) =
      stream.toDS().toDF("v").writeStream
        .outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          seenBatchIds.add(batchId)
          Sinks.manifestedParquet(df, root, batchId)
        }
        .start()
    // phase 1: two committed batches
    val s1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q1 = start(s1)
    try {
      s1.addData(1 to 4); q1.processAllAvailable() // batch 0
      s1.addData(5 to 6); q1.processAllAvailable() // batch 1
    } finally q1.stop()
    assert(total() == 21L && names().length == 2)
    // the crash: batch 1's sink effect landed, its checkpoint commit did
    // not — on restart Spark MUST re-run batch 1 from the offset log
    assert(fs.delete(p(s"$ck/commits/1"), false), "commit marker to delete must exist")
    // housekeeping during the outage: retention 0 retires + reclaims the
    // batch manifests; only compact-1 (carrying the tombstones) remains
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 1)
    assert(names().toSeq == Seq("compact-1"))
    // restart: a NEW MemoryStream whose blocks 0/1 mirror the committed
    // offsets (the checkpoint's offset log addresses block ordinals)
    val s2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    s2.addData(1 to 4)
    s2.addData(5 to 6)
    seenBatchIds.clear()
    val q2 = start(s2)
    try {
      q2.processAllAvailable() // replays batch 1 — the genuine recovery path
      assert(seenBatchIds.contains(1L),
        s"precondition: the restart must actually REPLAY batch 1, saw $seenBatchIds")
      assert(total() == 21L,
        "Spark's replayed batch re-published after its manifest was reclaimed (rows doubled)")
      assert(names().toSeq == Seq("compact-1"),
        s"replay re-created a retired batch manifest: ${names().toSeq}")
      // life goes on: a genuinely new batch still publishes normally
      s2.addData(7 to 9); q2.processAllAvailable()
      assert(total() == 45L)
      assert(names().toSeq == Seq("batch-2", "compact-1"), s"got ${names().toSeq}")
    } finally q2.stop()
  }

  test("manifestStats: the housekeeping-loop view tracks every lifecycle stage") {
    val root = tempDir("graft-mstats").toString
    def stats(t: Long = 512L * 1024 * 1024) = Sinks.manifestStats(spark, root, t)
    // empty root
    assert(stats() == Sinks.ManifestStats(0, 0, 0L, 0, 0, 0, 0L, 0))
    // three live batches + one crashed attempt
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    (99 to 99).toDF("v").write.parquet(s"$root/data/batch-7-deadbeef")
    val s1 = stats()
    assert(s1.liveManifests == 3 && s1.liveFiles >= 3 && s1.liveBytes > 0)
    assert(s1.smallFiles == s1.liveFiles, "trigger-sized files must all census as small")
    assert(s1.retiredInGrace == 0 && s1.orphanDirs == 1)
    // compaction with a grace window: batches retire IN GRACE, the
    // publish-once record covers ids 0..2
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    val s2 = stats()
    assert(s2.liveManifests == 1 && s2.retiredInGrace == 3)
    assert(s2.tombstoneRanges == 1 && s2.tombstonedBatches == 3,
      s"publish-once record must cover batch-0..2 as one range: $s2")
    assert(s2.smallFiles == 1, "the compacted file at this target is still small-classed")
    // nothing small enough to merge twice → compaction would no-op; the
    // stats say so up front (smallFiles < 2)
    assert(s2.smallFiles < 2)
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 0)
    // vacuum reclaims the orphan; the stats converge to steady state
    assert(Sinks.vacuumUnmanifested(spark, root) == 1)
    val s3 = stats()
    assert(s3.orphanDirs == 0)
    // lease observability: no compactor is running → not held
    assert(!s3.compactorLeaseHeld && s3.compactorLeaseAgeMillis == -1L)
    // a (crashed) holder's lease shows up with a filesystem-clock age an
    // operator can compare to leaseTimeoutMillis
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/_manifests/.compactor-lease")
    val lo = fs.create(lease, true)
    lo.write("some-holder".getBytes("UTF-8")); lo.close()
    fs.setTimes(lease, System.currentTimeMillis() - 120000L, -1)
    val s4 = stats()
    assert(s4.compactorLeaseHeld, "hand-planted lease must census as held")
    assert(s4.compactorLeaseAgeMillis >= 100000L,
      s"lease age must reflect the heartbeat mtime, got ${s4.compactorLeaseAgeMillis}")
    fs.delete(lease, false)
    assert(!stats().compactorLeaseHeld)
  }

  test("randomized lifecycle model: any publish/replay/compact/vacuum interleaving keeps totals exact") {
    // Model-based check of the publish-once machinery: a seeded random
    // walk over the sink's whole operation alphabet — publish a new
    // batch, REPLAY a random already-published batch (the at-least-once
    // recovery event; must be a no-op whether its manifest is live,
    // retired-in-grace, or long reclaimed), compact at retention 0 or
    // with a grace window, vacuum — asserting after EVERY step that
    // readManifested's sum equals the model's (each batch counted once).
    // Three seeds x 30 steps; any violation prints the exact op trace.
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val root = tempDir(s"graft-model-$seed").toString
      var nextId = 0L
      var published = Vector.empty[Long]
      def rowsOf(b: Long): Seq[Int] = (b * 10 until b * 10 + 10).map(_.toInt)
      def expected: Long = published.map(b => rowsOf(b).map(_.toLong).sum).sum
      def total(): Long = {
        val r = Sinks.readManifested(spark, root)
          .agg(org.apache.spark.sql.functions.sum("v")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val trace = new StringBuilder
      (0 until 30).foreach { step =>
        val op = rnd.nextInt(10)
        if (op < 4 || published.isEmpty) {
          trace ++= s"publish($nextId); "
          Sinks.manifestedParquet(rowsOf(nextId).toDF("v"), root, nextId)
          published :+= nextId
          nextId += 1
        } else if (op < 7) {
          val b = published(rnd.nextInt(published.size))
          trace ++= s"replay($b); "
          Sinks.manifestedParquet(rowsOf(b).toDF("v"), root, b)
        } else if (op < 9) {
          val retain = if (rnd.nextBoolean()) 0L else 3600L * 1000
          trace ++= s"compact(retain=$retain); "
          Sinks.compactManifested(spark, root,
            targetBytes = 512L * 1024 * 1024, retainMillis = retain)
        } else {
          trace ++= "vacuum; "
          Sinks.vacuumUnmanifested(spark, root)
        }
        assert(total() == expected,
          s"seed $seed step $step: total ${total()} != expected $expected after: $trace")
      }
      // end state: exact row count too (no partial batches, no dups)
      assert(Sinks.readManifested(spark, root).count() == published.size * 10L,
        s"seed $seed final row count wrong after: $trace")
    }
  }

  test("randomized lifecycle model, COMPOSITE root: per-route sums stay exact and route-pure") {
    // Same model walk over the cross-route-atomic layout: composite
    // publishes, replays, route-aware compactions, vacuums — after every
    // step EACH route's sum must match the model and every manifested
    // file must stay route-pure (compaction must never mix routes).
    for (seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      val root = tempDir(s"graft-model-comp-$seed").toString
      val routes = Seq("a", "b")
      var nextId = 0L
      var published = Vector.empty[Long]
      def dfOf(b: Long) =
        (b * 10 until b * 10 + 10).map(v => (v.toInt, routes((v % 2).toInt))).toDF("v", "batcher")
      def expected(r: String): Long = published.flatMap(b =>
        (b * 10 until b * 10 + 10).filter(v => routes((v % 2).toInt) == r)).sum
      def routeSum(r: String): Long = {
        val row = Sinks.readRoutedManifested(spark, root, r)
          .agg(org.apache.spark.sql.functions.sum("v")).head()
        if (row.isNullAt(0)) 0L else row.getLong(0)
      }
      val trace = new StringBuilder
      (0 until 20).foreach { step =>
        val op = rnd.nextInt(10)
        if (op < 4 || published.isEmpty) {
          trace ++= s"publish($nextId); "
          Sinks.routedManifestedComposite(dfOf(nextId), routes, root, nextId)
          published :+= nextId
          nextId += 1
        } else if (op < 7) {
          val b = published(rnd.nextInt(published.size))
          trace ++= s"replay($b); "
          Sinks.routedManifestedComposite(dfOf(b), routes, root, b)
        } else if (op < 9) {
          val retain = if (rnd.nextBoolean()) 0L else 3600L * 1000
          trace ++= s"compact(retain=$retain); "
          Sinks.compactManifested(spark, root,
            targetBytes = 512L * 1024 * 1024, retainMillis = retain)
        } else {
          trace ++= "vacuum; "
          Sinks.vacuumUnmanifested(spark, root)
        }
        routes.foreach { r =>
          assert(routeSum(r) == expected(r),
            s"seed $seed step $step route $r: ${routeSum(r)} != ${expected(r)} after: $trace")
        }
      }
      // route purity of the end state: every manifested file carries its
      // route segment and reads back single-route
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).flatMap { st =>
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filterNot(_.startsWith("#")).filter(_.nonEmpty).toVector
          finally in.close()
        }
      assert(files.nonEmpty && files.forall(_.contains("/route=")),
        s"seed $seed: manifested file without a route segment after: $trace")
      files.foreach { f =>
        val rs = spark.read.parquet(f).select("batcher").distinct()
          .collect().map(_.getString(0)).toSet
        assert(rs.size == 1, s"seed $seed: file $f mixes routes $rs after: $trace")
      }
    }
  }

  test("readManifested merges evolved batch schemas BEFORE any compaction") {
    val root = tempDir("graft-manifest-merge").toString
    Sinks.manifestedParquet((1 to 5).toDF("v"), root, batchId = 0)
    Sinks.manifestedParquet(Seq((6, "a"), (7, "b")).toDF("v", "tag"), root, batchId = 1)
    val back = Sinks.readManifested(spark, root)
    assert(back.columns.toSet == Set("v", "tag"),
      s"uncompacted evolved batches dropped columns: ${back.columns.toSeq}")
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 28L)
    assert(back.filter(org.apache.spark.sql.functions.col("tag").isNotNull).count() == 2)
  }

  test("compactManifested merges evolved schemas instead of dropping the newer columns") {
    val root = tempDir("graft-mcompact-schema").toString
    // batch 0: (v); batch 1 evolved additively: (v, tag)
    Sinks.manifestedParquet((1 to 5).toDF("v"), root, batchId = 0)
    Sinks.manifestedParquet(
      Seq((6, "a"), (7, "b")).toDF("v", "tag"), root, batchId = 1)
    Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    val back = Sinks.readManifested(spark, root)
    assert(back.columns.toSet == Set("v", "tag"),
      s"compaction dropped evolved columns: ${back.columns.toSeq}")
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 28L)
    assert(back.filter(org.apache.spark.sql.functions.col("tag").isNotNull).count() == 2)
    assert(back.filter(org.apache.spark.sql.functions.col("tag").isNull).count() == 5)
  }

  test("compactManifested is incremental: full-size files ride by reference, only small ones rewrite") {
    val root = tempDir("graft-mcompact-incr").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    // one big batch (~tens of KB) + three trigger-sized ones (~1 KB each)
    Sinks.manifestedParquet(spark.range(20000).selectExpr("id AS v"), root, batchId = 0)
    (1 to 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).map(_.toLong).toDF("v"), root, batchId = b.toLong))
    val expected = (0L until 20000L).sum + (10 until 40).sum
    val bigFiles = fs.globStatus(p(s"$root/data/batch-0-*/*.parquet")).map(_.getPath.toString)
    assert(bigFiles.nonEmpty)
    // threshold between the two sizes: big kept by reference, small merged
    val parts = Sinks.compactManifested(spark, root, targetBytes = 16L * 1024)
    assert(parts == 1, s"three ~1 KB files should merge into one, got $parts")
    assert(total() == expected, "incremental compaction changed the data")
    val manifest = fs.listStatus(p(s"$root/_manifests")).filter(_.isFile).head.getPath
    val in = fs.open(manifest)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    bigFiles.foreach(f =>
      assert(body.contains(f), s"full-size file not carried by reference: $f"))
    // the big batch's staging dir is still referenced → untouched on disk;
    // the rewritten small batches' dirs are reclaimed
    val dataDirs = fs.listStatus(p(s"$root/data")).filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    assert(dataDirs.exists(_.startsWith("batch-0-")), s"referenced dir vacuumed: ${dataDirs.toSeq}")
    assert(!dataDirs.exists(_.startsWith("batch-1-")), s"rewritten dir kept: ${dataDirs.toSeq}")
    // second call: nothing small enough to merge twice → idempotent no-op
    assert(Sinks.compactManifested(spark, root, targetBytes = 16L * 1024) == 0)
    assert(total() == expected)
  }

  test("compactor lease: a second compactor refuses loudly while the first holds the lease") {
    // One-compactor-at-a-time is a fenced guarantee, not a scaladoc
    // convention: the realistic ops failure is a redundant housekeeping
    // cron. The seam fires INSIDE the first compactor's lease window.
    val root = tempDir("graft-lease").toString
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    var refusal: Option[Throwable] = None
    val parts = Sinks.compactManifestedHooked(
      spark, root, targetBytes = 512L * 1024 * 1024, retainMillis = 0L,
      afterSnapshot = () => {
        refusal = Some(intercept[graft.sinks.CompactorLeaseHeldException] {
          Sinks.compactManifested(spark, root)
        })
      })
    assert(parts == 1)
    assert(refusal.exists(_.getMessage.contains("lease")),
      s"second compactor was not refused by the lease: $refusal")
    assert(total() == (0 until 30).sum.toLong)
    // the lease was released on exit: a later housekeeping pass proceeds
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 0)
    assert(total() == (0 until 30).sum.toLong)
  }

  test("compactor lease: stale lease (crashed holder) is taken over; fresh foreign lease refuses") {
    val root = tempDir("graft-lease-stale").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val lease = p(s"$root/_manifests/.compactor-lease")
    def writeLease(holder: String, ageMillis: Long): Unit = {
      val out = fs.create(lease, true)
      out.write(holder.getBytes("UTF-8")); out.close()
      fs.setTimes(lease, System.currentTimeMillis() - ageMillis, -1)
    }
    // a holder that crashed an hour ago: takeover, compaction proceeds
    writeLease("dead-holder", 3600L * 1000)
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 1)
    assert(!fs.exists(lease), "takeover compaction did not release the lease")
    assert(total() == (0 until 30).sum.toLong)
    // a live foreign holder (fresh heartbeat): refuse loudly, change nothing
    writeLease("live-holder", 0L)
    intercept[graft.sinks.CompactorLeaseHeldException] {
      Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024)
    }
    assert(fs.exists(lease), "refused compactor must not touch a live foreign lease")
    // the foreign holder releases; housekeeping resumes
    fs.delete(lease, false)
    assert(Sinks.compactManifested(spark, root, targetBytes = 512L * 1024 * 1024) == 0)
    assert(total() == (0 until 30).sum.toLong)
  }

  test("compactor lease: takeover that raced a COMPLETED competing takeover restores the stolen lease and refuses") {
    // The steal race (self-review finding #1): rename is by PATH, so
    // between our staleness read and our rename a competing taker can
    // finish an entire takeover (rename + delete + re-create with its
    // fresh token). Our rename then moves the competitor's LIVE lease —
    // the post-rename token verification must detect the mismatch,
    // rename the stolen lease BACK, and refuse, leaving the competitor
    // fenced. The onStaleObserved seam injects the competitor exactly
    // inside that window.
    val root = tempDir("graft-lease-steal").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.mkdirs(p(s"$root/_manifests"))
    val lease = p(s"$root/_manifests/.compactor-lease")
    val out0 = fs.create(lease, true)
    out0.write("dead-holder".getBytes("UTF-8")); out0.close()
    fs.setTimes(lease, System.currentTimeMillis() - 3600L * 1000, -1)
    val ex = intercept[graft.sinks.CompactorLeaseHeldException] {
      Sinks.acquireCompactorLease(fs, root, 15L * 60 * 1000, onStaleObserved = () => {
        // the competitor completes its ENTIRE takeover in our window
        fs.delete(lease, false)
        val out = fs.create(lease, false)
        out.write("fresh-competitor".getBytes("UTF-8")); out.close()
      })
    }
    assert(ex.getMessage.contains("re-acquired"), ex.getMessage)
    // the competitor's fresh lease SURVIVED (restored after the steal) …
    val in = fs.open(lease)
    val tok = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    assert(tok == "fresh-competitor", s"stolen lease not restored: holder is '$tok'")
    // … and no takeover tombstone leaked
    assert(!fs.listStatus(p(s"$root/_manifests")).exists(_.getPath.getName.contains("stale-")),
      "takeover tombstone leaked after the restore")
    // sanity: with no competitor in the window, the same stale lease is
    // taken over normally (the happy path the other spec covers e2e)
    fs.delete(lease, false)
    val out1 = fs.create(lease, true)
    out1.write("dead-holder".getBytes("UTF-8")); out1.close()
    fs.setTimes(lease, System.currentTimeMillis() - 3600L * 1000, -1)
    val (l2, h2) = Sinks.acquireCompactorLease(fs, root, 15L * 60 * 1000)
    val in2 = fs.open(l2)
    val tok2 = try scala.io.Source.fromInputStream(in2, "UTF-8").mkString.trim finally in2.close()
    assert(tok2 == h2, "takeover winner's token must be on disk")
    fs.delete(l2, false)
  }

  test("compactor lease: background heartbeat keeps a pass longer than the timeout fenced; an unheartbeated lease still goes stale") {
    // VERDICT r16 #3: the r16 per-completed-group heartbeat still let ONE
    // group's rewrite exceed leaseTimeoutMillis and invite a takeover
    // mid-rewrite. The background token-guarded heartbeat thread
    // (withLeaseHeartbeat) removes the sizing obligation: this pass
    // stalls (afterSnapshot — inside the lease window, before publish)
    // for 3× the timeout, and a competing compactor probing DURING the
    // stall must still be refused because the thread kept the heartbeat
    // fresh. Liveness stays by construction: the thread dies with the
    // JVM, so a lease nobody heartbeats (crashed holder) goes stale after
    // the same timeout — asserted in the second leg.
    val root = tempDir("graft-lease-heartbeat").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    val timeout = 900L
    var refusal: Option[Throwable] = None
    val parts = Sinks.compactManifestedHooked(
      spark, root, targetBytes = 512L * 1024 * 1024, retainMillis = 0L,
      afterSnapshot = () => {
        Thread.sleep(3 * timeout) // the "single rewrite longer than the timeout"
        refusal = Some(intercept[graft.sinks.CompactorLeaseHeldException] {
          Sinks.acquireCompactorLease(fs, root, timeout)
        })
      },
      leaseTimeoutMillis = timeout)
    assert(parts == 1, "pass outliving the timeout must still complete")
    assert(refusal.exists(_.getMessage.contains("held by another")),
      s"competitor was not refused during the over-timeout stall: $refusal")
    assert(total() == (0 until 30).sum.toLong)
    // crashed holder: same timeout, no heartbeat thread behind the lease —
    // stale takeover must proceed (the thread is the liveness source, not
    // the file)
    val lease = p(s"$root/_manifests/.compactor-lease")
    val out = fs.create(lease, true)
    out.write("dead-holder".getBytes("UTF-8")); out.close()
    fs.setTimes(lease, System.currentTimeMillis() - 10 * timeout, -1)
    val (l2, h2) = Sinks.acquireCompactorLease(fs, root, timeout)
    val in2 = fs.open(l2)
    val tok2 = try scala.io.Source.fromInputStream(in2, "UTF-8").mkString.trim finally in2.close()
    assert(tok2 == h2, "crashed holder's lease was not taken over")
    fs.delete(l2, false)
  }

  test("retention clock: original retirement time survives re-supersession (no per-pass reset)") {
    // ADVICE r15 (medium): every compaction supersedes EVERY manifest in
    // its listing (required for tombstone folding), so a clock based on
    // the live superseder's modTime RESETS each leftover's age every
    // pass — under continuous arrivals with retainMillis above the
    // compaction cadence, aged-out never fires and retired state grows
    // without bound. The fix: each superseded manifest's ORIGINAL
    // retirement time rides forward as a `#retiredat:` stamp.
    val root = tempDir("graft-retire-clock").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def total() = Sinks.readManifested(spark, root)
      .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
    def body(name: String): String = {
      val in = fs.open(p(s"$root/_manifests/$name"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    (0 until 3).foreach(b => Sinks.manifestedParquet(
      ((b * 10) until (b * 10 + 10)).toDF("v"), root, batchId = b.toLong))
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    // compact-1 stamps every batch manifest it retires
    val stamped = body("compact-1")
    (0 until 3).foreach(b => assert(stamped.contains(s"#retiredat:batch-$b="),
      s"compact-1 did not stamp batch-$b:\n$stamped"))
    // simulate the stamps being two hours old (continuous-arrival regime:
    // many compaction passes have re-superseded these leftovers since)
    val old = System.currentTimeMillis() - 2 * 3600L * 1000
    val rewritten = stamped.replaceAll("#retiredat:(batch-\\d+)=\\d+", s"#retiredat:$$1=$old")
    val out = fs.create(p(s"$root/_manifests/compact-1"), true)
    out.write(rewritten.getBytes("UTF-8")); out.close()
    // two fresh batches make the next compaction real
    Sinks.manifestedParquet((30 until 40).toDF("v"), root, batchId = 3)
    Sinks.manifestedParquet((40 until 50).toDF("v"), root, batchId = 4)
    assert(Sinks.compactManifested(spark, root,
      targetBytes = 512L * 1024 * 1024, retainMillis = 3600L * 1000) == 1)
    val names = fs.listStatus(p(s"$root/_manifests"))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".")).map(_.getPath.getName).sorted
    // batch-0..2: retired 2 h ago on the preserved clock → aged out and
    // reclaimed NOW, even though compact-2 (their latest re-superseder)
    // was published this instant. batch-3/4 + compact-1: freshly retired
    // → in grace. Under the old live-superseder clock nothing would age.
    assert(names.toSeq == Seq("batch-3", "batch-4", "compact-1", "compact-2"),
      s"preserved retirement clock not honored: ${names.toSeq}")
    val dataDirs = fs.listStatus(p(s"$root/data")).filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    assert(!dataDirs.exists(d => d.startsWith("batch-0") || d.startsWith("batch-1-") || d.startsWith("batch-2")),
      s"aged-out batch dirs not reclaimed: ${dataDirs.toSeq}")
    assert(dataDirs.exists(_.startsWith("compact-1-")),
      s"in-grace compaction dir wrongly reclaimed: ${dataDirs.toSeq}")
    // the fold carried the ORIGINAL stamps into compact-2 (min, not re-now)
    val b2 = body("compact-2")
    (0 until 3).foreach(b => assert(b2.contains(s"#retiredat:batch-$b=$old"),
      s"compact-2 did not fold batch-$b's original retirement time forward:\n$b2"))
    assert(total() == (0 until 50).sum.toLong)
  }
}
