package graft

import org.apache.spark.sql.functions._
import graft.ops.DedupOps

/** Text MinHash-LSH band geometry knob (numBands × rowsPerBand): oracle-
  * defaulted (deliberately NOT size-derived — see DedupOps.textGeometry's
  * Scaladoc for the physics: 64-bit+ band signatures have no random-
  * collision geometry term, so candidate volume is a corpus property the
  * row count cannot see; ScaleStress measures it ≈ c·n across decades),
  * with explicit parameter + session confs for template-heavy corpora.
  */
class TextGeometrySpec extends SparkSpec {

  test("default geometry IS the oracle geometry — the DuckDB CTE constants cannot drift") {
    assert(DedupOps.textGeometry(spark, None) == DedupOps.OracleTextGeometry)
    assert(DedupOps.OracleTextGeometry == (DedupOps.NumBands, DedupOps.RowsPerBand))
    assert(DedupOps.NumBands * DedupOps.RowsPerBand == DedupOps.NumHashes)
  }

  test("explicit parameter wins over confs; confs win over the default") {
    spark.conf.set(DedupOps.TextNumBandsKey, "6")
    spark.conf.set(DedupOps.TextRowsPerBandKey, "3")
    try {
      assert(DedupOps.textGeometry(spark, None) == ((6, 3)))
      assert(DedupOps.textGeometry(spark, Some((8, 4))) == ((8, 4)))
    } finally {
      spark.conf.unset(DedupOps.TextNumBandsKey)
      spark.conf.unset(DedupOps.TextRowsPerBandKey)
    }
  }

  test("malformed or partial confs fail loud naming the offending key") {
    spark.conf.set(DedupOps.TextNumBandsKey, "6")
    try {
      val ex = intercept[IllegalArgumentException](DedupOps.textGeometry(spark, None))
      assert(ex.getMessage.contains(DedupOps.TextRowsPerBandKey), ex.getMessage)
    } finally spark.conf.unset(DedupOps.TextNumBandsKey)
    spark.conf.set(DedupOps.TextNumBandsKey, "six")
    spark.conf.set(DedupOps.TextRowsPerBandKey, "3")
    try {
      val ex = intercept[IllegalArgumentException](DedupOps.textGeometry(spark, None))
      assert(ex.getMessage.contains(DedupOps.TextNumBandsKey), ex.getMessage)
    } finally {
      spark.conf.unset(DedupOps.TextNumBandsKey)
      spark.conf.unset(DedupOps.TextRowsPerBandKey)
    }
    // hash budget: signature cost is linear in bands×rows — 257 hashes
    // must be an explicit refusal, not a silent 64-md5-per-shingle plan
    val ex = intercept[IllegalArgumentException](DedupOps.textGeometry(spark, Some((257, 1))))
    assert(ex.getMessage.contains("256"), ex.getMessage)
  }

  test("planted near-dups survive every geometry; dissimilar docs pair under none") {
    import spark.implicits._
    // 12 planted near-dup pairs (J ≈ 1: one word substituted in 60) in a
    // sea of mutually dissimilar docs — J=~1 pairs are caught by ANY
    // (bands, rows) geometry with probability ~1, so the verified-pair
    // set must be EXACTLY the planted pairs at both the default and the
    // wide suppression geometry (which also exercises rowsPerBand=3
    // band-signature concatenation over 18 hashes)
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    def text(seed: Long, mutateAt: Int): String = {
      var s = seed
      (0 until 60).map { i =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val idx = (((s >>> 33) % vocab.length).toInt + vocab.length) % vocab.length
        vocab(if (i == mutateAt) (idx + 1) % vocab.length else idx)
      }.mkString(" ")
    }
    val docs = (0L until 60L).map { id =>
      val isDup = id % 5 == 0 && id > 0 // 55, 50, ... → 11 planted pairs
      val base = if (isDup) id - 1 else id
      (id, text(base * 7919L, if (isDup) 30 else -1), "en", s"src${id % 3}", 360L)
    }
    val dir = tempDir("graft-textgeom").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = (0L until 60L).collect { case id if id % 5 == 0 && id > 0 => (id - 1, id) }.toSet
    Seq(None, Some((4, 2)), Some((8, 4))).foreach { geom =>
      graft.ops.Caches.invalidate()
      val got = DedupOps.lshPairs(spark, dir, 0.8, geom)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == planted, s"geometry $geom: missing=${planted.diff(got)} spurious=${got.diff(planted)}")
    }
    graft.ops.Caches.invalidate()
  }
}
