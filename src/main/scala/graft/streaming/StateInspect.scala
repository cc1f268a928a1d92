package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline introspection over a streaming checkpoint's STATE — the ops
  * tool for the 100 TB deployment: when an interval/as-of join's state
  * grows past its budget, the question is always "which key?", and the
  * answer must come from the checkpoint directly (a probe query over the
  * stream re-pays the whole pipeline). Built on Spark's own state data
  * source (`statestore` / `state-metadata` formats) — reads the
  * checkpoint files, no query restart, no state mutation; safe on a LIVE
  * query's checkpoint (it reads a committed batch version).
  *
  * Workflow: [[operators]] to find the operator id and store names →
  * [[hotKeys]] for the per-key row ranking (the hot key BEFORE it aborts
  * the budget) → [[partitionProfile]] to see how state spreads across the
  * checkpoint-pinned shuffle width (the `statePartitions` knob's
  * footprint: a skewed profile says re-key or salt; a uniform-but-tall
  * one says widen at next deploy — the width itself is pinned by the
  * checkpoint).
  */
object StateInspect {

  /** The checkpoint's stateful operators: operatorId, operatorName, state
    * store names, min/max readable batch ids (Spark's `state-metadata`
    * source). Start here — every other reader needs the operatorId, and
    * a multi-stateful query (dedup → join → aggregation) has several.
    */
  def operators(spark: SparkSession, checkpoint: String): DataFrame =
    spark.read.format("state-metadata").load(checkpoint)

  /** Raw state rows of one operator's store at a committed batch
    * (default: the latest): `key` struct, `value` struct, `partition_id`.
    * For stream-stream join state pass `joinSide` ("left"/"right") and
    * Spark assembles the user-facing key/value view across the side's
    * paired internal stores; `storeName` addresses one internal store
    * directly when the raw layout is the question. For
    * `transformWithState` operators (e.g. [[KeyedBatcher]]'s checkpoint)
    * pass `stateVarName` — the processor's state variable name ("buf"
    * for the batcher's buffered messages, one row per message; "meta" for
    * its one count/accumulator/deadline row per group); TWS stores are
    * addressed by variable, not store name.
    */
  def stateRows(
      spark: SparkSession,
      checkpoint: String,
      operatorId: Int = 0,
      joinSide: Option[String] = None,
      storeName: Option[String] = None,
      batchId: Option[Long] = None,
      stateVarName: Option[String] = None
  ): DataFrame = {
    require(joinSide.isEmpty || storeName.isEmpty,
      "pass joinSide OR storeName, not both (Spark rejects the combination)")
    var r = spark.read.format("statestore").option("operatorId", operatorId.toString)
    joinSide.foreach(s => r = r.option("joinSide", s))
    storeName.foreach(s => r = r.option("storeName", s))
    batchId.foreach(b => r = r.option("batchId", b.toString))
    stateVarName.foreach(s => r = r.option("stateVarName", s))
    r.load(checkpoint)
  }

  /** Per-key state footprint, heaviest first — the skew finder. Reports
    * BOTH axes per key and ranks on `rankBy`:
    *  - `state_rows`: buffered state entries under the key (for a join
    *    side: rows awaiting matches/eviction);
    *  - `state_bytes_est`: estimated value payload bytes per value row,
    *    summed — PHYSICAL widths, not serialization-format artifacts:
    *    binary and string fields charge their exact octet length (a
    *    binary state blob ranks by its true size, not the 4/3×-inflated
    *    base64 a JSON dump would charge), fixed-width
    *    scalars their storage width, arrays of variable-width elements
    *    the sum of element octet lengths, and only residual shapes
    *    (maps, UDTs) fall back to JSON octet length. The estimate is an
    *    estimate of the VALUE PAYLOAD — the provider adds per-entry
    *    overhead (RocksDB key prefixes, version headers) that is
    *    per-row-constant, so ranking and growth attribution track the
    *    actual checkpoint bytes (spec'd against real file growth).
    * Default ranking is bytes (the budget that aborts a state store is
    * memory, not row count); pass `rankBy = "rows"` for the row view.
    * NOTE: join-state key fields carry POSITIONAL names (`field0`,
    * `field1`, …) in the order of the join's key columns — Spark's
    * internal key schema drops the user names; match them back by
    * position.
    */
  def hotKeys(
      spark: SparkSession,
      checkpoint: String,
      operatorId: Int = 0,
      joinSide: Option[String] = None,
      topK: Int = 20,
      rankBy: String = "bytes",
      stateVarName: Option[String] = None
  ): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(rankBy == "bytes" || rankBy == "rows",
      s"rankBy must be 'bytes' or 'rows', got '$rankBy'")
    val rank = if (rankBy == "bytes") "state_bytes_est" else "state_rows"
    val rows = stateRows(spark, checkpoint, operatorId, joinSide,
      stateVarName = stateVarName)
    // value column: `value` for value/blob state, `list_element` for a
    // transformWithState ListState variable (one state row per element —
    // the per-key aggregation below then counts buffered elements, which
    // is exactly the hot-key question for a list-state buffer)
    val vName =
      if (rows.schema.fieldNames.contains("value")) "value" else "list_element"
    // estimate over the DECLARED fields only: join-state value rows
    // physically carry an internal trailing field (the matched flag)
    // beyond the declared schema, and walking the raw struct's arity
    // (e.g. to_json) trips an ArrayIndexOutOfBounds — the explicit
    // per-field expressions read exactly the declared ones
    val perRowBytes = rows.schema(vName).dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields
          .map(f => fieldBytes(f.dataType, col(s"$vName.`${f.name}`")))
          .reduceOption(_ + _)
          .getOrElse(lit(0L))
      case dt => fieldBytes(dt, col(vName))
    }
    rows
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("state_rows"),
        sum(perRowBytes).as("state_bytes_est"))
      .orderBy(col(rank).desc)
      .limit(topK)
      .select(col("key.*"), col("state_rows"), col("state_bytes_est"))
  }

  /** Physical byte width of one state-value field — exact octet lengths
    * for the variable-width types that actually cause value-size skew
    * (binary blobs, strings), storage widths for fixed scalars, recursion
    * for structs, element-summing for arrays; JSON octet length only as
    * the residual fallback (maps, UDTs). Null variable-width fields
    * charge 0; null fixed-width fields still charge their slot (UnsafeRow
    * and the Avro encoding both reserve it).
    */
  private def fieldBytes(
      dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column
  ): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    def fixedWidth(t: DataType): Int = t match {
      case BooleanType | ByteType                                => 1
      case ShortType                                             => 2
      case IntegerType | FloatType | DateType                    => 4
      case LongType | DoubleType | TimestampType                 => 8
      case TimestampNTZType                                      => 8
      case _: DecimalType                                        => 16
      case _                                                     => -1
    }
    dt match {
      case BinaryType | StringType => coalesce(octet_length(c), lit(0)).cast("long")
      case t if fixedWidth(t) > 0  => lit(fixedWidth(t).toLong)
      case st: StructType =>
        st.fields
          .map(f => fieldBytes(f.dataType, c.getField(f.name)))
          .reduceOption(_ + _)
          .getOrElse(lit(0L))
      case ArrayType(BinaryType, _) | ArrayType(StringType, _) =>
        coalesce(
          aggregate(c, lit(0L),
            (acc, x) => acc + coalesce(octet_length(x), lit(0)).cast("long")),
          lit(0L))
      case ArrayType(et, _) if fixedWidth(et) > 0 =>
        // explicit null guard, not coalesce: with ANSI off (the pre-4.x
        // default many sessions still set) size(null) returns -1, not
        // null, and would charge NEGATIVE bytes per null-array row
        when(c.isNull, lit(0L)).otherwise(size(c).cast("long") * lit(fixedWidth(et).toLong))
      case _ =>
        // maps, UDTs, nested arrays: JSON octet length — monotone in the
        // variable-width content, which is all a ranking needs here
        coalesce(octet_length(to_json(struct(c))), lit(0)).cast("long")
    }
  }

  /** State rows per checkpoint-pinned shuffle partition — the footprint of
    * the `statePartitions` width the checkpoint froze. Uniform-but-tall →
    * widen at the next redeploy; spiky → a key problem ([[hotKeys]]),
    * which no width fixes.
    */
  def partitionProfile(
      spark: SparkSession,
      checkpoint: String,
      operatorId: Int = 0,
      joinSide: Option[String] = None,
      stateVarName: Option[String] = None
  ): DataFrame =
    stateRows(spark, checkpoint, operatorId, joinSide, stateVarName = stateVarName)
      .groupBy(col("partition_id"))
      .agg(count(lit(1)).as("state_rows"))
      .orderBy(col("partition_id"))
}
