package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders over the driver testdata layout
  * (`{sfDir}/{table}.parquet`, see TESTDATA.md).
  *
  * All engine queries read through here so that column pruning and filter
  * pushdown reach the Parquet scan (verify with `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema` must reflect the query, not the table).
  *
  * Schema pinning: `spark.read.parquet` runs a schema-inference job on every
  * call (tens of ms warm), so `table` infers each file's schema once and then
  * reads with `spark.read.schema(pinned)`. A pin is keyed by the file's
  * qualified path and checked on every call against the file's length and
  * modification time (one `getFileStatus`) and against the session's Parquet
  * read confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  * `spark.sql.caseSensitive`; `events` sets `nanosAsLong`, which changes the
  * inferred type of `ts`). On a mismatch the schema is inferred again and
  * replaces the entry, so there is one entry per path. A directory is not
  * pinned: it is read with inference as before.
  *
  * The pin is catalog metadata, like a catalog table's schema, not a
  * result cache: every read still lists and scans the file, so it lives
  * here and `Caches.invalidate()` does not clear it.
  */
object Tables {
  private final case class Pin(length: Long, mtime: Long, confs: Map[String, String], schema: StructType)

  private val pins = new ConcurrentHashMap[String, Pin]()

  private def parquetReadConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    if (st.isDirectory) spark.read.parquet(path)
    else {
      val key = st.getPath.toString
      val confs = parquetReadConfs(spark)
      val pin = Option(pins.get(key))
        .filter(c => c.length == st.getLen && c.mtime == st.getModificationTime && c.confs == confs)
        .getOrElse {
          val fresh = Pin(st.getLen, st.getModificationTime, confs, spark.read.parquet(path).schema)
          pins.put(key, fresh)
          fresh
        }
      spark.read.schema(pin.schema).parquet(path)
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** The events table's `ts` physical type has varied across testdata
    * generations: Parquet TIMESTAMP(NANOS) (which Spark reads as nanos-long
    * under the legacy flag) and plain timestamp[us] with no timezone (which
    * Spark reads as TIMESTAMP_NTZ). Normalize both to microsecond
    * TimestampType pinned so that `unix_micros(ts)` equals DuckDB's
    * `epoch_us(ts)` — DuckDB treats the naive parquet timestamp as-is.
    *
    * The NTZ branch deliberately avoids a plain NTZ→LTZ cast: that cast
    * reads the SESSION timezone (and so would a `to_utc_timestamp`, whose
    * implicit NTZ argument cast does too), making results depend on — or
    * require mutating — global session state. Instead the epoch micros are
    * rebuilt from the wall-clock fields (`unix_date` + hour/minute/
    * fractional second), all of which are timezone-free on NTZ, so the
    * conversion is correct in ANY session. (Queries that bucket the
    * resulting instants with `to_date`/date_format still follow the
    * session zone — every graft entry point pins its session to UTC for
    * that reason; see Bench/Verify/Smoke builders.)
    */
  def events(s: SparkSession, d: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(
            """unix_date(cast(ts as date)) * cast(86400000000 as bigint)
              | + cast(hour(ts) as bigint) * 3600000000
              | + cast(minute(ts) as bigint) * 60000000
              | + cast(extract(second from ts) * 1000000 as bigint)""".stripMargin)))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** Register every testdata table as a temp view so users can drive the
    * engine through `spark.sql(...)` — combined with the
    * `GraftExtensions`-registered native functions this is the full
    * SQL-first entry point (QueriesSpec pins spark.sql == DataFrame API).
    * `events` registers through the nanos-normalizing loader above.
    */
  def registerViews(s: SparkSession, d: String): Unit =
    names.foreach {
      case "events" => events(s, d).createOrReplaceTempView("events")
      case n        => table(s, d, n).createOrReplaceTempView(n)
    }
}

/** One registered engine operator/query: a Spark implementation plus (when
  * SQL-expressible) the ANSI SQL the driver runs in DuckDB as the oracle.
  * Column names/aliases MUST match between `fn`'s output and `oracle`.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)
