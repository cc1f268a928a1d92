package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.RunningPipeline

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A fresh directory under the system temp dir, deleted with everything
    * in it when the suite ends.
    */
  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  /** Whether `p`'s progress listener is still on `session`. */
  def listening(p: RunningPipeline[_], session: SparkSession = spark): Boolean =
    session.streams.listListeners().contains(p.progressTotals)

  // the session is shared across suites; JVM exit cleans it up
  override def afterAll(): Unit = synchronized {
    tempDirs.foreach { d =>
      val paths = Files.walk(d)
      try paths.iterator.asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
    tempDirs.clear()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()
}
