package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session per JVM (getOrCreate) + the reference golden
  * fixture loader (entries.csv carried over from lambda-sample
  * src/test/resources — 23 164 rows, 4 sensors, ts DESC, loader
  * semantics of lib/EntriesFixture.scala:19-48). */
trait SparkSpecBase extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events TIMESTAMP(NANOS)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "8192")
    .getOrCreate()

  /** Reference fixture tolerance (EntriesFixture.scala:10). */
  val Precision = 0.0002

  /** Temp output dir, deleted (recursively) when `f` returns or throws
    * — specs that write files must not accumulate garbage across runs. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  lazy val fixture: DataFrame =
    graft.sources.Csv.readEntries(spark, getClass.getResource("/entries.csv").getPath)

  /** First sensor of the fixture (head of the reference config list). */
  val FirstSensor = "Motel 6"
}
