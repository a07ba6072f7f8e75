package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks shared by the workloads. */
object Check {

  /** Row count and an order-insensitive content hash: the sum, as an
    * exact decimal, of one xxhash64 per row. Floating values are hashed
    * at 9 significant digits (and -0.0 as 0.0), so summation-order ulps
    * between runs cannot change the pin while any real change does. */
  def pin(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType) + lit(0.0)
        when(isnan(d), lit("NaN")).otherwise(format_string("%.9e", d))
      case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => canon(x, et))
      case _ => c
    }
    val h = xxhash64(df.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType)): _*)
    val row = df.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }

  private val TsField = "\"ts\":\"([^\"]+)\"".r
  private val NameField = "\"name\":\"((?:[^\"\\\\]|\\\\.)*)\"".r

  /** Newest `ts` in a served `{"entries":[...]}` body, epoch ms. */
  def newestTsMs(body: String): Option[Double] = {
    val ts = TsField.findAllMatchIn(body).map { m =>
      val i = java.time.Instant.parse(m.group(1))
      i.getEpochSecond * 1000.0 + i.getNano / 1e6
    }.toSeq
    if (ts.isEmpty) None else Some(ts.max)
  }

  def names(body: String): Seq[String] =
    NameField.findAllMatchIn(body).map(_.group(1)).toSeq

  def isEnvelope(body: String): Boolean =
    body.startsWith("{\"entries\":[") && body.endsWith("]}")

  /** Self-tests of the statistics, the body parser and the pin hash. */
  def selfTest(spark: SparkSession): Seq[String] = {
    val fails = scala.collection.mutable.ArrayBuffer[String]()
    def expect(what: String)(ok: => Boolean): Unit =
      if (!(try ok catch { case _: Throwable => false })) fails += what
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

    val xs = (1 to 100).map(_.toDouble)
    expect("nearest-rank p50 of 1..100 is 50")(Stats.percentile(xs, 50) == 50.0)
    expect("nearest-rank p90 of 1..100 is 90")(Stats.percentile(xs, 90) == 90.0)
    expect("nearest-rank p99 of 1..100 is 99")(Stats.percentile(xs, 99) == 99.0)
    expect("nearest-rank p100 is the max")(Stats.percentile(xs, 100) == 100.0)
    expect("nearest-rank of one sample")(Stats.percentile(Seq(7.0), 99) == 7.0)
    expect("p25 of 4 samples is the first")(Stats.percentile(Seq(4.0, 1, 3, 2), 25) == 1.0)
    expect("median of even count averages")(Stats.median(Seq(1.0, 4, 2, 3)) == 2.5)
    expect("median of odd count")(Stats.median(Seq(5.0, 1, 3)) == 3.0)
    expect("tail: 1000 samples support p99")(Stats.supportedTail(1000).contains(99.0))
    expect("tail: 500 samples support p95")(Stats.supportedTail(500).contains(95.0))
    expect("tail: 100 samples support p90")(Stats.supportedTail(100).contains(90.0))
    expect("tail: 20 samples have none above p50")(Stats.supportedTail(20).isEmpty)
    expect("tail: 40 samples support p75")(Stats.supportedTail(40).contains(75.0))
    expect("geomean of 1,100 is 10")(close(Stats.geomean(Seq(1.0, 100.0)), 10.0))
    expect("geomean of equal values")(close(Stats.geomean(Seq(3.0, 3.0, 3.0)), 3.0))
    expect("geomean refuses zero")(scala.util.Try(Stats.geomean(Seq(0.0, 1.0))).isFailure)

    val body = """{"entries":[{"name":"a \"b\"","ts":"2024-01-01T00:00:01.250Z","fastAnomaly":0.0,""" +
      """"fullAnomaly":-1.0,"avgAnomaly":0.0},{"name":"c","ts":"2024-01-01T00:00:02.000500Z",""" +
      """"fastAnomaly":null,"fullAnomaly":-1.0,"avgAnomaly":null}]}"""
    expect("body age: newest ts, sub-ms precision")(
      newestTsMs(body).contains(java.time.Instant.parse("2024-01-01T00:00:02Z").toEpochMilli + 0.5))
    expect("body names with escapes")(names(body) == Seq("a \\\"b\\\"", "c"))
    expect("body envelope")(isEnvelope(body) && !isEnvelope("""{"error":"x"}"""))
    expect("empty body has no ts")(newestTsMs("""{"entries":[]}""").isEmpty)

    import spark.implicits._
    val a = Seq((1L, "x", 0.1 + 0.2, Seq(1.0f)), (2L, "y", -0.0, Seq(2.0f))).toDF("k", "s", "d", "v")
    val b = Seq((2L, "y", 0.0, Seq(2.0f)), (1L, "x", 0.3, Seq(1.0f))).toDF("k", "s", "d", "v")
    val c = Seq((2L, "y", 0.0, Seq(2.0f)), (1L, "x", 0.3001, Seq(1.0f))).toDF("k", "s", "d", "v")
    expect("pin ignores row order, ulps and the sign of zero")(pin(a) == pin(b))
    expect("pin sees a changed value")(pin(b) != pin(c))
    expect("pin counts rows")(pin(a)._1 == 2L)
    expect("pin of an empty frame")(pin(a.limit(0)) == ((0L, "0")))
    fails.toSeq
  }
}
