package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Domain model of the anomaly-detection engine, mirroring the
  * reference's statically-declared shapes (lambda-sample):
  *  - [[MqttEntry]] — the stream payload (mqtt/Producer.scala:23);
  *  - [[Entry]] — the persisted time-series row; `ts` is the stamp the
  *    broker gave the message when it entered the process, the same in
  *    the entry log, the analysis table and the served snapshot
  *    (lib/CassandraClient.scala:11, resources/cassandra/schema.sql:4-10);
  *  - [[SensorMeta]] — one analysis result row
  *    (analyzer/Analyzer.scala:24-30, schema.sql:12-19).
  *
  * Schemas are explicit `StructType`s — never inferred — exactly like
  * the reference's CQL DDL + case classes.
  */
final case class MqttEntry(sensor: String, value: Double, anomaly: Int)

final case class Entry(sensor: String, ts: Timestamp, value: Double, anomaly: Int)

final case class SensorMeta(
    name: String,
    ts: Timestamp,
    fastAnomaly: Double,
    fullAnomaly: Double,
    avgAnomaly: Double)

object Schemas {
  val entry: StructType = StructType(Seq(
    StructField("sensor", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("anomaly", IntegerType, nullable = false)))

  val analysis: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("fastAnomaly", DoubleType, nullable = false),
    StructField("fullAnomaly", DoubleType, nullable = false),
    StructField("avgAnomaly", DoubleType, nullable = false)))
}

/** The reference's speed-layer scorer (analyzer/Analyzer.scala:47-59) as
  * plain Scala — used by the streaming state path; the batch path uses
  * the identical formula as column algebra ([[graft.operators.Anomaly]]).
  * Both are locked to the same golden fixture values in AnomalySpec.
  */
object Heuristic {

  /** Population standard deviation (÷ n, NOT n−1 — Analyzer.scala:51-52). */
  def stdDevPop(xs: Iterable[Double]): Double = {
    val n = xs.size
    if (n == 0) 0.0
    else {
      val mean = xs.sum / n
      math.sqrt(xs.foldLeft(0.0)((acc, x) => acc + (x - mean) * (x - mean)) / n)
    }
  }

  /** `clamp((|sample−mean|−σ)/(2σ), 0, 1)` — Analyzer.scala:54-58. */
  def score(sample: Double, mean: Double, std: Double): Double =
    math.min(math.max((math.abs(sample - mean) - std) / (2 * std), 0.0), 1.0)

  /** 35/65 fast/full blend with heuristic fallback and −1 sentinel for a
    * missing model (Analyzer.scala:138-151). */
  def blend(fast: Double, full: Option[Double]): (Double, Double) =
    full match {
      case Some(f) => (f, (fast * 35 + f * 65) / 100)
      case None    => (-1.0, fast)
    }
}
