package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Inputs. The catalog is the engine's TPC-H-style test data, kept in
  * `perfbench/data` (sf 0.01, and sf 0.001 for smoke runs); the sensor
  * history is generated from the run seed and follows the reference
  * producer's episode model. The same seed always gives the same rows. */
object DataGen {

  val CatalogRoot = "perfbench/data"

  /** Reference sensor names (4) or numbered ones for wider runs. */
  def sensors(k: Int): Seq[String] =
    if (k == 4) Seq("Motel 6", "Old Mill", "The Forsaken Inn", "Warehouse 13")
    else (1 to k).map(i => f"sensor-$i%02d")

  /** One reading of the reference producer: ±rand[0,100) while normal,
    * ±(100 + rand[0,50)) while an episode is on. */
  final case class Reading(sensor: String, tsMs: Long, value: Double, anomaly: Int)

  /** `n` readings per sensor at the reference's 200 ms tick, newest at
    * `endMs`. Episodes start with probability 1/80 per tick and end with
    * probability 1/5, so every sensor sees both classes. */
  def history(seed: Long, sensors: Seq[String], n: Int, endMs: Long): Seq[Reading] = {
    val r = new SplittableRandom(seed)
    sensors.flatMap { s =>
      var on = false
      (0 until n).map { i =>
        on = if (on) r.nextInt(5) != 0 else r.nextInt(80) == 0
        val mag = if (on) 100 + r.nextDouble() * 50 else r.nextDouble() * 100
        Reading(s, endMs - (n - 1 - i) * 200L, if (r.nextBoolean()) mag else -mag, if (on) 1 else 0)
      }
    }
  }

  val entrySchema: StructType = graft.core.Schemas.entry

  def entryRows(rs: Seq[Reading]): Seq[Row] =
    rs.map(x => Row(x.sensor, new Timestamp(x.tsMs), x.value, x.anomaly))
}
