package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.ml.AnomalyForest

/** The batch layer's own output checks, at the benchmark's smoke size:
  * forests trained on a generated history must give one model per
  * sensor, posteriors in [0, 1] and held-out accuracy of at least 0.95
  * per sensor, for several history seeds. */
class ForestAccuracySpec extends SparkSpecBase {
  import spark.implicits._
  import ForestAccuracySpec.episodes

  test("generated histories: one model per sensor, posteriors in [0, 1], held-out accuracy ≥ 0.95") {
    val sensors = Seq("Motel 6", "Old Mill", "The Forsaken Inn", "Warehouse 13")
    def frame(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), graft.core.Schemas.entry)
    Seq(1L, 2L, 3L).foreach { seed =>
      val trained = AnomalyForest.train(frame(episodes(seed, sensors, 2000)))
      val heldOut = frame(episodes(seed * 31 + 7, sensors, 500))
      withClue(s"seed $seed: ") {
        trained.keySet shouldBe sensors.toSet
        trained.toSeq.sortBy(_._1).foreach { case (s, m) =>
          val scored = AnomalyForest.posterior(m, heldOut.filter($"sensor" === s))
            .select($"anomaly", $"p_anomaly").as[(Int, Double)].collect()
          scored.length shouldBe 500
          all(scored.map(_._2)) should (be >= 0.0 and be <= 1.0)
          val hits = scored.count { case (a, p) => (p >= 0.5) == (a == 1) }
          withClue(s"$s: ")(hits.toDouble should be >= 0.95 * scored.length)
        }
      }
    }
  }
}

object ForestAccuracySpec {

  /** ProducerSim's episode model, as the benchmark draws it: per sensor,
    * `n` readings 200 ms apart; an episode starts with probability 1/80
    * per reading and ends with probability 1/5; readings are ±[0, 100)
    * while normal and ±[100, 150) during an episode, labelled 1 there. */
  def episodes(seed: Long, sensors: Seq[String], n: Int): Seq[Row] = {
    val r = new java.util.SplittableRandom(seed)
    sensors.flatMap { s =>
      var on = false
      (0 until n).map { i =>
        on = if (on) r.nextInt(5) != 0 else r.nextInt(80) == 0
        val mag = if (on) 100 + r.nextDouble() * 50 else r.nextDouble() * 100
        Row(s, new Timestamp(1700000000000L + i * 200L), if (r.nextBoolean()) mag else -mag,
          if (on) 1 else 0)
      }
    }
  }
}
