package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.core.SensorMeta
import graft.ml.AnomalyForest
import graft.sources.Csv
import graft.streaming.{ProducerSim, Serving, SnapshotStore}

/** Serving JSON golden shape, CSV round-trip, producer draws, and the
  * forest debug export — the remaining SURVEY §2 surface (S12-S14, F8,
  * M5). */
class ServingSpec extends SparkSpecBase {
  import spark.implicits._

  test("empty AllMeta renders the reference golden JSON (EndpointSpec.scala:42)") {
    Serving.allMetaJson(Nil) shouldBe """{"entries":[]}"""
  }

  test("AllMeta JSON carries every field, sorted by sensor name") {
    val metas = Seq(
      SensorMeta("b \"x\"", Timestamp.from(java.time.Instant.parse("2017-11-07T08:14:10.001Z")), 0.5, -1.0, 0.5),
      SensorMeta("a", Timestamp.from(java.time.Instant.parse("2017-11-07T08:14:10.001Z")), 0.25, 0.75, 0.575))
    val json = Serving.allMetaJson(metas)
    json should startWith("""{"entries":[{"name":"a","ts":"2017-11-07T08:14:10.001Z"""")
    json should include(""""fullAnomaly":-1.0""")
    json should include("""b \"x\"""")
  }

  test("NaN scores render as JSON null, never invalid NaN tokens") {
    val m = SensorMeta("z", new Timestamp(0), Double.NaN, Double.PositiveInfinity, 0.5)
    val json = Serving.allMetaJson(Seq(m))
    json should include(""""fastAnomaly":null""")
    json should include(""""fullAnomaly":null""")
    json should include(""""avgAnomaly":0.5""")
    (json should not).include("NaN")
  }

  test("stress-mode serving reads the snapshot store") {
    SnapshotStore.clear()
    Serving.serveSnapshot() shouldBe """{"entries":[]}"""
    SnapshotStore.update(Seq(SensorMeta("s", new Timestamp(0), 0.1, -1.0, 0.1)))
    Serving.serveSnapshot() should include(""""name":"s"""")
    SnapshotStore.clear()
  }

  test("snapshot never goes back to an older reading; an equal ts replaces it") {
    SnapshotStore.clear()
    val newer = SensorMeta("s", new Timestamp(2000L), 0.2, -1.0, 0.2)
    SnapshotStore.update(Seq(newer))
    SnapshotStore.update(Seq(SensorMeta("s", new Timestamp(1000L), 0.9, -1.0, 0.9)))
    SnapshotStore.get("s") shouldBe Some(newer)
    val replayed = newer.copy(fastAnomaly = 0.3, avgAnomaly = 0.3)
    SnapshotStore.update(Seq(replayed))
    SnapshotStore.get("s") shouldBe Some(replayed)
    SnapshotStore.clear()
  }

  test("stress-mode serving p99 honors the reference 5 s ask-timeout SLA") {
    SnapshotStore.clear()
    SnapshotStore.update((1 to 50).map(i =>
      SensorMeta(s"s$i", new Timestamp(i * 1000L), 0.1, -1.0, 0.1)))
    val lat = (1 to 500).map { _ =>
      val t0 = System.nanoTime()
      Serving.serveSnapshot() should startWith("""{"entries":[""")
      (System.nanoTime() - t0) / 1e6
    }
    graft.tools.ServeBench.p99(lat) should be <= graft.tools.ServeBench.SlaMillis
    SnapshotStore.clear()
  }

  test("CSV entry round-trip preserves rows and schema (S12/S13)") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/out"
    val subset = fixture.limit(100)
    Csv.writeEntries(subset, dir)
    val back = Csv.readEntries(spark, dir)
    // CSV sources surface fields as nullable; names/types must match
    back.schema.fields.map(f => (f.name, f.dataType)) shouldBe
      graft.core.Schemas.entry.fields.map(f => (f.name, f.dataType))
    back.count() shouldBe 100
    back.as[graft.core.Entry].collect().toSet shouldBe subset.as[graft.core.Entry].collect().toSet
  }

  test("generator emits the producer distribution (F8)") {
    val sensors = Seq("s1", "s2", "s3", "s4")
    val rnd = new java.util.Random(8L)
    ProducerSim.reset()
    // 60 ticks; s2 and s4 run an anomaly episode over ticks 20-39
    val rows = try (0 until 60).flatMap { t =>
      Seq("s2", "s4").foreach(ProducerSim.setAnomalous(_, t >= 20 && t < 40))
      ProducerSim.tick(sensors, bound = 100, rnd = rnd)
    } finally ProducerSim.reset()
    rows.size should be >= 200
    rows.map(_.sensor).toSet shouldBe sensors.toSet
    rows.count(_.anomaly == 1) shouldBe 40
    // labeled anomalies are exactly the out-of-bound magnitudes
    rows.foreach { e =>
      if (e.anomaly == 1) math.abs(e.value) should be >= 100.0 else math.abs(e.value) should be < 100.0
    }
  }

  test("forest debug export is non-empty (M5)") {
    val models = AnomalyForest.train(fixture.filter($"sensor" === FirstSensor))
    val desc = AnomalyForest.describe(models(FirstSensor))
    desc should include("Tree")
    desc should include("If (feature 0")
  }
}
