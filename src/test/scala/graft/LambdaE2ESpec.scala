package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.core.{Entry, MqttEntry}
import graft.serve.HttpShim
import graft.sources.broker.Broker
import graft.streaming.{AnalysisStream, IngestStream, SnapshotStore}

/** The whole lambda architecture end-to-end, every layer the reference
  * wires together (SURVEY §3), in one flow:
  *
  *   POST /mqtt → broker topic (ts stamped at consume) → DSv2
  *   micro-batch ingest → partitioned entry table → stateful analysis stream
  *   (bounded window heuristic) → analysis table + serving snapshot →
  *   GET /stress returns the scores over HTTP.
  *
  * This is the reference's Producer→Consumer→Analyzer→HistoryWriter→
  * Endpoint dataflow with Spark as the only substrate.
  */
class LambdaE2ESpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("publish over HTTP → ingest → analyze → serve over HTTP") {
    implicit val sqlCtx = spark.sqlContext
    Broker.clear()
    SnapshotStore.clear()
    val entryDir = tmp("e2e-entry")
    val analysisDir = tmp("e2e-analysis")

    // serving layer: / recomputes from the entry table, /stress serves
    // the snapshot the analysis stream maintains
    val shim = new HttpShim(
      fullAnalyze = () => SnapshotStore.all,
      history = n => SnapshotStore.all.take(n))
    val port = shim.start()
    val http = HttpClient.newHttpClient()
    def post(path: String) = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    def get(path: String) = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

    // ingest layer: broker topic → entry table
    val ingest = IngestStream.start(
      spark.readStream.format("graft.sources.broker.BrokerSourceProvider").load(),
      entryDir, tmp("e2e-ickpt"), Trigger.ProcessingTime(0))

    try {
      // producer publishes through the HTTP control surface, one tick
      // per micro-batch (the reference's 200 ms cadence: one reading per
      // sensor per tick; the broker stamps each reading with its own ts)
      Seq(
        Seq(("s1", 10.0, 0), ("s2", -5.0, 0)),
        Seq(("s1", 12.0, 0), ("s2", -6.5, 0)),
        Seq(("s1", 130.0, 1))).foreach { tick =>
        tick.foreach { case (s, v, a) =>
          post(s"/mqtt?sensor=$s&value=$v&anomaly=$a").statusCode() shouldBe 200
        }
        ingest.processAllAvailable()
      }

      // speed layer over the ingested table (batch-start the analysis
      // stream on the entry table as its source)
      val analysis = AnalysisStream.start(
        spark.readStream.schema(graft.core.Schemas.entry).parquet(entryDir).as[Entry],
        analysisDir, tmp("e2e-ackpt"), recentN = 200,
        trigger = Trigger.ProcessingTime(0))
      analysis.processAllAvailable()
      analysis.stop()

      // serving layer observes both sensors with valid scores
      val stress = get("/stress")
      stress.statusCode() shouldBe 200
      stress.body() should include(""""name":"s1"""")
      stress.body() should include(""""name":"s2"""")
      val s1 = SnapshotStore.get("s1").get
      s1.fastAnomaly should (be >= 0.0 and be <= 1.0)
      s1.fullAnomaly shouldBe -1.0 // no model trained in this flow
      // the persisted history exists for the dashboard layer
      spark.read.parquet(analysisDir).count() should be >= 2L
      // and the entry table holds exactly the published readings
      spark.read.parquet(entryDir).count() shouldBe 5
    } finally {
      ingest.stop()
      shim.stop()
      Broker.clear()
      SnapshotStore.clear()
    }
  }

  test("anomaly episodes flow through the raw binary path end-to-end (S2+F8+T4)") {
    import graft.streaming.ProducerSim
    import graft.sources.broker.PayloadCodec
    Broker.clear()
    ProducerSim.reset()
    val entryDir = tmp("e2e-raw-entry")
    val shim = new HttpShim(fullAnalyze = () => Seq.empty, history = _ => Seq.empty)
    val port = shim.start()
    val http = HttpClient.newHttpClient()
    def post(path: String) = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

    // ingest consumes the topic as WIRE BYTES and decodes in-pipeline
    val raw = spark.readStream
      .format("graft.sources.broker.RawBrokerSourceProvider").load()
    val ingest = IngestStream.start(PayloadCodec.decodeStage(raw).toDF(),
      entryDir, tmp("e2e-raw-ckpt"), Trigger.ProcessingTime(0))
    val rnd = new java.util.Random(11)
    def tick(): Unit = {
      ProducerSim.publishTick(Seq("s1", "s2"), rnd = rnd)
      ingest.processAllAvailable()
    }
    try {
      // episode: flip s1 anomalous over the reference control route
      post("/update?sensor=s1&anomaly=1").statusCode() shouldBe 200
      (1 to 3).foreach(_ => tick())
      post("/update?sensor=s1&anomaly=0").statusCode() shouldBe 200
      tick()
      ingest.stop()
      val out = spark.read.parquet(entryDir)
        .select($"sensor", $"value", $"anomaly").as[(String, Double, Int)].collect()
      out.length shouldBe 8 // 2 sensors × 4 ticks, one row per (sensor, tick)
      val s1 = out.filter(_._1 == "s1")
      s1.count(_._3 == 1) shouldBe 3 // the episode, consecutive, then off
      s1.filter(_._3 == 1).foreach(r => math.abs(r._2) should be >= 100.0)
      out.filter(_._1 == "s2").foreach { r =>
        r._3 shouldBe 0
        math.abs(r._2) should be < 100.0
      }
    } finally {
      if (ingest.isActive) ingest.stop()
      shim.stop()
      Broker.clear()
      ProducerSim.reset()
    }
  }
}
