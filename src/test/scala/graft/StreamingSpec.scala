package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.core.{Entry, Heuristic, MqttEntry}
import graft.streaming.{AnalysisStream, DedupStream, IngestStream, SnapshotStore}

/** Streaming-layer tests (SURVEY.md §2.8/§3.2/§3.4): micro-batch ingest
  * with consume-time timestamps, stateful bounded-window analysis, and
  * snapshot serving semantics. MemoryStream + processAllAvailable make
  * the micro-batch ticks synchronous and deterministic. */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("ingest stream stamps per-record distinct consume-time ts (T2/T4)") {
    import graft.sources.broker.Broker
    Broker.clear()
    val source = spark.readStream
      .format("graft.sources.broker.BrokerSourceProvider").load()
    val entryDir = tmp("graft-entry")
    val q = IngestStream.start(source, entryDir, tmp("graft-ckpt"),
      Trigger.ProcessingTime(0))
    val t0 = System.currentTimeMillis()
    // per-record stamping: multiple same-sensor readings in ONE batch
    // keep distinct ts — nothing collapses (the reference stamps each
    // message with its own Instant.now(); only true same-instant writes
    // collide there, and the broker's stamp must not make the collision
    // structural)
    Broker.publish(
      MqttEntry("s1", 10.0, 0), MqttEntry("s1", 120.0, 1),
      MqttEntry("s2", -5.0, 0), MqttEntry("s2", 7.5, 0))
    q.processAllAvailable()
    Broker.publish(MqttEntry("s1", 11.0, 0))
    q.processAllAvailable()
    // observe() telemetry: named per-batch metrics ride the progress
    // events — rows across batches must account for every ingested row,
    // and the anomaly count must see the one anomalous reading
    val observed = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest")))
    observed should not be empty
    observed.map(_.getAs[Long]("rows")).sum shouldBe 5L
    observed.map(_.getAs[Long]("anomalies")).sum shouldBe 1L
    q.stop()
    val out = spark.read.parquet(entryDir)
    out.count() shouldBe 5
    out.select($"sensor", $"ts").distinct().count() shouldBe 5 // all keys distinct
    out.filter($"sensor" === "s1").count() shouldBe 3
    out.columns.toSet shouldBe Set("sensor", "ts", "value", "anomaly")
    // consume-time stamping: every ts falls inside the test's time window
    val ts = out.select($"ts").as[Timestamp].collect()
    all(ts.map(_.getTime)) should be >= t0 - 1000
    all(ts.map(_.getTime)) should be <= System.currentTimeMillis() + 1000
    // partitioned layout by sensor (the Cassandra partition-key analog)
    new java.io.File(entryDir).list().count(_.startsWith("sensor=")) shouldBe 2
    Broker.clear()
  }

  test("redelivered (sensor, ts) rows stay collapsed across a query restart (T4)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Entry]
    val entryDir = tmp("graft-upsert-entry")
    val ckpt = tmp("graft-upsert-ckpt")
    def ts(s: Long) = new Timestamp(s * 1000L)
    // a source that brings its own ts composes the dedupe before ingest
    def deduped = DedupStream.dropDuplicateReadings(source.toDF())
    val q1 = IngestStream.start(deduped, entryDir, ckpt, Trigger.ProcessingTime(0))
    source.addData(Entry("a", ts(10), 1.0, 0), Entry("a", ts(11), 2.0, 0))
    q1.processAllAvailable()
    q1.stop()
    // producer redelivers an already-persisted reading AFTER the query
    // bounced: the dedup state lives in the checkpoint, so the duplicate
    // is dropped, not appended (reference CQL UPDATE = idempotent write)
    source.addData(Entry("a", ts(10), 1.0, 0), Entry("a", ts(12), 3.0, 0))
    val q2 = IngestStream.start(deduped, entryDir, ckpt, Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(entryDir)
    out.count() shouldBe 3
    out.select($"ts").as[Timestamp].collect().map(_.getTime).sorted shouldBe
      Array(10000L, 11000L, 12000L)
  }

  test("ingest query keeps no state: no stateful operator, watermark or shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.streaming.operators.stateful.{EventTimeWatermarkExec, StateStoreWriter}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.sources.broker.{Broker, BrokerSourceProvider}
    Broker.clear()
    val ckpt = tmp("graft-nostate-ckpt")
    val q = IngestStream.start(
      spark.readStream.format(classOf[BrokerSourceProvider].getName).load(),
      tmp("graft-nostate-entry"), ckpt, Trigger.ProcessingTime(0))
    try (1 to 2).foreach { b =>
      Broker.publish(MqttEntry("s1", b.toDouble, 0), MqttEntry("s2", -b.toDouble, 1))
      q.processAllAvailable()
    } finally q.stop()
    q.lastProgress.stateOperators shouldBe empty
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    plan.collect {
      case p @ (_: StateStoreWriter | _: EventTimeWatermarkExec | _: ShuffleExchangeLike) => p.nodeName
    } shouldBe empty
    new java.io.File(ckpt, "state").exists() shouldBe false
    Broker.clear()
  }

  test("raw binary payloads decode to typed rows and feed ingest (S2)") {
    import graft.sources.broker.{Broker, PayloadCodec}
    Broker.clear()
    val raw = spark.readStream
      .format("graft.sources.broker.RawBrokerSourceProvider").load()
    raw.schema.fieldNames shouldBe Array("payload", "ts") // wire bytes + broker stamp
    val entryDir = tmp("graft-raw-entry")
    val q = IngestStream.start(PayloadCodec.decodeStage(raw).toDF(),
      entryDir, tmp("graft-raw-ckpt"), Trigger.ProcessingTime(0))
    Broker.publish(MqttEntry("s1", 10.5, 0), MqttEntry("s2", -120.25, 1))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(entryDir)
      .select($"sensor", $"value", $"anomaly").as[(String, Double, Int)]
      .collect().sortBy(_._1)
    out shouldBe Array(("s1", 10.5, 0), ("s2", -120.25, 1))
    Broker.clear()
  }

  test("payload codec round-trips deterministically (S2)") {
    import graft.sources.broker.PayloadCodec
    val cases = Seq(
      MqttEntry("sensor/power", 8285.425, 0),
      MqttEntry("üñïçødé-センサー", -0.0, 1),
      MqttEntry("", Double.MaxValue, 0),
      MqttEntry("x", Double.MinPositiveValue, 1))
    cases.foreach { e =>
      PayloadCodec.decode(PayloadCodec.encode(e)) shouldBe e
      // byte-stable: encoding is a pure function of the record
      PayloadCodec.encode(e) shouldBe PayloadCodec.encode(e.copy())
    }
  }

  test("DSv2 broker source feeds the ingest pipeline exactly once (S1)") {
    import graft.sources.broker.Broker
    Broker.clear()
    val source = spark.readStream
      .format("graft.sources.broker.BrokerSourceProvider").load()
    val entryDir = tmp("graft-broker-entry")
    val q = IngestStream.start(source, entryDir, tmp("graft-broker-ckpt"),
      Trigger.ProcessingTime(0))
    Broker.publish(MqttEntry("s1", 10.0, 0), MqttEntry("s2", 120.0, 1))
    q.processAllAvailable()
    Broker.publish(MqttEntry("s1", 11.0, 0))
    q.processAllAvailable()
    // re-processing must not re-read committed offsets
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(entryDir)
    out.count() shouldBe 3
    out.select($"sensor").as[String].collect().sorted shouldBe Array("s1", "s1", "s2")
    Broker.clear()
  }

  test("one reading, one ts: the served snapshot names the newest entry-log row per sensor") {
    import graft.sources.broker.{Broker, BrokerSourceProvider}
    Broker.clear()
    SnapshotStore.clear()
    val entryDir = tmp("graft-onets-entry")
    val analysisDir = tmp("graft-onets-analysis")
    def topic = spark.readStream.format(classOf[BrokerSourceProvider].getName).load()
    // both streams read the topic, as the deployment wires them
    val ingest = IngestStream.start(topic, entryDir, tmp("graft-onets-ickpt"),
      Trigger.ProcessingTime(0))
    val analysis = AnalysisStream.start(topic.as[Entry], analysisDir,
      tmp("graft-onets-ackpt"), trigger = Trigger.ProcessingTime(0))
    (1 to 3).foreach { b =>
      Broker.publish((1 to 6).map(i => MqttEntry(s"s${i % 3}", b * 10.0 + i, 0)): _*)
      ingest.processAllAvailable()
      analysis.processAllAvailable()
    }
    ingest.stop(); analysis.stop()
    val newest = spark.read.parquet(entryDir)
      .groupBy($"sensor").agg(org.apache.spark.sql.functions.max($"ts").as("ts"))
      .as[(String, Timestamp)].collect().toMap
    newest.keySet shouldBe Set("s0", "s1", "s2")
    SnapshotStore.all.map(m => m.name -> m.ts).toMap shouldBe newest
    // the persisted analysis history names entry-log rows too
    val logged = spark.read.parquet(entryDir).select($"sensor", $"ts")
      .as[(String, Timestamp)].collect().toSet
    val analysed = spark.read.parquet(analysisDir).select($"name", $"ts")
      .as[(String, Timestamp)].collect().toSet
    analysed should not be empty
    analysed.subsetOf(logged) shouldBe true
    Broker.clear()
    SnapshotStore.clear()
  }

  test("stateful analysis: bounded window, snapshot refresh, change detection (T3/W5)") {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val source = MemoryStream[Entry]
    val analysisDir = tmp("graft-analysis")
    val q = AnalysisStream.start(source.toDS(), analysisDir, tmp("graft-ackpt"),
      recentN = 3, trigger = Trigger.ProcessingTime(0))
    def ts(s: Long) = new Timestamp(s * 1000L)

    // batch 1: sensor a gets 3 values; sensor b gets 1
    source.addData(
      Entry("a", ts(1), 1.0, 0), Entry("a", ts(2), 2.0, 0), Entry("a", ts(3), 3.0, 0),
      Entry("b", ts(1), 5.0, 0))
    q.processAllAvailable()

    val snapA = SnapshotStore.get("a").get
    val vals1 = Seq(3.0, 2.0, 1.0)
    snapA.fastAnomaly shouldBe Heuristic.score(3.0, vals1.sum / 3, Heuristic.stdDevPop(vals1))
    snapA.fullAnomaly shouldBe -1.0 // no model → sentinel
    snapA.avgAnomaly shouldBe snapA.fastAnomaly // fallback blend
    snapA.ts shouldBe ts(3)
    SnapshotStore.get("b").get.ts shouldBe ts(1)

    // batch 2: only sensor a moves; window caps at 3 (oldest evicted)
    source.addData(Entry("a", ts(4), 10.0, 0))
    q.processAllAvailable()
    q.stop()

    val snapA2 = SnapshotStore.get("a").get
    val vals2 = Seq(10.0, 3.0, 2.0)
    snapA2.fastAnomaly shouldBe Heuristic.score(10.0, vals2.sum / 3, Heuristic.stdDevPop(vals2))
    snapA2.ts shouldBe ts(4)

    // analysis table: a appended twice, b once (no change → no rewrite)
    val hist = spark.read.parquet(analysisDir)
    hist.filter($"name" === "a").count() shouldBe 2
    hist.filter($"name" === "b").count() shouldBe 1
  }

  test("transactional analysis sink: TxLog MERGE keyed (name, ts) — S8 storage parity") {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val source = MemoryStream[Entry]
    val table = tmp("graft-txan")
    val q = AnalysisStream.startTx(source.toDS(), table, tmp("graft-txckpt"),
      recentN = 3, trigger = Trigger.ProcessingTime(0))
    def ts(s: Long) = new Timestamp(s * 1000L)
    source.addData(
      Entry("a", ts(1), 1.0, 0), Entry("a", ts(2), 2.0, 0),
      Entry("b", ts(1), 5.0, 0))
    q.processAllAvailable()
    // batch 2: sensor a re-analyzed at a NEW head ts → upserts a second
    // a-row; sensor b unchanged (no input → no emission)
    source.addData(Entry("a", ts(3), 3.0, 0))
    q.processAllAvailable()
    q.stop()
    val hist = graft.sources.TxLog.read(spark, table)
    // MERGE semantics: one live row per (name, ts) key — never the
    // append-log's one-row-per-emission
    hist.groupBy($"name", $"ts").count().filter($"count" > 1).count() shouldBe 0
    hist.filter($"name" === "a").count() shouldBe 2 // ts(2) head, then ts(3) head
    hist.filter($"name" === "b").count() shouldBe 1
    // the latest a-row carries the recomputed 3-value window score
    val vals = Seq(3.0, 2.0, 1.0)
    val expected = Heuristic.score(3.0, vals.sum / 3, Heuristic.stdDevPop(vals))
    hist.filter($"name" === "a" && $"ts" === ts(3))
      .select($"fastAnomaly").as[Double].head() shouldBe expected
    // the log records one commit per non-empty micro-batch
    graft.sources.TxLog.history(table).size should be >= 2
  }

  test("startTx crash recovery: half-written data without its log entry is invisible; restart re-merges idempotently (S8)") {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val source = MemoryStream[Entry]
    val table = tmp("graft-txcrash")
    val ckpt = tmp("graft-txcrash-ckpt")
    def ts(s: Long) = new Timestamp(s * 1000L)
    val q1 = AnalysisStream.startTx(source.toDS(), table, ckpt,
      recentN = 3, trigger = Trigger.ProcessingTime(0))
    source.addData(Entry("a", ts(1), 1.0, 0), Entry("b", ts(1), 5.0, 0))
    q1.processAllAvailable()
    q1.stop()
    val committedRows = graft.sources.TxLog.read(spark, table)
      .collect().toSet
    val committedVersions = graft.sources.TxLog.history(table).map(_._1)

    // CRASH SIMULATION: TxLog writes data files fully BEFORE the log
    // link (TxLog.create/merge ordering), so a batch that dies between
    // the two leaves exactly this state — a complete data dir with no
    // log entry. Fabricate it from real rows so the schema matches.
    val ghost = graft.sources.TxLog.read(spark, table)
      .withColumn("name", lit("ghost-sensor"))
    ghost.write.parquet(s"$table/data-00000099-crashed0")

    // invisible to every reader: snapshot content and history unchanged
    graft.sources.TxLog.read(spark, table).collect().toSet shouldBe committedRows
    graft.sources.TxLog.history(table).map(_._1) shouldBe committedVersions
    graft.sources.TxLog.files(table).map(_.path)
      .exists(_.contains("crashed0")) shouldBe false

    // RESTART from the same checkpoint; the producer redelivers sensor
    // a's reading (at-least-once) plus a new one — the re-merge must
    // collapse onto the same (name, ts) keys, never duplicate them
    source.addData(Entry("a", ts(1), 1.0, 0), Entry("a", ts(2), 2.0, 0))
    val q2 = AnalysisStream.startTx(source.toDS(), table, ckpt,
      recentN = 3, trigger = Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    q2.stop()
    val hist = graft.sources.TxLog.read(spark, table)
    hist.groupBy($"name", $"ts").count().filter($"count" > 1).count() shouldBe 0
    hist.filter($"name" === "ghost-sensor").count() shouldBe 0 // still invisible
    hist.filter($"name" === "b").count() shouldBe 1
    // sensor a: one live row per emitted head ts (1 and 2), not an
    // append trail of the redelivery
    hist.filter($"name" === "a").count() shouldBe 2
  }

  /** Serve, then store, on the sink-failure path: the history path sits
    * under a regular file, so the first batch's sink throws and stops the
    * query after the snapshot already serves that batch. A restart on the
    * same checkpoint, with the file gone, replays the batch to the same
    * metas and one history row per (name, ts). */
  private def sinkFailureReplays(
      start: (Dataset[Entry], String, String) => StreamingQuery,
      history: String => DataFrame): Unit = {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val source = MemoryStream[Entry]
    val dir = tmp("graft-sinkfail")
    val blocker = new File(dir, "blocker")
    blocker.createNewFile() shouldBe true
    val table = s"$blocker/analysis"
    val ckpt = s"$dir/ckpt"
    def ts(s: Long) = new Timestamp(s * 1000L)
    source.addData(
      Entry("a", ts(1), 1.0, 0), Entry("a", ts(2), 4.0, 0),
      Entry("b", ts(0), 7.0, 0), Entry("b", ts(1), 5.0, 0))
    val q1 = start(source.toDS(), table, ckpt)
    val err = intercept[StreamingQueryException](q1.processAllAvailable())
    q1.isActive shouldBe false
    q1.exception shouldBe Some(err)
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(blocker.getName)) shouldBe true
    val served = SnapshotStore.all
    served.map(m => m.name -> m.ts) shouldBe Seq("a" -> ts(2), "b" -> ts(1))

    blocker.delete() shouldBe true
    val q2 = start(source.toDS(), table, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    SnapshotStore.all shouldBe served
    history(table).select($"name", $"ts").as[(String, Timestamp)].collect()
      .sortBy(_._1).toSeq shouldBe served.map(m => m.name -> m.ts)
    SnapshotStore.clear()
  }

  test("a failed history write leaves its batch served; the restart stores it once (start)") {
    sinkFailureReplays(
      (ds, dir, ckpt) => AnalysisStream.start(ds, dir, ckpt, recentN = 3,
        trigger = Trigger.ProcessingTime(0)),
      dir => spark.read.parquet(dir))
  }

  test("a failed history MERGE leaves its batch served; the restart stores it once (startTx)") {
    sinkFailureReplays(
      (ds, table, ckpt) => AnalysisStream.startTx(ds, table, ckpt, recentN = 3,
        trigger = Trigger.ProcessingTime(0)),
      table => graft.sources.TxLog.read(spark, table))
  }

  test("a copied entry directory reads the same rows once its _spark_metadata is dropped") {
    import graft.sources.broker.{Broker, BrokerSourceProvider}
    Broker.clear()
    def resume(dir: String, ckpt: String): Unit = {
      val q = IngestStream.start(
        spark.readStream.format(classOf[BrokerSourceProvider].getName).load(),
        dir, ckpt, Trigger.ProcessingTime(0))
      try q.processAllAvailable() finally q.stop()
    }
    def copyTree(from: String, to: File): String = {
      FileUtils.copyDirectory(new File(from), to)
      to.toString
    }
    def rows(dir: String) = spark.read.parquet(dir)
      .select($"sensor", $"ts", $"value", $"anomaly").as[(String, Timestamp, Double, Int)]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    val (entries, ckpt) = (tmp("graft-copy-entry"), tmp("graft-copy-ckpt"))
    Broker.publish((1 to 2).flatMap(b =>
      Seq(MqttEntry("s1", b.toDouble, 0), MqttEntry("s2", -b.toDouble, 1))): _*)
    resume(entries, ckpt)
    val dest = tmp("graft-copy-dest")
    val (copy, copyCkpt) = (copyTree(entries, new File(dest, "entries")),
      copyTree(ckpt, new File(dest, "ckpt")))
    // the copy's log names the original's absolute file paths
    spark.read.parquet(copy).inputFiles.foreach(_ should include(entries))
    // resume both on the next batch: the copy's log now spans two roots
    Broker.publish(MqttEntry("s1", 3.0, 0), MqttEntry("s2", -3.0, 1))
    resume(entries, ckpt)
    resume(copy, copyCkpt)
    intercept[Exception](rows(copy)).getMessage should include("CONFLICTING_DIRECTORY_STRUCTURES")
    FileUtils.deleteDirectory(new File(copy, "_spark_metadata"))
    rows(entries) should have size 6
    rows(copy) shouldBe rows(entries)
    Broker.clear()
  }

  test("analysis stream blends a live RF scorer (batch layer inside the stream)") {
    import org.apache.spark.ml.linalg.Vectors
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val models = graft.ml.AnomalyForest.train(fixture.filter($"sensor" === FirstSensor))
    val scorer: String => Option[Double => Double] = s =>
      models.get(s).map(m => (v: Double) => m.predictProbability(Vectors.dense(v))(1))
    val source = MemoryStream[Entry]
    val q = AnalysisStream.start(source.toDS(), tmp("graft-an3"), tmp("graft-ck3"),
      recentN = 200, scorer = scorer, trigger = Trigger.ProcessingTime(0))
    def ts(s: Long) = new Timestamp(s * 1000L)
    source.addData(
      Entry(FirstSensor, ts(1), 10.0, 0), Entry(FirstSensor, ts(2), -20.0, 0),
      Entry(FirstSensor, ts(3), 35.0, 0), Entry(FirstSensor, ts(4), 140.0, 1))
    q.processAllAvailable()
    q.stop()
    val snap = SnapshotStore.get(FirstSensor).get
    val expectedFull = models(FirstSensor).predictProbability(Vectors.dense(140.0))(1)
    snap.fullAnomaly shouldBe expectedFull
    snap.avgAnomaly shouldBe (snap.fastAnomaly * 35 + expectedFull * 65) / 100 +- 1e-12
    // the anomalous latest value scores high under the batch model
    expectedFull should be > 0.5
  }

  test("streaming dedup drops duplicate keyed readings across micro-batches (T3)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Entry]
    val deduped = graft.streaming.DedupStream.dropDuplicateReadings(source.toDF())
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    source.addData(Entry("a", ts(10), 1.0, 0), Entry("a", ts(10), 1.0, 0)) // same batch dup
    q.processAllAvailable()
    source.addData(Entry("a", ts(10), 1.0, 0)) // redelivery in a later batch
    source.addData(Entry("a", ts(11), 2.0, 0)) // genuinely new reading
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_out").select($"sensor", $"ts").as[(String, Timestamp)].collect()
    rows.length shouldBe 2
    rows.map(_._2.getTime).sorted shouldBe Array(10000L, 11000L)
  }

  test("watermarked tumbling windows finalize and drop late data (T2 extension)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Entry]
    val windowed = graft.streaming.WindowedStats.tumbling(
      source.toDF(), windowLength = "1 minute", lateness = "1 minute")
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    // window [60,120) gets 2 values; then the watermark advances past it
    source.addData(Entry("a", ts(70), 10.0, 0), Entry("a", ts(80), 20.0, 0))
    q.processAllAvailable()
    source.addData(Entry("a", ts(400), 1.0, 0)) // watermark → 400-60 = 340
    q.processAllAvailable()
    // a late row for the finalized [60,120) window must be dropped
    source.addData(Entry("a", ts(90), 999.0, 0))
    q.processAllAvailable()
    source.addData(Entry("a", ts(700), 2.0, 0)) // flush: finalize [360,420)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .select($"window_start", $"n", $"avg_v").as[(Timestamp, Long, Double)]
      .collect().sortBy(_._1.getTime)
    rows.head._1 shouldBe ts(60)
    rows.head._2 shouldBe 2L // the 999.0 late row did NOT land
    rows.head._3 shouldBe 15.0
    rows.map(_._1) should contain(ts(360))
  }

  test("streaming MG heavy hitters hold the batch sketch bound across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    val source = MemoryStream[(Timestamp, Long)]
    val trending = graft.streaming.WindowedStats.trendingItems(
      source.toDF().toDF("ts", "item"), k, windowLength = "1 minute",
      lateness = "1 minute")
    val q = trending.writeStream.outputMode("append")
      .format("memory").queryName("mg_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    // a skewed stream into window [60,120): item 1 dominates, split
    // across TWO micro-batches so the sketch state actually merges
    val batch1 = Seq.fill(20)(1L) ++ Seq(2L, 3L, 4L, 5L, 6L)
    val batch2 = Seq.fill(15)(1L) ++ Seq.fill(8)(7L) ++ Seq(8L, 9L)
    source.addData(batch1.map(i => (ts(70), i)))
    q.processAllAvailable()
    source.addData(batch2.map(i => (ts(80), i)))
    q.processAllAvailable()
    source.addData(Seq((ts(400), 99L))) // advance watermark, finalize [60,120)
    q.processAllAvailable()
    source.addData(Seq((ts(700), 99L)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("mg_out")
      .where($"window_start" === ts(60)).collect()
    out.length shouldBe 1
    val sketch = out.head.getSeq[org.apache.spark.sql.Row](2)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = batch1 ++ batch2
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val err = all.size.toDouble / (k + 1)
    sketch.size should be <= k
    for ((item, est) <- sketch) {
      est should be <= exact(item)
      (exact(item) - est).toDouble should be <= err
    }
    // the dominant items survive the cross-batch merge
    for ((item, c) <- exact if c > err) sketch.keySet should contain(item)
  }

  test("session windows merge within the gap, split across it, drop late rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Entry]
    val sessions = graft.streaming.WindowedStats.sessions(
      source.toDF(), gap = "30 seconds", lateness = "10 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    // 10 and 25 are within one 30 s gap → ONE merged session [10, 55)
    source.addData(Entry("a", ts(10), 1.0, 0), Entry("a", ts(25), 2.0, 0))
    q.processAllAvailable()
    // 500 starts a new session and advances the watermark past the first
    source.addData(Entry("a", ts(500), 4.0, 0))
    q.processAllAvailable()
    // a late row inside the finalized first session must be dropped
    source.addData(Entry("a", ts(30), 999.0, 0))
    q.processAllAvailable()
    source.addData(Entry("a", ts(900), 8.0, 0)) // flush: finalize [500, 530)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select($"session_start", $"session_end", $"n_events", $"sum_v")
      .as[(Timestamp, Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    rows.length shouldBe 2
    rows(0) shouldBe ((ts(10), ts(55), 2L, 3.0)) // merged; 999.0 never landed
    rows(1) shouldBe ((ts(500), ts(530), 1L, 4.0))
  }

  test("stream-stream join labels readings with commands inside the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val rs = MemoryStream[Entry]; val cs = MemoryStream[Entry]
    val joined = graft.streaming.StreamJoin.enrich(rs.toDF(), cs.toDF(),
      horizon = "1 minute", lateness = "10 seconds")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").trigger(Trigger.ProcessingTime(0)).start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    cs.addData(Entry("a", ts(40), 0.0, 1), Entry("a", ts(300), 0.0, 0),
      Entry("b", ts(40), 0.0, 1))
    rs.addData(
      Entry("a", ts(70), 1.5, 0), // cmd@40 is 30 s before → inside horizon
      Entry("a", ts(320), 2.5, 0), // joins cmd@300 only (cmd@40 is 280 s old)
      Entry("b", ts(150), 3.5, 0)) // b's cmd@40 is 110 s old → no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_out")
      .select($"sensor", $"ts", $"value", $"cmd_ts", $"cmd_anomaly")
      .as[(String, Timestamp, Double, Timestamp, Int)].collect()
      .sortBy(r => (r._1, r._2.getTime))
    rows.length shouldBe 2
    rows(0) shouldBe (("a", ts(70), 1.5, ts(40), 1))
    rows(1) shouldBe (("a", ts(320), 2.5, ts(300), 0))
  }

  test("streaming fast scores match the batch column pipeline on the same data") {
    implicit val sqlCtx = spark.sqlContext
    SnapshotStore.clear()
    val source = MemoryStream[Entry]
    val q = AnalysisStream.start(source.toDS(), tmp("graft-an2"), tmp("graft-ck2"),
      recentN = 200, trigger = Trigger.ProcessingTime(0))
    val rows = fixture.filter($"sensor" === FirstSensor).as[Entry].collect()
    source.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = SnapshotStore.get(FirstSensor).get
    val batch = graft.operators.Anomaly.fastAnalysis(
      graft.operators.Anomaly.recentWindow(fixture.filter($"sensor" === FirstSensor), 200))
      .collect().head
    streamed.fastAnomaly shouldBe batch.getAs[Double]("fast_anomaly") +- 1e-9
  }
}
