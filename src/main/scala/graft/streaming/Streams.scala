package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.{Entry, Heuristic, SensorMeta}

/** Structured Streaming re-expression of the reference's speed/serving
  * layers (SURVEY.md §2.8, §3.2, §3.4):
  *
  *  - [[IngestStream]] — MQTT-consumer equivalent (mqtt/Consumer.scala:
  *    52-66): payload stream → ts stamped at consume time → exactly-once
  *    append into the partitioned entry table (micro-batch trigger =
  *    the reference's 200 ms tick).
  *  - [[AnalysisStream]] — HistoryWriter/Analyzer loop (analyzer/
  *    HistoryWriter.scala:40-111): per-sensor sliding recent window kept
  *    as typed stream state (`flatMapGroupsWithState`), emitting a
  *    SensorMeta per sensor per micro-batch that touched it — the
  *    pull-and-check freshness dance disappears because the stream IS
  *    the freshness mechanism (T3). Results append to the analysis table
  *    and refresh [[SnapshotStore]].
  *  - [[SnapshotStore]] — the serving layer (Redis `fast-analysis` hash
  *    + stress-mode `lastMeta`, Analyzer.scala:93,117-121): latest meta
  *    per sensor, served without touching storage.
  *
  * Scale: state per key is a bounded ring (≤ recentN doubles) → state
  * size = sensors × N regardless of input volume; the only shuffle is
  * the groupByKey on sensor.
  */
object IngestStream {

  /** `source` must be a streaming DataFrame with (sensor, value,
    * anomaly) — the MqttEntry shape — and optionally a `ts` column. When
    * `ts` is absent it is assigned HERE, at consume time, exactly like
    * Consumer.scala:64 (T2: processing-time semantics).
    *
    * Consume-time stamps are PER-RECORD distinct:
    * `graft_record_stamp(batch micros)` = `max(prev + 1, batch micros)`
    * off a JVM-wide monotonic register, so two same-JVM records can
    * never share a stamp at ANY batch volume. The reference stamps each
    * message individually (`Instant.now()` per record,
    * mqtt/Consumer.scala:64), so same-sensor readings inside one batch
    * rarely collide there; a batch-constant stamp made that collision
    * STRUCTURAL here — every same-sensor reading in a 200 ms micro-batch
    * collapsed under the upsert (round-2 advisory, silent data loss
    * under multi-reading producers). Drift above the wall clock needs
    * >1M records/s/JVM sustained and self-heals; bulk backfills should
    * carry an explicit `ts` column (respected verbatim). Across executor
    * JVMs the register is per-JVM, so collisions degrade to the
    * reference's own wall-clock rarity — rare, not structural.
    *
    * Upsert parity (T4): the reference's CQL `UPDATE` keyed (sensor, ts)
    * is last-write-wins — two writes to the same key collapse to one row
    * (mqtt/Consumer.scala:59-66, schema.sql:9). An append-only parquet
    * log has no keys, so the upsert is re-expressed as streaming
    * deduplication ON THE WAY IN: [[DedupStream.dropDuplicateReadings]]
    * drops every later delivery of an already-seen (sensor, ts) within
    * the watermark horizon — state survives restarts via the checkpoint,
    * so a producer redelivering across a query bounce still cannot
    * duplicate a row. `dedupe = false` restores the raw append-only
    * log. */
  /** `compactLog = true` switches the sink to the COMPACT-LOG shape:
    * one file per micro-batch (coalesce(1)), no sensor partitioning.
    * The default (sensor-partitioned, one file per sensor per batch —
    * the Cassandra partition-key analog) optimizes point reads but
    * writes #sensors × 5 files/s at the 200 ms tick, which is the
    * small-file tax [[EntryLogCompactor]] exists to pay down; a
    * deployment that runs the compactor writes the raw log compact and
    * lets the COMPACTION STAGE apply the layout (partitionBy at fold
    * time) — the same write-fast/cluster-later split q164/q173 encode
    * for the batch tables. coalesce(1) is sized to micro-batch volume
    * (tens of rows at the reference's cadence); a higher-volume
    * deployment raises it to hold file sizes near the FS block size. */
  def start(
      source: DataFrame,
      entryDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds"),
      dedupe: Boolean = true,
      horizon: String = "1 hour",
      compactLog: Boolean = false): StreamingQuery = {
    val stamped =
      if (source.columns.contains("ts")) source
      else {
        // graft_record_stamp: unique-microsecond clamp off the batch
        // instant — max(prev+1, batch micros) on a JVM-wide register,
        // so same-JVM stamps can never collide at any batch volume
        // (see RecordStamp scaladoc for the cross-JVM contract)
        graft.functions.GraftFunctions.register(source.sparkSession)
        source.withColumn("ts",
          timestamp_micros(expr(
            "graft_record_stamp(unix_micros(current_timestamp()))")))
      }
    val upserted =
      if (dedupe) DedupStream.dropDuplicateReadings(stamped, horizon) else stamped
    val shaped0 = upserted
      .select("sensor", "ts", "value", "anomaly")
    val shaped = if (compactLog) shaped0.coalesce(1) else shaped0
    val writer = shaped
      // named per-batch metrics on the PIPELINE's own rows (Spark's
      // observe API): row count, distinct sensors, anomaly count —
      // surfaced through QueryProgressEvent.observedMetrics, the hook a
      // production monitor alerts on (rows/batch collapse, anomaly
      // storm) without a second read of the stream
      .observe("ingest",
        count(lit(1)).as("rows"),
        approx_count_distinct(col("sensor")).as("sensors"),
        sum(col("anomaly").cast("long")).as("anomalies"))
      .writeStream
      .format("parquet")
      .option("path", entryDir)
      .option("checkpointLocation", checkpointDir)

    val laidOut = if (compactLog) writer else writer.partitionBy("sensor")
    laidOut
      .trigger(trigger)
      .start()
  }
}

/** Bounded per-sensor window state: most recent `n` (tsMicros, value)
  * pairs, newest first. */
final case class SensorWindow(tsMicros: Seq[Long], values: Seq[Double])

object AnalysisStream {

  /** Merge a micro-batch of entries into the bounded window and emit the
    * refreshed analysis for this sensor (reference analyze(),
    * Analyzer.scala:138-151; scorer optionally injects the batch-layer
    * model posterior). */
  private def update(recentN: Int, scorer: String => Option[Double => Double])(
      sensor: String,
      batch: Iterator[Entry],
      state: GroupState[SensorWindow]): Iterator[SensorMeta] = {
    val prev = state.getOption.getOrElse(SensorWindow(Nil, Nil))
    val incoming = batch.map(e => (e.ts.getTime * 1000L, e.value)).toSeq
    val merged = (prev.tsMicros.zip(prev.values) ++ incoming)
      .sortBy(-_._1)
      .take(recentN)
    state.update(SensorWindow(merged.map(_._1), merged.map(_._2)))
    if (merged.isEmpty) Iterator.empty
    else {
      val values = merged.map(_._2)
      val mean = values.sum / values.size
      val std = Heuristic.stdDevPop(values)
      val latest = values.head
      val fast = Heuristic.score(latest, mean, std)
      val (full, avg) = Heuristic.blend(fast, scorer(sensor).map(f => f(latest)))
      Iterator.single(SensorMeta(
        sensor, new Timestamp(merged.head._1 / 1000L), fast, full, avg))
    }
  }

  /** Start the analysis stream over a typed entry stream. Emits to the
    * analysis table (append, exactly-once via checkpoint) and refreshes
    * the serving snapshot in the same micro-batch. */
  def start(
      entryStream: Dataset[Entry],
      analysisDir: String,
      checkpointDir: String,
      recentN: Int = 200,
      scorer: String => Option[Double => Double] = _ => None,
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): StreamingQuery = {
    val spark = entryStream.sparkSession
    import spark.implicits._
    entryStream
      .groupByKey(_.sensor)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        update(recentN, scorer))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[SensorMeta], batchId: Long) =>
        // ONE collect, then local writes: the batch is bounded by ≤ one
        // row per sensor per micro-batch (sensor count is a config
        // dimension, not a data dimension), so funneling it through the
        // driver is O(#sensors) — and it keeps Dataset.persist/unpersist
        // OUT of the 200 ms hot path. The earlier persist-based form
        // took the session-global CacheManager lock every micro-batch;
        // uncacheByCondition walks EVERY cache entry under that lock, so
        // a concurrent cache user (the T5 refit loop persisting its
        // training window) convoyed the stream for the whole refit —
        // round-7 ServeSoak caught the stream execution thread BLOCKED
        // in CacheManager.uncacheByCondition for 16-22 s per refit.
        // Idempotent under foreachBatch's at-least-once replay: each
        // micro-batch owns a partition directory keyed by batchId, so a
        // restarted batch OVERWRITES its own output instead of appending
        // duplicates; SnapshotStore.update keeps the newer ts per sensor,
        // and a replayed meta (equal ts) replaces itself.
        val metas = batch.collect().toSeq
        if (metas.nonEmpty) {
          spark.createDataset(metas)
            .write.mode("overwrite").parquet(s"$analysisDir/batch=$batchId")
          SnapshotStore.update(metas)
        }
      }
      .trigger(trigger)
      .start()
  }

  /** [[start]] twin with TRANSACTIONAL storage (round-5: the storage
    * half of the MERGE story): each micro-batch MERGEs into a
    * [[graft.sources.TxLog]] table keyed (name, ts) — real
    * arbitrary-key upserts, the reference's `UPDATE analysis SET ...
    * WHERE sensor = ?, ts = ?` surface (HistoryWriter.scala:90-98)
    * as a storage capability rather than append+dedup emulation.
    * Idempotent under foreachBatch's at-least-once replay: a restarted
    * batch re-merges identical rows, and MERGE by key is content-
    * idempotent (TxLogSpec); a re-analysis of the same (sensor, ts)
    * snapshot is last-write-wins, exactly the CQL semantics. Both
    * streams may feed [[SnapshotStore]]: it keeps the newer `ts` per
    * sensor, so the slower stream cannot regress a served reading. */
  def startTx(
      entryStream: Dataset[Entry],
      analysisTable: String,
      checkpointDir: String,
      recentN: Int = 200,
      scorer: String => Option[Double => Double] = _ => None,
      trigger: Trigger = Trigger.ProcessingTime("200 milliseconds")): StreamingQuery = {
    val spark = entryStream.sparkSession
    import spark.implicits._
    entryStream
      .groupByKey(_.sensor)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        update(recentN, scorer))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[SensorMeta], _: Long) =>
        // one bounded collect; no per-batch CacheManager traffic (the
        // lock-convoy rationale in [[start]]'s foreachBatch applies)
        val metas = batch.collect().toSeq
        if (metas.nonEmpty) {
          graft.sources.TxLog.upsert(spark, analysisTable,
            spark.createDataset(metas).toDF(), Seq("name", "ts"))
          SnapshotStore.update(metas)
        }
      }
      .trigger(trigger)
      .start()
  }
}

/** Streaming deduplication — the T3 alternate mapping (SURVEY §2.8:
  * `dropDuplicates(["sensor","ts"])` on the analysis stream): duplicate
  * deliveries of the same keyed reading are dropped exactly-once within
  * the watermark horizon, after which the key's state is evicted — at
  * 100 TB state stays bounded by (keys active within the horizon). */
object DedupStream {
  def dropDuplicateReadings(
      entries: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    entries
      .withWatermark("ts", horizon)
      .dropDuplicates(Seq("sensor", "ts"))
}

/** Serving-layer snapshot: latest SensorMeta per sensor (the Redis
  * `fast-analysis` hash, HistoryWriter.scala:69-74, plus the analyzers'
  * stress-mode `lastMeta` cache). Process-local; refreshed by
  * [[AnalysisStream]]'s micro-batches; reads never touch storage. */
object SnapshotStore {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, SensorMeta]()

  /** Keeps the meta with the newer `ts` per sensor, so the snapshot never
    * goes back to an older reading; on an equal `ts` the incoming meta
    * wins, so a replayed batch stays idempotent. */
  def update(metas: Seq[SensorMeta]): Unit = metas.foreach { x =>
    m.merge(x.name, x, (old, in) => if (in.ts.before(old.ts)) old else in)
  }
  def get(sensor: String): Option[SensorMeta] = Option(m.get(sensor))
  def all: Seq[SensorMeta] = {
    import scala.jdk.CollectionConverters._
    m.values.asScala.toSeq.sortBy(_.name)
  }
  def clear(): Unit = m.clear()
}
