package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Entry
import graft.serve.HttpShim
import graft.sources.broker._
import graft.streaming.{AnalysisStream, IngestStream, ProducerSim, SnapshotStore}

/** The speed layer under load: one producer connection publishes 20
  * sensors at 500 msg/s over loopback MQTT on a fixed schedule (open
  * loop); the ingest (compact log) and analysis streams consume the topic
  * on 1 s triggers; two keep-alive HTTP clients read the cached `/stress`
  * snapshot back to back (closed loop). The timed window opens once every
  * sensor is served, each stream has finished a few batches and the JIT
  * has settled, or at a fixed time after the load starts. */
object SpeedServe {

  /** `settle`: wait for the JIT to settle before the window opens;
    * `maxWarmS`: the window opens this many seconds after the load starts
    * even if it has not. */
  final case class Sizes(sensors: Int, tickMs: Int, conns: Int, warmBatches: Int,
      settle: Boolean, maxWarmS: Int, windowS: Int)

  def sizes(ctx: Ctx): Sizes =
    if (ctx.smoke) Sizes(20, 40, 2, 2, settle = false, 30, 4)
    else Sizes(20, 40, 2, 4, settle = true, 30, ctx.seconds)

  /** The JIT has settled once it compiles at most this share of what it
    * compiled in the first `SettleS` seconds of load, over the last
    * `SettleS` seconds. Measured against the run's own start, it waits
    * longer when the compiler threads get less of the CPU. */
  private val Settled = 0.5
  private val SettleS = 5

  /** Process CPU, readings published and JIT compile time at one moment. */
  final case class Sample(ms: Double, cpuNs: Long, published: Long, jitMs: Long)

  private val Topic = "sensors/power"
  private val TriggerMs = 1000L
  private val SlaMs = graft.tools.ServeBench.SlaMillis

  /** One keep-alive HTTP/1.1 connection to `/stress`: a client of its
    * own per load thread, one request in flight, like one `hey` worker. */
  final class KeepAlive(port: Int) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/stress"))
      .timeout(Duration.ofSeconds(30)).GET().build()

    def stress(): (Int, String) = {
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
  }

  /** One `/stress` request: send time, latency, age of the newest served
    * reading, and whether it was a correct answer. */
  final case class Req(sentMs: Double, latMs: Double, ageMs: Double, ok: Boolean)

  /** Park until `t` (epoch ms); Thread.sleep would round to whole
    * milliseconds and skew the producer's schedule. */
  private def sleepUntil(tracer: Tracer, t: Double): Unit = {
    var ns = ((t - tracer.now()) * 1e6).toLong
    while (ns > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(ns)
      ns = ((t - tracer.now()) * 1e6).toLong
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tracer}
    val sz = sizes(ctx)
    val sensors = DataGen.sensors(sz.sensors)
    Broker.clear(); SnapshotStore.clear(); ProducerSim.reset()
    val broker = new MiniBroker
    val bridge = MqttBridge.start("127.0.0.1", broker.port, Topic)
    val producer = new MqttClient("127.0.0.1", broker.port, "perfbench-producer")
    Thread.sleep(200) // the bridge's SUBSCRIBE lands before the first publish
    val published = new AtomicLong()
    ctx.streamProbe.published = () => Broker.size.toLong

    // ---- streams: the ingest log and the analysis stream, both on the topic
    val trigger = Trigger.ProcessingTime(s"$TriggerMs milliseconds")
    val source = spark.readStream.format(classOf[BrokerSourceProvider].getName).load()
    val ingest = IngestStream.start(source, s"${ctx.workDir}/entries", s"${ctx.workDir}/ickpt",
      trigger = trigger, compactLog = true)
    val topicEntries = {
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      spark.readStream.format(classOf[BrokerSourceProvider].getName).load()
        .withColumn("ts", timestamp_micros(expr("graft_record_stamp(unix_micros(current_timestamp()))")))
        .select($"sensor", $"ts", $"value", $"anomaly").as[Entry]
    }
    val analysis = AnalysisStream.start(topicEntries, s"${ctx.workDir}/analysis",
      s"${ctx.workDir}/ackpt", recentN = 200, trigger = trigger)
    val shim = new HttpShim(() => SnapshotStore.all, n => SnapshotStore.all.take(n))
    val port = shim.start()

    // ---- load: producer and HTTP clients, open loop from now on
    val stop = new AtomicBoolean(false)
    val loadErrors = new ConcurrentLinkedQueue[String]()
    val ticks = new ConcurrentLinkedQueue[(Double, Double, Double)]() // (due, late, µs per publish)
    val reqs = new ConcurrentLinkedQueue[Req]()
    val base = tracer.now() + 100
    val producerThread = new Thread(() => {
      val rnd = new java.util.Random(ctx.seed)
      var k = 0L
      try while (!stop.get()) {
        val due = base + k * sz.tickMs
        sleepUntil(tracer, due)
        val late = tracer.now() - due
        tracer.span("sources", "publish tick") {
          sensors.foreach { s =>
            val on = ProducerSim.isAnomalous(s)
            if (if (on) rnd.nextInt(5) == 0 else rnd.nextInt(80) == 0) ProducerSim.setAnomalous(s, !on)
          }
          val tick = ProducerSim.tick(sensors, 100.0, rnd)
          val p0 = System.nanoTime()
          tick.foreach(e => producer.publish(Topic, PayloadCodec.encode(e)))
          ticks.add((due, late, (System.nanoTime() - p0) / 1e3 / tick.size))
          published.addAndGet(tick.size)
        }
        k += 1
      } catch { case e: Throwable => loadErrors.add(s"producer: $e") }
    }, "perfbench-producer")
    // closed loop, like the reference's `hey -c N`: each connection sends
    // its next request as soon as the previous answer is read
    val clients = (0 until sz.conns).map { i =>
      new Thread(() => {
        try {
          val conn = new KeepAlive(port)
          while (!stop.get()) {
            val sent = tracer.now()
            val r = tracer.span("serve", "GET /stress") {
              try {
                val (status, body) = conn.stress()
                val done = tracer.now()
                val age = Check.newestTsMs(body).map(done - _).getOrElse(Double.NaN)
                val ok = status == 200 && Check.isEnvelope(body) &&
                  Check.names(body).toSet == sensors.toSet && age <= SlaMs
                Req(sent, done - sent, age, ok)
              } catch {
                case e: Exception =>
                  loadErrors.add(s"http: $e")
                  Req(sent, tracer.now() - sent, Double.NaN, ok = false)
              }
            }
            reqs.add(r)
          }
        } catch { case e: Throwable => loadErrors.add(s"http client: $e") }
      }, s"perfbench-http-$i")
    }
    producerThread.start(); clients.foreach(_.start())

    // ---- warm-up: the window opens once every sensor is served, each
    // stream has finished `warmBatches` batches and the JIT has settled;
    // one sample a second from the start of the load
    def batchesOf(q: StreamingQuery) = ctx.streamProbe.batches.asScala.count(_.query == q.id.toString)
    def served = SnapshotStore.all.map(_.name).toSet == sensors.toSet &&
      batchesOf(ingest) >= sz.warmBatches && batchesOf(analysis) >= sz.warmBatches
    val compilation = java.lang.management.ManagementFactory.getCompilationMXBean
    def sample() = Sample(tracer.now(), Jvm.processCpuNs(), published.get(), compilation.getTotalCompilationTime)
    def cpuPerK(a: Sample, b: Sample) = (b.cpuNs - a.cpuNs) / 1e6 / math.max((b.published - a.published) / 1000.0, 1e-9)
    val curve = scala.collection.mutable.ArrayBuffer(sample())
    def settled = !sz.settle || curve.size > 2 * SettleS && {
      val n = curve.size - 1
      curve(n).jitMs - curve(n - SettleS).jitMs <= Settled * (curve(SettleS).jitMs - curve(0).jitMs)
    }
    val warm0 = curve.head.ms
    while (!(served && settled) && curve.last.ms < warm0 + sz.maxWarmS * 1000.0 &&
        ingest.isActive && analysis.isActive) {
      sleepUntil(tracer, warm0 + curve.size * 1000.0)
      curve += sample()
    }
    ctx.attempt("every sensor served and both streams warm before the window")(served)
    val warmSettled = served && settled
    // a traced run measures the basis of its overhead as well: untraced
    // stretches of half a window on either side of the window, so that a
    // linear drift cancels
    def untraced(): (Sample, Sample) = {
      tracer.paused = true
      val a = sample(); sleepUntil(tracer, a.ms + sz.windowS * 500.0); val b = sample()
      tracer.paused = false
      (a, b)
    }
    val basisBefore = if (tracer.on) Some(untraced()) else None
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val s0 = Jvm.snap(); val k0 = ctx.sparkProbe.snapshot()
    val w0 = tracer.now(); val p0 = published.get()
    val setupS = ctx.setupSeconds()
    (1 to sz.windowS).foreach { k => sleepUntil(tracer, w0 + k * 1000.0); curve += sample() }
    // CPU per reading from the start of the load to the end of the window:
    // the cold JIT is paid inside this span whatever its pace in a given
    // JVM, while the window alone catches each JVM at another point of it
    val loadCpuPerK = cpuPerK(curve.head, curve.last)
    val w1 = tracer.now(); val p1 = published.get()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val dWin = Jvm.snap() - s0
    val jobs = Layers.diff(ctx.sparkProbe.snapshot(), k0)
    val overhead = basisBefore.map { case (a, b) =>
      val (c, d) = untraced()
      val basis = (b.cpuNs - a.cpuNs + d.cpuNs - c.cpuNs) / 1e6 /
        ((b.published - a.published + d.published - c.published) / 1000.0)
      dWin.cpuNs / 1e6 / ((p1 - p0) / 1000.0) / basis - 1
    }

    // ---- stop the load, drain both streams, check the entry log
    stop.set(true)
    (producerThread +: clients).foreach(_.join(30000))
    ctx.attempt("load threads finished")((producerThread +: clients).forall(!_.isAlive))
    val settleBy = System.currentTimeMillis() + 10000
    while (Broker.size < published.get() && System.currentTimeMillis() < settleBy) Thread.sleep(10)
    ctx.attempt("broker delivered every published reading")(Broker.size == published.get())
    ctx.attempt("ingest stream drained")({ ingest.processAllAvailable(); true })
    ctx.attempt("analysis stream drained")({ analysis.processAllAvailable(); true })
    ctx.attempt("no stream threw")(ingest.exception.isEmpty && analysis.exception.isEmpty)
    ingest.stop(); analysis.stop()
    shim.stop(); producer.disconnect(); bridge.disconnect(); broker.close()
    ctx.attempt("no load thread threw")(loadErrors.isEmpty)
    loadErrors.asScala.take(5).foreach(e => ctx.attempt(e)(false))
    val log = spark.read.parquet(s"${ctx.workDir}/entries")
    val logRows = log.count()
    ctx.attempt(s"entry log holds every published reading ($logRows of ${published.get()})")(
      logRows == published.get())
    ctx.attempt("entry log (sensor, ts) is unique")(
      log.select("sensor", "ts").distinct().count() == logRows)

    val window = reqs.asScala.toSeq.filter(r => r.sentMs >= w0 && r.sentMs < w1)
    ctx.tally("/stress answered 200, envelope, all sensors, within SLA", window.size, window.count(!_.ok))
    ctx.attempt("requests in the window")(window.nonEmpty)
    val heapMb = Jvm.liveHeapMb()

    val lat = window.map(_.latMs)
    val ages = window.map(_.ageMs).filterNot(_.isNaN)
    val readings = (p1 - p0).toDouble
    val per = math.max(readings / 1000.0, 1e-9)
    val e2e = ListMap(
      "setup_s" -> ((setupS, "s")),
      "latency_ms" -> ((Stats.median(lat), "ms")),
      "fresh_ms" -> ((Stats.median(ages), "ms")),
      "cpu_ms" -> ((loadCpuPerK, "ms")),
      "heap_live_mb" -> ((heapMb, "MB")))

    val inWin = ctx.streamProbe.batches.asScala.toSeq.filter(b => b.start >= w0 && b.start < w1)
    val ing = inWin.filter(_.query == ingest.id.toString)
    val ana = inWin.filter(_.query == analysis.id.toString)
    def pct(bs: Seq[Batch], p: Double) = if (bs.isEmpty) 0.0 else Stats.percentile(bs.map(_.wallMs), p)
    def phase(keys: String*) =
      if (inWin.isEmpty) 0.0 else Stats.median(inWin.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
    val tail = Stats.supportedTail(lat.size)
    val winTicks = ticks.asScala.toSeq.filter(t => t._1 >= w0 && t._1 < w1)
    val lateMs = if (winTicks.isEmpty) 0.0 else Stats.percentile(winTicks.map(_._2), 99)
    val nBatches = math.max(inWin.size.toDouble, 1.0)
    if (tracer.on) streamSpans(ctx, inWin)
    val lastState = ana.sortBy(_.start).lastOption
    val layers = ListMap[String, (Double, String)](
      "broker.publish_us" -> ((if (winTicks.isEmpty) 0.0 else Stats.median(winTicks.map(_._3)), "us")),
      "broker.lag_rows" -> ((if (inWin.isEmpty) 0.0 else inWin.map(_.lag).max.toDouble, "rows")),
      "ingest.batch_p50_ms" -> ((pct(ing, 50), "ms")),
      "ingest.batch_p90_ms" -> ((pct(ing, 90), "ms")),
      "analysis.batch_p50_ms" -> ((pct(ana, 50), "ms")),
      "analysis.batch_p90_ms" -> ((pct(ana, 90), "ms")),
      "stream.batches" -> ((inWin.size.toDouble, "count")),
      "stream.overrun_share" -> ((inWin.count(_.wallMs > TriggerMs).toDouble / nBatches, "share")),
      "stream.plan_ms" -> ((phase("queryPlanning"), "ms")),
      "stream.exec_ms" -> ((phase("addBatch"), "ms")),
      "stream.commit_ms" -> ((phase("walCommit", "commitOffsets"), "ms")),
      "analysis.state_rows" -> ((lastState.map(_.stateRows.toDouble).getOrElse(0.0), "rows")),
      "analysis.state_mb" -> ((lastState.map(_.stateBytes / 1e6).getOrElse(0.0), "MB")),
      "snapshot.refreshes" -> ((ana.count(_.rows > 0).toDouble, "count")),
      "http.stress_p50_ms" -> ((Stats.median(lat), "ms")),
      "http.stress_tail_ms" -> ((tail.map(Stats.percentile(lat, _)).getOrElse(lat.max), "ms")),
      "http.stress_tail_pct" -> ((tail.getOrElse(100.0), "%")),
      "http.stress_n" -> ((lat.size.toDouble, "count")),
      "http.failed" -> ((window.count(!_.ok).toDouble, "count"))) ++
      Layers.substrate(dWin, jobs, ctx.cores, nBatches).map {
        case (k, v) if k.startsWith("jvm.") => k -> ((v._1 * nBatches / per, v._2))
        case kv => kv
      } ++
      Layers.selfSeconds(tracer, w0, w1, 1.0) ++
      overhead.map(o => "trace.overhead_share" -> ((o, "share")))
    val validity = ListMap[String, Any](
      "host.steal_share" -> dWin.steal.share,
      "gen.late_ms" -> lateMs,
      "window_s" -> (w1 - w0) / 1000.0,
      "warm_s" -> (w0 - warm0) / 1000.0,
      "warm_settled" -> warmSettled,
      // second by second from the start of the load, warm-up then window
      // (a traced run's basis stretches are left out): JIT compile ms and
      // process CPU ms per 1 000 readings
      "jit_ms_curve" -> curve.indices.drop(1).map(i => curve(i).jitMs - curve(i - 1).jitMs),
      "cpu_per_k_curve" -> curve.indices.drop(1).map(i => math.round(cpuPerK(curve(i - 1), curve(i)))),
      "readings" -> readings,
      "window_cpu_per_k" -> dWin.cpuNs / 1e6 / per,
      "published_total" -> published.get(),
      "ingest_batches" -> ing.size,
      "analysis_batches" -> ana.size)
    Outcome(e2e, layers, validity)
  }

  /** Micro-batch spans from the progress events, their `durationMs`
    * phases laid out in execution order as children, and the Spark jobs
    * each stream ran attached to the phase that contains them. */
  private def streamSpans(ctx: Ctx, batches: Seq[Batch]): Unit = {
    import ctx.tracer
    val order = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "spark", "addBatch" -> "streaming",
      "commitOffsets" -> "streaming")
    val jobs = ctx.sparkProbe.streamJobs.asScala.toSeq.groupBy(_._1)
    batches.foreach { b =>
      val id = tracer.newId()
      tracer.add(Span(id, 0L, "streaming", s"batch ${b.id}", b.start, b.start + b.wallMs))
      var t = b.start
      val phases = order.flatMap { case (k, layer) =>
        b.durations.get(k).map { ms =>
          val s = Span(tracer.newId(), id, layer, k, t, t + ms); t += ms; s
        }
      }
      phases.foreach(tracer.add)
      jobs.getOrElse(b.query, Nil).map(_._2)
        .filter(j => j.start >= b.start && j.start < b.start + b.wallMs)
        .foreach { j =>
          val parent = phases.find(p => j.start >= p.start && j.start < p.end).map(_.id).getOrElse(id)
          tracer.add(j.copy(parent = parent))
        }
    }
  }
}
