package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out then; nothing is recorded when tracing is off or paused
  * (a traced run pauses it for a stretch of untraced work, the basis of
  * the tracing overhead). The span open on the calling thread is
  * published to Spark as a local property, so the jobs a call submits
  * become its children. */
final class Tracer(val on: Boolean) {
  @volatile var paused = false
  def recording: Boolean = on && !paused

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  @volatile var sc: Option[SparkContext] = None

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (recording) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = newId(); val parent = open.get()
      open.set(id); sc.foreach(_.setLocalProperty(Tracer.Key, id.toString))
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, t0, now()))
        open.set(parent)
        sc.foreach(_.setLocalProperty(Tracer.Key, if (parent == 0L) null else parent.toString))
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map(s => Json.render(scala.collection.immutable.ListMap(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Seconds per layer of span time not covered by the span's children. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, own) =>
      layer -> own.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        math.max(s.end - s.start - covered, 0.0)
      }.sum / 1000.0
    }
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Spark scheduler counters, plus one span per job when tracing. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
  val taskMs = new AtomicLong(); val shuffleBytes = new AtomicLong()
  val inputBytes = new AtomicLong()
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, String)]()
  /** (stream query id, span) of jobs submitted by streaming queries. */
  val streamJobs = new ConcurrentLinkedQueue[(String, Span)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (tracer.recording) {
      val p = Option(e.properties)
      started.put(e.jobId, (e.time.toDouble,
        p.flatMap(x => Option(x.getProperty(Tracer.Key))).orNull,
        p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).orNull))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, parent, query) =>
      val s = Span(tracer.newId(), Option(parent).map(_.toLong).getOrElse(0L), "spark",
        s"job ${e.jobId}", t0, math.max(e.time.toDouble, t0))
      if (query != null && parent == null) streamJobs.add((query, s)) else tracer.add(s)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_ms" -> taskMs.get.toDouble, "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "input_bytes" -> inputBytes.get.toDouble)
}

/** One finished micro-batch as reported by its progress event. */
final case class Batch(query: String, id: Long, start: Double, wallMs: Double,
    durations: Map[String, Long], rows: Long, stateRows: Long, stateBytes: Long, lag: Long)

final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** Rows published to the source so far; a batch's lag is this, read
    * when its progress arrives, minus the offset the batch read up to. */
  @volatile var published: () => Long = () => 0L
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    batches.add(Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchDuration.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      p.sources.headOption.flatMap(x => scala.util.Try(x.endOffset.trim.toLong).toOption)
        .map(published() - _).getOrElse(0L)))
  }
}

/** Process-wide counters from the JVM's MXBeans and Spark's codegen
  * accounting, read as one snapshot so deltas line up. */
final case class Jvm(cpuNs: Long, jitMs: Long, gcMs: Long, allocBytes: Long,
    codegenCompiles: Long, codegenNs: Long, wallMs: Double, steal: Steal) {
  def -(o: Jvm): Jvm = Jvm(cpuNs - o.cpuNs, jitMs - o.jitMs, gcMs - o.gcMs,
    allocBytes - o.allocBytes, codegenCompiles - o.codegenCompiles, codegenNs - o.codegenNs,
    wallMs - o.wallMs, steal - o.steal)
}

final case class Steal(steal: Long, total: Long) {
  def -(o: Steal): Steal = Steal(steal - o.steal, total - o.total)
  def share: Double = if (total > 0) steal.toDouble / total else 0.0
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Host-wide steal from the first line of /proc/stat. */
  def steal(): Steal =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val v = cpu.trim.split("\\s+").drop(1).take(8).map(_.toLong)
      Steal(if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Exception => Steal(0L, 0L) }

  def snap(): Jvm = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    Jvm(os.getProcessCpuTime,
      Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L),
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum,
      threads.getTotalThreadAllocatedBytes,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      System.nanoTime() / 1e6, steal())
  }

  /** Live heap: full collections repeated until used heap stops falling
    * (two in a row are not enough — the cleaner threads free more after
    * each one), reported in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var best = Double.MaxValue; var stable = 0; var rounds = 0
    while (stable < 2 && rounds < 12) {
      System.gc(); Thread.sleep(150)
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      if (used < best * 0.995) { best = used; stable = 0 } else stable += 1
      best = math.min(best, used); rounds += 1
    }
    best
  }
}
