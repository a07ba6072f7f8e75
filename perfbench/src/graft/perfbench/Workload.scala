package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What a workload is handed: the session, the probes and its run
  * parameters. `workDir` is private to the run and removed afterwards. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val sparkProbe: SparkProbe,
    val streamProbe: StreamProbe,
    val workDir: String,
    val seed: Long,
    val seconds: Int,
    val smoke: Boolean,
    val jvmStartMs: Long) {

  val cores: Int = spark.sparkContext.defaultParallelism
  private val errs = scala.collection.mutable.ArrayBuffer[String]()
  private var attempts = 0
  private var failures = 0

  private def fail(what: String): Unit = {
    failures += 1
    if (errs.size < 20) errs += what
  }

  /** Count one attempted operation or check; it fails when it throws or
    * returns false. */
  def attempt(what: String)(ok: => Boolean): Boolean = {
    val good = try ok catch {
      case e: Throwable => synchronized { attempts += 1; fail(s"$what: ${e.toString.take(300)}") }; return false
    }
    synchronized { attempts += 1; if (!good) fail(what) }
    good
  }

  /** Count `n` attempts at once, `bad` of them failed. */
  def tally(what: String, n: Int, bad: Int): Unit = synchronized {
    attempts += n
    if (bad > 0) { failures += bad - 1; fail(s"$what: $bad of $n failed") }
  }

  def attempted: Int = synchronized(attempts)
  def failed: Int = synchronized(failures)
  def errors: Seq[String] = synchronized(errs.toSeq)

  def setupSeconds(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
}

/** One workload's outcome: end-to-end metrics, per-layer metrics (both
  * name → (value, unit)) and the facts that tell whether the run was
  * valid. `cpu_ms` doubles as the basis of the tracing overhead. */
final case class Outcome(
    e2e: ListMap[String, (Double, String)],
    layers: ListMap[String, (Double, String)],
    validity: ListMap[String, Any])

object Layers {
  val Names: Seq[String] = Seq("bench", "sources", "operators", "ml", "streaming", "serve", "spark")

  /** Self seconds per layer over the spans that start inside [from, to]. */
  def selfSeconds(tracer: Tracer, from: Double, to: Double, per: Double): Seq[(String, (Double, String))] = {
    val inside = tracer.all.filter(s => s.start >= from && s.start <= to)
    val self = Tracer.selfSeconds(inside)
    Names.map(l => s"layer.$l.self_s" -> ((self.getOrElse(l, 0.0) / per, "s")))
  }

  /** Per-unit deltas of the Spark scheduler and JVM counters. */
  def substrate(d: Jvm, jobs: Map[String, Double], cores: Int, per: Double)
      : Seq[(String, (Double, String))] = Seq(
    "spark.jobs" -> ((jobs("jobs") / per, "count")),
    "spark.stages" -> ((jobs("stages") / per, "count")),
    "spark.tasks" -> ((jobs("tasks") / per, "count")),
    "spark.task_s" -> ((jobs("task_ms") / 1000.0 / per, "s")),
    "spark.core_busy_share" -> ((jobs("task_ms") / (d.wallMs * cores), "share")),
    "spark.shuffle_mb" -> ((jobs("shuffle_bytes") / 1e6 / per, "MB")),
    "spark.codegen_compiles" -> ((d.codegenCompiles / per, "count")),
    "spark.codegen_ms" -> ((d.codegenNs / 1e6 / per, "ms")),
    "jvm.jit_s" -> ((d.jitMs / 1000.0 / per, "s")),
    "jvm.gc_s" -> ((d.gcMs / 1000.0 / per, "s")),
    "jvm.alloc_mb" -> ((d.allocBytes / 1e6 / per, "MB")))

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }
}
