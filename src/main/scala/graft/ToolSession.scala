package graft

import java.net.URI

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.sources.JdkLocalFileSystem

/** The one session builder: Bench, Verify, GraftSession and perfbench
  * all run the SAME engine configuration. Shuffle parallelism scales
  * with INPUT SIZE, not only with the core count.
  *
  * Pinning `spark.sql.shuffle.partitions` to cpus (32) made q140's sf30
  * rehearsal read 5.96× for 3× data — each of the 32 sort partitions
  * grew superlinearly (sort is n·log n per partition, and past the
  * executor's memory fraction it spills, which is super-linear in
  * practice). On a real cluster partitions scale with executors; a
  * single-box rehearsal must scale them with data volume so it measures
  * the PLAN, not the pin.
  *
  * The rule: `max(cpus, ceil(inputBytes / 64 MB))`, capped at 1024.
  *  - `inputBytes` is the on-disk size of the scale-factor directory —
  *    the same proxy a cluster autoscaler reads. Parquet is compressed
  *    ~3-4× against the row form the shuffles actually sort, so 64 MB of
  *    input ≈ a conventional 128-256 MB shuffle-partition target.
  *  - the floor keeps every catalog tier at exactly the committed
  *    geometry (sf0.1 = 17 MB, sf1 = 183 MB, sf3 = 563 MB → all 32, so
  *    committed bench artifacts and oracle hashes are untouched);
  *  - whole waves only ([[shufflePartitionsFor]]): sf10 (2.1 GB) → 32 =
  *    unchanged; sf30 (6.4 GB) → 96 partitions, which is where the q140
  *    fix lands (measured in SCALE.md r12);
  *  - the 1024 cap bounds task-scheduling overhead on one box — past it
  *    a single machine is the wrong rehearsal rig anyway.
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (default: the host's
  * available processors).
  *
  * `file:` paths are served by [[graft.sources.JdkLocalFileSystem]],
  * which sets permissions and reads links in-process instead of
  * starting a `chmod`/`readlink` child process per checkpoint, state
  * store or sink file.
  */
object ToolSession {

  /** Recursive on-disk byte size of `dir` (0 if unreadable — callers
    * then fall back to the cpu floor, never fail). */
  def dirBytes(dir: String): Long =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(p => try java.nio.file.Files.size(p) catch { case _: Exception => 0L })
          .sum()
        finally s.close()
      }
    } catch { case _: Exception => 0L }

  /** The partition rule, exposed for specs: the input-derived width
    * (bytes/64MB) rounded to the NEAREST whole multiple of cpus, floor
    * cpus, cap 1024.
    *
    * FULL WAVES ONLY (round-12 finding, measured): the raw rule gave 33
    * partitions at sf10 (2.19 GB) and every shuffle stage ran one full
    * 32-task wave plus ONE straggler with 31 cores idle — the
    * iteration-loop family, whose cost is stage-latency-dominated
    * (pagerank 9.6→14.4 s, modularity 22.6→38.2 s, link-prediction
    * 14.6→21.1 s), paid ~2× per stage. Rounding to whole waves removes the
    * quantization while keeping the input scaling (sf10 → 32, sf30 →
    * 96). */
  def shufflePartitionsFor(cpus: Int, inputBytes: Long): Int = {
    val byInput = math.ceil(inputBytes / 67108864.0)
    val waves = math.max(1L, math.round(byInput / cpus.toDouble))
    // cap at WHOLE waves too (r12 advisory): min(1024, waves*cpus) broke
    // the multiple-of-cpus invariant whenever cpus ∤ 1024 (e.g. 48 cores
    // on huge input → 1024 ≈ 21.3 waves — the exact partial-wave
    // straggler tax, measured 1.5-1.7×, the rule exists to eliminate)
    (math.min(math.max(1L, 1024L / cpus), waves) * cpus).toInt
  }

  /** The engine's standing confs, shared by [[build]] and the test
    * session: UTC, UI off, a codegen cache sized for the catalog,
    * nanos-as-long, lz4 and the in-process local file system. */
  val StandingConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Shuffle files of COMPLETED jobs linger until a driver GC lets
    // ContextCleaner reclaim them; Spark's periodicGC default (30 min)
    // is longer than a whole bench warmup, so a big-SF session
    // accumulates every build's transients at once — the round-12
    // sf30 sweep died of ENOSPC under a single 70 GB blockmgr dir
    // with most of it dead (SCALE.md r12). 3 min keeps a measurement
    // session's transient footprint near its live working set; a
    // long-lived serving deployment sizes spark.local.dir instead.
    "spark.cleaner.periodicGC.interval" -> "3min",
    "spark.io.compression.codec" -> "lz4") ++ JdkLocalFileSystem.SparkConfs

  /** Build the measurement session over `sfDir` with the
    * [[StandingConfs]] and input-scaled shuffle parallelism. */
  def build(sfDir: String, appName: String = "graft-tool"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val inputBytes = dirBytes(sfDir)
    val parts = shufflePartitionsFor(cpus, inputBytes)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config(StandingConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val localFs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    System.err.println(f"[session] $appName sf=$sfDir cpus=$cpus " +
      f"shuffle.partitions=$parts (input ${inputBytes / 1e6}%.0f MB) " +
      f"localfs=${localFs.getClass.getSimpleName}")
    spark
  }
}
