package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark. An untimed warmup pass plus three timed sweeps:
  *
  *  1. an UNTIMED warmup pass that runs every query once — this
  *     materializes the shared persisted intermediates (dedup signature/
  *     candidate tables, normalized embeddings) and pays all codegen /
  *     plan-compile cost, exactly like a production pipeline that
  *     persists stage outputs before serving queries over them;
  *  2. three timed WARM sweeps of the whole catalog, interleaved (each
  *     sweep runs q0..qN in order); per query the MIN over sweeps is the
  *     steady-state cost and the MEDIAN is the variance-honesty figure.
  *
  * Round-2 finding: single-pass timing charged the whole chain build to
  * whichever consumer ran first alphabetically (q24 reported 8.55 s for
  * a 0.47 s query) and bundled multi-second codegen into arbitrary rows,
  * so regressions could not be read from the numbers. The warmup cost is
  * still reported — `build_sec` (shared-intermediate build + first-run
  * compile, the once-per-session cost) — instead of being smeared over
  * the per-query map.
  *
  * Round-6 finding: ONE timed pass cannot defend itself against host-
  * steal windows (the official r6 artifact inflated 61% — a contiguous
  * 8-query block at 5-28× with zero JVM GC). Interleaving whole-catalog
  * sweeps decorrelates the steal window from any particular query, and
  * min-over-sweeps rejects it; a wide min/median gap in the detail file
  * is the printed evidence of how noisy the host was.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ToolSession carries the standing confs (codegen cache sized for
    // the catalog — the round-7 janino-recompile fix — UTC, nanos) plus
    // the round-12 input-scaled shuffle parallelism: partitions pinned
    // to cpus made sf30's per-partition sorts spill superlinearly
    // (q140's 5.96× artifact); they now scale with the data directory.
    val spark = ToolSession.build(sfDir, "graft-bench")
    // SPARK_GRAFT_BENCH_EXCLUDE: comma-separated query names to skip —
    // the sf30 full-catalog sweep excludes q28 (inherent dense N² by
    // design, ~470 s of justified flops at that tier; SCALE.md carries
    // the standing justification). Exclusions are PRINTED into the
    // detail artifact so a sweep can never silently claim coverage it
    // didn't run.
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = exclude -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_EXCLUDE names unknown queries: $unknown")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => exclude.contains(n) }
    // pass 1 — untimed warmup: builds shared intermediates + codegen.
    // Failures are ignored here; the timed pass reports them. Runs 8
    // queries concurrently (Spark actions are thread-safe; local[32]
    // has headroom): warmup cost is dominated by driver-side plan
    // compile + codegen, which is single-threaded per query, so
    // overlapping queries cuts the untimed pass ~4× without touching
    // the timed pass (which stays strictly sequential).
    val t0 = System.nanoTime()
    // SF-scaled warmup concurrency (round-13, the r12 sf30 remediation):
    // 8-way warmup is right when warmup cost is driver-side plan compile
    // + codegen (≤ sf10), but at sf30 eight concurrent memo builds stack
    // their shuffle transients on one box's disk (the ENOSPC root cause,
    // SCALE.md r12) — scale down to 3-way past ~3 GB of input.
    val warmThreads = if (ToolSession.dirBytes(sfDir) > (3L << 30)) 3 else 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val warm = names.map { case (_, fn) =>
      scala.concurrent.Future {
        // NonFatal only: an OOM'd/broken JVM must abort the run, not
        // produce a plausible-looking timed pass over a dead session
        try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(warm), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val buildSec = (System.nanoTime() - t0) / 1e9
    // Quiesce between passes. The warmup leaves two backlogs that would
    // otherwise be charged to whichever queries run FIRST in the timed
    // pass (at sf1 the first ~10 rows measured 5-50x their isolated
    // cost with ZERO GC time — not heap pressure):
    //  - ContextCleaner work: weak-ref-driven shuffle/broadcast cleanup
    //    only proceeds after a driver GC notices the dead references;
    //    System.gc() kicks the whole backlog through now.
    //  - OS writeback: warmup writes the session's shuffle volume to
    //    page cache; the kernel throttles subsequent writers until the
    //    dirty pool drains. `sync` (best-effort) forces it to drain
    //    here instead of during the first timed queries.
    // A production serving session amortizes both continuously (Spark's
    // own periodicGC defaults to 30 min); the bench pays them at a
    // pass boundary so per-query figures mean "steady-state cost".
    System.gc()
    try {
      val p = new ProcessBuilder("sync").inheritIO().start()
      p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
    } catch { case _: Exception => () } // non-POSIX: skip
    Thread.sleep(3000)
    System.gc()
    // pass 2 — warm, timed, NOISE-ROBUST. Round-6 lesson: the driver's
    // official artifact inflated 61% over the builder's warm run because
    // a single sequential pass cannot reject host-steal windows — a
    // CONTIGUOUS 8-query block ran at 5-28x its isolated cost with ZERO
    // JVM GC (CPU stolen by a co-tenant, not by this code). The fix is
    // in the instrument: run three full INTERLEAVED sweeps of the catalog
    // (sweep = q1..qN in order, then again), so a steal window that
    // lands on positions 161-168 of one sweep lands on DIFFERENT queries
    // in the next; per-query min over sweeps is the steady-state cost
    // (a query can run slower than its plan by noise, never faster),
    // and per-query median is reported alongside as the honesty metric
    // — a min/median gap quantifies how noisy the host was, a clean run
    // shows them within a few percent. Headline = sum of per-query mins.
    //
    // A failed query reports -1 (never a success-shaped elapsed time)
    // and is listed in "failed" so regressions can't masquerade as runs.
    // Per-query JVM GC time (of the min-wall sweep) is captured alongside
    // wall time: a query whose wall inflates WITH gc is paying session
    // heap pressure; one that inflates WITHOUT gc is either doing real
    // work or being stolen from — the sweep spread now tells those apart.
    val gcBeans = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    }
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val sweeps = 3
    // per sweep: name -> (wall, gc, ok)
    val sweepRuns: Seq[Seq[(String, Double, Double, Boolean)]] =
      (1 to sweeps).map { s =>
        val rows = names.map { case (name, fn) =>
          val t1 = System.nanoTime()
          val g1 = gcMs
          val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
          val wall = (System.nanoTime() - t1) / 1e9
          val gc = (gcMs - g1) / 1e3
          System.err.println(f"[bench $s/$sweeps] $name%-40s ${wall}%8.2f s  gc ${gc}%6.2f s")
          (name, wall, gc, ok)
        }
        System.err.println(f"[bench $s/$sweeps] sweep total ${rows.map(_._2).sum}%8.2f s")
        rows
      }
    // fold sweeps per query: min + median wall; gc of the min-wall sweep;
    // ok only if EVERY sweep succeeded (queries are deterministic — any
    // failure is code, not noise, and must not be min'd away)
    val runs = names.indices.map { i =>
      val name = names(i)._1
      val obs = sweepRuns.map(_(i))
      val ok = obs.forall(_._4)
      val sortedW = obs.map(_._2).sorted
      val minW = sortedW.head
      val medW = sortedW(sweeps / 2)
      val gcOfMin = obs.minBy(_._2)._3
      (name, if (ok) minW else -1.0, if (ok) medW else -1.0, gcOfMin, ok)
    }
    val results = runs.map { case (n, t, _, _, _) => n -> t }
    val medians = runs.map { case (n, _, m, _, _) => n -> m }
    val gcSecs = runs.map { case (n, _, _, g, _) => n -> g }
    val failed = runs.collect { case (n, _, _, _, false) => "\"" + n + "\"" }
    // Locale.ROOT: the default-locale formatter writes a comma decimal
    // separator under e.g. de_DE, which is invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // keys must be JSON-escaped: memo keys carry arbitrary bytes (the
    // bm25 per-term-set keys join terms with NUL separators), and one
    // raw control char invalidates the whole detail file
    def jkey(k: String): String = "\"" + streaming.Serving.esc(k) + "\""
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => jkey(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.mkString("[", ",", "]")
    // The harness keeps only the last ~2000 chars of stdout and parses a
    // JSON line found inside that tail. A 146-entry per-query map is
    // ~5 KB — it can NEVER fit (round 3's report parsed as null; round
    // 2's 55-query line fit only by luck). So: the full per-query map
    // goes to a file committed with the repo, and stdout's LAST line is
    // a compact, complete JSON object (headline + the slowest queries)
    // guaranteed to sit intact inside the tail window.
    val medTotal = medians.map(_._2).filter(_ >= 0).sum
    // per-memo-entry build seconds (closure + eager materialization,
    // slowest first) — the decomposition of build_sec's memo share, so
    // a regression in ONE shared build (q55's banded calibration is the
    // largest) reads from the artifact instead of hiding in the total
    val buildMap = core.PersistedMemo.buildReport()
    // per-sweep pressure telemetry (round-10 verdict ask #4): whole-sweep
    // wall + GC totals and the memo layer's retained bytes at bench end —
    // a heavy row whose in-sweep cost exceeds its isolated-warm cost
    // correlates against these instead of an unexplained "session
    // pressure" (gc climbing sweep-over-sweep = heap drag from memo
    // retention; flat gc with wall spread = host steal)
    val sweepWalls = sweepRuns.map(s => fmt(s.map(_._2).sum)).mkString("[", ",", "]")
    val sweepGcs = sweepRuns.map(s => fmt(s.map(_._3).sum)).mkString("[", ",", "]")
    val memoBytes = core.PersistedMemo.report().map(_._3).filter(_ > 0).sum
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qsJson(results)},"queries_median":${qsJson(medians)},"median_total":${fmt(medTotal)},"sweeps":$sweeps,"gc_sec":${qsJson(gcSecs)},"sweep_walls":$sweepWalls,"sweep_gc_sec":$sweepGcs,"memo_bytes":$memoBytes,"build_sec":${fmt(buildSec)},"build":${qsJson(buildMap)},"failed":$failedJson,"excluded":${exclude.toSeq.sorted.map(jkey).mkString("[", ",", "]")},"sf":"$sfDir","n_queries":${names.size}}"""
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
    java.nio.file.Files.write(detailPath,
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // detail goes to the FILE and stderr only: stdout must hold nothing
    // but the compact line below, so the driver's last-2KB tail parse
    // always lands on one clean JSON line (build.sbt's StdoutOutput
    // strategy keeps sbt from prefixing it with "[info] ")
    System.err.println(detail)
    // The compact line keeps the driver-contract "queries" key but holds
    // only the slowest 12 (the regression-relevant rows): 162 entries are
    // ~6 KB and would push the line out of the harness's ~2000-char
    // stdout tail (round 3 parsed as null); 12 entries + headline is
    // ~600 chars and always sits intact inside it.
    // memory telemetry → STDERR (stdout's tail is harness-parsed): per-
    // memo-entry materialized bytes + the storage layer's own totals,
    // the inputs the memo byte-budget (GRAFT_MEMO_BUDGET) was sized from
    System.err.println("[memo] key bytes (materialized stats):")
    core.PersistedMemo.report().foreach { case (_, k, b) =>
      System.err.println(f"[memo]   $k%-40s ${b / 1e6}%12.1f MB") }
    System.err.println("[memo] build seconds (closure + materialization):")
    buildMap.foreach { case (k, s) =>
      System.err.println(f"[memo]   $k%-40s ${s}%8.2f s") }
    val rs = spark.sparkContext.getRDDStorageInfo
    System.err.println(f"[memo] storage: ${rs.length} RDDs, " +
      f"mem ${rs.map(_.memSize).sum / 1e9}%.2f GB, disk ${rs.map(_.diskSize).sum / 1e9}%.2f GB, " +
      s"deferred staged files ${core.PersistedMemo.deferredCount()}")
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(12)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${names.size},"sweeps":$sweeps,"median_total":${fmt(medTotal)},"build_sec":${fmt(buildSec)},"failed":$failedJson,"queries":${qsJson(slowest)},"detail_file":"BENCH_DETAIL.json"}""")
    core.PersistedMemo.clearAll()
    spark.stop()
  }
}
