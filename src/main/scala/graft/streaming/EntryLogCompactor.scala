package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog

/** Periodic small-file compaction for a LIVE streaming parquet sink —
  * the piece round 7's soak measured the absence of: a 200 ms
  * micro-batch upsert log fragments into ~4,500 files in 15 minutes,
  * and every COLD read of it (the "/" fallback recompute, the refit
  * loop's training scan) pays a per-file listing/footer tax that grows
  * linearly forever (42 s after 15 min in the round-7 soak, whose
  * SERVE_SOAK.json record is in git history). The reference
  * never sees this because Cassandra compacts its SSTables behind the
  * same tables (resources/cassandra/schema.sql); a parquet log needs
  * the compactor run AS PART OF ingest, not as an offline q173 plan.
  *
  * Mechanism — built on the sink's OWN manifest, not directory listing:
  * `FileStreamSink` records every committed file in
  * `<dir>/_spark_metadata` (one manifest per micro-batch). Each
  * [[tick]] reads the manifests past the last folded batch, rewrites
  * exactly those files into a few large parquet files under
  * `<compactedDir>/t<batchId>/`, and advances the fold point. [[read]]
  * then serves the table as
  *
  *   compacted tick dirs  ∪  tail files of manifests past the fold
  *
  * so a cold reader opens O(ticks + tick-interval/trigger) files
  * regardless of how long ingest has been running — the raw sink dir is
  * never read wholesale again (and never mutated: the sink stays sole
  * owner of its directory and metadata, which is what makes this safe
  * against exactly-once replay; files a failed task abandoned are in
  * neither the manifest nor the compacted set, so they stay invisible
  * here exactly as they are to `spark.read.parquet(sinkDir)`).
  *
  * Crash/idempotence: a tick writes its output dir with OVERWRITE
  * keyed by the batch range's upper id — a re-run of the same range
  * lands on the same path, so a crash between write and bookkeeping
  * re-folds into the same dir instead of duplicating rows. Paths
  * already folded are tracked by name (manifest COMPACT batches re-list
  * all history; the set keeps a re-listed file from being folded
  * twice). When tick dirs exceed [[foldThreshold]] they are merged into
  * one.
  *
  * Locking (round-8 advisory): the instance monitor guards ONLY the
  * state maps and is held for microseconds; the Spark fold/merge writes
  * run under a separate [[tickLock]] that [[read]] never takes, so the
  * serving path is never blocked behind a multi-second parquet write.
  *
  * Superseded-dir reclamation (round-8 advisory, twice over): a fold-up
  * must not delete the dirs it supersedes while a reader still holds a
  * frame over them, but deferring ALL reclamation to [[close]] let a
  * long-lived serving process accumulate every superseded generation on
  * disk (and a crash leaked them permanently — the in-memory buffer was
  * the only record). Now each [[read]] registers a WeakReference to the
  * returned frame's logical plan — the object every derived plan
  * strongly holds — tagged with the tick dirs it draws from; the
  * per-tick sweep deletes a superseded generation the moment no
  * REACHABLE reader's dir-set references it (checked dynamically, not
  * frozen at fold time: a reader that snapshotted before the fold but
  * registered after it must still pin) and no read is mid-construction
  * (an in-flight refcount covers the window between a read's dir
  * snapshot and its weak-ref registration — the round-9 soak caught
  * that gap as a near-miss WARN on a reclaimed t-dir). The dirs are
  * also journaled in the state marker, so a restart (which no frame
  * survives) reclaims them immediately in [[loadState]].
  *
  * Reference: the serving recompute this bounds is the reference's
  * "GET /" full analysis (Analyzer.scala:93); its storage layer gets
  * compaction for free from Cassandra, ours is this component. */
/** `layoutPartitionBy`: partition columns applied AT FOLD TIME — the
  * write-fast/cluster-later split (the raw sink writes one compact
  * file per micro-batch; the compaction stage applies the read-
  * optimized layout, exactly as q164/q173 do for the batch tables).
  * Per-sensor point reads then prune on the compacted bulk while the
  * unpartitioned tail stays small enough to scan wholesale. */
final class EntryLogCompactor(
    spark: SparkSession,
    entryDir: String,
    compactedDir: String,
    targetFilesPerTick: Int = 2,
    foldThreshold: Int = 32,
    layoutPartitionBy: Seq[String] = Nil) {

  private val sinkLog = new FileStreamSinkLog(
    FileStreamSinkLog.VERSION, spark, s"$entryDir/_spark_metadata", None)

  // serializes tick()/fold-up work (one folder at a time); NEVER taken
  // by read(), so a fold write cannot stall the serving path
  private val tickLock = new Object

  // ---- state guarded by `this` (held briefly; no Spark I/O under it)
  private var lastFoldedBatch: Long = -1L
  private val tickDirs = mutable.ArrayBuffer.empty[String]
  private val foldedPaths = mutable.HashSet.empty[String]
  // (reader plan weak-ref, tick dirs that reader draws from): a read()
  // frame — or anything derived from it — strongly holds its logical
  // plan, so weak-unreachability of the plan implies no caller can run
  // a query over those dirs again
  private val liveReaders =
    mutable.ArrayBuffer.empty[(java.lang.ref.WeakReference[AnyRef], Set[String])]
  // dirs a read() has SNAPSHOTTED but not yet registered a weak ref
  // for: frame construction (spark.read listing/schema I/O) runs
  // outside the monitor, so without this pin a concurrent fold-up +
  // sweep could delete a snapshotted dir mid-construction — the round-9
  // soak caught the near-miss as a FileStreamSink WARN on a reclaimed
  // t-dir. Refcounted because reads overlap.
  private val inFlight = mutable.HashMap.empty[String, Int]
  // dirs superseded by a fold-up, swept per tick once NO live reader's
  // dir-set references them (checked dynamically against liveReaders —
  // a pin list frozen at fold time would miss a reader that snapshotted
  // before the fold but registered after it) and no read is in flight
  private val deferredDirs = mutable.ArrayBuffer.empty[String]
  /** ticks that actually folded files (telemetry). */
  val folds = new AtomicLong()
  /** fold-up merges of tick dirs past the threshold (telemetry). */
  val foldUps = new AtomicLong()
  /** superseded dirs reclaimed while the process lives (telemetry). */
  val reclaimedDirs = new AtomicLong()

  // ---- restart persistence: a serving process restarts, and a fresh
  // compactor with empty state would re-fold the ENTIRE history into
  // one dir (correct but O(all data)) while the previous instance's
  // tick dirs leak unread on disk. State (fold point, folded paths,
  // live tick dirs, superseded-but-undeleted dirs) is journaled to a
  // marker file after each mutation — written to a temp name and
  // renamed, so a crash mid-write leaves the previous intact state, and
  // a stale marker only costs re-folding the unrecorded suffix into an
  // idempotent t<batch> path.
  private val stateFile = s"$compactedDir/_compactor_state"

  private def saveStateLocked(): Unit =
    try {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      def sarr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString(",")
      val json =
        s"""{"lastFoldedBatch":$lastFoldedBatch,""" +
          s""""tickDirs":[${sarr(tickDirs.toSeq)}],""" +
          s""""supersededDirs":[${sarr(deferredDirs.toSeq)}],""" +
          s""""foldedPaths":[${sarr(foldedPaths.toSeq.sorted)}]}"""
      val dir = java.nio.file.Paths.get(compactedDir)
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Paths.get(stateFile + ".tmp")
      java.nio.file.Files.writeString(tmp, json)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(stateFile),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable =>
      System.err.println(s"[compactor] state save failed (will re-fold on restart): $e")
    }

  private def loadState(): Unit =
    try {
      val p = java.nio.file.Paths.get(stateFile)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.readString(p)
        // flat known-shape parse (no JSON lib on the engine classpath):
        // one long field + string arrays whose elements we wrote
        // ourselves with \-escaping
        def arr(field: String): Seq[String] = {
          val m = java.util.regex.Pattern
            .compile("\"" + field + "\":\\[(.*?)\\]", java.util.regex.Pattern.DOTALL)
            .matcher(s)
          if (!m.find() || m.group(1).isEmpty) Seq.empty
          else m.group(1).split("\",\"").toSeq
            .map(_.stripPrefix("\"").stripSuffix("\"")
              .replace("\\\"", "\"").replace("\\\\", "\\"))
        }
        val lb = java.util.regex.Pattern.compile("\"lastFoldedBatch\":(-?\\d+)").matcher(s)
        if (lb.find()) lastFoldedBatch = lb.group(1).toLong
        // resume only tick dirs that still exist (a crash between a
        // fold-up's delete and the state write would otherwise resurrect
        // a superseded dir)
        tickDirs ++= arr("tickDirs").filter(d =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
        foldedPaths ++= arr("foldedPaths")
        // no frame survives a process restart, so every dir the dead
        // process had deferred — plus any t* dir it wrote but never
        // recorded (crash between write and save) — is reclaimable NOW;
        // this is what keeps a crash from leaking generations forever
        // compare by dir NAME (paths may differ in normalization across
        // restarts; a false mismatch here would delete a LIVE tick dir)
        val liveNames = tickDirs.map(d => new java.io.File(d).getName).toSet
        val stale = arr("supersededDirs")
          .filterNot(d => liveNames.contains(new java.io.File(d).getName)) ++
          Option(new java.io.File(compactedDir).listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("t") &&
              !liveNames.contains(f.getName))
            .map(_.getPath)
        stale.distinct.foreach { d => deleteDir(d); reclaimedDirs.incrementAndGet() }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[compactor] state load failed (cold start): $e")
      lastFoldedBatch = -1L; tickDirs.clear(); foldedPaths.clear()
    }

  loadState()

  private def deleteDir(d: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    } catch { case _: Throwable => () } // reclamation is best-effort

  private def manifestFiles(fromExclusive: Long, toInclusive: Long): Seq[String] =
    if (toInclusive <= fromExclusive) Seq.empty
    else sinkLog
      .get(Some(fromExclusive + 1), Some(toInclusive))
      .iterator
      .flatMap(_._2)
      .filter(_.action == FileStreamSinkLog.ADD_ACTION)
      .map(_.path)
      .toSeq
      // a COMPACT manifest re-lists every file in history: a range
      // spanning one repeats each earlier in-range file, and passing a
      // repeated path to spark.read reads it TWICE — distinct is
      // row-level correctness here, not tidiness
      .distinct

  private def latestBatch(): Long =
    sinkLog.getLatest().map(_._1).getOrElse(-1L)

  private def writeFold(df: DataFrame, out: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (layoutPartitionBy.nonEmpty) w.partitionBy(layoutPartitionBy: _*) else w)
      .parquet(out)
  }

  /** Fold every file committed since the last tick into a few large
    * parquet files. Cheap when nothing new landed. Returns the number
    * of small files folded. The Spark writes run OUTSIDE the state
    * monitor — a concurrent [[read]] (the serving path) proceeds
    * against the pre-fold state and commits see it atomically. */
  def tick(): Int = tickLock.synchronized {
    val (latest, fresh) = this.synchronized {
      val l = latestBatch()
      if (l <= lastFoldedBatch) return 0
      val f = manifestFiles(lastFoldedBatch, l).filterNot(foldedPaths.contains)
      if (f.isEmpty) { lastFoldedBatch = l; saveStateLocked(); return 0 }
      (l, f)
    }
    val out = s"$compactedDir/t$latest"
    // the expensive parquet rewrite: no state lock held (tickLock keeps
    // a second folder out; the overwrite-keyed path makes a racing
    // crash-restart re-fold idempotent anyway)
    writeFold(
      spark.read.option("basePath", entryDir).parquet(fresh: _*)
        .coalesce(targetFilesPerTick),
      out)
    val needFoldUp = this.synchronized {
      tickDirs += out
      foldedPaths ++= fresh
      lastFoldedBatch = latest
      folds.incrementAndGet()
      tickDirs.size > foldThreshold
    }
    if (needFoldUp) foldUp()
    this.synchronized { sweepDeferredLocked(); saveStateLocked() }
    fresh.size
  }

  /** Merge all tick dirs into one (the leveled-compaction step, run
    * rarely, under [[tickLock]]); superseded dirs are pinned on the
    * readers reachable at commit time and reclaimed by the per-tick
    * sweep once those readers are gone. */
  private def foldUp(): Unit = {
    val (dirs, out) = this.synchronized {
      (tickDirs.toVector, s"$compactedDir/t${lastFoldedBatch}_merged")
    }
    val merged = dirs.map(d => spark.read.parquet(d))
      .reduce(_.unionByName(_))
      .coalesce(math.max(targetFilesPerTick, 8))
    writeFold(merged, out) // outside the state monitor, like tick's write
    this.synchronized {
      // defer the superseded dirs; the sweep deletes each one once no
      // live reader's dir-set references it and no read is in flight —
      // checked dynamically so a reader that snapshotted before this
      // fold but registers after it still pins its dirs
      deferredDirs ++= dirs
      tickDirs.clear()
      tickDirs += out
      foldUps.incrementAndGet()
      ()
    }
  }

  /** Under `this`: drop reader registrations whose plan was collected. */
  private def pruneReadersLocked(): Unit = {
    val live = liveReaders.filter(_._1.get() != null)
    liveReaders.clear()
    liveReaders ++= live
  }

  /** Under `this`: delete superseded dirs no reachable reader draws
    * from (no plan over them can run again) and no in-flight read has
    * snapshotted. */
  private def sweepDeferredLocked(): Unit = {
    pruneReadersLocked()
    val (dead, alive) = deferredDirs.partition { d =>
      !inFlight.contains(d) && !liveReaders.exists(_._2.contains(d))
    }
    dead.foreach { d => deleteDir(d); reclaimedDirs.incrementAndGet() }
    deferredDirs.clear()
    deferredDirs ++= alive
  }

  /** The entry table, compaction-aware: compacted dirs ∪ the manifest
    * tail since the fold point. A cold reader opens O(bounded) files —
    * this is the read every batch consumer (fallback recompute, refit
    * training scan) should use instead of `spark.read.parquet(sinkDir)`.
    * Never blocks on a fold in progress (state monitor only). */
  def read(): DataFrame = {
    val (dirs, tail) = synchronized {
      // filterNot(foldedPaths): a manifest COMPACT batch re-lists all
      // history, so a tail drawn from batch ids alone would re-include
      // files already folded — double-counting every folded row
      val snap = (tickDirs.toSeq,
        manifestFiles(lastFoldedBatch, latestBatch()).filterNot(foldedPaths.contains))
      // pin the snapshotted dirs for the construction window: the
      // spark.read calls below do listing/schema I/O outside the
      // monitor, and a concurrent fold-up + sweep must not reclaim a
      // dir this read is about to plan over
      snap._1.foreach(d => inFlight.update(d, inFlight.getOrElse(d, 0) + 1))
      snap
    }
    try {
      // nothing folded yet → the manifest tail IS the whole sink; the
      // metadata-index read of the dir is the same file set without the
      // per-path planning cost of a giant explicit list
      if (dirs.isEmpty) spark.read.parquet(entryDir)
      else {
        // one read PER tick dir: each dir is its own (possibly
        // partitioned) table root, and a multi-root read conflicts on
        // partition discovery; the union is a few dirs wide by design
        val parts =
          dirs.map(d => spark.read.parquet(d)) ++
            (if (tail.nonEmpty)
               Some(spark.read.option("basePath", entryDir).parquet(tail: _*))
             else None)
        val df = parts.reduce(_.unionByName(_))
        synchronized {
          // register the frame for fold-up pinning BEFORE the in-flight
          // pin releases (the finally below), so at every instant the
          // dirs are covered by one pin or the other: its logical plan
          // is held by every derived plan, so the weak ref clears
          // exactly when no query over these dirs can run again
          liveReaders += ((new java.lang.ref.WeakReference[AnyRef](
            df.queryExecution.logical), dirs.toSet))
          pruneReadersLocked()
        }
        df
      }
    } finally synchronized {
      dirs.foreach { d =>
        val c = inFlight.getOrElse(d, 1) - 1
        if (c <= 0) inFlight.remove(d) else inFlight.update(d, c)
      }
    }
  }

  /** Live small-file count a cold reader of the RAW dir would pay —
    * telemetry for the soak report. */
  def rawFileCount(): Long = synchronized {
    foldedPaths.size +
      manifestFiles(lastFoldedBatch, latestBatch()).count(!foldedPaths.contains(_))
  }

  /** Superseded dirs still on disk awaiting their readers (telemetry). */
  def deferredDirCount(): Int = synchronized { deferredDirs.size }

  /** Run a deferred-dir sweep NOW, outside the tick loop — the soak
    * gate calls this at shutdown so its pin-leak census reads
    * post-sweep state, not dirs that merely await their next tick. */
  def sweepNow(): Unit = synchronized { sweepDeferredLocked(); saveStateLocked() }

  /** Pin evidence per still-deferred dir: (dir, reachable readers whose
    * snapshot set contains it, in-flight construction refs). After a
    * [[sweepNow]], a (0, 0) row is a pin LEAK by definition — the sweep
    * reclaims exactly the unpinned dirs — so healthy deferral
    * (`deferred ≤ Σ pins`) is distinguishable from a pin that never
    * releases, which the bare count could not show.
    *
    * NOTE: a gate that calls [[sweepNow]] and then this method takes the
    * lock twice, and a reader plan GC'd BETWEEN the calls (weak refs
    * clear on the collector's schedule, not the lock's) makes a dir that
    * was legitimately pinned at sweep time report (0, 0) — a spurious
    * "leak". Census gates should use [[sweepWithEvidence]] instead. */
  def deferredEvidence(): Seq[(String, Int, Int)] = synchronized {
    pruneReadersLocked()
    deferredDirs.toSeq.map { d =>
      (d, liveReaders.count(_._2.contains(d)), inFlight.getOrElse(d, 0))
    }
  }

  /** Atomic sweep + census for the pin-leak gate: ONE lock acquisition
    * prunes readers, computes per-dir pin evidence, reclaims exactly the
    * dirs that evidence shows unpinned, and returns the survivors' rows
    * — so every returned row has ≥ 1 pin from the SAME reachability
    * snapshot the sweep acted on. The sweep-then-census race (a reader
    * GC'd between two lock acquisitions showing a stale (0, 0) row)
    * is structurally impossible here: (0, 0) rows are reclaimed, not
    * returned. */
  def sweepWithEvidence(): Seq[(String, Int, Int)] = synchronized {
    pruneReadersLocked()
    val ev = deferredDirs.toSeq.map { d =>
      (d, liveReaders.count(_._2.contains(d)), inFlight.getOrElse(d, 0))
    }
    val (dead, alive) = ev.partition(e => e._2 == 0 && e._3 == 0)
    dead.foreach { case (d, _, _) => deleteDir(d); reclaimedDirs.incrementAndGet() }
    deferredDirs.clear()
    deferredDirs ++= alive.map(_._1)
    saveStateLocked()
    alive
  }

  /** Reachable reader registrations (post-prune) — the deferral bound's
    * other side: every deferred dir must trace to one of these. */
  def liveReaderCount(): Int = synchronized { pruneReadersLocked(); liveReaders.size }

  /** Delete any still-deferred superseded dirs (process teardown — no
    * reader frame outlives the session by contract). */
  def close(): Unit = synchronized {
    deferredDirs.foreach { d => deleteDir(d); reclaimedDirs.incrementAndGet() }
    deferredDirs.clear()
    saveStateLocked()
  }
}

object EntryLogCompactor {
  /** Start a daemon tick loop — the "background compaction tick" a
    * deployment wires next to its ingest stream. Returns the compactor
    * (for [[EntryLogCompactor.read]]) and a stop handle. */
  def start(
      spark: SparkSession,
      entryDir: String,
      compactedDir: String,
      intervalMs: Long,
      initialDelayMs: Long = 0L,
      pool: String = "background",
      layoutPartitionBy: Seq[String] = Nil,
      targetFilesPerTick: Int = 2,
      foldThreshold: Int = 32): (EntryLogCompactor, () => Unit) = {
    val c = new EntryLogCompactor(spark, entryDir, compactedDir,
      targetFilesPerTick = targetFilesPerTick, foldThreshold = foldThreshold,
      layoutPartitionBy = layoutPartitionBy)
    @volatile var stopped = false
    val t = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      val t0 = System.currentTimeMillis()
      while (!stopped && System.currentTimeMillis() - t0 < initialDelayMs)
        Thread.sleep(100)
      while (!stopped) {
        try c.tick()
        catch { case e: Throwable =>
          System.err.println(s"[compactor] tick failed: $e") }
        var left = intervalMs
        while (left > 0 && !stopped) {
          val s = math.min(left, 200L); Thread.sleep(s); left -= s
        }
      }
    }, "entry-log-compactor")
    t.setDaemon(true)
    t.start()
    (c, () => { stopped = true; t.join(10000); c.close() })
  }
}
