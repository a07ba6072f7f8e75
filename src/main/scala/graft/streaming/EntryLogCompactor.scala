package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog

/** Small-file compaction for a LIVE streaming parquet sink. The
  * reference never needs one because Cassandra compacts its SSTables
  * behind the same tables (resources/cassandra/schema.sql); a parquet
  * entry log fragments into one file per micro-batch and sensor, and
  * every cold read of it (the "/" fallback recompute, the refit's
  * training scan) pays a listing and footer cost per file. A deployment
  * calls [[tick]] on its own timer next to the ingest stream and reads
  * the table through [[read]].
  *
  * Mechanism — built on the sink's OWN manifest, not directory listing:
  * `FileStreamSink` records every committed file in
  * `<entryDir>/_spark_metadata`. Each [[tick]] reads the manifests past
  * the last folded batch, rewrites exactly those files into a few large
  * parquet files under `<compactedDir>/t<batchId>/`, and advances the
  * fold point. [[read]] serves the table as
  *
  *   compacted tick dirs  ∪  tail files of manifests past the fold
  *
  * so a cold reader opens O(ticks + tick-interval/trigger) files
  * however long ingest has run. The sink stays sole owner of its
  * directory and metadata, which keeps exactly-once replay intact;
  * files a failed task abandoned are in neither the manifest nor the
  * compacted set, so they stay invisible here exactly as they are to
  * `spark.read.parquet(entryDir)`.
  *
  *  - Idempotence: a tick writes its output dir with OVERWRITE keyed by
  *    the batch range's upper id, so a crash between write and
  *    bookkeeping re-folds into the same dir instead of duplicating
  *    rows. Folded paths are tracked by name (manifest COMPACT batches
  *    re-list all history). Past `foldThreshold` tick dirs, a fold-up
  *    merges them into one `t<batch>_merged` dir.
  *  - Locking: the instance monitor guards ONLY the state and is held
  *    for microseconds; the Spark writes run under [[tickLock]], which
  *    [[read]] never takes, so serving never waits on a parquet write.
  *  - Reclamation: each [[read]] registers a WeakReference to the
  *    returned frame's logical plan — the object every derived plan
  *    strongly holds — tagged with the tick dirs it draws from, and
  *    pins those dirs while it builds the frame. A tick deletes a dir a
  *    fold-up superseded once no reachable reader draws from it and no
  *    read is building over it; [[close]] deletes the rest.
  *  - Restart: the fold point, live tick dirs, superseded dirs and
  *    folded paths are journaled as JSON in
  *    `<compactedDir>/_compactor_state` after each change (written to a
  *    temp file and moved atomically). A new instance resumes from it
  *    and deletes every superseded or unrecorded `t*` dir at once, since
  *    no frame survives a restart. A marker that does not parse means a
  *    cold start: the whole history re-folds into an idempotent
  *    `t<batch>` dir.
  *
  * `layoutPartitionBy`: partition columns applied AT FOLD TIME — the raw
  * sink writes one compact file per micro-batch, the fold applies the
  * read-optimized layout (as q164/q173 do for the batch tables), so
  * per-sensor point reads prune on the compacted bulk while the
  * unpartitioned tail stays small enough to scan wholesale. */
final class EntryLogCompactor(
    spark: SparkSession,
    entryDir: String,
    compactedDir: String,
    foldThreshold: Int = 32,
    layoutPartitionBy: Seq[String] = Nil) {
  import EntryLogCompactor._

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
  // dirs a read() has snapshotted but not yet registered a weak ref
  // for: frame construction runs outside the monitor, so without this
  // pin a concurrent fold-up + sweep could delete a snapshotted dir
  // mid-construction. Refcounted because reads overlap.
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
  /** superseded dirs reclaimed, at load or while the process lives (telemetry). */
  val reclaimedDirs = new AtomicLong()

  private val stateFile = Paths.get(compactedDir, "_compactor_state")

  private def saveStateLocked(): Unit =
    try {
      Files.createDirectories(stateFile.getParent)
      val tmp = Paths.get(s"$stateFile.tmp")
      Files.write(tmp, Mapper.writeValueAsBytes(State(
        lastFoldedBatch, tickDirs.toSeq, deferredDirs.toSeq, foldedPaths.toSeq.sorted)))
      Files.move(tmp, stateFile,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable =>
      System.err.println(s"[compactor] state save failed (will re-fold on restart): $e")
    }

  private def loadState(): Unit =
    if (Files.exists(stateFile)) try {
      val s = Mapper.readValue(Files.readAllBytes(stateFile), classOf[State])
      lastFoldedBatch = s.lastFoldedBatch
      // resume only tick dirs that still exist (a crash between a
      // fold-up's delete and the state write would otherwise resurrect
      // a superseded dir)
      tickDirs ++= s.tickDirs.filter(d => Files.exists(Paths.get(d)))
      foldedPaths ++= s.foldedPaths
      // every superseded dir, and any t* dir the dead process wrote but
      // never recorded, is reclaimable now. Compare by dir NAME: paths
      // may differ in normalization across restarts, and a false
      // mismatch here would delete a LIVE tick dir
      val liveNames = tickDirs.map(d => new java.io.File(d).getName).toSet
      val stale = s.supersededDirs
        .filterNot(d => liveNames.contains(new java.io.File(d).getName)) ++
        Option(new java.io.File(compactedDir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("t") &&
            !liveNames.contains(f.getName))
          .map(_.getPath)
      stale.distinct.foreach { d => deleteDir(d); reclaimedDirs.incrementAndGet() }
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
      spark.read.option("basePath", entryDir).parquet(fresh: _*).coalesce(TickFiles),
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
    * rarely, under [[tickLock]]); the superseded dirs wait in
    * `deferredDirs` for the per-tick sweep. */
  private def foldUp(): Unit = {
    val (dirs, out) = this.synchronized {
      (tickDirs.toVector, s"$compactedDir/t${lastFoldedBatch}_merged")
    }
    val merged = dirs.map(d => spark.read.parquet(d))
      .reduce(_.unionByName(_))
      .coalesce(MergedFiles)
    writeFold(merged, out) // outside the state monitor, like tick's write
    this.synchronized {
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

  /** Superseded dirs still on disk awaiting their readers (telemetry). */
  def deferredDirCount(): Int = synchronized { deferredDirs.size }

  /** Delete any still-deferred superseded dirs (process teardown — no
    * reader frame outlives the session by contract). */
  def close(): Unit = synchronized {
    deferredDirs.foreach { d => deleteDir(d); reclaimedDirs.incrementAndGet() }
    deferredDirs.clear()
    saveStateLocked()
  }
}

object EntryLogCompactor {
  /** Parquet files a tick writes, and a fold-up's merged dir. */
  private val TickFiles = 2
  private val MergedFiles = 8

  /** The `_compactor_state` marker's JSON document. */
  private final case class State(
      lastFoldedBatch: Long,
      tickDirs: Seq[String],
      supersededDirs: Seq[String],
      foldedPaths: Seq[String])

  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
