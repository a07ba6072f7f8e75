package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal transaction-log table format — the storage half of the MERGE
  * story (q139 proves the MERGE algebra batch-side; this makes
  * arbitrary-key upserts a STORAGE capability, closing the gap against
  * the reference's Cassandra `UPDATE ... WHERE pk = ?` free-form upsert
  * surface, lambda-sample analyzer/HistoryWriter.scala:90-98).
  *
  * Layout (the Delta/Iceberg copy-on-write discipline, reduced to what
  * a single-writer engine needs — no external dependency, pure
  * filesystem + parquet):
  *
  * {{{
  *   <table>/
  *     _txlog/00000000.json     one JSON doc per committed version:
  *     _txlog/00000001.json     {"version":N,"adds":[{"path","rows",
  *        "minKey","maxKey"}],"removes":["path",...]}
  *     data-<version>-<uuid>/   parquet files, immutable once committed
  * }}}
  *
  * - **Snapshot reads** replay the log in version order: live files =
  *   Σ adds − Σ removes. Readers never see a half-committed version —
  *   the log entry is written to a temp file and atomically renamed
  *   into place, and data files are fully written BEFORE the rename.
  * - **MERGE (upsert by key)** rewrites ONLY the live files whose
  *   [minKey, maxKey] range on the FIRST key column intersects the
  *   updates' range (file-skipping from log statistics — at 100 TB
  *   this is the difference between rewriting a partition and
  *   rewriting the table; a point-keyed upsert touches one file).
  *   Matched rows are replaced, unmatched update rows are appended:
  *   exactly CQL UPDATE = insert-or-overwrite semantics. Range
  *   pruning on the first key column alone is CONSERVATIVE for
  *   composite keys: a file disjoint from the updates on key₁ cannot
  *   contain any full-key match.
  * - **Concurrency**: OPTIMISTIC, the Delta/Iceberg discipline and the
  *   topology the reference actually runs (Consumer and HistoryWriter
  *   upsert the same Cassandra tables concurrently,
  *   lambda-sample mqtt/Consumer.scala:59-66 +
  *   analyzer/HistoryWriter.scala:90-98). A commit claims its version
  *   file via an atomic hard link (`link(2)` fails EEXIST atomically —
  *   unlike a rename, which on POSIX silently REPLACES an existing
  *   target); the loser of a race gets [[CommitConflictException]],
  *   re-reads the log, recomputes its MERGE against the winner's
  *   snapshot, and retries with fresh data files (bounded attempts).
  *   Losers' uncommitted data dirs are orphans — invisible to every
  *   reader, reclaimed by [[vacuum]]'s orphan GC (data dirs absent
  *   from every log entry, aged past the in-flight safety horizon).
  *   The retry loop serializes writers: the final state is
  *   identical to SOME sequential order of the same merges, which is
  *   exactly the guarantee key-based last-write-wins upserts need.
  *
  * Metadata operations (log replay, pruning) are driver-side over
  * #files entries — the same trade every log-structured table format
  * makes; data operations are full Spark jobs.
  */
object TxLog {

  final case class AddFile(path: String, rows: Long, minKey: String, maxKey: String)
  final case class Commit(version: Long, adds: Seq[AddFile], removes: Seq[String])

  /** A concurrent writer committed our target version first. Retryable:
    * re-read the log and recompute against the new snapshot. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** How many optimistic-commit races a writer absorbs before giving
    * up — each retry recomputes from the fresh snapshot, so exhaustion
    * means a pathologically hot table, which should fail loudly. */
  private val MaxCommitAttempts = 8

  private def logDir(table: String): Path = Paths.get(table, "_txlog")

  /** Run `body` (which must recompute its snapshot from the log on
    * every invocation), retrying on commit conflicts with a short
    * jittered backoff so lock-stepped writers de-phase. */
  private def withRetry[A](what: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= MaxCommitAttempts)
            throw new IllegalStateException(
              s"$what lost $MaxCommitAttempts optimistic-commit races; giving up", e)
          Thread.sleep(5L + scala.util.Random.nextInt(45))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------------ write

  /** Create the table at `table` from `df`, keyed by `keyCols` (first
    * column drives file-range statistics). Fails if a log already
    * exists. */
  def create(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(!Files.exists(logDir(table)), s"table already exists: $table")
    // Data files FIRST, log dir + commit LAST: if the data write throws,
    // no _txlog exists, so exists() stays false and a retried create (or
    // an upsert routed to create) works — only an orphan data dir is
    // left, invisible to readers because it was never committed.
    val adds = writeDataFiles(spark, table, 0L, df, keyCols)
    Files.createDirectories(logDir(table))
    commit(table, Commit(0L, adds, Nil))
  }

  /** MERGE `updates` into the table by `keyCols`: rows matching an
    * existing key replace it (last-write-wins), the rest append.
    * Copy-on-write: only key-range-overlapping live files rewrite.
    * Concurrent merges serialize via optimistic retry (header §
    * Concurrency): a lost race re-reads the log and re-merges against
    * the winner's snapshot. */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    // de-duplicate updates on the key (latest occurrence wins is not
    // well-defined for an unordered frame — require uniqueness loudly).
    // Validation is snapshot-INDEPENDENT, so it runs once, OUTSIDE the
    // retry loop — a merge that loses commit races must not re-pay the
    // duplicate-key and stats jobs per attempt.
    val upKeyed = updates.cache()
    try {
      val dupKeys = upKeyed.groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1).count()
      require(dupKeys == 0,
        s"updates carry $dupKeys duplicate key(s) — resolve before merging")
      // An empty batch is detected by ROW COUNT, not by a null min(key):
      // NULL keys can never match the equi-join below (repeated upserts
      // of the same null-keyed row would silently accumulate), so they
      // are rejected loudly instead of being mistaken for emptiness.
      val stats = upKeyed.agg(
        count(lit(1)).as("n"),
        count(when(keyCols.map(col(_).isNull).reduce(_ || _), 1)).as("nullKeys"),
        min(col(keyCols.head)).cast("string"),
        max(col(keyCols.head)).cast("string")).head()
      if (stats.getLong(0) == 0L) return // empty updates
      require(stats.getLong(1) == 0L,
        s"updates carry ${stats.getLong(1)} row(s) with a NULL key column — " +
          "NULL keys cannot participate in MERGE matching; filter or fill them first")
      val (upMin, upMax) = (stats.getString(2), stats.getString(3))
      withRetry(s"merge into $table")(
        mergeSnapshot(spark, table, upKeyed, keyCols, upMin, upMax))
    } finally upKeyed.unpersist()
  }

  /** One optimistic merge attempt against the current snapshot —
    * everything here recomputes per retry. */
  private def mergeSnapshot(spark: SparkSession, table: String,
      upKeyed: DataFrame, keyCols: Seq[String],
      upMin: String, upMax: String): Unit = {
    val commits = replay(table)
    require(commits.nonEmpty, s"no such table: $table")
    val version = commits.last.version + 1
    val live = liveFiles(commits)
    // A table created from an empty frame has no live files (and no
    // schema to read) — the merge degenerates to an add-only commit.
    val touched =
      if (live.isEmpty) Nil
      else {
        val keyType = currentSchema(spark, table, live)(keyCols.head).dataType
        live.filter(f =>
          cmp(keyType, f.minKey, upMax) <= 0 && cmp(keyType, f.maxKey, upMin) >= 0)
      }
    val rewritten =
      if (touched.isEmpty) upKeyed
      else {
        val base = spark.read.parquet(touched.map(f => s"$table/${f.path}"): _*)
        base.join(upKeyed, keyCols, "left_anti").unionByName(upKeyed)
      }
    val adds = writeDataFiles(spark, table, version, rewritten, keyCols)
    commit(table, Commit(version, adds, touched.map(_.path)))
  }

  /** Append-only commit (no key matching — bulk loads). Adds are
    * independent of the snapshot, so a lost race just re-claims the
    * next version (the data files are reused; the version prefix in
    * their directory name is cosmetic — the log entry is the truth). */
  def append(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String]): Unit = {
    val commits = replay(table)
    require(commits.nonEmpty, s"no such table: $table")
    val version = commits.last.version + 1
    val adds = writeDataFiles(spark, table, version, df, keyCols)
    withRetry(s"append to $table") {
      commit(table, Commit(replay(table).last.version + 1, adds, Nil))
    }
  }

  // ------------------------------------------------------------- read

  /** Snapshot read of the latest committed version. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val live = liveFiles(replay(table))
    require(live.nonEmpty, s"table has no live files: $table")
    spark.read.parquet(live.map(f => s"$table/${f.path}"): _*)
  }

  /** Does a transaction log exist at `table`? */
  def exists(table: String): Boolean = Files.exists(logDir(table))

  /** TIME TRAVEL: snapshot read as of a committed `version` — replay
    * stops at that version, so the read sees exactly the files live
    * then (data files are immutable; only `compact`'s removes ever
    * supersede them, and superseded files stay on disk until an
    * explicit vacuum a production build would add). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val commits = replay(table).takeWhile(_.version <= version)
    require(commits.nonEmpty && commits.last.version == version,
      s"version $version is not committed in $table " +
        s"(have: ${replay(table).map(_.version).mkString(",")})")
    val live = liveFiles(commits)
    require(live.nonEmpty, s"version $version has no live files: $table")
    spark.read.parquet(live.map(f => s"$table/${f.path}"): _*)
  }

  /** COMPACTION: rewrite the live file set into `targetFiles`
    * range-clustered-by-key files in ONE commit (adds + removes
    * together, so readers flip atomically from the fragmented layout
    * to the compacted one). This is the executable form of q173's
    * compaction PLAN: many small MERGE-produced files → few sorted
    * ones, restoring scan efficiency and tightening the min/max skip
    * index. Content is untouched — a read before and after compaction
    * returns the same rows. */
  def compact(spark: SparkSession, table: String, keyCols: Seq[String],
      targetFiles: Int = 8): Unit = withRetry(s"compact $table") {
    require(targetFiles > 0, s"need targetFiles > 0 (got $targetFiles)")
    val commits = replay(table)
    require(commits.nonEmpty, s"no such table: $table")
    val live = liveFiles(commits)
    require(live.nonEmpty, s"table has no live files: $table")
    val version = commits.last.version + 1
    val clustered = spark.read
      .parquet(live.map(f => s"$table/${f.path}"): _*)
      .repartitionByRange(targetFiles, col(keyCols.head))
      .sortWithinPartitions(keyCols.map(col): _*)
    val adds = writeDataFiles(spark, table, version, clustered, keyCols)
    commit(table, Commit(version, adds, live.map(_.path)))
  }

  /** Create-or-merge convenience for sink loops (first batch creates,
    * later batches MERGE). Two writers racing to create: the link
    * winner's create lands, the loser's conflict routes it to a MERGE
    * against the winner's snapshot — upsert-of-upsert semantics. */
  def upsert(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String]): Unit =
    if (!exists(table)) {
      try create(spark, table, df, keyCols)
      catch {
        // lost the version-0 link race mid-create
        case _: CommitConflictException => merge(spark, table, df, keyCols)
        // or the winner finished create before ours even started: the
        // entry precondition fired — same race, observed earlier
        case e: IllegalArgumentException if exists(table) =>
          merge(spark, table, df, keyCols)
      }
    } else merge(spark, table, df, keyCols)

  /** The committed history — (version, n_adds, n_removes, rows_added). */
  def history(table: String): Seq[(Long, Int, Int, Long)] =
    replay(table).map(c => (c.version, c.adds.size, c.removes.size,
      c.adds.map(_.rows).sum))

  /** Age an uncommitted data dir must reach before [[vacuum]] treats it
    * as an abandoned orphan rather than an IN-FLIGHT write (data files
    * land on disk BEFORE their commit claims a version — a GC with no
    * horizon would delete the files out from under a writer that is
    * about to link its log entry). 24 h is far beyond any commit's
    * write-to-link window; tests pass 0 to force reclamation. */
  val DefaultOrphanHorizonMs: Long = 24L * 3600 * 1000

  /** VACUUM: physically delete data files superseded at or before
    * `retainVersion` — i.e. files removed by some commit ≤
    * `retainVersion` (readers of any version > the removing commit
    * never see them; time travel BELOW the horizon is the capability
    * being traded away, exactly Delta/Iceberg's expire-snapshots
    * contract). Files removed by LATER commits stay: versions inside
    * the retention window must still read. The log itself is never
    * rewritten — history stays queryable even where the data is gone.
    *
    * Also reclaims ORPHAN data dirs: directories no log entry ever
    * referenced, left by optimistic-commit losers (their data files
    * are fully written before the version-claim link fails — header §
    * Concurrency) and by writes that died before committing. Without
    * this, a table under writer contention leaks a full rewritten copy
    * per lost race — the untracked-file half of Delta/Iceberg's vacuum
    * contract. A dir is an orphan iff NO file in it appears in ANY
    * commit's adds or removes, and its newest mtime is older than
    * `orphanOlderThanMs` (so an in-flight writer's just-written dir,
    * which may commit in the next instant, is never stolen).
    *
    * Returns the deleted paths. Metadata-only driver work (#files
    * entries), like every other log operation here. */
  def vacuum(table: String, retainVersion: Long,
      orphanOlderThanMs: Long = DefaultOrphanHorizonMs): Seq[String] = {
    val commits = replay(table)
    require(commits.nonEmpty, s"no such table: $table")
    require(commits.exists(_.version == retainVersion),
      s"version $retainVersion is not committed in $table")
    val expired = commits.filter(_.version <= retainVersion)
      .flatMap(_.removes).distinct
    // return ONLY the paths actually deleted by THIS call — a repeated
    // vacuum at the same horizon reclaims nothing and must say so (a
    // caller auditing reclaimed bytes would otherwise double-count)
    val expiredDeleted = expired.filter { rel =>
      val p = Paths.get(table, rel)
      val existed = Files.exists(p)
      if (existed) {
        Files.delete(p)
        // prune now-empty data directories (best-effort)
        val dir = p.getParent
        if (dir != null && Files.exists(dir)) {
          val s = Files.list(dir)
          val empty = try !s.iterator().hasNext finally s.close()
          if (empty) Files.delete(dir)
        }
      }
      existed
    }
    // orphan GC: data-* dirs absent from EVERY log entry (adds of any
    // version keep live + time-travel data; removes keep what the
    // expiry branch above owns), aged past the in-flight horizon
    val referenced = commits
      .flatMap(c => c.adds.map(_.path) ++ c.removes)
      .map(_.split('/').head).toSet
    val cutoff = System.currentTimeMillis() - orphanOlderThanMs
    val listing = Files.list(Paths.get(table))
    val dataDirs =
      try listing.iterator().asScala.filter(d =>
        Files.isDirectory(d) && d.getFileName.toString.startsWith("data-")).toSeq
      finally listing.close()
    val orphanDeleted = dataDirs
      .filter(d => !referenced.contains(d.getFileName.toString))
      .filter { d =>
        val walk = Files.walk(d)
        val newest =
          try walk.iterator().asScala
            .map(Files.getLastModifiedTime(_).toMillis).max
          finally walk.close()
        newest < cutoff
      }
      .flatMap { d =>
        // re-replay immediately before deleting (cheap, metadata-only):
        // the mtime horizon alone can't protect a writer stalled longer
        // than orphanOlderThanMs between writing its data files and
        // linking its commit (GC pause, suspended VM, clock skew on a
        // shared FS) — if its commit landed AFTER the initial replay
        // above, deleting the dir would gut a committed version. A dir
        // referenced by ANY commit visible now is spared.
        val nowReferenced = replay(table)
          .flatMap(c => c.adds.map(_.path) ++ c.removes)
          .map(_.split('/').head).toSet
        if (nowReferenced.contains(d.getFileName.toString)) Seq.empty
        else {
          val walk = Files.walk(d)
          val victims = try walk.iterator().asScala.toSeq.reverse finally walk.close()
          victims.foreach(Files.deleteIfExists(_))
          Seq(d.getFileName.toString)
        }
      }
    expiredDeleted ++ orphanDeleted
  }

  /** Live file statistics — the skip-index a MERGE prunes with. */
  def files(table: String): Seq[AddFile] = liveFiles(replay(table))

  // -------------------------------------------------------- internals

  private def liveFiles(commits: Seq[Commit]): Seq[AddFile] = {
    val removed = commits.flatMap(_.removes).toSet
    commits.flatMap(_.adds).filter(a => !removed.contains(a.path))
  }

  private def currentSchema(spark: SparkSession, table: String,
      live: Seq[AddFile]): StructType =
    spark.read.parquet(s"$table/${live.head.path}").schema

  /** Type-aware comparison of the string-encoded log statistics. The
    * string branch compares UTF-8 bytes unsigned — the SAME order
    * Spark's min/max computed the logged stats under (UTF8String is
    * binary-compared) — NOT String.compareTo, whose UTF-16 code-unit
    * order disagrees for supplementary characters vs U+E000..U+FFFF
    * and would let merge wrongly skip a file that contains a matched
    * key (two live rows for one key — silent corruption). */
  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: DecimalType =>
      // exact comparison — a Double round-trip loses digits past ~15-16
      // significant figures and could wrongly SKIP a file holding a
      // matched key (two live rows for one key — silent corruption)
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => // strings; timestamps render ISO — ordered either way
      java.util.Arrays.compareUnsigned(
        a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
  }

  /** Write `df` as parquet under a fresh immutable data directory and
    * return one AddFile per part file with its first-key range stats
    * (one stats aggregate grouped by input file — a metadata-sized
    * job). */
  private def writeDataFiles(spark: SparkSession, table: String,
      version: Long, df: DataFrame, keyCols: Seq[String]): Seq[AddFile] = {
    val rel = f"data-$version%08d-${UUID.randomUUID().toString.take(8)}"
    val out = s"$table/$rel"
    df.write.parquet(out)
    spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        min(col(keyCols.head)).cast("string").as("mn"),
        max(col(keyCols.head)).cast("string").as("mx"))
      .collect()
      .map { r =>
        val name = r.getString(0).split('/').last
        AddFile(s"$rel/$name", r.getLong(1), r.getString(2), r.getString(3))
      }.toSeq
  }

  // Log (de)serialization: Jackson with its Scala module (both ride on
  // Spark's classpath) maps a Commit to and from its JSON document.
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def commit(table: String, c: Commit): Unit = {
    val target = logDir(table).resolve(f"${c.version}%08d.json")
    // Claim the version via hard link, NOT rename: link(2) fails EEXIST
    // atomically when the target exists, whereas an atomic rename would
    // silently REPLACE a concurrent winner's entry (the old
    // check-then-move had exactly that window). The tmp file is fully
    // written first, so the linked entry is complete the instant it
    // becomes visible.
    val tmp = logDir(table).resolve(s".${UUID.randomUUID()}.tmp")
    Files.write(tmp, mapper.writeValueAsBytes(c))
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"version ${c.version} of $table was committed by a concurrent writer")
    } finally Files.deleteIfExists(tmp)
  }

  private def replay(table: String): Seq[Commit] = {
    val dir = logDir(table)
    if (!Files.exists(dir)) return Nil
    // Two anomalies a raw listing can show, both resolved here so every
    // caller sees a CONSISTENT snapshot:
    //  - empty dir: a concurrent create made _txlog but has not linked
    //    version 0 yet — retryable (the conflict exception routes the
    //    caller's withRetry into a short wait, after which v0 exists);
    //  - version gap (v7 listed, v6 missing): commits land strictly in
    //    order (a writer must replay vN to claim vN+1), so a gap can
    //    only be a readdir racing a concurrent link — entries created
    //    mid-iteration may or may not appear depending on directory
    //    slot. A merge built on the gapped view would skip v6's file
    //    rewrites and silently duplicate keys; re-list until contiguous.
    var attempt = 0
    while (true) {
      val commits = listCommits(dir)
      if (commits.isEmpty)
        throw new CommitConflictException(
          s"$table: _txlog exists but holds no committed version yet " +
            "(concurrent create in progress)")
      val contiguous = commits.zipWithIndex.forall { case (c, i) => c.version == i }
      if (contiguous) return commits
      attempt += 1
      if (attempt >= 5)
        throw new IllegalStateException(
          s"$table: version gap persists after $attempt listings " +
            s"(have: ${commits.map(_.version).mkString(",")}) — log corrupted?")
      Thread.sleep(10L)
    }
    throw new IllegalStateException("unreachable")
  }

  private def listCommits(dir: Path): Seq[Commit] = {
    val listing = Files.list(dir)
    val entries =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq
      finally listing.close()
    entries.sortBy(_.getFileName.toString)
      .map(p => mapper.readValue(Files.readAllBytes(p), classOf[Commit]))
  }
}
