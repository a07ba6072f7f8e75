package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.MqttEntry
import graft.sources.broker.{Broker, BrokerSourceProvider}
import graft.streaming.{EntryLogCompactor, IngestStream}

/** Live-sink compaction (the round-7 soak's un-compacted-log tax):
  * [[EntryLogCompactor]] folds a streaming parquet sink's micro-batch
  * files into a few large ones using the sink's own manifest, and
  * serves reads as compacted ∪ manifest tail — content-identical to
  * the raw read, with a cold-open file count bounded by the tick
  * cadence instead of the sink's age. */
class CompactorSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  // MULTISET compare (sorted seq, not set): a set compare would hide
  // the double-count a manifest COMPACT batch can introduce when the
  // tail re-includes already-folded files
  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double, Int)] =
    df.selectExpr("sensor", "unix_micros(ts)", "value", "anomaly")
      .as[(String, Long, Double, Int)].collect().toSeq.sorted

  /** Ingest from the broker topic, the deployment's source: each reading
    * carries the ts `Broker.publish` stamped. */
  private def ingest(entryDir: String, ckpt: String): StreamingQuery = {
    Broker.clear()
    IngestStream.start(
      spark.readStream.format(classOf[BrokerSourceProvider].getName).load(),
      entryDir, ckpt, Trigger.ProcessingTime(0))
  }

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") || f.getName.startsWith("part-")) Seq(f)
      else Seq.empty
    walk(new java.io.File(dir))
  }

  test("compacted read is content-identical to the raw sink read, with bounded files") {
    val entryDir = tmp("graft-centry")
    val compDir = tmp("graft-ccomp")
    val q = ingest(entryDir, tmp("graft-cckpt"))
    // several micro-batches → several small files per sensor partition
    (1 to 8).foreach { b =>
      Broker.publish((1 to 10).map(i => MqttEntry(s"s${i % 3}", b * 100.0 + i, i % 2)): _*)
      q.processAllAvailable()
    }
    val c = new EntryLogCompactor(spark, entryDir, compDir)

    // before any tick: read() = manifest tail = exactly the raw table
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))

    // tick folds everything committed so far
    val folded = c.tick()
    folded should be > 0
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    // the compacted representation is a few files, not one per batch×partition
    parquetFiles(compDir).size should be <= 2

    // an idle tick is a no-op
    c.tick() shouldBe 0

    // new batches land in the tail, still content-identical — the range
    // deliberately crosses the sink log's 10-batch COMPACT boundary, so
    // the tail manifest re-lists history and the compactor must not
    // double-count the already-folded files
    // 9..31 crosses SEVERAL 10-batch compact boundaries, so in-range
    // files appear repeatedly across manifests — the multiset compare
    // below fails if any repeat is read twice
    (9 to 31).foreach { b =>
      Broker.publish((1 to 10).map(i => MqttEntry(s"s${i % 3}", b * 100.0 + i, i % 2)): _*)
      q.processAllAvailable()
    }
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))

    // second tick folds only the fresh files; content still identical
    c.tick() should be > 0
    val raw = rowSet(spark.read.parquet(entryDir))
    rowSet(c.read()) shouldBe raw
    raw should not be empty

    // cold-open cost: the compaction-aware read opens far fewer files
    // than the raw dir holds
    val rawFiles = parquetFiles(entryDir).size
    val compactFiles = parquetFiles(compDir).size
    withClue(s"raw=$rawFiles compacted=$compactFiles: ") {
      compactFiles should be < rawFiles
    }
    q.stop()
  }

  test("a restarted compactor resumes from the state marker instead of re-folding history") {
    val entryDir = tmp("graft-rentry")
    val compDir = tmp("graft-rcomp")
    val q = ingest(entryDir, tmp("graft-rckpt"))
    (1 to 4).foreach { b =>
      Broker.publish((1 to 8).map(i => MqttEntry(s"s${i % 2}", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    val c1 = new EntryLogCompactor(spark, entryDir, compDir)
    val folded1 = c1.tick()
    folded1 should be > 0
    val dirsAfterFirst = new java.io.File(compDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    // process restart: a NEW instance over the same dirs
    (5 to 6).foreach { b =>
      Broker.publish((1 to 8).map(i => MqttEntry(s"s${i % 2}", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    val c2 = new EntryLogCompactor(spark, entryDir, compDir)
    // resumed state: only the post-restart batches fold (a cold instance
    // would re-fold all 6 batches' files)
    val folded2 = c2.tick()
    folded2 should be > 0
    // 2 post-restart batches fold fewer files than the 4 pre-restart
    // ones did — a cold instance would have re-folded all 6 batches
    folded2 should be < folded1
    // content identical to the raw sink, old tick dir still served
    rowSet(c2.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    val dirsAfterSecond = new java.io.File(compDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    dirsAfterFirst.subsetOf(dirsAfterSecond) shouldBe true
    q.stop()
  }

  test("a re-run tick of the same range is idempotent (overwrite keyed by batch id)") {
    val entryDir = tmp("graft-ientry")
    val compDir = tmp("graft-icomp")
    val q = ingest(entryDir, tmp("graft-ickpt"))
    Broker.publish((1 to 20).map(i => MqttEntry(s"s${i % 2}", i.toDouble, 0)): _*)
    q.processAllAvailable()
    val c1 = new EntryLogCompactor(spark, entryDir, compDir)
    c1.tick()
    val after1 = rowSet(c1.read())
    // a SECOND compactor over the same dirs (crash-restart shape) folds
    // the same manifest range onto the same t<batch> path — no dupes
    val c2 = new EntryLogCompactor(spark, entryDir, compDir)
    c2.tick()
    rowSet(c2.read()) shouldBe after1
    rowSet(c2.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    q.stop()
  }

  test("fold-up merges tick dirs past the threshold and keeps content") {
    val entryDir = tmp("graft-fentry")
    val compDir = tmp("graft-fcomp")
    val q = ingest(entryDir, tmp("graft-fckpt"))
    val c = new EntryLogCompactor(spark, entryDir, compDir, foldThreshold = 3)
    (1 to 5).foreach { b =>
      Broker.publish((1 to 5).map(i => MqttEntry(s"s$i", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
      c.tick()
    }
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    // after fold-up the live tick dirs collapsed (t*_merged present)
    new java.io.File(compDir).listFiles().map(_.getName).exists(_.endsWith("_merged")) shouldBe true
    c.close() // deletes superseded dirs; content must survive
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    q.stop()
  }

  test("fold-up under a live reader defers its dirs, then reclaims once the reader is gone") {
    // round-8 advisory: reclamation deferred EVERYTHING to close(), so a
    // long-lived serving process accumulated every superseded generation
    // on disk. Now a fold-up pins superseded dirs on the readers that
    // were reachable when it committed, and the per-tick sweep deletes a
    // generation the moment its last pinning reader is collected.
    val entryDir = tmp("graft-gentry")
    val compDir = tmp("graft-gcomp")
    val q = ingest(entryDir, tmp("graft-gckpt"))
    val c = new EntryLogCompactor(spark, entryDir, compDir, foldThreshold = 2)
    def batch(b: Int): Unit = {
      Broker.publish((1 to 5).map(i => MqttEntry(s"s$i", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    // two ticks → two tick dirs (at the threshold, no fold-up yet)
    batch(1); c.tick()
    batch(2); c.tick()
    // a reader over the PRE-fold generation, taken in a nested frame so
    // dropping the local is enough for it to become unreachable later
    var preFold: org.apache.spark.sql.DataFrame = c.read()
    val preFoldRows = rowSet(preFold)
    // third tick crosses the threshold → fold-up; the reader pins the
    // two superseded dirs on disk
    batch(3); c.tick()
    c.deferredDirCount() shouldBe 2
    // the pinned generation still reads correctly (files intact)
    rowSet(preFold) shouldBe preFoldRows
    // post-fold reads see the full content
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    // drop the reader; the sweep on a later tick reclaims the dirs
    preFold = null
    var reclaimed = false
    var tries = 0
    while (!reclaimed && tries < 20) {
      System.gc(); Thread.sleep(50)
      batch(10 + tries); c.tick()
      reclaimed = c.deferredDirCount() == 0
      tries += 1
    }
    reclaimed shouldBe true
    // disk returned to O(live data): no pre-merge tick dir remains
    val names = new java.io.File(compDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    names.count(!_.endsWith("_merged")) should be <= (10 + tries) // post-fold ticks only
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    q.stop()
  }

  test("reads racing continuous fold-ups never lose a dir under themselves") {
    // the round-9 soak near-miss: read() snapshots its dir list under
    // the monitor but builds the Spark frames outside it, so a
    // concurrent fold-up + sweep could reclaim a snapshotted dir before
    // the read registered its weak-ref pin. foldThreshold = 1 makes
    // EVERY tick a fold-up; a reader hammers read().count() in
    // parallel. Any reclaimed-under-reader dir surfaces as a
    // FileNotFound/PATH_NOT_FOUND here.
    val entryDir = tmp("graft-rentry")
    val compDir = tmp("graft-rcomp")
    val q = ingest(entryDir, tmp("graft-rckpt"))
    Broker.publish((1 to 10).map(i => MqttEntry(s"s${i % 3}", i.toDouble, 0)): _*)
    q.processAllAvailable()
    val c = new EntryLogCompactor(spark, entryDir, compDir, foldThreshold = 1)
    c.tick()
    val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val readers = (1 to 2).map { _ =>
      val t = new Thread(() => {
        while (!stop) {
          try c.read().count()
          catch { case e: Throwable => readerErrors.add(e); stop = true }
        }
      })
      t.setDaemon(true); t.start(); t
    }
    (2 to 25).foreach { b =>
      Broker.publish((1 to 10).map(i => MqttEntry(s"s${i % 3}", b * 100.0 + i, 0)): _*)
      q.processAllAvailable()
      c.tick() // fold + fold-up + sweep racing the reader threads
    }
    stop = true
    readers.foreach(_.join(10000))
    withClue(s"reader errors: ${Option(readerErrors.peek()).map(_.toString).getOrElse("none")}") {
      readerErrors.isEmpty shouldBe true
    }
    // content survives the churn
    rowSet(c.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    // fold-ups actually fired and reclamation actually happened live
    c.foldUps.get() should be > 5L
    c.reclaimedDirs.get() should be > 0L
    q.stop()
  }

  test("a restart reclaims dirs the dead process superseded but never deleted") {
    // round-8 advisory: supersededDirs lived only in memory, so a crash
    // (any restart without close) leaked them permanently. They are in
    // the state marker now, and loadState deletes them — no frame
    // survives a process death, so restart-time reclamation is safe.
    val entryDir = tmp("graft-kentry")
    val compDir = tmp("graft-kcomp")
    val q = ingest(entryDir, tmp("graft-kckpt"))
    val c1 = new EntryLogCompactor(spark, entryDir, compDir, foldThreshold = 2)
    def batch(b: Int): Unit = {
      Broker.publish((1 to 5).map(i => MqttEntry(s"s$i", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    batch(1); c1.tick()
    batch(2); c1.tick()
    val pin = c1.read() // pins the generation the fold-up will supersede
    batch(3); c1.tick() // fold-up fires; 2 dirs deferred under `pin`
    c1.deferredDirCount() shouldBe 2
    pin.count() should be > 0L // the pin is real
    // "crash": no close(). A NEW instance over the same dirs reclaims
    // the deferred generation from the marker at load time.
    val c2 = new EntryLogCompactor(spark, entryDir, compDir, foldThreshold = 2)
    val names = new java.io.File(compDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    names.count(!_.endsWith("_merged")) shouldBe 0 // superseded ticks gone
    rowSet(c2.read()) shouldBe rowSet(spark.read.parquet(entryDir))
    q.stop()
  }

  test("a ']' in the compacted dir's name survives a restart with every row") {
    // the marker holds the tick dirs' full paths, so a restart must read
    // back any character the compacted dir's name holds: a lost tick dir
    // is reclaimed at load and its rows drop out of read()
    val entryDir = tmp("graft-bentry")
    val compDir = tmp("graft-comp]")
    val q = ingest(entryDir, tmp("graft-bckpt"))
    def batch(b: Int): Unit = {
      Broker.publish((1 to 5).map(i => MqttEntry(s"s$i", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    val c1 = new EntryLogCompactor(spark, entryDir, compDir)
    batch(1); c1.tick()
    batch(2); c1.tick()
    val c2 = new EntryLogCompactor(spark, entryDir, compDir)
    c2.reclaimedDirs.get() shouldBe 0L
    batch(3); c2.tick()
    val raw = rowSet(spark.read.parquet(entryDir))
    raw should have size 15
    rowSet(c2.read()) shouldBe raw
    q.stop()
  }

  test("per-sensor point reads prune partitions on the folded bulk") {
    // the layoutPartitionBy promise: the raw sink writes one compact
    // file per micro-batch (write-fast), the fold applies the
    // read-optimized per-sensor layout — so a point read over read()
    // must touch ONLY the queried sensor's files in the compacted bulk,
    // not scan every sensor's
    val entryDir = tmp("graft-pentry")
    val compDir = tmp("graft-pcomp")
    val q = ingest(entryDir, tmp("graft-pckpt"))
    (1 to 4).foreach { b =>
      Broker.publish((1 to 12).map(i => MqttEntry(s"s${i % 4}", b * 10.0 + i, 0)): _*)
      q.processAllAvailable()
    }
    val c = new EntryLogCompactor(spark, entryDir, compDir,
      layoutPartitionBy = Seq("sensor"))
    c.tick() should be > 0
    val point = c.read().filter($"sensor" === "s1")
    // plan-level: the scan over the compacted root carries a partition
    // filter on sensor (pruning happens at planning, not per row)
    val plan = point.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    (plan should include).regex("PartitionFilters: \\[[^\\]]*sensor")
    // execution-level: every file actually opened lies under the
    // sensor=s1 partition dir — the other 3 sensors' files are never read
    import org.apache.spark.sql.functions.input_file_name
    val filesRead = point.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    filesRead should not be empty
    all(filesRead) should include("sensor=s1")
    // and the point read returns exactly the raw table's s1 rows
    rowSet(point) shouldBe rowSet(
      spark.read.parquet(entryDir).filter($"sensor" === "s1"))
    q.stop()
  }
}
