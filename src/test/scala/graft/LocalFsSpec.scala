package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.core.{Entry, MqttEntry}
import graft.sources.{JdkLocalFileSystem, JdkLocalFs, JdkRawLocalFileSystem}
import graft.sources.broker.{Broker, BrokerSourceProvider}
import graft.streaming.{AnalysisStream, IngestStream, SnapshotStore}

/** [[JdkLocalFileSystem]] against Hadoop's own local file system: the
  * same permission bits and link status, with no child process. */
class LocalFsSpec extends SparkSpecBase {
  import spark.implicits._

  private def local(fs: FileSystem, umask: String = "022"): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The bits as Hadoop reports them (its `ls`-backed status, sticky bit
    * included) and as the JDK reads them. */
  private def bits(p: Path): (FsPermission, String) = {
    val hadoop = local(new RawLocalFileSystem).getFileStatus(p).getPermission
    val jdk = java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))
    (hadoop, jdk)
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("permission bits match Hadoop's after create and mkdirs, under the umask") {
    withTempDir("graft-localfs") { dir =>
      for (umask <- Seq("022", "027"); mode <- Seq("600", "644", "700", "755", "777")) {
        val perm = new FsPermission(mode)
        val ours = local(new JdkLocalFileSystem, umask)
        val theirs = local(new LocalFileSystem, umask)
        def made(fs: FileSystem, tag: String): (Path, Path) = {
          val file = new Path(s"file:$dir/$tag-$umask-$mode")
          fs.create(file, perm, true, 4096, 1.toShort, 1L << 20, null).close()
          val sub = new Path(s"file:$dir/$tag-$umask-$mode.d/sub")
          fs.mkdirs(sub, perm) shouldBe true
          (file, sub)
        }
        val (f1, d1) = made(ours, "jdk")
        val (f2, d2) = made(theirs, "hadoop")
        bits(f1) shouldBe bits(f2)
        bits(ours.asInstanceOf[LocalFileSystem].getChecksumFile(f1)) shouldBe
          bits(theirs.asInstanceOf[LocalFileSystem].getChecksumFile(f2))
        bits(d1) shouldBe bits(d2)
        bits(d1.getParent) shouldBe bits(d2.getParent)
        // not vacuous: a created file carries the mode under the umask
        bits(f1)._1 shouldBe perm.applyUMask(new FsPermission(umask))
      }
      // a sticky bit goes to Hadoop's own chmod
      val sticky = new FsPermission("1777")
      val (s1, s2) = (new Path(s"file:$dir/sticky-jdk"), new Path(s"file:$dir/sticky-hadoop"))
      Files.createDirectory(Paths.get(s1.toUri)); Files.createDirectory(Paths.get(s2.toUri))
      local(new JdkRawLocalFileSystem).setPermission(s1, sticky)
      local(new RawLocalFileSystem).setPermission(s2, sticky)
      bits(s1) shouldBe bits(s2)
      bits(s1)._1.getStickyBit shouldBe true
    }
  }

  test("getFileLinkStatus is getFileStatus on a file and a directory; a missing path throws") {
    withTempDir("graft-localfs") { dir =>
      val fs = local(new JdkRawLocalFileSystem)
      val file = new Path(s"file:$dir/f")
      fs.create(file).close()
      for (p <- Seq(file, new Path(s"file:$dir"), new Path(s"$dir/f"))) {
        fields(fs.getFileLinkStatus(p)) shouldBe fields(fs.getFileStatus(p))
        fields(fs.getFileLinkStatus(p)) shouldBe fields(local(new RawLocalFileSystem).getFileLinkStatus(p))
      }
      val missing = new Path(s"file:$dir/missing")
      a[FileNotFoundException] should be thrownBy fs.getFileLinkStatus(missing)
      a[FileNotFoundException] should be thrownBy local(new RawLocalFileSystem).getFileLinkStatus(missing)
      a[FileNotFoundException] should be thrownBy fs.setPermission(missing, new FsPermission("644"))
    }
  }

  test("a real symlink gets Hadoop's own link status") {
    withTempDir("graft-localfs") { dir =>
      Files.write(Paths.get(dir, "target"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "target"))
      val link = new Path(s"$dir/link")
      val ours = local(new JdkRawLocalFileSystem).getFileLinkStatus(link)
      val theirs = local(new RawLocalFileSystem).getFileLinkStatus(link)
      ours.isSymlink shouldBe true
      ours.getSymlink shouldBe theirs.getSymlink
      fields(ours) shouldBe fields(theirs)
    }
  }

  test("the session serves file: paths through JdkLocalFileSystem and JdkLocalFs") {
    // FileSystem instances are cached by scheme and user, not by conf:
    // an instance made before the session was built would win here
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      FileSystem.get(URI.create("file:///"), conf).getClass shouldBe classOf[JdkLocalFileSystem]
      FileSystem.getLocal(conf).getClass shouldBe classOf[JdkLocalFileSystem]
      FileContext.getFileContext(conf).getDefaultFileSystem.getClass shouldBe classOf[JdkLocalFs]
      FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass shouldBe classOf[JdkLocalFs]
    }
  }

  test("two micro-batches of both streams start no child process from Hadoop") {
    Broker.clear()
    SnapshotStore.clear()
    withTempDir("graft-localfs-streams") { dir =>
      def topic = spark.readStream.format(classOf[BrokerSourceProvider].getName).load()
      val recording = new Recording()
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      val ingest = IngestStream.start(topic, s"$dir/entries", s"$dir/ickpt", Trigger.ProcessingTime(0))
      val analysis = AnalysisStream.start(topic.as[Entry], s"$dir/analysis", s"$dir/ackpt",
        trigger = Trigger.ProcessingTime(0))
      try (1 to 2).foreach { b =>
        Broker.publish(MqttEntry("s1", b.toDouble, 0), MqttEntry("s2", -b.toDouble, 0))
        ingest.processAllAvailable()
        analysis.processAllAvailable()
      } finally { ingest.stop(); analysis.stop(); recording.stop() }
      val jfr = Paths.get(dir, "streams.jfr")
      recording.dump(jfr)
      recording.close()
      val fromHadoop = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop")))
      }
      withClue(fromHadoop.map(_.getValue[String]("command")).take(5).mkString("\n")) {
        fromHadoop.size shouldBe 0
      }
      // the streams did run: both batches reached the entry log and the snapshot
      spark.read.parquet(s"$dir/entries").count() shouldBe 4
      SnapshotStore.all.map(_.name) shouldBe Seq("s1", "s2")
    }
    Broker.clear()
    SnapshotStore.clear()
  }
}
