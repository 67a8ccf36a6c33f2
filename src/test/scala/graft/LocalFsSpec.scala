package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.config.CdcParams
import graft.fs.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.operators.ExactlyOnce
import graft.streaming.CdcPipeline

/** The `file:` scheme the engine registers in its `core-site.xml`: no
  * process per file on the checkpointed paths, the same permissions and
  * link status as Hadoop's forking calls, and the rename contract the
  * streaming checkpoint log rests on.
  */
class LocalFsSpec extends SparkSpec {

  private def tmp(name: String): java.nio.file.Path = Files.createTempDirectory(name)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def rwx(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("no process spawns from Hadoop's Shell across a fenced produce epoch " +
      "and a two-batch transactional stream") {
    // the first use of Shell probes for setsid once per JVM: a start-up
    // cost, not a per-file one, so it happens before the window
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val work = tmp("graft_localfs_jfr")
    val zone = Files.createDirectories(work.resolve("zone/events.parquet"))
    Seq("a", "b").foreach(n => Files.copy(Paths.get(s"$sf/events.parquet"),
      work.resolve(s"staged-$n.parquet")))
    def land(n: String): Unit = Files.move(work.resolve(s"staged-$n.parquet"),
      zone.resolve(s"part-$n.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val params = CdcParams(topic = "cdc_topic", topicPrefix = "flink_cdc_",
      checkpointDir = work.resolve("ckpt").toString, checkpointInterval = 0,
      tablePk = """[{"db":"test_db","table":"eve.*","primary_key":"event_id"}]""")
    val epoch = spark.range(0, 24, 1, 4).select(lit("t").as("topic"),
      col("id").cast("string").as("key"), col("id").cast("string").as("value"))
    KafkaRecordRecorder.records.clear()

    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try {
      ExactlyOnce.foreachBatchTransactionalKafka(work.resolve("ledger").toString,
        _ => new KafkaRecordProducer)(epoch, 0L)
      land("a")
      val q = CdcPipeline.transactionalSink(
        CdcPipeline.build(spark, work.resolve("zone").toString, params, 4), params,
        _ => new KafkaRecordProducer).start()
      try {
        q.processAllAvailable()
        land("b")
        q.processAllAvailable()
      } finally q.stop()
      // the control: a spawn inside the window is seen
      new ProcessBuilder("true").start().waitFor()
    } finally recording.stop()
    val jfr = work.resolve("window.jfr")
    recording.dump(jfr)
    recording.close()
    assert(KafkaRecordRecorder.records.size == 24 + 2 * 1000)

    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
    assert(starts.exists(_.getString("command") == "true"), "the recording saw no spawn")
    val fromShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    assert(fromShell.isEmpty, s"${fromShell.size} spawns from Hadoop's Shell, e.g. " +
      fromShell.take(3).map(_.getString("command")).mkString("; "))
  }

  test("create and mkdirs set the requested mode; bits past 0777 take the fallback") {
    val fs = FileSystem.get(new java.net.URI("file:///"), new Configuration())
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])
    val dir = tmp("graft_localfs_mode")
    val file = dir.resolve("f")
    fs.create(new Path(file.toUri), new FsPermission("640"), false, 4096, 1.toShort,
      fs.getDefaultBlockSize(new Path(file.toUri)), null).close()
    assert(rwx(file) == "rw-r-----")
    val sub = dir.resolve("d")
    assert(fs.mkdirs(new Path(sub.toUri), new FsPermission("750")))
    assert(rwx(sub) == "rwxr-x---")
    val sticky = dir.resolve("s")
    assert(fs.mkdirs(new Path(sticky.toUri)))
    fs.setPermission(new Path(sticky.toUri), new FsPermission("1777"))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus: a regular file is its getFileStatus, a link " +
      "reports its target, a missing path throws") {
    val fs = FileSystem.getLocal(new Configuration())
    val dir = tmp("graft_localfs_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    Seq(file, dir).foreach { p =>
      val (link, plain) = (fs.getFileLinkStatus(new Path(p.toUri)),
        fs.getFileStatus(new Path(p.toUri)))
      assert(!link.isSymlink)
      assert((link.getPath, link.getLen, link.isDirectory, link.getModificationTime) ==
        (plain.getPath, plain.getLen, plain.isDirectory, plain.getModificationTime))
    }
    val ln = Files.createSymbolicLink(dir.resolve("ln"), file)
    // a scheme-less path: Hadoop's link reader passes the path string to
    // `readlink` as it is, so a `file:` URI never reads as a link
    val st = fs.getFileLinkStatus(new Path(ln.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == file.toString)
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("nope").toUri)))
  }

  test("FileContext.rename without OVERWRITE onto an existing file throws") {
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs], fc.getDefaultFileSystem.getClass)
    val dir = tmp("graft_localfs_rename")
    def write(name: String, body: String): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(body.getBytes) finally out.close()
      p
    }
    val (src, dst) = (write("src", "new"), write("dst", "old"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) == "new")
    assert(!Files.exists(dir.resolve("src")))
  }
}
