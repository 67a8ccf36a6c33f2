package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** Executor-side state of the ledger specs (local mode = one JVM): a
  * broker's committed log, a producer census, and the torn-epoch fault.
  */
object LedgerFaults {
  val committed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val producers = new AtomicInteger(0)
  /** Sends and state writes fail while set: an epoch torn before its
    * marker.
    */
  val tear = new AtomicBoolean(false)
  def reset(): Unit = { committed.clear(); producers.set(0); tear.set(false) }
}

/** Transactional producer whose records (the value strings) become
  * visible on commit, like `read_committed`.
  */
class LedgerProducer extends ExactlyOnce.TxnProducer {
  LedgerFaults.producers.incrementAndGet()
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[String]
  override def beginTransaction(): Unit = buffer.clear()
  override def sendRecord(topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte]): Unit = {
    buffer += new String(value, java.nio.charset.StandardCharsets.UTF_8)
    if (LedgerFaults.tear.get())
      throw new RuntimeException("simulated crash mid-transaction")
  }
  override def commitTransaction(): Unit =
    buffer.foreach(LedgerFaults.committed.add)
  override def abortTransaction(): Unit = buffer.clear()
  override def close(): Unit = ()
}

/** A `file:` twin under its own scheme. Registered only on the
  * session's Hadoop conf and never cached, it stands in for a store
  * whose settings (s3a credentials, an endpoint) reach executors only
  * through that conf.
  */
class SessionOnlyFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new SessionOnlyFileSystem.Raw)

object SessionOnlyFileSystem {
  val Scheme = "graftsession"
  class Raw extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  }
}

/** The epoch ledger behind every fenced writer: one fence (marker or
  * high watermark), one commit, one fold — the same answers whichever
  * writer drives it, a bounded ledger over an unbounded stream, and
  * marker names that stay inside the ledger helper.
  */
class EpochLedgerSpec extends SparkSpec {

  private def ledgerFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filterNot(_.endsWith(".crc"))

  /** `n` Kafka-shaped records of epoch `e` over `parts` partitions; the
    * value carries the epoch.
    */
  private def records(e: Long, n: Int = 6, parts: Int = 1): DataFrame =
    spark.range(0, n, 1, parts).select(lit("t").as("topic"),
      col("id").cast("string").as("key"), lit(e).cast("string").as("value"))

  test("the produce and foreachBatch ledgers stay at most 3 files over K " +
      "epochs, and every replayed epoch is a no-op") {
    LedgerFaults.reset()
    val K = 8L
    val work = Files.createTempDirectory("graft_ledger_growth").toString
    val produce = s"$work/produce"
    (0L until K).foreach(e => ExactlyOnce.foreachBatchTransactionalKafka(
      produce, _ => new LedgerProducer)(records(e, 24, 12), e))
    assert(LedgerFaults.committed.size == 24 * K)
    assert(ledgerFiles(produce).size <= 3, ledgerFiles(produce).sorted)
    val made = LedgerFaults.producers.get()
    (0L until K).foreach(e => ExactlyOnce.foreachBatchTransactionalKafka(
      produce, _ => new LedgerProducer)(records(e, 24, 12), e))
    assert(LedgerFaults.producers.get() == made, "a fenced epoch made producers")
    assert(LedgerFaults.committed.size == 24 * K, "a fenced epoch re-sent")
  }

  test("executors write part markers through the session's Hadoop conf") {
    import SessionOnlyFileSystem.Scheme
    LedgerFaults.reset()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[SessionOnlyFileSystem].getName)
    hc.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    try {
      val dir = Files.createTempDirectory("graft_session_fs").toString
      val ledger = s"$Scheme://$dir/ledger"
      ExactlyOnce.foreachBatchTransactionalKafka(ledger,
        _ => new LedgerProducer)(records(0L, 6, 2), 0L)
      assert(LedgerFaults.committed.size == 6)
      assert(ledgerFiles(s"$dir/ledger") == Seq("epoch-0"))
      ExactlyOnce.foreachBatchTransactionalKafka(ledger,
        _ => new LedgerProducer)(records(0L, 6, 2), 0L)
      assert(LedgerFaults.committed.size == 6, "replay was not fenced")
    } finally {
      hc.unset(s"fs.$Scheme.impl")
      hc.unset(s"fs.$Scheme.impl.disable.cache")
    }
  }

  /** A fenced writer under the shared script. `run(e, torn)` drives
    * epoch `e` with its ledger under `root` (torn = die before the
    * marker) and tells whether it did any work; `visible` lists the
    * epoch of every row a reader of the writer's output sees.
    */
  private case class Writer(name: String, root: String,
      run: (Long, Boolean) => Boolean, visible: () => Seq[Long])

  /** Identity on `k`, except while a tear is armed: a write job that
    * dies after it started and before the writer's marker.
    */
  private val tearing = udf { (k: Long) =>
    if (LedgerFaults.tear.get()) throw new RuntimeException("torn write")
    k
  }

  private def rows(e: Long): DataFrame =
    spark.range(0, 3).select((lit(e * 10) + col("id")).as("k"), lit(e).as("e"))

  private def epochsOf(df: DataFrame): Seq[Long] =
    df.select(col("e")).collect().map(_.getLong(0)).toSeq.sorted

  private def writers(): Seq[Writer] = {
    def dir(n: String) = Files.createTempDirectory(s"graft_ledger_$n").toString
    val kafka = dir("kafka")
    val append = dir("append")
    val advance = dir("advance")
    val empty = rows(0L).limit(0)
    Seq(
      Writer("foreachBatchTransactionalKafka", kafka,
        (e, _) => {
          val made = LedgerFaults.producers.get()
          ExactlyOnce.foreachBatchTransactionalKafka(s"$kafka/_ledger",
            _ => new LedgerProducer)(records(e, 3), e)
          LedgerFaults.producers.get() > made
        },
        () => LedgerFaults.committed.asScala.map(_.toLong).toSeq.sorted),
      Writer("appendDeltaBucketed", append,
        (e, _) => ExactlyOnce.appendDeltaBucketed(spark, append, e, "k", 4)(
          rows(e).withColumn("k", tearing(col("k")))),
        () => epochsOf(ExactlyOnce.appendedState(spark, append)(empty))),
      Writer("advanceStateBucketed", advance,
        (e, _) => ExactlyOnce.advanceStateBucketed(spark, advance, e, rows(e),
          "k", 4)(empty)((cur, cluster) => cluster(
          cur.unionByName(rows(e)).withColumn("k", tearing(col("k"))))),
        () => epochsOf(ExactlyOnce.currentStateBucketed(spark, advance)(empty))))
  }

  test("every fenced writer: replays are no-ops, a torn epoch stays " +
      "invisible until re-run, and isEpochCommitted agrees") {
    def upTo(n: Long) = (0L to n).flatMap(e => Seq(e, e, e))
    writers().foreach { w =>
      LedgerFaults.reset()
      (0L to 3L).foreach(e => assert(w.run(e, false), s"${w.name}: epoch $e"))
      assert(w.visible() == upTo(3L), w.name)
      Seq(2L, 3L).foreach(e =>
        assert(!w.run(e, false), s"${w.name}: replay of epoch $e ran"))
      assert(w.visible() == upTo(3L), s"${w.name}: a replay is visible")

      LedgerFaults.tear.set(true)
      intercept[Exception](w.run(4L, true))
      LedgerFaults.tear.set(false)
      assert(!ExactlyOnce.isEpochCommitted(spark, w.root, 4L), w.name)
      assert(w.visible() == upTo(3L), s"${w.name}: torn epoch 4 is visible")

      assert(w.run(4L, false), s"${w.name}: re-run of torn epoch 4")
      assert(w.visible() == upTo(4L), w.name)
      (0L to 4L).foreach(e => assert(
        ExactlyOnce.isEpochCommitted(spark, w.root, e), s"${w.name}: $e"))
      assert(!ExactlyOnce.isEpochCommitted(spark, w.root, 5L), w.name)
    }
  }

  test("marker names and the _ledger path appear only in the ledger " +
      "helper of ExactlyOnce.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val needles = Seq("\"epoch-", "\"hwm-", "\"owners-", "\"compact-",
      "\"buckets-", "_ledger")
    val sources = scala.util.Using.resource(Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Files.readAllLines(p).asScala.toIndexedSeq)
        .toMap
    }
    val home = "graft/operators/ExactlyOnce.scala"
    val lines = sources(home)
    // the helper: the class's scaladoc through the companion's last brace
    val cls = lines.indexWhere(_.startsWith("  private final class Ledger("))
    val obj = lines.indexWhere(_.startsWith("  private object Ledger {"))
    assert(cls > 0 && obj > cls, "ledger helper not found")
    val start = lines.lastIndexWhere(_.trim.startsWith("/**"), cls)
    val depth = lines.drop(obj).scanLeft(0)((d, l) =>
      d + l.count(_ == '{') - l.count(_ == '}'))
    val end = obj + depth.indexWhere(_ == 0, 1) - 1
    val hits = for {
      (file, ls) <- sources.toSeq
      (l, i) <- ls.zipWithIndex
      if needles.exists(l.contains)
    } yield (file, i)
    assert(hits.exists(_._1 == home), "the guard sees no marker names")
    val outside = hits.filterNot { case (f, i) => f == home && i >= start && i <= end }
    assert(outside.isEmpty, outside.map { case (f, i) => s"$f:${i + 1}" })
  }
}
