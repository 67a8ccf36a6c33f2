package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.CdcApply

/** Change records in the shape the topic carries — `(partitionKey,
  * value)` with the Debezium envelope as value — for the apply workload.
  * Each change is a pure function of (seed, sequence number): its key is
  * drawn from a Zipf(0.9) law over a million keys, its op is c, u or d,
  * and (ts_ms, pos) grow with the sequence number.
  */
object Changes {
  val KeySpace = 1000000L
  val Alpha = 0.9
  private val kPow = math.pow(KeySpace.toDouble, 1 - Alpha)
  private val Tiers = Array("free", "basic", "plus", "pro")

  final case class Change(seq: Long, key: String, op: String, tsMs: Long,
      after: Map[String, String])

  def rank(seed: Long, seq: Long): Long = {
    val u = Gen.unit(Gen.h(seed, seq, 11))
    math.min(KeySpace, math.max(1L, math.pow(1 + u * (kPow - 1), 1 / (1 - Alpha)).toLong))
  }
  def keyOfRank(seed: Long, rank: Long): String =
    s"test_db.accounts.${Gen.mix64(rank * 31 + seed) & 0xffffffffffL}"

  def change(seed: Long, seq: Long): Change = {
    val r = Gen.h(seed, seq, 12)
    val u = Gen.unit(r)
    val key = keyOfRank(seed, rank(seed, seq))
    val op = if (u < 0.15) "c" else if (u < 0.88) "u" else "d"
    val after = if (op == "d") null else Map("id" -> key, "seq" -> seq.toString,
      "balance" -> ((r >>> 20) % 100000).toString, "tier" -> Tiers(((r >>> 40) & 3).toInt))
    Change(seq, key, op, 1700000000000L + seq / 4, after)
  }

  private def image(m: Map[String, String]): String =
    if (m == null) "null"
    else Seq("id", "seq", "balance", "tier").map(k => s""""$k":"${m(k)}"""").mkString("{", ",", "}")

  def value(c: Change): String = {
    val before = if (c.op == "c") "null" else s"""{"id":"${c.key}"}"""
    s"""{"before":$before,"after":${image(c.after)},"source":{"version":"1.6.4.Final",""" +
      s""""connector":"mysql","name":"mysql_binlog_source","ts_ms":${c.tsMs},""" +
      s""""snapshot":"false","db":"test_db","sequence":null,"table":"accounts",""" +
      s""""server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.000001",""" +
      s""""pos":${c.seq},"row":0,"thread":null,"query":null},"op":"${c.op}","ts_ms":${c.tsMs}}"""
  }
}

/** `replica_apply`: seeded batches of topic records go one epoch each to
  * `CdcApply.materializer`, while a reader thread runs `CdcApply.replica`
  * point reads beside the writes. Closed loop of epochs. Each batch after
  * the first starts with the last [[Redelivered]] records of the one
  * before it, the suffix a consumer re-reads after a crash between
  * processing and committing its offsets (the at-least-once case).
  */
final class ReplicaApply(work: String, seed: Long, cpus: Int) extends Workload {
  val BatchChanges = 20000
  val Redelivered = 1000
  val MaxBatches = 12
  val HotKeys = 64
  val KeysPerRead = 8
  private val staged = s"$work/batches"
  private val warm = s"$work/warm-batch"
  private val WarmSeq = 1L << 40

  private def seqs(b: Int): (Long, Long) =
    (if (b == 0) 0L else b.toLong * BatchChanges - Redelivered, (b + 1L) * BatchChanges)

  private val schema = StructType(Seq(StructField("batch", IntegerType),
    StructField("partitionKey", StringType), StructField("value", StringType)))

  private def write(spark: SparkSession, batches: Seq[(Int, Long, Long)], path: String): Unit = {
    val s = seed
    val rdd = spark.sparkContext.parallelize(batches, math.min(batches.size, cpus))
      .flatMap { case (b, lo, hi) => (lo until hi).iterator.map { q =>
        val c = Changes.change(s, q)
        Row(b, c.key, Changes.value(c))
      } }
    spark.createDataFrame(rdd, schema).write.mode("overwrite").partitionBy("batch").parquet(path)
  }

  def generate(spark: SparkSession, trace: Boolean): Unit = {
    write(spark, (0 until MaxBatches).map { b => val (lo, hi) = seqs(b); (b, lo, hi) }, staged)
    write(spark, Seq((0, WarmSeq, WarmSeq + BatchChanges)), warm)
  }

  private def batch(spark: SparkSession, dir: String, b: Int) =
    spark.read.parquet(s"$dir/batch=$b")

  private val hot = (1L to HotKeys).map(Changes.keyOfRank(seed, _))
  private def readKeys(i: Int): Seq[String] =
    (0 until KeysPerRead).map(j => hot((i * KeysPerRead + j) % HotKeys)).distinct

  private def read(spark: SparkSession, stateDir: String, keys: Seq[String]) =
    CdcApply.replica(spark, stateDir).filter(col("partitionKey").isin(keys: _*)).collect()
      .map(r => r.getString(0) -> (r.getMap[String, String](1).toMap, r.getLong(2), r.getLong(3)))
      .toMap

  def warmup(spark: SparkSession, round: Int): Unit = {
    val dir = s"$work/warm-state-$round"
    CdcApply.materializer(spark, dir)(batch(spark, warm, 0), 0L)
    read(spark, dir, readKeys(round))
  }

  private type Img = (Map[String, String], Long, Long)
  private final class Read(val keys: Seq[String], val rows: Map[String, Img],
      val before: Int, val after: Int, val startNs: Long, val ms: Double) {
    def interval: (Long, Long) = (startNs, startNs + (ms * 1e6).toLong)
  }
  private final class Result(val epochStartNs: Seq[Long], val epochS: Seq[Double],
      val records: Seq[Long],
      val traced: Seq[Boolean], val reads: Seq[Read], val touched: Seq[Double],
      val attempted: Long, val failed: Long, val replicaRows: Long)

  /** Applies batches until the window ends (at least two), with point
    * reads running beside, then checks the replica and every read. With a
    * probe, every second epoch runs traced, so traced and untraced epochs
    * see the same state growth and warm-up drift.
    */
  private def measure(spark: SparkSession, seconds: Double, stateDir: String,
      spans: Spans, probe: Option[SparkProbe]): Result = {
    val committed = new AtomicInteger(0)
    @volatile var writing = true
    val reads = new ConcurrentLinkedQueue[Read]()
    val readErrors = new AtomicInteger(0)
    val reader = new Thread(() => {
      var i = 0
      while (writing) {
        if (committed.get == 0) Thread.sleep(5)
        else {
          val keys = readKeys(i)
          val c0 = committed.get
          val t0 = System.nanoTime()
          try {
            val rows = spans.span("CdcApply.read")(_ => read(spark, stateDir, keys))
            reads.add(new Read(keys, rows, c0, committed.get, t0, (System.nanoTime() - t0) / 1e6))
          } catch { case _: Exception => readErrors.incrementAndGet() }
          i += 1
        }
      }
    }, "perfbench-reader")
    reader.start()
    val epochS = Vector.newBuilder[Double]
    val records = Vector.newBuilder[Long]
    val touched = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Boolean]
    val starts = Vector.newBuilder[Long]
    var cleanEpochs = 0
    val t0 = System.nanoTime()
    var b = 0
    try {
      // a window whose epochs the host mostly stole from runs on, up to
      // twice as long, until three epochs ran clean
      while (b < MaxBatches && (b < 2 || Stats.secondsSince(t0) < seconds ||
          (cleanEpochs < 3 && Stats.secondsSince(t0) < 2 * seconds))) {
        val df = batch(spark, staged, b)
        val epoch = b.toLong
        var secs = 0.0
        var te = 0L
        def apply(): Unit = {
          te = System.nanoTime()
          CdcApply.materializer(spark, stateDir)(df, epoch)
          secs = Stats.secondsSince(te)
        }
        val isTraced = probe.isDefined && b % 2 == 1
        if (isTraced) {
          probe.get.traced()(spans.span("CdcApply.epoch")(_ => apply()))
          touched += Option(new File(s"$stateDir/state-$b").list())
            .map(_.count(_.startsWith("__bucket="))).getOrElse(0).toDouble
        } else apply()
        epochS += secs
        starts += te
        if (Steal.clean(te, te + (secs * 1e9).toLong)) cleanEpochs += 1
        traced += isTraced
        val (lo, hi) = seqs(b)
        records += hi - lo
        b += 1
        committed.set(b)
      }
    } finally {
      writing = false
      reader.join()
    }
    // a redelivered epoch must be fenced: it may not change the state
    val before = Flow.footprint(stateDir)
    CdcApply.materializer(spark, stateDir)(batch(spark, staged, b - 1), b - 1L)
    val fenced = Flow.footprint(stateDir) == before

    val (expected, hotAt) = fold(b)
    val replica = CdcApply.replica(spark, stateDir).collect()
      .map(r => r.getString(0) -> ((r.getMap[String, String](1).toMap, r.getLong(2), r.getLong(3))))
    val got = replica.toMap
    val wrong = expected.count { case (k, v) => !got.get(k).contains(v) } +
      got.keys.count(!expected.contains(_)) + (replica.length - got.size)
    val rs = reads.asScala.toSeq
    // a read sees the replica as of one epoch boundary between its start
    // and end (the epoch in flight may commit while the read runs)
    val badReads = rs.count { r =>
      !(r.before to math.min(r.after + 1, b)).exists(k =>
        r.keys.forall(key => hotAt(k).get(key) == r.rows.get(key)))
    }
    new Result(starts.result(), epochS.result(), records.result(), traced.result(), rs, touched.result(),
      expected.size.toLong + rs.size + readErrors.get + 1,
      wrong.toLong + badReads + readErrors.get + (if (fenced) 0 else 1),
      replica.length.toLong)
  }

  /** The benchmark's own replica: per key, the change with the greatest
    * (ts_ms, pos) over batches `[0, n)`, deletes removed; plus the hot keys'
    * images after each epoch.
    */
  private def fold(n: Int): (Map[String, Img], IndexedSeq[Map[String, Img]]) = {
    val last = new java.util.HashMap[String, Changes.Change]()
    val hotSet = hot.toSet
    def live(c: Changes.Change): Option[Img] =
      Option(c).filter(_.op != "d").map(c => (c.after, c.tsMs, c.seq))
    val hotAt = Vector.newBuilder[Map[String, Img]]
    hotAt += Map.empty
    (0 until n).foreach { b =>
      val (lo, hi) = seqs(b)
      var q = lo
      while (q < hi) {
        val c = Changes.change(seed, q)
        val prev = last.get(c.key)
        if (prev == null || c.tsMs > prev.tsMs || (c.tsMs == prev.tsMs && c.seq > prev.seq))
          last.put(c.key, c)
        q += 1
      }
      hotAt += hotSet.flatMap(k => live(last.get(k)).map(k -> _)).toMap
    }
    (last.asScala.flatMap { case (k, c) => live(c).map(k -> _) }.toMap, hotAt.result())
  }

  def run(spark: SparkSession, seconds: Double, trace: Boolean, spans: Spans): Outcome = {
    val stateDir = s"$work/state"
    val probe = if (trace) Some(new SparkProbe(spark)) else None
    val r = measure(spark, seconds, stateDir, spans, probe)
    def rate(traced: Boolean) = {
      val es = r.epochS.indices.filter(r.traced(_) == traced)
        .map(i => (r.epochStartNs(i), r.epochS(i), r.records(i)))
      Stats.median(Steal.robust(es, 2) { case (t, s, _) => (t, t + (s * 1e9).toLong) }
        .map { case (_, s, n) => n / s })
    }
    val readMs = Stats.median(Steal.robust(r.reads, 5)(_.interval).map(_.ms))
    if (!trace)
      Outcome(Seq("throughput_per_s" -> rate(false),
        "latency_p50_ms" -> readMs), Nil, r.attempted, r.failed)
    else {
      val (bytes, files) = Flow.footprint(stateDir)
      val tracedEpochs = r.epochS.indices.filter(r.traced)
      val perKey = tracedEpochs.map { b =>
        val (lo, hi) = seqs(b)
        (hi - lo).toDouble / (lo until hi).map(q => Changes.change(seed, q).key).distinct.size
      }
      val layers = Seq(
        "CdcApply.epoch_s_p50" -> Stats.median(tracedEpochs.map(r.epochS)),
        "CdcApply.epoch_s_max" -> Stats.max(tracedEpochs.map(r.epochS)),
        "CdcApply.changes_per_key" -> Stats.median(perKey),
        "CdcApply.buckets_touched_p50" -> Stats.median(r.touched),
        "CdcApply.state_bytes" -> bytes.toDouble,
        "CdcApply.state_files" -> files.toDouble,
        "CdcApply.replica_rows" -> r.replicaRows.toDouble,
        "CdcApply.read_ms_p50" -> readMs,
        "CdcApply.reads" -> r.reads.size.toDouble,
        "ExactlyOnce.ledger_files" -> Flow.ledgerFiles(s"$stateDir/_ledger").toDouble,
        "ExactlyOnce.fenced_skips" -> 1.0,
        "generator.files" -> r.epochS.size.toDouble,
        "generator.events" -> r.records.sum.toDouble,
        "trace.overhead_pct" -> (rate(false) / rate(true) - 1) * 100) ++ probe.get.metrics(cpus)
      Outcome(Nil, layers, r.attempted, r.failed)
    }
  }
}
