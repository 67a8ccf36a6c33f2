package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.SparkSession

import graft.config.CdcParams
import graft.operators.ExactlyOnce
import graft.streaming.CdcPipeline

/** `binlog_tail`: small part files land in the stream's landing zone and
  * `CdcPipeline.build` → `CdcPipeline.transactionalSink` tails them into
  * the recording producer. Open loop: a generator thread renames staged
  * files into the zone on a fixed schedule whatever the stream does, and
  * each file is timed from its due time to the commit that makes its last
  * event visible. A second phase lands a burst of files at once and
  * measures how fast the stream drains a standing backlog.
  */
final class BinlogTail(work: String, seed: Long, cpus: Int) extends Workload {
  /** Events per landed file. */
  val FileEvents = 500
  /** Reference rate: one file every 800 ms, well inside capacity. */
  val IntervalMs = 800L
  /** Trigger interval of the streaming query, in seconds: 0 starts the
    * next micro-batch as soon as the previous one ends and data is there.
    */
  val TriggerSeconds = 0
  val MaxFiles = 64
  val WarmFiles = 4
  /** A run whose generator released a file later than this is invalid. */
  val MaxLateMs = 150.0
  private val staged = s"$work/staged"
  private val zoneRoot = s"$work/zone"
  private val zone = s"$zoneRoot/events.parquet"
  private val warm = s"$work/warm"

  def generate(spark: SparkSession, trace: Boolean): Unit = {
    val tmp = s"$work/staged-tmp"
    Events.write(spark, seed,
      (0 until MaxFiles).map(f => (f.toLong * FileEvents, (f + 1L) * FileEvents)), tmp)
    new File(staged).mkdirs()
    // one input partition per file: part-<n> holds file n's events; the
    // stream takes files oldest first, so modification times follow n
    val base = System.currentTimeMillis() - MaxFiles * 1000L
    new File(tmp).listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).foreach { f =>
      val n = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val dst = new File(staged, f"$n%05d.parquet")
      Files.move(f.toPath, dst.toPath)
      dst.setLastModified(base + n * 1000L)
    }
    Events.write(spark, seed, (0 until WarmFiles).map(f =>
      (f.toLong * FileEvents, (f + 1L) * FileEvents)), s"$warm/events.parquet")
  }

  private def params(checkpoint: String) = CdcParams(topic = "cdc_topic",
    topicPrefix = Events.TopicPrefix, checkpointDir = checkpoint,
    checkpointInterval = TriggerSeconds, tablePk = Events.TablePk)

  private def start(spark: SparkSession, root: String, checkpoint: String) = {
    val p = params(checkpoint)
    CdcPipeline.transactionalSink(CdcPipeline.build(spark, root, p, Events.Partitions), p,
      b => new RecordingProducer(b)).start()
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    Flow.produce(spark, warm, s"$work/warm-ledger-$round", 0L)
    Recorder.reset()
  }

  /** Commit tracking: per file, events seen and the last commit time. */
  private val seen = new Array[Int](MaxFiles)
  private val doneNs = new Array[Long](MaxFiles)
  private val batchOf = new Array[Long](MaxFiles)
  private var txns = Vector.empty[Txn]
  private val released = new AtomicInteger(0)
  private var startS = 0.0
  private val landed = new java.util.concurrent.atomic.AtomicIntegerArray(MaxFiles)

  private def poll(): Unit = {
    val ts = Recorder.drain()
    ts.foreach { t =>
      t.ids.foreach { id =>
        val f = (id / FileEvents).toInt
        if (f >= 0 && f < MaxFiles) {
          seen(f) += 1
          doneNs(f) = math.max(doneNs(f), t.commitNs)
          batchOf(f) = t.batchId
        }
      }
    }
    txns ++= ts
  }
  private def done(f: Int): Boolean = seen(f) >= FileEvents

  private def land(f: Int): Unit = {
    Files.move(new File(staged, f"$f%05d.parquet").toPath,
      new File(zone, f"$f%05d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
    landed.set(f, 1)
    released.incrementAndGet()
  }

  private final class Phase(val files: Seq[Int], val dueNs: Map[Int, Long], val lateMs: Double,
      val backlogMax: Int, val backlog: Seq[(Double, Int)]) {
    def latencyMs: Seq[Double] = files.map(f => (doneNs(f) - dueNs(f)) / 1e6)
  }

  /** Lands `files`, file i due at `start + i * intervalNs`, from a separate
    * thread, and waits until every landed file is committed.
    */
  private def phase(files: Seq[Int], intervalNs: Long): Phase = {
    val start = System.nanoTime() + 50000000L
    val due = files.zipWithIndex.map { case (f, i) => f -> (start + i * intervalNs) }.toMap
    val late = new AtomicLong(0L)
    val gen = new Thread(() => files.foreach { f =>
      val wait = due(f) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      land(f)
      late.accumulateAndGet(System.nanoTime() - due(f), (a, b) => math.max(a, b))
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    var backlogMax = 0
    val backlog = Vector.newBuilder[(Double, Int)]
    val deadline = start + files.size * intervalNs + 60000000000L
    while (gen.isAlive || !files.forall(done)) {
      require(System.nanoTime() < deadline, "stream did not commit the landed files in time")
      Thread.sleep(10)
      poll()
      val open = files.count(f => landed.get(f) == 1 && !done(f))
      backlogMax = math.max(backlogMax, open)
      backlog += (System.nanoTime() / 1e9 -> open)
    }
    gen.join()
    new Phase(files, due, late.get / 1e6, backlogMax, backlog.result())
  }

  /** Least-squares slope of the backlog, in files per second. */
  private def growth(xs: Seq[(Double, Int)]): Double = {
    val n = xs.size.toDouble
    val mx = xs.map(_._1).sum / n
    val my = xs.map(_._2.toDouble).sum / n
    val sxx = xs.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else xs.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }

  def run(spark: SparkSession, seconds: Double, trace: Boolean, spans: Spans): Outcome = {
    val exp = Recorder.expectedEvents(seed, MaxFiles * FileEvents)
    Recorder.reset()
    new File(zone).mkdirs()
    land(0) // the first file gives the stream its schema and first batch
    val started = System.nanoTime()
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val query = start(spark, zoneRoot, s"$work/checkpoint")
    val sp = new SparkProbe(spark)
    val phases = try {
      val warmDeadline = System.nanoTime() + 120000000000L
      while (!done(0)) {
        require(System.nanoTime() < warmDeadline, "stream did not commit its first file")
        Thread.sleep(5)
        poll()
      }
      startS = Stats.secondsSince(started)
      var next = 1
      def take(n: Int): Seq[Int] = {
        val fs = next until math.min(MaxFiles, next + n)
        next += fs.size
        fs
      }
      // untimed warm-in: a few back-to-back micro-batches before the window
      phase(take(WarmFiles), 0L)
      val refFiles = math.max(8, (seconds * 0.6 * 1000 / IntervalMs).toInt)
      val interval = IntervalMs * 1000000L
      def tracedPhase(fs: Seq[Int], interval: Long): Phase = {
        probe.enabled = true
        try sp.traced(fs.size)(phase(fs, interval)) finally probe.enabled = false
      }
      // a traced run alternates untraced and traced pairs of files, so both
      // see the same warm-up drift
      val (plain, ref) =
        if (!trace) (Nil, Seq(phase(take(refFiles), interval)))
        else {
          val pairs = (0 until refFiles / 2).map(i =>
            if (i % 2 == 1) Right(tracedPhase(take(2), interval)) else Left(phase(take(2), interval)))
          (pairs.collect { case Left(p) => p }, pairs.collect { case Right(p) => p })
        }
      val perBatchS = math.max(0.1, Stats.median(ref.flatMap(_.latencyMs)) / 1000)
      val burstFiles = take(math.max(6, (seconds * 0.4 / perBatchS).toInt))
      val burst = if (trace) tracedPhase(burstFiles, 0L) else phase(burstFiles, 0L)
      (plain, ref, burst)
    } finally {
      query.stop()
      spark.streams.removeListener(probe)
    }
    val (plain, ref, burst) = phases
    def cleanLatency(ps: Seq[Phase]) = Steal.robust(ps.flatMap(p =>
      p.files.map(f => (p.dueNs(f), doneNs(f)))), 4)(identity)
      .map { case (due, done) => (done - due) / 1e6 }
    val refLatency = cleanLatency(ref)
    poll()
    val lateMs = (plain ++ ref :+ burst).map(_.lateMs).max
    if (lateMs > MaxLateMs)
      throw new InvalidRun(f"generator released a file $lateMs%.1f ms late")
    val landedFiles = released.get
    val (attempted, failed) = Recorder.check(txns, landedFiles * FileEvents, exp._1, exp._2)
    // a replay of the last epoch must be fenced by its ledger marker
    val ledger = s"$work/checkpoint/ledger"
    val lastBatch = txns.map(_.batchId).max
    val made = Recorder.producers.get
    ExactlyOnce.foreachBatchTransactionalKafka(ledger, b => new RecordingProducer(b))(
      Flow.projected(spark, zoneRoot).limit(0), lastBatch)
    val fenced = Recorder.drain().isEmpty && Recorder.producers.get == made
    // drain rate: one file per gap between successive commits of the burst
    val commits = burst.files.map(doneNs(_)).sorted
    val gaps = Steal.robust(commits.zip(commits.tail), 4)(identity)
    val drainRate = FileEvents / Stats.median(gaps.map { case (a, b) => (b - a) / 1e9 })
    val refP50 = Stats.median(refLatency)
    val total = (attempted + 1, failed + (if (fenced) 0 else 1))
    if (!trace)
      Outcome(Seq("throughput_per_s" -> drainRate, "latency_p50_ms" -> refP50),
        Nil, total._1, total._2)
    else {
      val batches = probe.all
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
      val batchStartMs = batches.map(b => b.batchId -> b.startMs).toMap
      // stream progress stamps wall-clock milliseconds; map them onto the
      // monotonic clock the files were due on
      val nsAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val queueWait = ref.flatMap(p => p.files.flatMap(f => batchStartMs.get(batchOf(f))
        .map(ms => (ms * 1000000L + nsAtEpochMs - p.dueNs(f)) / 1e6)))
      val traced = txns.filter(t => batches.exists(_.batchId == t.batchId))
      batches.foreach { b =>
        val id = spans.record("CdcPipeline.batch", 0, b.startMs * 1000000L + nsAtEpochMs,
          (b.startMs + b.durations.getOrElse("triggerExecution", 0L)) * 1000000L + nsAtEpochMs)
        traced.filter(_.batchId == b.batchId)
          .foreach(t => spans.record("ExactlyOnce.txn", id, t.beginNs, t.commitNs))
      }
      val cuts = Flow.layerCuts(spark, zoneRoot, s"$work/cut-ledger", spans)
      val rows = landedFiles.toDouble * FileEvents
      val layers = Seq(
        "CdcPipeline.start_s" -> startS,
        "CdcPipeline.batches" -> batches.size.toDouble,
        "CdcPipeline.rows_per_batch_p50" -> Stats.median(batches.map(_.rows.toDouble)),
        "CdcPipeline.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
        "CdcPipeline.trigger_ms_max" -> Stats.max(dur("triggerExecution")),
        "CdcPipeline.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
        "CdcPipeline.query_planning_ms_p50" -> Stats.median(dur("queryPlanning")),
        "CdcPipeline.latest_offset_ms_p50" -> Stats.median(dur("latestOffset")),
        "CdcPipeline.get_batch_ms_p50" -> Stats.median(dur("getBatch")),
        "CdcPipeline.wal_commit_ms_p50" -> Stats.median(dur("walCommit")),
        "CdcPipeline.commit_offsets_ms_p50" -> Stats.median(dur("commitOffsets")),
        "CdcPipeline.queue_wait_ms_p50" -> Stats.median(queueWait),
        "CdcPipeline.backlog_files_max" -> ref.map(_.backlogMax).max.toDouble,
        "CdcPipeline.backlog_growth" -> growth(ref.flatMap(_.backlog)),
        "CdcPipeline.commit_samples" -> refLatency.size.toDouble,
        "CdcReplay.busy_s" -> cuts(1),
        "CdcReplay.rows_per_s" -> Flow.rate(rows, cuts(1)),
        "CdcEnrichment.busy_s" -> (cuts(2) - cuts(1)),
        "CdcEnrichment.rows_per_s" -> Flow.rate(rows, cuts(2) - cuts(1)),
        "CdcEnrichment.dropped" -> (rows - txns.map(_.ids.length).sum),
        "KafkaProjection.busy_s" -> (cuts(3) - cuts(2)),
        "ExactlyOnce.produce_busy_s" -> traced.map(t => (t.commitNs - t.beginNs) / 1e9).sum,
        "ExactlyOnce.ledger_files" -> Flow.ledgerFiles(ledger).toDouble,
        "ExactlyOnce.fenced_skips" -> (if (fenced) 1.0 else 0.0),
        "generator.late_ms_max" -> lateMs,
        "generator.files" -> landedFiles.toDouble,
        "generator.events" -> rows,
        "trace.overhead_pct" -> {
          val u = Stats.median(cleanLatency(plain))
          (refP50 - u) / u * 100
        }) ++ Flow.txnLayers(traced, batches.size) ++ sp.metrics(cpus)
      Outcome(Nil, layers, total._1, total._2)
    }
  }
}

/** The run broke its own preconditions (the generator fell behind): it
  * is reported as invalid rather than measured.
  */
final class InvalidRun(msg: String) extends RuntimeException(msg)
