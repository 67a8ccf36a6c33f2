package graft.perfbench

import org.apache.spark.sql.SparkSession

/** `snapshot_bulk`: a seeded initial load of the `events` table, all keys
  * distinct, pushed through replay → enrich → project → fenced produce in
  * one epoch per pass. Closed loop: passes run back to back until the
  * window ends; each pass loads the whole snapshot into a fresh ledger.
  */
final class SnapshotBulk(work: String, seed: Long, cpus: Int) extends Workload {
  val N = 300000
  val WarmEvents = 100000
  val SingleCoreEvents = 100000
  private val src = s"$work/snapshot"
  private val warm = s"$work/warm"
  private val single = s"$work/single"
  private var ledgers = 0
  private def nextLedger(): String = { ledgers += 1; s"$work/ledger-$ledgers" }

  private def ranges(n: Long, files: Int): Seq[(Long, Long)] =
    (0 until files).map(f => (n * f / files, n * (f + 1) / files))

  def generate(spark: SparkSession, trace: Boolean): Unit = {
    Events.write(spark, seed, ranges(N, 2 * cpus), s"$src/events.parquet")
    Events.write(spark, seed, ranges(WarmEvents, 1), s"$warm/events.parquet")
    if (trace) Events.write(spark, seed, ranges(SingleCoreEvents, 2), s"$single/events.parquet")
  }

  def warmup(spark: SparkSession, round: Int): Unit = {
    Flow.produce(spark, warm, nextLedger(), 0L)
    Recorder.reset()
  }

  private final class Pass(val startNs: Long, val events: Int, val seconds: Double,
      val commitP50Ms: Double,
      val txns: Vector[Txn], val attempted: Long, val failed: Long, val ledger: String) {
    def rate: Double = events / seconds
    def interval: (Long, Long) = (startNs, startNs + (seconds * 1e9).toLong)
  }

  /** One full snapshot load, then a replay of its epoch, which the ledger
    * must fence: the replay may create no producer and deliver nothing.
    */
  private def pass(spark: SparkSession, dir: String, n: Int,
      exp: (Array[Int], Array[Long]), spans: Spans): Pass = {
    Recorder.reset()
    val ledger = nextLedger()
    val t0 = System.nanoTime()
    val spanId = spans.span("snapshot.pass") { id => Flow.produce(spark, dir, ledger, 0L); id }
    val seconds = Stats.secondsSince(t0)
    val txns = Recorder.drain()
    txns.foreach(t => spans.record("ExactlyOnce.txn", spanId, t.beginNs, t.commitNs))
    val (attempted, failed) = Recorder.check(txns, n, exp._1, exp._2)
    val made = Recorder.producers.get
    Flow.produce(spark, dir, ledger, 0L)
    val replayed = Recorder.drain().size + Recorder.producers.get - made
    // each record becomes visible when its transaction commits
    val byCommit = txns.sortBy(_.commitNs)
    val total = txns.map(_.ids.length.toLong).sum
    var acc = 0L
    val p50Ns = byCommit.find { t => acc += t.ids.length; acc * 2 >= total }
      .map(_.commitNs).getOrElse(System.nanoTime())
    new Pass(t0, n, seconds, (p50Ns - t0) / 1e6, txns, attempted + 1,
      failed + (if (replayed == 0) 0 else 1), ledger)
  }

  def run(spark: SparkSession, seconds: Double, trace: Boolean, spans: Spans): Outcome = {
    val exp = Recorder.expectedEvents(seed, N)
    // passes back to back until the window ends; a window whose passes the
    // host mostly stole from runs on, up to twice as long, until two passes
    // ran clean. A traced run instead makes rounds of an untraced pass, a
    // traced pass and the four layer cuts, so all of them see the same
    // warm-up drift.
    val probe = new SparkProbe(spark)
    val t0 = System.nanoTime()
    val plain = Vector.newBuilder[Pass]
    val traced = Vector.newBuilder[Pass]
    val cuts = Vector.newBuilder[(Int, Double)]
    def more = Stats.secondsSince(t0) < seconds || (plain.result()
      .count(p => Steal.clean(p.interval._1, p.interval._2)) < 2 &&
      Stats.secondsSince(t0) < 2 * seconds)
    if (!trace) while (plain.result().size < 2 || more) plain += pass(spark, src, N, exp, Spans.off)
    else (1 to 3).foreach { _ =>
      plain += pass(spark, src, N, exp, Spans.off)
      traced += probe.traced()(pass(spark, src, N, exp, spans))
      (1 to 4).foreach(l => cuts += l -> Flow.cut(spark, src, l, nextLedger(), spans))
    }
    val allPlain = plain.result()
    val allTraced = traced.result()
    val tally = (allPlain ++ allTraced).map(_.attempted).sum ->
      (allPlain ++ allTraced).map(_.failed).sum
    val ps = Steal.robust(allPlain, 2)(_.interval)
    val ts = Steal.robust(allTraced, 2)(_.interval)
    val untraced = Stats.median(ps.map(_.seconds))
    if (!trace)
      Outcome(Seq("throughput_per_s" -> N / untraced,
        "latency_p50_ms" -> Stats.median(ps.map(_.commitP50Ms))), Nil, tally._1, tally._2)
    else {
      val cut = cuts.result().groupBy(_._1).map { case (l, xs) => l -> Stats.median(xs.map(_._2)) }
      val bytesPerRow = {
        import org.apache.spark.sql.functions.{avg, col, length}
        graft.sources.CdcReplay.batch(spark, src).agg(avg(length(col("value")))).head().getDouble(0)
      }
      val txns = ts.flatMap(_.txns)
      val delivered = txns.map(_.ids.length.toLong).sum / ts.size
      val truncated = (0L until N).count(id => Events.truncated(Events.event(seed, id)))
      val sparkLayers = probe.metrics(cpus)
      val single = singleCore(spark)
      val replay = cut(1)
      val enrich = cut(2) - cut(1)
      val layers = Seq(
        "CdcReplay.busy_s" -> replay,
        "CdcReplay.rows_per_s" -> Flow.rate(N, replay),
        "CdcReplay.bytes_per_row" -> bytesPerRow,
        "CdcEnrichment.busy_s" -> enrich,
        "CdcEnrichment.rows_per_s" -> Flow.rate(N, enrich),
        "CdcEnrichment.dropped" -> (N - delivered).toDouble,
        "CdcEnrichment.truncated_share" -> truncated.toDouble / N,
        "KafkaProjection.busy_s" -> (cut(3) - cut(2)),
        "ExactlyOnce.produce_busy_s" -> (cut(4) - cut(3)),
        "ExactlyOnce.ledger_files" -> Flow.ledgerFiles(ts.last.ledger).toDouble,
        "ExactlyOnce.fenced_skips" -> ts.size.toDouble,
        "generator.files" -> 2.0 * cpus,
        "generator.events" -> N.toDouble,
        "trace.overhead_pct" -> (Stats.median(ts.map(_.seconds)) - untraced) / untraced * 100,
        "trace.layer_sum_gap_pct" -> (cut(4) - untraced) / untraced * 100,
        "scaling.single_core_events_per_s" -> single.rate,
        "scaling.speedup" -> (N / untraced) / single.rate) ++
        Flow.txnLayers(txns, ts.size) ++ sparkLayers
      Outcome(Nil, layers, tally._1 + single.attempted, tally._2 + single.failed)
    }
  }

  /** The same pass on a one-core session: the scaling baseline. Stops the
    * caller's session; the one-core session is left active for the caller
    * to stop.
    */
  private def singleCore(spark: SparkSession): Pass = {
    spark.stop()
    val one = Main.session(1, work)
    Flow.produce(one, warm, nextLedger(), 0L)
    Recorder.reset()
    pass(one, single, SingleCoreEvents, Recorder.expectedEvents(seed, SingleCoreEvents), Spans.off)
  }
}
