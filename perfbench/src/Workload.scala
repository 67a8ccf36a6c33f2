package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.TablePkConfig
import graft.operators.{CdcEnrichment, ExactlyOnce, KafkaProjection}
import graft.sources.CdcReplay

/** What one measured window produced: end-to-end metrics (untraced runs),
  * per-layer metrics (traced runs) and the correctness tally.
  */
final case class Outcome(endToEnd: Seq[(String, Double)],
    layers: Seq[(String, Double)], attempted: Long, failed: Long)

trait Workload {
  /** Writes the workload's inputs; not part of any timed window. */
  def generate(spark: SparkSession, trace: Boolean): Unit
  /** The warm-up half of set-up: the workload's own path on a small input. */
  def warmup(spark: SparkSession, round: Int): Unit
  def run(spark: SparkSession, seconds: Double, trace: Boolean, spans: Spans): Outcome
}

/** The reference's batch path, replayed envelope to fenced produce, cut
  * after any of its four layers: 1 = CdcReplay, 2 = + CdcEnrichment,
  * 3 = + KafkaProjection (each written to the no-op sink), 4 = + the
  * ExactlyOnce fenced transactional produce into [[RecordingProducer]].
  */
object Flow {
  val config: TablePkConfig = TablePkConfig.parse(Events.TablePk)

  def projected(spark: SparkSession, src: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val enriched = CdcEnrichment.enrichMySql(CdcReplay.batch(spark, src).as[String], config)
    KafkaProjection.project(enriched.toDF(), "cdc_topic", Events.TopicPrefix,
      Events.Partitions)
  }

  def prefix(spark: SparkSession, src: String, layers: Int): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val df = layers match {
      case 1 => CdcReplay.batch(spark, src)
      case 2 => CdcEnrichment.enrichMySql(CdcReplay.batch(spark, src).as[String], config).toDF()
      case 3 => projected(spark, src)
    }
    df.write.format("noop").mode("overwrite").save()
  }

  def produce(spark: SparkSession, src: String, ledger: String, batchId: Long): Unit =
    ExactlyOnce.foreachBatchTransactionalKafka(ledger,
      b => new RecordingProducer(b))(projected(spark, src), batchId)

  /** Seconds of one pass cut after `layers` layers (4 = the full produce);
    * a layer's busy time is the difference between successive cuts.
    */
  def cut(spark: SparkSession, src: String, layers: Int, ledger: String, spans: Spans): Double =
    spans.span(s"cut$layers") { _ =>
      val t = System.nanoTime()
      if (layers < 4) prefix(spark, src, layers)
      else { produce(spark, src, ledger, 0L); Recorder.reset() }
      Stats.secondsSince(t)
    }

  /** Median seconds of each cut over three rounds of cuts 1 to 4. */
  def layerCuts(spark: SparkSession, src: String, ledgerPrefix: String,
      spans: Spans): Map[Int, Double] =
    (1 to 3).flatMap(r => (1 to 4).map(l => l -> cut(spark, src, l, s"$ledgerPrefix-$r", spans)))
      .groupBy(_._1).map { case (l, xs) => l -> Stats.median(xs.map(_._2)) }

  /** Rows per busy second; 0 when the layer's time is lost in the noise of
    * the cut passes (a difference of two timings can come out at or below 0).
    */
  def rate(rows: Double, busyS: Double): Double = if (busyS > 0) rows / busyS else 0.0

  def ledgerFiles(dir: String): Int =
    Option(new java.io.File(dir).list()).map(_.count(!_.endsWith(".crc"))).getOrElse(0)

  /** Bytes and files under `dir`, checksum side files excluded. */
  def footprint(dir: String): (Long, Int) = {
    var bytes = 0L
    var files = 0
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.endsWith(".crc")) { bytes += f.length; files += 1 }
    walk(new java.io.File(dir))
    (bytes, files)
  }

  /** Record counts of the 12 topic partitions, max over mean. */
  def partitionSkew(txns: Seq[Txn]): Double = {
    val counts = new Array[Long](Events.Partitions)
    txns.foreach(_.parts.foreach(p => if (p >= 0 && p < counts.length) counts(p) += 1))
    val mean = counts.sum.toDouble / counts.length
    if (mean == 0) 0.0 else counts.max / mean
  }

  def txnLayers(txns: Seq[Txn], epochs: Int): Seq[(String, Double)] = {
    val records = txns.map(_.ids.length.toLong).sum
    Seq(
      "ExactlyOnce.txns" -> txns.size.toDouble / math.max(1, epochs),
      "ExactlyOnce.records_per_txn" -> records.toDouble / math.max(1, txns.size),
      "ExactlyOnce.txn_open_ms_p50" -> Stats.median(txns.map(t => (t.commitNs - t.beginNs) / 1e6)),
      "KafkaProjection.bytes_per_record" -> txns.map(_.bytes).sum.toDouble / math.max(1L, records),
      "KafkaProjection.partition_skew" -> partitionSkew(txns))
  }
}
