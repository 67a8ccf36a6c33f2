package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-level counters from Spark's public listener bus, summed over the
  * stretches of work run under [[traced]].
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong(0L)
  private val tasks = new AtomicLong(0L)
  private val runMs = new AtomicLong(0L)
  private val shuffleWrite = new AtomicLong(0L)
  private val shuffleRead = new AtomicLong(0L)
  private val spill = new AtomicLong(0L)
  private val stageTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private var wallNs = 0L
  private var gcS = 0.0
  private var units = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  /** Runs one unit of work (a pass, a group of files, an epoch) with the
    * probe attached, then lets the listener bus deliver its last events.
    */
  def traced[T](units: Int = 1)(f: => T): T = {
    spark.sparkContext.addSparkListener(this)
    val gc0 = Heap.gcSeconds()
    val t0 = System.nanoTime()
    try f finally {
      wallNs += System.nanoTime() - t0
      gcS += Heap.gcSeconds() - gc0
      this.units += units
      Thread.sleep(100)
      spark.sparkContext.removeSparkListener(this)
    }
  }

  /** The `spark.*` layer metrics per traced unit of work. */
  def metrics(cpus: Int): Seq[(String, Double)] = {
    // per multi-task stage, slowest over median task time
    val skews = stageTimes.values.asScala.map(_.asScala.map(_.toDouble).toSeq)
      .filter(_.size > 1).map(ts => ts.max / math.max(1.0, Stats.median(ts)))
    Seq(
      "spark.jobs_per_epoch" -> jobs.get.toDouble / math.max(1, units),
      "spark.tasks" -> tasks.get.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble,
      "spark.task_skew" -> Stats.median(skews),
      "spark.busy_share" -> runMs.get / 1000.0 / math.max(1e-9, wallNs / 1e9 * cpus),
      "spark.gc_s" -> gcS)
  }
}

final case class Batch(batchId: Long, rows: Long, startMs: Long, durations: Map[String, Long])

/** Micro-batch progress (the `durationMs` breakdown) from the public
  * StreamingQueryListener.
  */
final class StreamProbe extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var enabled = false

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (enabled && e.progress.numInputRows > 0) {
      val p = e.progress
      batches.add(Batch(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.batchId)
}
