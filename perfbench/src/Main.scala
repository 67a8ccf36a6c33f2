package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** CDC path benchmark: one workload, one seed, one measured window.
  *
  * {{{
  * Main --workload <snapshot_bulk|binlog_tail|replica_apply> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (timed as `setup_s`) is a SparkSession plus a warm-up pass of the
  * workload's own path, done three times; the median is reported. Input
  * generation happens inside the first set-up but is not counted. The last
  * line of stdout is the result object; with `--trace 0` it carries the
  * end-to-end metrics, with `--trace 1` the per-layer metrics (layers a
  * workload does not run read 0) and the spans go to `<work>/spans.jsonl`.
  */
object Main {
  val SetupRounds = 3

  /** Per-layer metric names and units; every traced run reports all. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "CdcReplay.busy_s" -> "s", "CdcReplay.rows_per_s" -> "1/s",
    "CdcReplay.bytes_per_row" -> "B",
    "CdcEnrichment.busy_s" -> "s", "CdcEnrichment.rows_per_s" -> "1/s",
    "CdcEnrichment.dropped" -> "count", "CdcEnrichment.truncated_share" -> "ratio",
    "KafkaProjection.busy_s" -> "s", "KafkaProjection.bytes_per_record" -> "B",
    "KafkaProjection.partition_skew" -> "ratio",
    "ExactlyOnce.produce_busy_s" -> "s", "ExactlyOnce.txns" -> "count",
    "ExactlyOnce.records_per_txn" -> "count", "ExactlyOnce.txn_open_ms_p50" -> "ms",
    "ExactlyOnce.ledger_files" -> "count", "ExactlyOnce.fenced_skips" -> "count",
    "CdcPipeline.start_s" -> "s", "CdcPipeline.batches" -> "count", "CdcPipeline.rows_per_batch_p50" -> "count",
    "CdcPipeline.trigger_ms_p50" -> "ms", "CdcPipeline.trigger_ms_max" -> "ms",
    "CdcPipeline.add_batch_ms_p50" -> "ms", "CdcPipeline.query_planning_ms_p50" -> "ms",
    "CdcPipeline.latest_offset_ms_p50" -> "ms", "CdcPipeline.get_batch_ms_p50" -> "ms",
    "CdcPipeline.wal_commit_ms_p50" -> "ms", "CdcPipeline.commit_offsets_ms_p50" -> "ms",
    "CdcPipeline.queue_wait_ms_p50" -> "ms", "CdcPipeline.backlog_files_max" -> "count",
    "CdcPipeline.backlog_growth" -> "1/s", "CdcPipeline.commit_samples" -> "count",
    "CdcApply.epoch_s_p50" -> "s", "CdcApply.epoch_s_max" -> "s",
    "CdcApply.changes_per_key" -> "ratio", "CdcApply.buckets_touched_p50" -> "count",
    "CdcApply.state_bytes" -> "B", "CdcApply.state_files" -> "count",
    "CdcApply.replica_rows" -> "count", "CdcApply.read_ms_p50" -> "ms",
    "CdcApply.reads" -> "count",
    "spark.jobs_per_epoch" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio",
    "spark.busy_share" -> "ratio", "spark.gc_s" -> "s",
    "generator.late_ms_max" -> "ms", "generator.files" -> "count",
    "generator.events" -> "count",
    "trace.overhead_pct" -> "%", "trace.layer_sum_gap_pct" -> "%",
    "scaling.single_core_events_per_s" -> "1/s", "scaling.speedup" -> "ratio")

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "live_heap_mb" -> "MB")

  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // bounded job/stage/query history, so the heap left after a run holds
      // the engine's own state rather than history that grows with the
      // number of jobs the window happened to fit
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.ui.retainedTasks", 500L)
      .config("spark.sql.ui.retainedExecutions", 20L)
      .config("spark.sql.streaming.numRecentProgressUpdates", 20L)
      .getOrCreate()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    deleteTree(new File(work))
    new File(work).mkdirs()
    val workload: Workload = name match {
      case "snapshot_bulk" => new SnapshotBulk(work, seed, cpus)
      case "binlog_tail" => new BinlogTail(work, seed, cpus)
      case "replica_apply" => new ReplicaApply(work, seed, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val start = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"perfbench: ${Stats.secondsSince(start)}%.1f s $what")
    Steal.start()
    val spans = new Spans(trace)
    try {
      val setups = (0 until SetupRounds).map { round =>
        val t0 = System.nanoTime()
        val spark = session(cpus, work)
        val g0 = System.nanoTime()
        log(f"session ${Stats.secondsSince(t0)}%.2f s")
        if (round == 0) workload.generate(spark, trace)
        val gen = Stats.secondsSince(g0)
        workload.warmup(spark, round)
        val s = Stats.secondsSince(t0) - gen
        log(f"set-up round $round: $s%.2f s (+ $gen%.2f s input generation)")
        if (round < SetupRounds - 1) spark.stop()
        spans.record("setup", 0, t0, System.nanoTime())
        s
      }
      val spark = SparkSession.active
      val out = workload.run(spark, seconds, trace, spans)
      log(s"measured: attempted=${out.attempted} failed=${out.failed}")
      val metrics =
        if (!trace) {
          val m = (out.endToEnd ++ Seq("setup_s" -> Stats.median(setups),
            "live_heap_mb" -> Heap.liveMb())).toMap
          EndToEndUnits.map { case (k, u) => k -> Map("value" -> m(k), "unit" -> u) }
        } else {
          val m = out.layers.toMap
          val unknown = m.keySet -- LayerUnits.map(_._1)
          require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
          LayerUnits.map { case (k, u) => k -> Map("value" -> m.getOrElse(k, 0.0), "unit" -> u) }
        }
      spans.write(s"$work/spans.jsonl")
      println(Json.obj(Seq("correct" -> (out.failed == 0), "attempted" -> out.attempted,
        "failed" -> out.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    } catch {
      case e: InvalidRun =>
        System.err.println(s"perfbench: invalid run: ${e.getMessage}")
        sys.exit(4)
    } finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    }
  }
}
