package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-then-incremental handoff — the `position=initial` semantics
  * (SURVEY §7 hard part 2). Flink CDC does a lock-free chunked snapshot
  * and records a binlog watermark; on completion the binlog reader
  * resumes from that watermark so each change is seen exactly once
  * across the phase switch.
  *
  * Spark decomposition:
  *   1. batch snapshot (a chunked JDBC read / parquet) recording the
  *      high-watermark offset (here: max event_id; in production the
  *      binlog file/pos captured at snapshot start),
  *   2. streaming phase reading ONLY records beyond the watermark
  *      (`CdcReplay.mongoStream`'s `afterId` over the file replay; Kafka
  *      `startingOffsets` on a cluster).
  *
  * The filter is pushed to the source, so the stream never rereads
  * snapshot data, and records landing during the snapshot are picked
  * up by the stream — no gap, no overlap, as [[graft.HandoffSpec]]
  * proves. [[MongoHandoff]] runs both phases for the Mongo feed.
  */
object SnapshotHandoff {

  final case class Snapshot(data: DataFrame, watermark: Long)

  /** Durable position bookkeeping: the snapshot watermark persisted under
    * `checkpointDir` so a restart resumes the incremental phase from the
    * SAME fence instead of re-snapshotting or re-reading — the Spark
    * equivalent of the reference persisting the binlog position in Flink
    * checkpoints (reference README.md:149,173-176: resume-from-savepoint).
    * Written atomically (temp file + rename) through the Hadoop FS API so
    * it works on any checkpoint filesystem (local, HDFS, object store
    * with rename semantics).
    */
  object PositionStore {
    private def fs(spark: SparkSession, dir: String) =
      org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    private def path(dir: String) =
      new org.apache.hadoop.fs.Path(s"$dir/graft-position/watermark")

    def save(spark: SparkSession, checkpointDir: String, watermark: Long): Unit = {
      val f = fs(spark, checkpointDir)
      val target = path(checkpointDir)
      val tmp = new org.apache.hadoop.fs.Path(target.toString + ".tmp")
      f.mkdirs(target.getParent)
      val out = f.create(tmp, true)
      try out.write(watermark.toString.getBytes("UTF-8")) finally out.close()
      f.delete(target, false)
      if (!f.rename(tmp, target))
        throw new java.io.IOException(s"could not commit watermark to $target")
    }

    def load(spark: SparkSession, checkpointDir: String): Option[Long] = {
      val f = fs(spark, checkpointDir)
      val target = path(checkpointDir)
      if (!f.exists(target)) None
      else {
        val in = f.open(target)
        try {
          // InputStream.read may return fewer bytes than available (an
          // object-store stream often does) — loop to EOF before parsing
          // or a partial read silently truncates the watermark.
          val bytes = new Array[Byte](64)
          var n = 0
          var r = in.read(bytes, 0, bytes.length)
          while (r > 0) { n += r; r = in.read(bytes, n, bytes.length - n) }
          Some(new String(bytes, 0, n, "UTF-8").trim.toLong)
        } finally in.close()
      }
    }
  }

  /** Phase 1: batch snapshot of events up to (and including) the
    * current high watermark.
    */
  def snapshot(spark: SparkSession, sfDir: String): Snapshot = {
    val all = graft.queries.Tables.events(spark, sfDir)
    val wm = all.agg(max(col("event_id"))).head().getLong(0)
    Snapshot(all.filter(col("event_id") <= wm), wm)
  }

  /** Phase 1 with durable position: an existing persisted watermark wins
    * (restart ⇒ the snapshot phase is already done — do NOT move the
    * fence, or records between the old and new high watermark would be
    * claimed by both phases); otherwise snapshot and persist before
    * returning, so a crash after this call resumes with the same fence.
    */
  def snapshotDurable(spark: SparkSession, sfDir: String,
      checkpointDir: String): Snapshot =
    PositionStore.load(spark, checkpointDir) match {
      case Some(wm) =>
        val all = graft.queries.Tables.events(spark, sfDir)
        Snapshot(all.filter(col("event_id") <= wm), wm)
      case None =>
        val snap = snapshot(spark, sfDir)
        PositionStore.save(spark, checkpointDir, snap.watermark)
        snap
    }
}
