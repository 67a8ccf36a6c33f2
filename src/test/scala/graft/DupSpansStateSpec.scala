package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce
import graft.streaming.StreamingDupSpans

/** Durable standing-index state for the streaming dup-spans twin: the
  * LSM-style append-only protocol (per-epoch delta parquet + periodic
  * compaction, all ledger-fenced) yields bit-for-bit the batch
  * `txt_dup_spans_prefix` answer after an ordered replay, and a torn
  * epoch (delta written, marker missing) is invisible until replayed.
  */
class DupSpansStateSpec extends SparkSpec {

  /** One fenced delta epoch of the per-bucket LSM (4 buckets on `gh1`). */
  private def commitDelta(stateDir: String, batchId: Long)(
      delta: => org.apache.spark.sql.DataFrame): Boolean =
    ExactlyOnce.appendDeltaBucketed(spark, stateDir, batchId, "gh1", 4)(delta)

  test("durable materializer matches batch txt_dup_spans_prefix " +
      "bit-for-bit, compacting mid-stream") {
    val batchTruth = SparkEntry.queries("txt_dup_spans_prefix")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_words")))
      .sorted.toSeq

    val docs = queries.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .as[(Long, String)](org.apache.spark.sql.Encoders.product[(Long, String)])
      .collect().toSeq

    val stateDir = Files.createTempDirectory("graft_dupspans_state").toString
    val spansDir = Files.createTempDirectory("graft_dupspans_out").toString
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // compactEvery=2 forces at least one mid-stream fold of the deltas
    val q = in.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch(
        StreamingDupSpans.materializer(spark, stateDir, spansDir, 2) _)
      .start()
    try {
      docs.grouped((docs.size + 3) / 4).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(spansDir).drop("epoch").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_words")))
      .sorted.toSeq
    assert(streamed == batchTruth,
      s"stream mined ${streamed.size} spans, batch found ${batchTruth.size}")

    // compaction happened: a committed base exists and folded deltas are
    // retired, so the standing index is NOT one dir per epoch
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(
      new org.apache.hadoop.fs.Path(stateDir)).map(_.getPath.getName).toSet
    assert(entries.exists(_.startsWith("base-")), s"no compacted base in $entries")
    assert(entries.count(_.startsWith("delta-")) < 4,
      s"folded deltas were not retired: $entries")

    // the standing index equals the batch's full first-seen aggregate
    val idx = ExactlyOnce.appendedState(spark, stateDir)(
      StreamingDupSpans.emptyIndex(spark))
    val expectedDistinct = StreamingDupSpans.newHashes(
      StreamingDupSpans.emptyIndex(spark),
      queries.Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .count()
    assert(idx.count() == expectedDistinct)
    assert(idx.select(col("gh1"), col("gh2")).distinct().count() == expectedDistinct)

    // the per-epoch probe is bucket-pruned: a steady-state batch reads
    // ONLY the buckets its grams land in, never the standing index. A
    // single 8-token doc has exactly one gram -> one touched bucket,
    // and every file the pruned probe scans must sit under that
    // bucket's partition dirs (base + deltas alike).
    import spark.implicits._
    val tiny = Seq((999999L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val touched = StreamingDupSpans.touchedBuckets(
      tiny, StreamingDupSpans.DefaultBuckets)
    assert(touched.size == 1, s"one gram must touch one bucket: $touched")
    val probe = StreamingDupSpans.probeIndex(spark, stateDir, touched)
    val BucketLeaf = ".*/__bucket=(\\d+)/[^/]+$".r
    val probeFiles = probe.inputFiles.toSeq
    assert(probeFiles.nonEmpty, "pruned probe read no files")
    probeFiles.foreach {
      case f @ BucketLeaf(b) =>
        assert(touched.contains(b.toInt),
          s"probe read $f outside touched buckets $touched")
      case f => fail(s"probe read a non-bucketed file: $f")
    }
    // and the pruned probe mines the same spans a full-index probe
    // would (a gram's bucket is a function of gh1 — nothing outside
    // the touched buckets can match)
    val full = ExactlyOnce.appendedState(spark, stateDir)(
      StreamingDupSpans.emptyIndex(spark))
      .select(col("gh1"), col("gh2"), col("dmin"))
    val (prunedSpans, _) = StreamingDupSpans.advanceOrdered(probe, tiny)
    val (fullSpans, _) = StreamingDupSpans.advanceOrdered(full, tiny)
    assert(prunedSpans.collect().toSeq.sortBy(_.toString) ==
      fullSpans.collect().toSeq.sortBy(_.toString))
  }

  test("compaction crash windows: an unmarked base is invisible; a marked " +
      "base with unretired inputs never double-counts") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_compact_crash").toString
    val empty = StreamingDupSpans.emptyIndex(spark)
    commitDelta(stateDir, 0L)(
      Seq((1L, 1L, 1L)).toDF("gh1", "gh2", "dmin"))
    commitDelta(stateDir, 1L)(
      Seq((2L, 2L, 2L)).toDF("gh1", "gh2", "dmin"))

    // crash BETWEEN base write and compact marker: the orphan base is
    // invisible — the reader still unions the deltas
    ExactlyOnce.appendedState(spark, stateDir)(empty)
      .write.parquet(s"$stateDir/base-1")
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 2)

    // re-running compaction overwrites the orphan and commits; the
    // folded state is identical
    assert(ExactlyOnce.compactAppended(spark, stateDir)(empty) == Some(1L))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 2)

    // crash BETWEEN compact marker and input retirement: resurrect a
    // folded delta dir — the reader prefers the base and must NOT
    // double-count the resurrected input
    Seq((2L, 2L, 2L)).toDF("gh1", "gh2", "dmin")
      .write.parquet(s"$stateDir/delta-9991")
    // (an unmarked delta dir is invisible regardless of its name)
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 2)
    Seq((1L, 1L, 1L)).toDF("gh1", "gh2", "dmin")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$stateDir/delta-0")
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 2)

    // a delta committed AFTER the base keeps appending on top of it
    commitDelta(stateDir, 2L)(
      Seq((3L, 3L, 3L)).toDF("gh1", "gh2", "dmin"))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 3)

    // an orphan base from a crashed LATER compaction (base written, no
    // marker, then epochs moved on) is deleted by the next successful
    // compaction instead of leaking forever
    Seq((9L, 9L, 9L)).toDF("gh1", "gh2", "dmin")
      .write.parquet(s"$stateDir/base-77")
    assert(ExactlyOnce.compactAppended(spark, stateDir)(empty) == Some(2L))
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs2.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).toSet
    assert(!dirs.contains("base-77"), s"orphan base leaked: $dirs")
    assert(!dirs.contains("base-1"), s"superseded base leaked: $dirs")
    assert(dirs.contains("base-2"))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 3)
  }

  test("compaction folds subsumed epoch markers into a high watermark: " +
      "the ledger stays O(live deltas) and folded epochs remain fenced") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_fold").toString
    val empty = StreamingDupSpans.emptyIndex(spark)
    (0L to 3L).foreach(e => commitDelta(stateDir, e)(
      Seq((e, e, e)).toDF("gh1", "gh2", "dmin")))
    assert(ExactlyOnce.compactAppended(spark, stateDir)(empty) == Some(3L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ledger = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$stateDir/_ledger"))
      .map(_.getPath.getName).toSet
    assert(!ledger.exists(_.matches("^epoch-\\d+$")),
      s"subsumed epoch markers not folded: $ledger")
    assert(ledger.exists(_.startsWith("hwm-")), s"no high watermark: $ledger")
    // a replay of any folded epoch is still fenced — by the watermark
    assert(!commitDelta(stateDir, 2L)(
      Seq((99L, 99L, 99L)).toDF("gh1", "gh2", "dmin")))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 4)
    // and new epochs continue on top of the folded ledger
    assert(commitDelta(stateDir, 4L)(
      Seq((40L, 40L, 40L)).toDF("gh1", "gh2", "dmin")))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 5)
  }

  test("a torn epoch's delta is invisible until its marker commits") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_append_crash").toString
    val empty = StreamingDupSpans.emptyIndex(spark)
    assert(commitDelta(stateDir, 0L)(
      Seq((1L, 2L, 3L)).toDF("gh1", "gh2", "dmin")))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 1)

    // torn epoch 1: delta parquet written, crash BEFORE the marker
    Seq((4L, 5L, 6L)).toDF("gh1", "gh2", "dmin")
      .write.parquet(s"$stateDir/delta-1")
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 1)

    // the replay overwrites the orphan and commits it
    assert(commitDelta(stateDir, 1L)(
      Seq((4L, 5L, 7L)).toDF("gh1", "gh2", "dmin")))
    val rows = ExactlyOnce.appendedState(spark, stateDir)(empty)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows == Seq((1L, 2L, 3L), (4L, 5L, 7L)))

    // re-delivery of a committed epoch is fenced
    assert(!commitDelta(stateDir, 1L)(
      Seq((9L, 9L, 9L)).toDF("gh1", "gh2", "dmin")))
    assert(ExactlyOnce.appendedState(spark, stateDir)(empty).count() == 2)
  }
}
