package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.streaming.{StreamingDedup, StreamingLshIndex}

/** Online near-dup detection over [[StreamingDedup.bandRows]] and the
  * durable [[StreamingLshIndex]]: a document colliding with an earlier
  * one (in any LSH band) is flagged on arrival; unrelated documents
  * are not; the bucket owners survive across micro-batches and
  * restarts.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val textA =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private val textB =
    "completely different content about spark catalyst optimizer internals"

  private def dirs(): (String, String) = {
    val work = Files.createTempDirectory("graft_sdedup").toString
    (s"$work/index", s"$work/events")
  }

  private def events(stateDir: String, eventsDir: String)
      : Seq[(Long, Long, Int)] =
    StreamingLshIndex.dupEvents(spark, stateDir, eventsDir)
      .as[(Long, Long, Int)].collect().toSeq.sorted

  test("exact copy in a later micro-batch collides in every band") {
    val (stateDir, eventsDir) = dirs()
    val m = StreamingLshIndex.materializer(spark, stateDir, eventsDir) _
    m(Seq((1L, textA), (3L, textB)).toDF("doc_id", "text"), 0L)
    // batch 1: two unrelated docs — no collisions
    assert(events(stateDir, eventsDir).isEmpty)

    m(Seq((2L, textA)).toDF("doc_id", "text"), 1L) // copy of doc 1
    // identical text ⇒ identical signature ⇒ all 4 bands collide,
    // each against the original claimant
    assert(events(stateDir, eventsDir) == (0 until 4).map((2L, 1L, _)))
  }

  test("within-batch duplicates resolve to the lowest doc_id as owner") {
    val (stateDir, eventsDir) = dirs()
    StreamingLshIndex.materializer(spark, stateDir, eventsDir)(
      Seq((7L, textA), (5L, textA), (9L, textB)).toDF("doc_id", "text"), 0L)
    val evs = events(stateDir, eventsDir)
    assert(evs.nonEmpty)
    assert(evs.forall(e => e._1 == 7L && e._2 == 5L), evs.mkString(","))
  }

  test("bucket state survives a checkpoint restart: dup detected post-restart") {
    val work = Files.createTempDirectory("graft_sdedup_restart").toString
    val (inDir, ckpt) = (s"$work/in", s"$work/ckpt")
    val (stateDir, eventsDir) = (s"$work/index", s"$work/events")
    new java.io.File(inDir).mkdirs()
    def run(): Unit = {
      val q = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true")
        .parquet(inDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          StreamingLshIndex.materializer(spark, stateDir, eventsDir)(batch, id)
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // run 1: the original claims its buckets, then the query stops
    Seq((1L, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$inDir/f1")
    run()
    // run 2 (fresh query from the same checkpoint): a copy arriving
    // after the restart must still collide — the bucket owners were
    // recovered from the durable index, not rebuilt by reprocessing
    Seq((2L, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$inDir/f2")
    run()
    assert(events(stateDir, eventsDir) == (0 until 4).map((2L, 1L, _)))
  }

  test("band rows are computed without any aggregation or shuffle") {
    val df = StreamingDedup.bandRows(
      Seq((1L, textA)).toDF("doc_id", "text"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findFirstIn(p).isEmpty, p)
    assert(df.count() == 4) // one row per band
  }
}
