package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingDedup

/** Online near-dup detection: a document colliding with an earlier
  * one (in any LSH band) is flagged on arrival; unrelated documents
  * are not; state survives across micro-batches.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val textA =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private val textB =
    "completely different content about spark catalyst optimizer internals"

  test("exact copy in a later micro-batch collides in every band") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val events = StreamingDedup.nearDupEvents(in.toDF().toDF("doc_id", "text"))
    val q = events.writeStream.format("memory")
      .queryName("dedup_events").outputMode("append").start()
    try {
      in.addData((1L, textA), (3L, textB))
      q.processAllAvailable()
      // batch 1: two unrelated docs — no collisions
      assert(spark.table("dedup_events").count() == 0)

      in.addData((2L, textA)) // verbatim copy of doc 1, one batch later
      q.processAllAvailable()
      val evs = spark.table("dedup_events")
        .as[StreamingDedup.DupEvent].collect()
      // identical text ⇒ identical signature ⇒ all 4 bands collide,
      // each against the original claimant
      assert(evs.length == 4, evs.mkString(","))
      assert(evs.forall(e => e.doc_id == 2L && e.dup_of == 1L))
      assert(evs.map(_.band).sorted.toSeq == Seq(0, 1, 2, 3))
    } finally q.stop()
  }

  test("within-batch duplicates resolve to the lowest doc_id as owner") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val events = StreamingDedup.nearDupEvents(in.toDF().toDF("doc_id", "text"))
    val q = events.writeStream.format("memory")
      .queryName("dedup_events2").outputMode("append").start()
    try {
      in.addData((7L, textA), (5L, textA), (9L, textB))
      q.processAllAvailable()
      val evs = spark.table("dedup_events2")
        .as[StreamingDedup.DupEvent].collect()
      assert(evs.nonEmpty)
      assert(evs.forall(e => e.doc_id == 7L && e.dup_of == 5L), evs.mkString(","))
    } finally q.stop()
  }

  test("bucket TTL: expired buckets re-admit, live buckets still collide") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val events = StreamingDedup.nearDupEvents(
      in.toDF().toDF("doc_id", "text"), bucketTtlMs = Some(4000L))
    val q = events.writeStream.format("memory")
      .queryName("dedup_events_ttl").outputMode("append").start()
    // processAllAvailable NEVER RETURNS on a processing-time-timeout
    // query: the engine keeps constructing (empty) batches to fire
    // timeouts, so "no new data" is never signaled — poll the sink.
    def awaitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("dedup_events_ttl").count() < n) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for $n dup events")
        Thread.sleep(100)
      }
    }
    try {
      // one batch: doc 1 claims, its copy doc 2 collides in all 4 bands
      in.addData((1L, textA), (2L, textA))
      awaitCount(4)
      val evs1 = spark.table("dedup_events_ttl")
        .as[StreamingDedup.DupEvent].collect()
      assert(evs1.forall(e => e.doc_id == 2L && e.dup_of == 1L),
        evs1.mkString(","))

      // sleep past the TTL: the engine's self-triggered empty batches
      // fire the processing-time timeout and drop the cold buckets
      Thread.sleep(8000)

      // doc 9 must be re-admitted as a fresh claimant (not flagged
      // against doc 1); its copy doc 10 then collides against doc 9
      in.addData((9L, textA), (10L, textA))
      awaitCount(8)
      val evs2 = spark.table("dedup_events_ttl")
        .as[StreamingDedup.DupEvent].collect().filter(_.doc_id >= 9L)
      assert(evs2.length == 4 &&
        evs2.forall(e => e.doc_id == 10L && e.dup_of == 9L),
        s"expected doc 9 re-admitted as owner, got ${evs2.mkString(",")}")
    } finally q.stop()
  }

  test("bucket state survives a checkpoint restart: dup detected post-restart") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft_sdedup").toString
    val inDir = s"$work/in"
    val ckpt = s"$work/ckpt"
    new java.io.File(inDir).mkdirs()

    val outDir = s"$work/out"
    // the memory sink can't recover from a checkpoint — use the file
    // sink, the recoverable one a real deployment would use
    def startQuery() = {
      val docs = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true")
        .parquet(inDir)
      StreamingDedup.nearDupEvents(docs)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }

    // run 1: the original claims its buckets, then the query stops
    Seq((1L, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$inDir/f1")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // run 2 (fresh query from the same checkpoint): a copy arriving
    // after the restart must still collide — the (band, sig) state was
    // recovered, not rebuilt from reprocessing
    Seq((2L, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$inDir/f2")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val evs = spark.read.parquet(outDir)
      .as[StreamingDedup.DupEvent].collect()
    assert(evs.length == 4, evs.mkString(","))
    assert(evs.forall(e => e.doc_id == 2L && e.dup_of == 1L))
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
