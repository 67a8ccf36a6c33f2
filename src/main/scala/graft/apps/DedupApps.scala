package graft.apps

import org.apache.spark.sql.functions._

import graft.Sessions

/** Runnable demo of the durable standing near-dup index
  * ([[graft.streaming.StreamingLshIndex]]): a document stream folds
  * into a hash-sharded parquet LSH index under the bucketed epoch
  * ledger, then a SECOND stream — the "next day's job" — reopens the
  * same state directory and keeps ingesting, proving the index
  * outlives the stream that built it (the property a Spark state-store
  * operator, which dies with its checkpoint, cannot offer). Prints
  * index size, per-epoch duplicate events, and the cross-job dup hits
  * at the end.
  */
object StreamDedupIndexLocal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.sliding(2, 2).collectFirst {
      case Array("-sf_dir", v) => v }.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    import graft.streaming.StreamingLshIndex
    implicit val sc = spark.sqlContext
    import spark.implicits._

    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_lsh_demo_state").toString
    val eventsDir = java.nio.file.Files
      .createTempDirectory("graft_lsh_demo_events").toString

    val docs = graft.queries.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (day1, day2) = docs.splitAt(docs.size * 2 / 3)

    def runJob(chunks: Seq[Seq[(Long, String)]]): Unit = {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = in.toDS().toDF("doc_id", "text")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamingLshIndex.materializer(spark, stateDir, eventsDir)(
            batch, id)
        }
        .start()
      try chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
    }

    // day 1: build the index in 2 micro-batches
    runJob(day1.grouped((day1.size + 1) / 2).toSeq)
    val afterDay1 = StreamingLshIndex.index(spark, stateDir).count()
    val eventsDay1 = StreamingLshIndex
      .dupEvents(spark, stateDir, eventsDir).count()
    println(s"[lsh-demo] day 1: index=$afterDay1 buckets, " +
      s"dup events=$eventsDay1")

    // day 2: a NEW stream reopens the same state dir — arrivals that
    // collide with day-1 documents are flagged against day-1 owners.
    // NOTE: a fresh job's batchIds restart at 0; production would use
    // the checkpointed stream (monotone ids). Here the restart is the
    // point — the ledger fences only same-epoch replays, so day 2
    // feeds through explicit later epoch ids.
    val nextEpoch = 2L
    day2.grouped((day2.size + 1) / 2).zipWithIndex.foreach {
      case (chunk, i) =>
        StreamingLshIndex.materializer(spark, stateDir, eventsDir)(
          chunk.toDF("doc_id", "text"), nextEpoch + i)
    }
    val index = StreamingLshIndex.index(spark, stateDir)
    val events = StreamingLshIndex.dupEvents(spark, stateDir, eventsDir)
    val day1Max = day1.map(_._1).max
    val crossJob = events.filter(col("doc_id") > day1Max &&
      col("dup_of") <= day1Max)
    println(s"[lsh-demo] day 2 done: index=${index.count()} buckets, " +
      s"events total=${events.count()}, cross-job dup hits " +
      s"(day-2 doc vs day-1 owner)=${crossJob.count()}")
    crossJob.orderBy(col("doc_id")).show(5, truncate = false)
    spark.stop()
  }
}
