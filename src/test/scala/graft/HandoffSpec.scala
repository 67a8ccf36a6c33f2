package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.sources.SnapshotHandoff

/** Proves the snapshot→incremental handoff sees every record exactly
  * once across the phase switch: records present at snapshot time come
  * from the batch phase, records arriving after come from the stream,
  * and the union has no gap and no overlap.
  */
class HandoffSpec extends SparkSpec {

  /** The event ids of change-stream envelopes (`_id` = `evt_<id>`). */
  private def ids(envelopes: org.apache.spark.sql.DataFrame) =
    envelopes.select(regexp_extract(get_json_object(col("value"), "$._id"),
      "^evt_(\\d+)$", 1).cast("long").as("event_id"))

  test("initial-position handoff: no gap, no overlap") {
    val work = Files.createTempDirectory("graft_handoff").toString

    // build a working copy with the first 600 events as the "existing" db
    val all = queries.Tables.events(spark, sf).cache()
    all.filter(col("event_id") < 600)
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    val snap = SnapshotHandoff.snapshot(spark, work)
    assert(snap.watermark == 599L)
    val snapCount = snap.data.count()
    assert(snapCount == 600)

    // "binlog continues": 400 more events arrive after the snapshot
    all.filter(col("event_id") >= 600)
      .coalesce(1).write.mode("append").parquet(s"$work/events.parquet")

    val stream = graft.sources.CdcReplay.mongoStream(spark, work,
      afterId = snap.watermark)
    val q = stream.writeStream.format("memory")
      .queryName("handoff_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = ids(spark.table("handoff_out"))
    // stream fence: nothing at or below the watermark (no overlap)
    assert(streamed.filter(col("event_id") <= snap.watermark).count() == 0)
    // snapshot + stream = every event exactly once (no gap)
    val total = snap.data.select(col("event_id"))
      .unionAll(streamed.select(col("event_id")))
    assert(total.count() == 1000)
    assert(total.distinct().count() == 1000)
  }

  test("durable handoff: restart resumes from the persisted watermark") {
    import graft.sources.MongoHandoff
    val work = Files.createTempDirectory("graft_handoff_d").toString
    val ckpt = Files.createTempDirectory("graft_handoff_ckpt").toString

    val all = queries.Tables.events(spark, sf).cache()
    all.filter(col("event_id") < 600)
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    // phase 1 persists the fence under the checkpoint dir
    val copy = MongoHandoff.copyExisting(spark, work, ckpt)
    assert(copy.watermark == 599L)
    assert(SnapshotHandoff.PositionStore.load(spark, ckpt).contains(599L))

    // more events land; the process "restarts": a durable re-run must
    // NOT move the fence even though the table's max id has grown
    all.filter(col("event_id") >= 600)
      .coalesce(1).write.mode("append").parquet(s"$work/events.parquet")
    val copyAfterRestart = MongoHandoff.copyExisting(spark, work, ckpt)
    assert(copyAfterRestart.watermark == 599L)

    // resume reads the persisted position, no in-memory state needed
    val stream = MongoHandoff.changeStream(spark, work, ckpt)
    val q = stream.writeStream.format("memory")
      .queryName("handoff_resume_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = ids(spark.table("handoff_resume_out"))
    assert(streamed.filter(col("event_id") <= 599L).count() == 0)
    val total = ids(copyAfterRestart.envelopes).unionAll(streamed)
    assert(total.count() == 1000)
    assert(total.distinct().count() == 1000)

    // resume without any persisted position fails fast
    intercept[IllegalStateException] {
      MongoHandoff.changeStream(spark, work,
        Files.createTempDirectory("graft_handoff_empty").toString)
    }
  }

  test("mongo copyExisting handoff: synthetic inserts + fenced change stream") {
    import graft.sources.MongoHandoff
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val work = Files.createTempDirectory("graft_mongo_handoff").toString
    val ckpt = Files.createTempDirectory("graft_mongo_ckpt").toString

    val all = queries.Tables.events(spark, sf).cache()
    all.filter(col("event_id") < 600)
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    val copy = MongoHandoff.copyExisting(spark, work, ckpt)
    assert(copy.watermark == 599L)
    // copy.existing emits synthetic INSERTS for every existing doc —
    // including rows whose replayed op would be update/delete
    val copied = graft.operators.CdcEnrichment.enrichMongo(
      copy.envelopes.as[String]).toDF().cache()
    assert(copied.count() == 600)
    val copyOps = copy.envelopes.select(
      get_json_object(col("value"), "$.operationType").as("op"))
    assert(copyOps.filter(col("op") =!= "insert").count() == 0)

    // tail arrives; the change stream is fenced past the watermark
    all.filter(col("event_id") >= 600)
      .coalesce(1).write.mode("append").parquet(s"$work/events.parquet")
    val stream = MongoHandoff.changeStream(spark, work, ckpt)
    val q = stream.writeStream.format("memory")
      .queryName("mongo_handoff_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("mongo_handoff_out")
      .select(get_json_object(col("value"), "$._id").as("id"))
    assert(streamed.count() == 400)
    // no overlap: the copy and the tail partition the key space exactly
    val copyIds = copied.select(col("partitionKey").as("id"))
    assert(copied.count() + streamed.count() == 1000)
    assert(copyIds.distinct().count() == 600)
  }
}
