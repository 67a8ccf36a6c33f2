package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.CdcApply

/** CDC apply semantics: upserts keep the latest after-image, deletes
  * remove the key, replays are idempotent, and the streaming
  * materializer converges to the same replica as a single batch apply.
  */
class CdcApplySpec extends SparkSpec {

  private def enrichedBatch = queries.CdcQueries.enriched(spark, sf)

  test("batch apply: deletes removed, upserts keep latest image") {
    val empty = CdcApply.lastChangePerKey(enrichedBatch.limit(0)).drop("op")
    val state = CdcApply.applyBatch(empty, enrichedBatch)
    // 1000 events → 100 deletes (event_id%10==0) → 900 live keys
    assert(state.count() == 900)
    assert(state.filter(col("partitionKey").endsWith(".no_pk")).count() == 0)
    // a deleted key (event_id 0,10,...) is absent
    assert(state.filter(col("partitionKey") === "test_db.events.0").count() == 0)
    // an updated key (event_id 1 → op u) carries its after image
    val u = state.filter(col("partitionKey") === "test_db.events.1")
      .select(col("after").getItem("event_id")).head().getString(0)
    assert(u == "1")
  }

  test("the MySQL and Mongo last-change shapes, minus op, are the " +
      "replica schema") {
    import spark.implicits._
    val none = Seq.empty[(String, String)].toDF("partitionKey", "value")
    assert(CdcApply.lastChangePerKey(none).drop("op").schema ==
      CdcApply.replicaSchema)
    assert(CdcApply.lastChangePerKeyMongo(none).drop("op").schema ==
      CdcApply.replicaSchema)
  }

  test("replaying the same batch is idempotent") {
    val empty = CdcApply.lastChangePerKey(enrichedBatch.limit(0)).drop("op")
    val once = CdcApply.applyBatch(empty, enrichedBatch)
    val twice = CdcApply.applyBatch(once, enrichedBatch)
    assert(twice.count() == once.count())
    assert(twice.select(col("partitionKey"))
      .exceptAll(once.select(col("partitionKey"))).count() == 0)
  }

  test("version-guarded materializer converges to the ordered replica " +
      "under a SHUFFLED replay, and tombstones hold against late upserts") {
    val stateDir = Files.createTempDirectory("graft_apply_ooo").toString
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // deterministic NON-chronological permutation of the enriched feed
    val shuffled = queries.CdcQueries.enriched(spark, sf)
      .select(col("partitionKey"), col("value"))
      .orderBy(xxhash64(col("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = in.toDS().toDF("partitionKey", "value")
      .writeStream
      .foreachBatch(CdcApply.materializerVersioned(spark, stateDir) _)
      .start()
    try {
      shuffled.grouped((shuffled.size + 3) / 4).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val live = CdcApply.replicaVersioned(spark, stateDir)
    assert(live.count() == 900)
    // full row parity with the ordered batch surface despite the
    // shuffled arrival order
    val got = live.select(
      col("after").getItem("event_id").cast("long").as("event_id"),
      col("partitionKey").as("partition_key"),
      col("after").getItem("event_type").as("event_type_trunc"),
      col("after").getItem("value").as("value_str"))
    val want = SparkEntry.queries("cdc_apply_replica")(spark, sf)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)

    // a late epoch carrying genuinely OLDER changes — an upsert from
    // before a key's delete, and a stale image of a live key — must be
    // a complete no-op: the tombstone and the newer image win on
    // (ts_ms, pos)
    val lateOld = Seq(
      ("test_db.events.0",
        """{"after":{"event_id":"0","event_type":"late"},""" +
          """"source":{"ts_ms":0,"pos":0},"op":"c","ts_ms":0}"""),
      ("test_db.events.1",
        """{"after":{"event_id":"1","event_type":"stale"},""" +
          """"source":{"ts_ms":0,"pos":0},"op":"c","ts_ms":0}"""))
      .toDF("partitionKey", "value")
    CdcApply.materializerVersioned(spark, stateDir)(lateOld, 99L)
    val after = CdcApply.replicaVersioned(spark, stateDir)
    assert(after.count() == 900)
    // the deleted key stays dead despite the resurrection attempt
    assert(after.filter(col("partitionKey") === "test_db.events.0").count() == 0)
    // the live key keeps its newer image, not the stale one
    assert(after.filter(col("partitionKey") === "test_db.events.1")
      .select(col("after").getItem("event_type")).head().getString(0) != "stale")
  }

  test("tombstones survive within the lateness horizon and GC lazily " +
      "once a touched bucket's watermark passes it") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_apply_gc").toString
    // two DISTINCT keys in the SAME hash bucket, probed through the
    // protocol's own bucket expression
    val probed = (0L to 200L).map(i => s"test_db.events.$i").toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(16L)).cast("int").as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val (k1, bucket) = probed.head
    val k2 = probed.tail.find(_._2 == bucket).get._1
    def env(op: String, eid: Long, tsMs: Long) =
      s"""{"after":{"event_id":"$eid"},"before":{"event_id":"$eid"},""" +
        s""""source":{"ts_ms":$tsMs,"pos":$eid},"op":"$op","ts_ms":$tsMs}"""
    def raw = graft.operators.ExactlyOnce.currentStateBucketed(
      spark, stateDir)(CdcApply.emptyVersioned(spark))
    val horizon = 5000L

    // epoch 0: delete k1 at ts 1000 — tombstoned
    CdcApply.materializerVersioned(spark, stateDir, 16, horizon)(
      Seq((k1, env("d", 1L, 1000L))).toDF("partitionKey", "value"), 0L)
    assert(raw.filter(col("deleted")).count() == 1)

    // epoch 1 rewrites the same bucket INSIDE the horizon — kept
    CdcApply.materializerVersioned(spark, stateDir, 16, horizon)(
      Seq((k2, env("c", 2L, 3000L))).toDF("partitionKey", "value"), 1L)
    assert(raw.filter(col("deleted")).count() == 1)

    // epoch 2 pushes the bucket's watermark past the horizon — GC'd
    CdcApply.materializerVersioned(spark, stateDir, 16, horizon)(
      Seq((k2, env("u", 2L, 10000L))).toDF("partitionKey", "value"), 2L)
    assert(raw.filter(col("deleted")).count() == 0)
    assert(raw.filter(col("partitionKey") === k1).count() == 0)
    val live = CdcApply.replicaVersioned(spark, stateDir)
    assert(live.count() == 1)
    assert(live.head().getAs[String]("partitionKey") == k2)

    // the same GC on epochs touching > 4 buckets (the protocol
    // clusters those): three keys in each of 6 buckets other than
    // k2's — olds deleted at ts 20000, youngs at 24000, then fresh
    // upserts at 26000 put every one of those buckets' watermark at
    // 26000: only the tombstones older than 26000 - horizon go
    val six = probed.map(_._2).distinct.filter(_ != bucket).take(6)
    def inBucket(b: Int, i: Int) = probed.filter(_._2 == b)(i)._1
    val (olds, youngs, fresh) = (six.map(inBucket(_, 0)),
      six.map(inBucket(_, 1)), six.map(inBucket(_, 2)))
    def epoch(keys: Seq[String], op: String, tsMs: Long, e: Long): Unit =
      CdcApply.materializerVersioned(spark, stateDir, 16, horizon)(
        keys.zipWithIndex.map { case (k, i) =>
          (k, env(op, 100L * e + i, tsMs)) }.toDF("partitionKey", "value"), e)
    def tombstoned = raw.filter(col("deleted"))
      .collect().map(_.getAs[String]("partitionKey")).toSet
    epoch(olds, "d", 20000L, 3L)
    epoch(youngs, "d", 24000L, 4L)
    // epoch 4's watermark (24000) keeps the 20000 tombstones
    assert(tombstoned == (olds ++ youngs).toSet)
    epoch(fresh, "c", 26000L, 5L)
    assert(tombstoned == youngs.toSet)
    assert(CdcApply.replicaVersioned(spark, stateDir).count() == 7)
  }

  test("streaming materializer converges to the batch replica") {
    val stateDir = Files.createTempDirectory("graft_apply").toString
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val lines = graft.sources.CdcReplay.stream(spark, sf).as[String]
    // same enrichment config as the batch cdc_apply_replica surface
    // (truncation rules included), so full row parity is checkable
    val enriched = graft.operators.CdcEnrichment
      .enrichMySql(lines, queries.CdcQueries.config).toDF()
    val q = enriched.writeStream
      .foreachBatch(CdcApply.materializer(spark, stateDir) _)
      .start()
    try q.processAllAvailable() finally q.stop()
    val replica = CdcApply.replica(spark, stateDir)
    assert(replica.count() == 900)
    assert(replica.select(col("partitionKey")).distinct().count() == 900)
    // full row parity with the declared batch surface, not just counts
    val got = replica.select(
      col("after").getItem("event_id").cast("long").as("event_id"),
      col("partitionKey").as("partition_key"),
      col("after").getItem("event_type").as("event_type_trunc"),
      col("after").getItem("value").as("value_str"))
    val want = SparkEntry.queries("cdc_apply_replica")(spark, sf)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }
}
