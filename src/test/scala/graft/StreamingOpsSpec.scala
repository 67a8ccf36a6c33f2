package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Streaming operator coverage beyond the CDC pipeline: stream-stream
  * join with watermarks, session windows, and arbitrary stateful
  * processing (flatMapGroupsWithState-family via mapGroupsWithState) —
  * SURVEY §2.2's streaming rows.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked sliding-window stream equals batch evt_sliding_window " +
      "row-for-row on the sf0.001 events replay") {
    import graft.queries.QueryDef.dec2
    // batch truth: the declared query over the fixture
    val batch = SparkEntry.queries("evt_sliding_window")(spark, sf)
      .collect().map(_.toString).toSeq

    // replay the same fixture through a watermarked stream in ts order
    // across three micro-batches, plus one far-future sentinel that
    // advances the watermark past every real window (append mode only
    // emits a window once the watermark passes its end)
    val rows = graft.queries.Tables.events(spark, sf)
      .select(col("ts"), col("value")).orderBy(col("ts"))
      .as[(Timestamp, Double)].collect().toSeq
    val sentinelTs = new Timestamp(rows.map(_._1.getTime).max + 3600_000L)

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("value_sum"))
      .select(
        (unix_timestamp(col("w.start")) / 60L).cast("long").as("win_min"),
        col("n"), col("value_sum"))
    val q = agg.writeStream.format("memory")
      .queryName("slide_parity").outputMode("append").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      in.addData((sentinelTs, 0.0)); q.processAllAvailable()
      val maxRealWin = (sentinelTs.getTime / 60000L) - 10
      val streamed = spark.table("slide_parity")
        .filter(col("win_min") < maxRealWin) // drop the sentinel's windows
        .orderBy(col("win_min"))
        .collect().map(_.toString).toSeq
      assert(streamed == batch,
        s"stream emitted ${streamed.size} windows, batch has ${batch.size}")
    } finally q.stop()
  }

  test("watermarked session-window stream equals batch evt_sessionize " +
      "sessions on the sf0.001 events replay") {
    // batch truth reshaped to watermark-free identity: a session is
    // (user_id, start_sec, end_sec, n_events); evt_sessionize's ordinal
    // session_id is replay-order-dependent so the comparison keys on
    // the session's extent instead
    val batch = SparkEntry.queries("evt_sessionize")(spark, sf)
      .select(col("user_id"), col("start_sec"), col("end_sec"), col("n_events"))
      .collect().map(_.toString).sorted.toSeq

    val rows = graft.queries.Tables.events(spark, sf)
      .select(col("user_id"), col("ts")).orderBy(col("ts"))
      .as[(Long, Timestamp)].collect().toSeq
    val sentinelTs = new Timestamp(rows.map(_._2.getTime).max + 7200_000L)

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    // session_window(gap = 30 min) is the streaming-native formulation
    // of the batch lag-rule "new session when gap > 1800 s" (they can
    // disagree only on a gap of EXACTLY 1800 s — adjacent-not-
    // overlapping; the fixture has none, verified)
    val agg = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_sec"),
        max(unix_timestamp(col("ts"))).as("end_sec"))
      .select(col("user_id"), col("start_sec"), col("end_sec"), col("n_events"))
    val q = agg.writeStream.format("memory")
      .queryName("sess_parity").outputMode("append").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      in.addData((-1L, sentinelTs)); q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .filter(col("user_id") =!= -1L) // drop the sentinel session
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"stream emitted ${streamed.size} sessions, batch has ${batch.size}")
    } finally q.stop()
  }

  test("stream-stream inner join with watermarks") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val imps = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("ad_id", "click_ts").withWatermark("click_ts", "10 minutes")
    val i = imps.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "10 minutes")
    val joined = i.join(c,
      i("ad_id") === c("ad_id") &&
        c("click_ts") >= i("imp_ts") &&
        c("click_ts") <= i("imp_ts") + expr("INTERVAL 5 minutes"))
    val q = joined.writeStream.format("memory")
      .queryName("ss_join_out").outputMode("append").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(1)))
      clicks.addData((1L, ts(2)), (2L, ts(30))) // 2nd outside the band
      q.processAllAvailable()
      assert(spark.table("ss_join_out").count() == 1)
    } finally q.stop()
  }

  test("session window aggregation") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory")
      .queryName("session_out").outputMode("complete").start()
    try {
      // user 7: events at 0,3,6 min (one session), 20 min (new session)
      input.addData((7L, ts(0)), (7L, ts(3)), (7L, ts(6)), (7L, ts(20)))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(1L, 3L))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from append-mode windows") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDF().toDF("k", "ts")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory")
      .queryName("late_out").outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (1L, ts(5)))
      q.processAllAvailable()
      // advance the watermark far past the first window, closing it
      input.addData((1L, ts(60)))
      q.processAllAvailable()
      val closed = spark.table("late_out")
        .agg(sum(col("n"))).head().getLong(0)
      assert(closed == 2, s"first window should emit its 2 rows, got $closed")
      // a record 60 min late lands inside the closed window → dropped
      input.addData((1L, ts(1)))
      q.processAllAvailable()
      val after = spark.table("late_out")
        .agg(sum(col("n"))).head().getLong(0)
      assert(after == closed, "late row must not reopen the closed window")
    } finally q.stop()
  }

  test("flatMapGroupsWithState: emit change events only when a key's state moves") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val changes = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OM.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, values: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = prev + values.map(_._2).sum
          state.update(next)
          // emit only on threshold crossings (one row per 10 units)
          if (next / 10 > prev / 10) Iterator((key, next)) else Iterator.empty
      }
    val q = changes.toDF("k", "total").writeStream.format("memory")
      .queryName("fmgs_out").outputMode("append").start()
    try {
      input.addData(("a", 4L), ("a", 3L)) // 7: below threshold
      q.processAllAvailable()
      assert(spark.table("fmgs_out").count() == 0)
      input.addData(("a", 5L)) // 12: crosses 10
      q.processAllAvailable()
      val rows = spark.table("fmgs_out").collect()
      assert(rows.length == 1 && rows.head.getLong(1) == 12L)
    } finally q.stop()
  }

  test("streaming incremental dup-spans matches batch txt_dup_spans_prefix " +
      "bit-for-bit after a doc_id-ordered micro-batch replay") {
    import graft.streaming.StreamingDupSpans
    // batch truth: prefix-semantics dup spans over the whole fixture
    val batchTruth = SparkEntry.queries("txt_dup_spans_prefix")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_words")))
      .sorted.toSeq

    val docs = graft.queries.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    // the standing index carried across epochs as an APPEND-ONLY union
    // of per-epoch deltas (the real pipeline appends parquet delta
    // files; union + localCheckpoint is the in-test equivalent that
    // truncates the cross-epoch lineage)
    var index = StreamingDupSpans.emptyIndex(spark)
    // (epoch's delta rows, epoch's truly-new distinct-hash count) —
    // the O(batch) write guarantee under the ordered-feed contract
    val deltaCounts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = in.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val batch = b.toDF().localCheckpoint()
        val (spans, delta) = StreamingDupSpans.advanceOrdered(index, batch)
        spans.collect().foreach(r => acc.add((r.getAs[Long]("doc_id"),
          r.getAs[Long]("span_start"), r.getAs[Long]("span_words"))))
        val d = delta.localCheckpoint()
        val newHashes = StreamingDupSpans.newHashes(index, batch).count()
        deltaCounts.add((d.count(), newHashes))
        index = index.union(d).localCheckpoint()
        ()
      }.start()
    try {
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = acc.toArray.map(_.asInstanceOf[(Long, Long, Long)]).sorted.toSeq
    assert(streamed == batchTruth,
      s"stream mined ${streamed.size} spans, batch found ${batchTruth.size}")
    // the per-epoch index write is exactly the batch's new-hash count —
    // O(batch), never O(history) (round-5 verdict item 5)
    val dc = deltaCounts.toArray.map(_.asInstanceOf[(Long, Long)]).toSeq
    assert(dc.nonEmpty && dc.forall { case (written, newh) => written == newh },
      s"per-epoch delta writes != new-hash counts: $dc")
  }

  test("out-of-order dup-spans epochs re-merge the index so a late early " +
      "doc lowers dmin for future epochs") {
    import graft.streaming.StreamingDupSpans
    import spark.implicits._
    val words = (1 to StreamingDupSpans.L).map(i => s"w$i").mkString(" ")
    // doc 5 arrives BEFORE doc 2 (out of order); both carry the same gram
    val b1 = Seq((5L, words)).toDF("doc_id", "text")
    val b2 = Seq((2L, words)).toDF("doc_id", "text")
    val (s1, i1) = StreamingDupSpans.advance(
      StreamingDupSpans.emptyIndex(spark), b1)
    assert(s1.count() == 0) // first sighting: nothing to flag
    // the late early doc is NOT flagged (as-of-arrival semantics)...
    val (s2, i2) = StreamingDupSpans.advance(i1, b2)
    assert(s2.count() == 0)
    // ...but the full-outer re-merge lowered the standing dmin to 2,
    // so a future doc 3 IS flagged against the earlier doc
    assert(i2.filter(col("dmin") === 2L).count() > 0)
    val (s3, _) = StreamingDupSpans.advance(i2, Seq((3L, words)).toDF("doc_id", "text"))
    assert(s3.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((3L, 0L, StreamingDupSpans.L.toLong)))
  }

  test("arbitrary keyed state: running count per key via mapGroupsWithState") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val counted = input.toDS()
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, values: Iterator[String],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + values.size
          state.update(n)
          (key, n)
      }
    val q = counted.toDF("k", "n").writeStream.format("memory")
      .queryName("mgs_out").outputMode("update").start()
    try {
      input.addData("a", "b", "a")
      q.processAllAvailable()
      input.addData("a")
      q.processAllAvailable()
      val last = spark.table("mgs_out")
        .groupBy(col("k")).agg(max(col("n")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
  }

  test("streaming schema-drift census equals batch cdc_schema_drift " +
      "bit-for-bit under a SHUFFLED replay") {
    import java.nio.file.Files
    val truth = SparkEntry.queries("cdc_schema_drift")(spark, sf)
      .collect().map(_.toString).toSeq

    // the same drift the declared query injects, then signature rows
    // in a deterministic NON-positional order — the census fold is
    // commutative, so any arrival order must converge
    val env = graft.sources.CdcReplay
      .envelope(graft.queries.Tables.events(spark, sf))
      .filter(col("after").isNotNull)
    val drifted = env.withColumn("after",
      when(col("source.pos") % 101 === 0,
        map_concat(col("after"), map(lit("schema_v2"), lit("1"))))
        .when(col("source.pos") % 103 === 0,
          map_filter(col("after"), (k, _) => k =!= lit("props")))
        .otherwise(col("after")))
    val sig = graft.streaming.StreamingSchemaDrift.signatureRows(drifted)
      .orderBy(xxhash64(col("pos")))
      .as[(String, String, Long)].collect().toSeq

    val stateDir = Files.createTempDirectory("graft_drift_state").toString
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, Long)]
    val q = in.toDS().toDF("tbl", "cols", "pos")
      .writeStream
      .foreachBatch(
        graft.streaming.StreamingSchemaDrift.materializer(spark, stateDir) _)
      .start()
    try {
      sig.grouped((sig.size + 3) / 4).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val got = graft.streaming.StreamingSchemaDrift.census(spark, stateDir)
      .collect().map(_.toString).toSeq
    assert(got == truth)

    // a replayed epoch is fenced to a no-op
    graft.streaming.StreamingSchemaDrift.materializer(spark, stateDir)(
      Seq(("events", "bogus", 1L)).toDF("tbl", "cols", "pos"), 0L)
    assert(graft.streaming.StreamingSchemaDrift.census(spark, stateDir)
      .collect().map(_.toString).toSeq == truth)
  }
}
