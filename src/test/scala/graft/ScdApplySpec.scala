package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ScdApply

/** Streaming SCD2 twin (round-5 verdict item 7): the incremental
  * foreachBatch MERGE converges to the exact batch `cdc_scd2_history`
  * surface after an event-time-ordered replay, and the epoch ledger
  * fences replayed batches.
  */
class ScdApplySpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
      r.getAs[Int]("version"), r.getAs[Long]("valid_from"),
      Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue),
      r.getAs[Boolean]("is_current")))
    .sortBy(t => (t._1, t._3))
    .toSeq

  test("streaming SCD2 materializer matches batch cdc_scd2_history " +
      "bit-for-bit after ordered replay") {
    val truth = rows(SparkEntry.queries("cdc_scd2_history")(spark, sf))

    // the ordered feed: every (sec, event_id) sorts after all
    // already-applied changes — the contract advance() requires
    val changes = queries.Tables.events(spark, sf)
      .withColumn("sec", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"), col("sec"))
      .orderBy(col("sec"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val stateDir = Files.createTempDirectory("graft_scd2").toString
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val q = in.toDS().toDF("user_id", "event_id", "sec")
      .writeStream
      .foreachBatch(ScdApply.materializer(spark, stateDir) _)
      .start()
    try {
      changes.grouped((changes.size + 3) / 4).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val got = rows(ScdApply.history(spark, stateDir))
    assert(got.size == truth.size,
      s"history has ${got.size} version rows, batch built ${truth.size}")
    assert(got == truth)

    // replaying an already-committed epoch is fenced to a no-op, even
    // with different (here: empty) batch content
    ScdApply.materializer(spark, stateDir)(
      ScdApply.emptyHistory(spark)
        .select(col("user_id"), col("event_id"), col("valid_from").as("sec")),
      0L)
    assert(rows(ScdApply.history(spark, stateDir)) == truth)
  }

  test("a crash between state write and marker commit never loses the " +
      "previously committed history") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_crash").toString
    val b0 = Seq((7L, 100L, 10L)).toDF("user_id", "event_id", "sec")
    ScdApply.materializer(spark, stateDir)(b0, 0L)
    val committed = rows(ScdApply.history(spark, stateDir))

    // simulate the torn epoch 1: state written, crash BEFORE the marker
    val b1 = Seq((7L, 101L, 20L)).toDF("user_id", "event_id", "sec")
    ScdApply.advance(ScdApply.history(spark, stateDir), b1)
      .write.parquet(s"$stateDir/state-1")
    // the reader still resolves epoch 0 — the orphan is invisible
    assert(rows(ScdApply.history(spark, stateDir)) == committed)

    // the replayed epoch overwrites the orphan and commits atomically
    ScdApply.materializer(spark, stateDir)(b1, 1L)
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, None, true)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // retirement keeps ONE superseded version per bucket (the reader
    // grace window): epoch 0's bucket survives epoch 1's commit ...
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/state-0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/state-1")))
    // ... and is retired once epoch 2 pushes it past the grace horizon,
    // its marker folding into the ledger high watermark
    val b2 = Seq((7L, 102L, 30L)).toDF("user_id", "event_id", "sec")
    ScdApply.materializer(spark, stateDir)(b2, 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/state-0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/state-1")))
    val ledger = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$stateDir/_ledger"))
      .map(_.getPath.getName).toSet
    assert(!ledger.contains("epoch-0"), s"folded marker still listed: $ledger")
    assert(ledger.exists(_.startsWith("hwm-")), s"no high watermark: $ledger")
    // a replay of the folded epoch is STILL fenced (by the watermark)
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 999L, 5L)).toDF("user_id", "event_id", "sec"), 0L)
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, Some(30L), false),
      (7L, 102L, 3, 30L, None, true)))
  }

  /** Two user_ids guaranteed to live in DIFFERENT hash buckets (probed
    * through the same pmod(xxhash64) expression the state protocol
    * uses).
    */
  private def twoKeysInDistinctBuckets(): (Long, Long, Int, Int) = {
    import spark.implicits._
    val probed = (1L to 64L).toDF("user_id")
      .select(col("user_id"),
        pmod(xxhash64(col("user_id")), lit(ScdApply.DefaultBuckets.toLong))
          .cast("int").as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val a = probed.head
    val b = probed.find(_._2 != a._2).get
    (a._1, b._1, a._2, b._2)
  }

  private def dirBytes(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .iterator().asScala
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
      finally s.close()
    }
  }

  test("an epoch rewrites ONLY the buckets its batch touches: untouched " +
      "buckets' parquet files are byte-identical across the epoch") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_bucket").toString
    val (keyA, keyB, bA, bB) = twoKeysInDistinctBuckets()
    // epoch 0 populates both buckets
    ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 1L, 10L), (keyB, 2L, 10L)).toDF("user_id", "event_id", "sec"),
      0L)
    val before = dirBytes(s"$stateDir/state-0/__bucket=$bB")
    assert(before.nonEmpty, s"bucket $bB missing under state-0")
    // epoch 1 touches only keyA's bucket
    ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 3L, 20L)).toDF("user_id", "event_id", "sec"), 1L)
    // keyB's bucket was not rewritten: same files, same bytes
    assert(dirBytes(s"$stateDir/state-0/__bucket=$bB") == before)
    // and epoch 1's dir holds ONLY the touched bucket
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val e1Buckets = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$stateDir/state-1"))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).toSet
    assert(e1Buckets == Set(s"__bucket=$bA"), s"epoch 1 wrote $e1Buckets")
    // the stitched read resolves each bucket to its newest version
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (keyA, 1L, 1, 10L, Some(20L), false),
      (keyA, 3L, 2, 20L, None, true),
      (keyB, 2L, 1, 10L, None, true)).sortBy(t => (t._1, t._3)))
  }

  test("a crash mid-way through a multi-bucket epoch write leaves every " +
      "bucket on the previous committed version") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_torn").toString
    val (keyA, keyB, bA, _) = twoKeysInDistinctBuckets()
    ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 1L, 10L), (keyB, 2L, 10L)).toDF("user_id", "event_id", "sec"),
      0L)
    val committed = rows(ScdApply.history(spark, stateDir))
    // torn epoch 1: ONE of the two touched buckets got written (with
    // rows that must never become visible), then the process died
    // before the marker — content/shape of the orphan is irrelevant,
    // it is overwritten wholesale on replay
    Seq((keyA, 666L)).toDF("user_id", "junk")
      .write.parquet(s"$stateDir/state-1/__bucket=$bA")
    assert(rows(ScdApply.history(spark, stateDir)) == committed)
    // the replay rewrites the whole epoch dir (Overwrite) and commits
    // both buckets atomically under the one marker
    ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 3L, 20L), (keyB, 4L, 25L)).toDF("user_id", "event_id", "sec"),
      1L)
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (keyA, 1L, 1, 10L, Some(20L), false),
      (keyA, 3L, 2, 20L, None, true),
      (keyB, 2L, 1, 10L, Some(25L), false),
      (keyB, 4L, 2, 25L, None, true)).sortBy(t => (t._1, t._3)))
  }

  test("ledger folding never orphans an old epoch that still owns " +
      "untouched buckets, and the ledger stays O(1) files under a " +
      "bulk load + hot-key steady state") {
    // the 30x-scale regression in miniature: epoch 0 bulk-loads TWO
    // buckets, later epochs touch only one of them — the cold bucket's
    // ownership must survive every fold (it moves into the owners
    // snapshot), while the ledger itself stays bounded instead of
    // accumulating one marker per epoch forever
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_coldbucket").toString
    val (keyA, keyB, _, _) = twoKeysInDistinctBuckets()
    ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 1L, 10L), (keyB, 2L, 10L)).toDF("user_id", "event_id", "sec"),
      0L)
    (1 to 6).foreach(e => ScdApply.materializer(spark, stateDir)(
      Seq((keyA, 10L + e, 10L + e * 10L)).toDF("user_id", "event_id", "sec"),
      e.toLong))
    val h = ScdApply.history(spark, stateDir)
    assert(h.filter(col("user_id") === keyB).count() == 1,
      "cold bucket lost after hot-key epochs — ledger fold orphaned it")
    assert(h.count() == 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ledger = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$stateDir/_ledger")).map(_.getPath.getName).toSet
    assert(ledger.count(_.matches("^epoch-\\d+$")) == 1,
      s"ledger accumulates markers: $ledger")
    assert(ledger.exists(_.startsWith("owners-")),
      s"no owners snapshot: $ledger")
    // replays of every folded epoch stay fenced
    ScdApply.materializer(spark, stateDir)(
      Seq((keyB, 999L, 5L)).toDF("user_id", "event_id", "sec"), 3L)
    assert(rows(ScdApply.history(spark, stateDir)) ==
      rows(h).sortBy(t => (t._1, t._3)))
  }

  test("an idle stream of empty epochs keeps the ledger bounded and " +
      "folded epochs fenced") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_idle").toString
    val emptyBatch = ScdApply.emptyHistory(spark)
      .select(col("user_id"), col("event_id"), col("valid_from").as("sec"))
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 100L, 10L)).toDF("user_id", "event_id", "sec"), 0L)
    // no-data triggers: every epoch still commits a fencing marker
    (1L to 8L).foreach(e =>
      ScdApply.materializer(spark, stateDir)(emptyBatch, e))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ledger = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$stateDir/_ledger")).map(_.getPath.getName).toSet
    assert(ledger.count(_.matches("^epoch-\\d+$")) == 1,
      s"idle epochs accumulate markers: $ledger")
    // a folded empty epoch replays as a fenced no-op, and the state
    // epoch 0 wrote is still fully readable
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 999L, 5L)).toDF("user_id", "event_id", "sec"), 4L)
    assert(rows(ScdApply.history(spark, stateDir)) ==
      Seq((7L, 100L, 1, 10L, None, true)))
  }

  test("a torn marker write (crash mid-rename) is invisible: the .tmp " +
      "file neither fences nor corrupts the bucket index") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_tornmark").toString
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 100L, 10L)).toDF("user_id", "event_id", "sec"), 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // a crash between tmp write and rename leaves exactly this file
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$stateDir/_ledger/epoch-1.tmp"), true)
    out.write("0,1,2".getBytes("UTF-8")); out.close()
    assert(rows(ScdApply.history(spark, stateDir)).size == 1)
    // the replayed epoch 1 is NOT fenced by the orphan tmp and commits
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 101L, 20L)).toDF("user_id", "event_id", "sec"), 1L)
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, None, true)))
  }

  test("junk ledger entries (partition fencing markers, strays) never " +
      "brick state reads or advancement") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_scd2_junk").toString
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 100L, 10L)).toDF("user_id", "event_id", "sec"), 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the runFenced transactional path writes epoch-N.part-P siblings;
    // a shared/abused ledger dir must degrade to ignoring them
    Seq("epoch-0.part-3", "epoch-x", "stray").foreach(n =>
      fs.create(new org.apache.hadoop.fs.Path(s"$stateDir/_ledger/$n"),
        true).close())
    assert(rows(ScdApply.history(spark, stateDir)).size == 1)
    ScdApply.materializer(spark, stateDir)(
      Seq((7L, 101L, 20L)).toDF("user_id", "event_id", "sec"), 1L)
    assert(rows(ScdApply.history(spark, stateDir)) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, None, true)))
  }

  test("advance assigns versions incrementally across epochs") {
    import spark.implicits._
    val h0 = ScdApply.emptyHistory(spark)
    val b1 = Seq((7L, 100L, 10L), (7L, 101L, 20L), (9L, 200L, 15L))
      .toDF("user_id", "event_id", "sec")
    val h1 = ScdApply.advance(h0, b1)
    // user 7 has versions 1 (closed at 20) and 2 (current); user 9 has 1
    assert(rows(h1) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, None, true),
      (9L, 200L, 1, 15L, None, true)))
    val b2 = Seq((7L, 102L, 30L)).toDF("user_id", "event_id", "sec")
    val h2 = ScdApply.advance(h1, b2)
    // the new change closes user 7's current row and becomes version 3;
    // user 9 is untouched
    assert(rows(h2) == Seq(
      (7L, 100L, 1, 10L, Some(20L), false),
      (7L, 101L, 2, 20L, Some(30L), false),
      (7L, 102L, 3, 30L, None, true),
      (9L, 200L, 1, 15L, None, true)))
  }
}
