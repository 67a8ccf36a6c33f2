package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce

/** The round-9 protocol guards: the `clusterByBucket` knob (the
  * cluster-scale path that skips the per-epoch bucket-clustering
  * exchange) must not change any read-back state, and the
  * silent-data-loss window on the pruned probe — a mismatched probe
  * fan-out — must fail loudly instead of returning a wrong slice.
  */
class BucketedGuardsSpec extends SparkSpec {

  private val Buckets = 8

  private def emptyKV = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
  }

  private def upsert(batch: org.apache.spark.sql.DataFrame)(
      cur: org.apache.spark.sql.DataFrame) =
    cur.join(batch.select(col("k")), Seq("k"), "left_anti")
      .unionByName(batch)

  test("advanceStateBucketed with clusterByBucket=false (cluster-scale " +
      "parallel write) reads back identically, even interleaved with " +
      "clustered epochs") {
    import spark.implicits._
    val a = Files.createTempDirectory("graft_cb_on").toString
    val b = Files.createTempDirectory("graft_cb_off").toString
    val epochs = Seq(
      (0L, Seq(1L -> 10L, 2L -> 20L, 40L -> 400L)),
      (1L, Seq(2L -> 21L, 3L -> 30L)),
      (2L, Seq(1L -> 12L, 41L -> 410L, 7L -> 70L)))
    epochs.foreach { case (e, kvs) =>
      val batch = kvs.toDF("k", "v")
      ExactlyOnce.advanceStateBucketed(spark, a, e, batch, "k", Buckets)(
        emptyKV)(upsert(batch))
      // alternate the knob on the second dir — mixed layouts per epoch
      ExactlyOnce.advanceStateBucketed(spark, b, e, batch, "k", Buckets,
        clusterByBucket = Some(e % 2 == 0))(emptyKV)(upsert(batch))
    }
    def read(d: String) = ExactlyOnce.currentStateBucketed(spark, d)(emptyKV)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(read(a) == read(b))
    assert(read(b) == Map(1L -> 12L, 2L -> 21L, 3L -> 30L, 7L -> 70L,
      40L -> 400L, 41L -> 410L))
  }

  test("appendDeltaBucketed with clusterByBucket=false yields the same " +
      "pruned-probe content") {
    import spark.implicits._
    val a = Files.createTempDirectory("graft_ad_on").toString
    val b = Files.createTempDirectory("graft_ad_off").toString
    Seq(a -> true, b -> false).foreach { case (d, knob) =>
      Seq((0L, Seq(1L -> 10L, 9L -> 90L)), (1L, Seq(2L -> 20L, 1L -> 11L)))
        .foreach { case (e, kvs) =>
          ExactlyOnce.appendDeltaBucketed(spark, d, e, "k", Buckets,
            clusterByBucket = Some(knob))(kvs.toDF("k", "v"))
        }
    }
    val all = (0 until Buckets).toSet
    def read(d: String) = ExactlyOnce.appendedStateBuckets(
      spark, d, all, Some(Buckets))(emptyKV)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(read(a) == read(b))
    assert(read(a) == Set((1L, 10L), (9L, 90L), (2L, 20L), (1L, 11L)))
  }

  test("the session conf spark.graft.state.clusterByBucket=false reaches " +
      "a materializer entry point that never exposes the parameter, and " +
      "the state reads back identically") {
    import spark.implicits._
    val confed = Files.createTempDirectory("graft_cb_conf").toString
    val control = Files.createTempDirectory("graft_cb_ctrl").toString
    val kvs = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
    def run(d: String): Unit =
      graft.streaming.StreamingRollup.materializerSigned(spark, d, Seq("g"),
        Seq("v_sum" -> "v"), "s")(kvs.toDF("id", "g", "v").withColumn("s",
        lit(1)), 0L)
    spark.conf.set(ExactlyOnce.ClusterByBucketConf, "false")
    try run(confed) finally
      spark.conf.unset(ExactlyOnce.ClusterByBucketConf)
    run(control)
    def read(d: String) = graft.streaming.StreamingRollup
      .rollup(spark, d, Seq("g"))
      .select(col("g"), col("n"), col("v_sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(read(confed) == read(control))
    assert(read(confed) == Set(("a", 2L, 40.0), ("b", 1L, 20.0)))
  }

  test("stateReport: one live slice per owned bucket, retiring " +
      "versions flagged dead, LSM deltas live, flat components named") {
    import spark.implicits._
    val vs = Files.createTempDirectory("graft_rep_v").toString
    (0L to 2L).foreach { e =>
      val batch = Seq((1L + e, 10L * e)).toDF("k", "v")
      ExactlyOnce.advanceStateBucketed(spark, vs, e, batch, "k", Buckets,
        retain = 3)(emptyKV)(upsert(batch))
    }
    val rep = ExactlyOnce.stateReport(spark, vs).collect()
    assert(rep.nonEmpty)
    assert(rep.forall(_.getString(1) == "versioned"))
    // per bucket: exactly ONE live slice, and it is the newest epoch
    // owning that bucket
    rep.groupBy(_.getInt(3)).foreach { case (_, slices) =>
      val live = slices.filter(_.getBoolean(6))
      assert(live.length == 1)
      assert(live.head.getLong(2) == slices.map(_.getLong(2)).max)
    }
    assert(rep.forall(r => r.getLong(4) > 0 && r.getLong(5) > 0))

    val ap = Files.createTempDirectory("graft_rep_a").toString
    ExactlyOnce.appendDeltaBucketed(spark, ap, 0L, "k", Buckets)(
      Seq((1L, 1L)).toDF("k", "v"))
    // an all-empty delta commits a component with no __bucket= dirs
    ExactlyOnce.appendDeltaBucketed(spark, ap, 1L, "k", Buckets)(emptyKV)
    val rep2 = ExactlyOnce.stateReport(spark, ap).collect()
    assert(rep2.exists(r => r.getString(1) == "delta" && r.getBoolean(6)))
    assert(rep2.exists(r => r.getString(1) == "flat"))
  }

  test("the VERSIONED subset reads (currentStateBuckets / " +
      "stateBucketsBefore) also reject a mismatched probe fan-out") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_fanout_v").toString
    val batch = Seq(1L -> 10L).toDF("k", "v")
    ExactlyOnce.advanceStateBucketed(spark, d, 0L, batch, "k", Buckets)(
      emptyKV)(upsert(batch))
    val e1 = intercept[RuntimeException] {
      ExactlyOnce.currentStateBuckets(spark, d, Set(0), Some(Buckets * 2))(
        emptyKV).collect()
    }
    assert(e1.getMessage.contains("bucketed"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      ExactlyOnce.stateBucketsBefore(spark, d, 1L, Set(0),
        expectedBuckets = Some(Buckets + 1))(emptyKV).collect()
    }
    assert(e2.getMessage.contains("bucketed"), e2.getMessage)
    // the matching fan-out still reads
    assert(ExactlyOnce.currentStateBuckets(spark, d,
      (0 until Buckets).toSet, Some(Buckets))(emptyKV).count() == 1)
  }

  test("a probe whose fan-out disagrees with the pinned ledger bucket " +
      "count fails loudly instead of probing the wrong buckets") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_fanout").toString
    ExactlyOnce.appendDeltaBucketed(spark, d, 0L, "k", Buckets)(
      Seq(1L -> 10L).toDF("k", "v"))
    assert(ExactlyOnce.pinnedBucketCount(spark, d).contains(Buckets))
    val e = intercept[RuntimeException] {
      ExactlyOnce.appendedStateBuckets(spark, d, Set(0), Some(Buckets * 2))(
        emptyKV).collect()
    }
    assert(e.getMessage.contains("bucketed"), e.getMessage)
  }

  test("a packKey-keyed materializer refuses to resume a state dir " +
      "that carries committed epochs without the codec stamp, and " +
      "stamps fresh dirs before the first commit") {
    import spark.implicits._
    val batch = Seq(("a", 1.0, 1), ("b", 2.0, 1)).toDF("k", "v", "s")

    // a dir with committed epochs but NO stamp is pre-round-9 content
    // (the concat_ws encoding) — advancing it must fail loudly, never
    // silently split groups between two encodings
    val legacy = Files.createTempDirectory("graft_codec_legacy").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(legacy), spark.sparkContext.hadoopConfiguration)
    val ledger = new org.apache.hadoop.fs.Path(s"$legacy/_ledger")
    fs.mkdirs(ledger)
    fs.create(new org.apache.hadoop.fs.Path(ledger, "epoch-0"), true).close()
    val e = intercept[RuntimeException] {
      graft.streaming.StreamingRollup.materializerSigned(spark, legacy,
        Seq("k"), Seq("v_sum" -> "v"), "s", Buckets)(batch, 1L)
    }
    assert(e.getMessage.contains("codec stamp"), e.getMessage)

    // a fresh dir stamps itself on first write and resumes cleanly
    val fresh = Files.createTempDirectory("graft_codec_fresh").toString
    graft.streaming.StreamingRollup.materializerSigned(spark, fresh,
      Seq("k"), Seq("v_sum" -> "v"), "s", Buckets)(batch, 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$fresh/_ledger/${graft.streaming.StateKeys.CodecTag}")))
    graft.streaming.StreamingRollup.materializerSigned(spark, fresh,
      Seq("k"), Seq("v_sum" -> "v"), "s", Buckets)(batch, 1L)
    assert(graft.streaming.StreamingRollup.rollup(spark, fresh, Seq("k"))
      .count() == 2)
  }
}
