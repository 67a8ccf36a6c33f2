package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.streaming.StreamingRollup

/** Durable incremental rollup: any epoch split of the feed converges
  * to the exact batch aggregate; replays are fenced no-ops.
  */
class StreamingRollupSpec extends SparkSpec {

  private val keys = Seq("event_type")
  private val sums = Seq("value_sum" -> "value")

  /** An insert-only fold: every row carries sign +1. */
  private def fold(stateDir: String, keyCols: Seq[String] = keys)(
      batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    StreamingRollup.materializerSigned(spark, stateDir, keyCols, sums, "sign")(
      batch.withColumn("sign", lit(1)), batchId)

  private def feed() = queries.Tables.events(spark, sf)
    .select(col("event_id"), col("event_type"), col("value"))

  private def batchTruth(): Map[String, (Long, BigDecimal)] =
    feed().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("value_sum"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  private def stateTruth(stateDir: String): Map[String, (Long, BigDecimal)] =
    StreamingRollup.rollup(spark, stateDir, keys)
      .collect()
      .map(r => r.getString(r.fieldIndex("event_type")) ->
        (r.getLong(r.fieldIndex("n")),
          BigDecimal(r.getDecimal(r.fieldIndex("value_sum")))))
      .toMap

  test("three uneven epochs fold to the exact batch aggregate") {
    val stateDir = Files.createTempDirectory("graft_rollup").toString
    val rows = feed().orderBy(col("event_id"))
    val n = rows.count()
    // deliberately uneven split: 1 row, then ~half, then the rest —
    // the fold algebra must not care
    val cuts = Seq(0L -> 1L, 1L -> (n / 2), (n / 2) -> n)
    cuts.zipWithIndex.foreach { case ((lo, hi), e) =>
      val chunk = rows.withColumn("__rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("event_id"))) - 1)
        .filter(col("__rn") >= lo && col("__rn") < hi).drop("__rn")
      fold(stateDir)(chunk, e.toLong)
    }
    assert(stateTruth(stateDir) == batchTruth())
  }

  test("replayed epoch is a fenced no-op; a fourth epoch still folds " +
      "exactly") {
    val stateDir = Files.createTempDirectory("graft_rollup_replay").toString
    val rows = feed()
    val half = rows.filter(col("event_id") % 2 === 0)
    val rest = rows.filter(col("event_id") % 2 === 1)
    fold(stateDir)(half, 0L)
    val after0 = stateTruth(stateDir)
    // at-least-once re-delivery: same epoch id, must not double-count
    fold(stateDir)(half, 0L)
    assert(stateTruth(stateDir) == after0)
    fold(stateDir)(rest, 1L)
    assert(stateTruth(stateDir) == batchTruth())
  }

  test("signed retractions: deletes subtract exactly, a fully-retracted " +
      "group vanishes, and an out-of-order retraction carries until it " +
      "balances") {
    val stateDir = Files.createTempDirectory("graft_rollup_signed").toString
    val rows = feed().withColumn("sign", lit(1))
    val deletes = feed().filter(col("event_type") === "click")
      .withColumn("sign", lit(-1))

    StreamingRollup.materializerSigned(spark, stateDir, keys, sums, "sign")(
      rows, 0L)
    // retract every click row — the group must vanish entirely
    StreamingRollup.materializerSigned(spark, stateDir, keys, sums, "sign")(
      deletes, 1L)
    val afterDelete = stateTruth(stateDir)
    assert(!afterDelete.contains("click"))
    val want = queries.Tables.events(spark, sf)
      .filter(col("event_type") =!= "click")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("value_sum"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
    assert(afterDelete == want)

    // out-of-order: a retraction for a purchase row arrives BEFORE its
    // (re-)insert; after both, the rollup is back to the same state
    val one = feed().filter(col("event_type") === "purchase")
      .orderBy(col("event_id")).limit(1)
    StreamingRollup.materializerSigned(spark, stateDir, keys, sums, "sign")(
      one.withColumn("sign", lit(-1)), 2L)
    val dipped = stateTruth(stateDir)("purchase")
    assert(dipped._1 == afterDelete("purchase")._1 - 1)
    StreamingRollup.materializerSigned(spark, stateDir, keys, sums, "sign")(
      one.withColumn("sign", lit(1)), 3L)
    assert(stateTruth(stateDir) == afterDelete)
  }

  test("CDC bridge: envelope deltas through the signed materializer " +
      "equal the declared cdc_ivm_rollup query") {
    val stateDir = Files.createTempDirectory("graft_rollup_cdc").toString
    val deltas = graft.operators.CdcDeltas.signedDeltas(
        queries.CdcQueries.enriched(spark, sf))
      .select(col("image").getItem("event_type").as("event_type"),
        col("image").getItem("value").as("value"),
        col("sign"), col("pos"))
    val m = StreamingRollup.materializerSigned(spark, stateDir,
      Seq("event_type"), Seq("value_sum" -> "value"), "sign") _
    // epoch split on binlog position — updates' retract/insert pairs
    // share a pos, so pairs never straddle epochs here; the signed
    // algebra wouldn't care if they did (out-of-order test above)
    m(deltas.filter(col("pos") % 3 === 0).drop("pos"), 0L)
    m(deltas.filter(col("pos") % 3 === 1).drop("pos"), 1L)
    m(deltas.filter(col("pos") % 3 === 2).drop("pos"), 2L)

    val got = StreamingRollup.rollup(spark, stateDir, Seq("event_type"))
      .select(col("event_type"), col("n"),
        col("value_sum").cast("double").as("value_sum"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = SparkEntry.queries("cdc_ivm_rollup")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("multi-column group keys fold exactly") {
    val stateDir = Files.createTempDirectory("graft_rollup_mk").toString
    val rows = queries.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        dayofweek(col("ts")).cast("string").as("dow"), col("value"))
    fold(stateDir, Seq("event_type", "dow"))(
      rows.filter(col("event_id") < 500), 0L)
    fold(stateDir, Seq("event_type", "dow"))(
      rows.filter(col("event_id") >= 500), 1L)
    val got = StreamingRollup.rollup(spark, stateDir, Seq("event_type", "dow"))
      .select(col("event_type"), col("dow"), col("n"),
        col("value_sum").cast("double").as("v"))
    val want = rows.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }
}
