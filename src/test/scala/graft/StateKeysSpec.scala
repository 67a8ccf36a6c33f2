package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.streaming.{StateKeys, StreamingGroupedKmv, StreamingReservoir,
  StreamingRollup}

/** The shared packed-state-key encoding under adversarial key tuples:
  * separator bytes inside values, null key columns, and
  * (null,"x") vs ("x",null) — every durable keyed state must stay
  * bit-equal to the batch groupBy truth, which is exactly what the
  * old `concat_ws("")` packing could not guarantee.
  */
class StateKeysSpec extends SparkSpec {

  import spark.implicits._

  /** Adversarial 2-column key tuples: old-separator bytes in values,
    * the encoding's own `:` / digit prefixes, empty strings, nulls on
    * either side, and pairs a separator-join would merge.
    */
  private val advKeys: Seq[(String, String)] = Seq(
    ("ab", "c"), ("a", "bc"),      // concat_ws collision pair
    ("ab", ""), ("a", "b"), ("", "ab"),        // boundary shifts
    (null, "x"), ("x", null), ("x", ""),       // null vs empty vs shifted
    (null, null), ("", ""),                    // all-degenerate
    ("2:x", "y"), ("2", ":xy"),                // bytes that mimic the encoding
    ("12", "3"), ("1", "23"))                  // digit-run boundary

  test("packKey is collision-free on adversarial tuples (and " +
      "concat_ws demonstrably is not)") {
    val df = advKeys.toDF("k1", "k2")
      .withColumn("packed", StateKeys.packKey(Seq("k1", "k2")))
      .withColumn("naive", concat_ws("", col("k1"), col("k2")))
    val rows = df.collect()
    val packed = rows.map(_.getString(2))
    assert(packed.distinct.length == advKeys.length,
      s"packed-key collision: ${packed.mkString("; ")}")
    assert(rows.forall(!_.isNullAt(2)), "packed key must never be null")
    // the motivating bug, pinned: the naive packing merges tuples
    val naive = rows.map(_.getString(3))
    assert(naive.distinct.length < advKeys.length)
  }

  private def feed() = advKeys.zipWithIndex.flatMap { case ((a, b), i) =>
    // two rows per group so counts/sums/sketches are non-trivial
    Seq((a, b, 100L + i, 1.5 * (i + 1)), (a, b, 500L + i, 2.5 * (i + 1)))
  }.toDF("k1", "k2", "id", "value")

  private val keys = Seq("k1", "k2")

  test("StreamingRollup over adversarial keys, split across epochs, is " +
      "bit-equal to the batch groupBy truth (null groups retained)") {
    val stateDir = Files.createTempDirectory("graft_sk_rollup").toString
    val rows = feed()
    // insert-only: every row folds with sign +1
    val m = StreamingRollup.materializerSigned(spark, stateDir, keys,
      Seq("value_sum" -> "value"), "sign") _
    m(rows.filter(col("id") < 500).withColumn("sign", lit(1)), 0L)
    m(rows.filter(col("id") >= 500).withColumn("sign", lit(1)), 1L)
    val got = StreamingRollup.rollup(spark, stateDir, keys)
      .select(col("k1"), col("k2"), col("n"), col("value_sum"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)))).toSet
    val want = rows.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("value_sum"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)))).toSet
    assert(got == want)
    assert(got.size == advKeys.length,
      "a merged group means two key tuples packed identically")
  }

  test("StreamingGroupedKmv over adversarial keys matches the batch " +
      "per-group distinct-id truth exactly (k above cardinality)") {
    val stateDir = Files.createTempDirectory("graft_sk_kmv").toString
    val rows = feed()
    val m = StreamingGroupedKmv.materializer(spark, stateDir, keys, "id") _
    m(rows.filter(col("id") < 500), 0L)
    m(rows.filter(col("id") >= 500), 1L)
    // k=128 > 2 ids/group: the sketch holds ALL hashes, so retained
    // hash count k IS the exact distinct count per group
    val got = StreamingGroupedKmv.estimates(spark, stateDir, keys)
      .select(col("k1"), col("k2"), col("k"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = rows.groupBy(col("k1"), col("k2"))
      .agg(countDistinct(col("id")).as("k"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.size == advKeys.length)
  }

  test("StreamingReservoir over adversarial strata keeps every stratum " +
      "distinct and equal to the batch per-stratum top-k") {
    val stateDir = Files.createTempDirectory("graft_sk_res").toString
    val rows = feed()
    val prio = StreamingReservoir.uniformPriority(col("id"), "sk")
    val m = StreamingReservoir.materializer(
      spark, stateDir, keys, "id", prio, 1) _
    m(rows.filter(col("id") < 500), 0L)
    m(rows.filter(col("id") >= 500), 1L)
    val got = StreamingReservoir.sample(spark, stateDir)
      .select(col("k1"), col("k2"), col("id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // batch truth: per stratum, the single smallest-priority id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k1"), col("k2"))
      .orderBy(col("__prio"), col("id"))
    val want = rows.withColumn("__prio", prio)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("k1"), col("k2"), col("id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.size == advKeys.length,
      "a lost stratum means two strata packed to one reservoir key")
  }
}
