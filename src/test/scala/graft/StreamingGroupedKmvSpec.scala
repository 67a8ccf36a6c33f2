package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.streaming.StreamingGroupedKmv

/** Durable grouped-KMV sketch: any epoch split of the feed converges
  * to a sketch BIT-EQUAL to the batch `rel_kmv_groups` derivation on
  * the same rows; overlapping re-ingestion is a no-op (semilattice);
  * replays are fenced.
  */
class StreamingGroupedKmvSpec extends SparkSpec {

  private val K = 128

  private def feed() = queries.Tables.lineitem(spark, sf)
    .select(col("l_returnflag"), col("l_partkey"), col("l_orderkey"))

  /** The batch truth, computed exactly as rel_kmv_groups does. */
  private def batchTruth(): Map[String, (Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Kmv
    val h = Kmv.hashCol(col("l_partkey"), Kmv.GroupsSeed)
    val wk = Window.partitionBy(col("l_returnflag")).orderBy(col("__h"))
    feed().select(col("l_returnflag"), h.as("__h")).distinct()
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= K)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("k"), max(col("__h")).as("kth_hash"))
      .withColumn("est",
        (col("k") - 1).cast("double") * lit(Kmv.P.toDouble) /
          col("kth_hash").cast("double"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .toMap
  }

  private def stateTruth(dir: String): Map[String, (Long, Long, Double)] =
    StreamingGroupedKmv.estimates(spark, dir, Seq("l_returnflag"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("k"), r.getAs[Long]("kth_hash"),
          r.getAs[Double]("est_distinct")))
      .toMap

  test("uneven epochs fold to a sketch bit-equal to the batch query") {
    val dir = Files.createTempDirectory("graft_gkmv").toString
    val rows = feed()
    val m = StreamingGroupedKmv.materializer(spark, dir,
      Seq("l_returnflag"), "l_partkey", K) _
    m(rows.filter(col("l_orderkey") % 7 === 0), 0L)
    m(rows.filter(col("l_orderkey") % 7 < 3 &&
      col("l_orderkey") % 7 > 0), 1L)
    m(rows.filter(col("l_orderkey") % 7 >= 3), 2L)
    assert(stateTruth(dir) == batchTruth())
  }

  test("the partial's rank filter plans as a partial WindowGroupLimit " +
      "below the exchange") {
    val plan = StreamingGroupedKmv.partials(feed(), Seq("l_returnflag"),
      "l_partkey", K).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected a WindowGroupLimit pushdown in:\n$plan")
  }

  test("overlapping re-ingestion is a no-op (idempotent union) and a " +
      "replayed epoch is fenced") {
    val dir = Files.createTempDirectory("graft_gkmv_idem").toString
    val rows = feed()
    val m = StreamingGroupedKmv.materializer(spark, dir,
      Seq("l_returnflag"), "l_partkey", K) _
    m(rows, 0L)
    val after0 = stateTruth(dir)
    assert(after0 == batchTruth())
    // fenced: same epoch id replays as a no-op
    m(rows, 0L)
    assert(stateTruth(dir) == after0)
    // semilattice: a NEW epoch re-ingesting already-seen rows changes
    // nothing — KMV union is idempotent, not just fenced
    m(rows.filter(col("l_orderkey") % 2 === 0), 1L)
    assert(stateTruth(dir) == after0)
  }
}
