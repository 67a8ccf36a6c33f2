package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.streaming.StreamingReservoir

/** Durable stratified reservoir: any epoch split converges to the
  * exact deterministic top-k-per-stratum sample (bit-equal to the
  * declared batch query for the uniform priority); re-ingestion is
  * idempotent.
  */
class StreamingReservoirSpec extends SparkSpec {

  private val K = 16

  private def feed() = queries.Tables.documents(spark, sf)
    .select(col("lang"), col("doc_id"), col("n_chars"))

  private def collectSample(dir: String): Set[(String, Long)] =
    StreamingReservoir.sample(spark, dir)
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("uniform arm: epoch splits fold to the declared batch query's " +
      "exact sample") {
    val dir = Files.createTempDirectory("graft_resv").toString
    val prio = StreamingReservoir.uniformPriority(col("doc_id"), "res_")
    val m = StreamingReservoir.materializer(spark, dir, Seq("lang"),
      "doc_id", prio, K) _
    m(feed().filter(col("doc_id") % 3 === 0), 0L)
    m(feed().filter(col("doc_id") % 3 === 1), 1L)
    m(feed().filter(col("doc_id") % 3 === 2), 2L)
    // truth via the declared oracle-checked query (same seed + k)
    val truth = SparkEntry.queries("samp_reservoir_groups")(spark, sf)
      .select(col("lang"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(collectSample(dir) == truth)
    // per-stratum cardinality: exactly k (every fixture stratum has
    // more than k docs)
    val sizes = StreamingReservoir.sample(spark, dir)
      .groupBy(col("lang")).count().collect().map(_.getLong(1)).toSet
    assert(sizes == Set(K.toLong))
  }

  test("the partial's rank filter plans as a partial WindowGroupLimit " +
      "below the exchange (k per stratum per map partition shuffles, " +
      "not the corpus)") {
    val prio = StreamingReservoir.uniformPriority(col("doc_id"), "res_")
    val plan = StreamingReservoir.partials(feed(), Seq("lang"),
      "doc_id", prio, K).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected a WindowGroupLimit pushdown in:\n$plan")
  }

  test("re-ingestion is idempotent (not just fenced) and replays are " +
      "fenced") {
    val dir = Files.createTempDirectory("graft_resv_idem").toString
    val prio = StreamingReservoir.uniformPriority(col("doc_id"), "res_")
    val m = StreamingReservoir.materializer(spark, dir, Seq("lang"),
      "doc_id", prio, K) _
    m(feed(), 0L)
    val after0 = collectSample(dir)
    // fenced replay
    m(feed(), 0L)
    assert(collectSample(dir) == after0)
    // a NEW epoch re-ingesting already-sampled rows must not evict
    // anything: the duplicate collapses against the standing row
    val resampled: DataFrame = StreamingReservoir.sample(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
    m(resampled, 1L)
    assert(collectSample(dir) == after0)
  }

  test("a revised re-ingestion of a sampled id keeps the STANDING row " +
      "(deterministic survivor, never replay-order-dependent)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resv_rev").toString
    val prio = StreamingReservoir.uniformPriority(col("doc_id"), "rev_")
    val b0 = Seq(("g", 1L, "v1"), ("g", 2L, "v1"))
      .toDF("lang", "doc_id", "payload")
    StreamingReservoir.materializer(spark, dir, Seq("lang"), "doc_id",
      prio, 2)(b0, 0L)
    // id 1 arrives again with REVISED content: the reservoir keeps the
    // row it already sampled (documented precondition: a feed with row
    // revisions belongs in the CDC replica, not a reservoir — the
    // contract here is only that the survivor can never flip)
    val b1 = Seq(("g", 1L, "v2")).toDF("lang", "doc_id", "payload")
    StreamingReservoir.materializer(spark, dir, Seq("lang"), "doc_id",
      prio, 2)(b1, 1L)
    def payloads() = StreamingReservoir.sample(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("payload"))).toSet
    assert(payloads() == Set((1L, "v1"), (2L, "v1")))
    // replaying the revised epoch is fenced — still nothing flips
    StreamingReservoir.materializer(spark, dir, Seq("lang"), "doc_id",
      prio, 2)(b1, 1L)
    assert(payloads() == Set((1L, "v1"), (2L, "v1")))
  }
}
