package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce

/** Time-travel (`AS OF` epoch) reads over the bucketed ledger: every
  * committed epoch within retention reconstructs its exact state;
  * reads past retention fail loudly instead of returning wrong data;
  * written-empty buckets stay distinguishable from retired ones.
  */
class BucketedAsOfSpec extends SparkSpec {

  private val Buckets = 8

  /** Keyed running counts: each epoch folds `(k, n)` increments. */
  private def advance(stateDir: String, batchId: Long, retain: Int,
      kv: Seq[(String, Long)],
      merge: (DataFrame, DataFrame) => DataFrame = defaultMerge): Boolean = {
    import spark.implicits._
    val batch = kv.toDF("k", "n")
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, batch,
      "k", Buckets, retain)(batch.limit(0))(
      (cur, cluster) => cluster(merge(cur, batch)))
  }

  private def defaultMerge(cur: DataFrame, batch: DataFrame): DataFrame =
    cur.unionByName(batch).groupBy(col("k")).agg(sum(col("n")).as("n"))

  private def readAsOf(stateDir: String, asOf: Long, retain: Int):
      Map[String, Long] = {
    import spark.implicits._
    ExactlyOnce.currentStateBucketedAsOf(spark, stateDir, asOf, retain)(
        Seq.empty[(String, Long)].toDF("k", "n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("every committed epoch within retention reconstructs exactly") {
    val dir = Files.createTempDirectory("graft_asof").toString
    val retain = 5
    // four epochs over overlapping key sets — prefix sums are the truth
    val epochs = Seq(
      Seq("a" -> 1L, "b" -> 2L),
      Seq("b" -> 10L, "c" -> 3L),
      Seq("a" -> 100L, "d" -> 4L),
      Seq("c" -> 30L, "d" -> 40L, "e" -> 5L))
    epochs.zipWithIndex.foreach { case (kv, e) =>
      advance(dir, e.toLong, retain, kv)
    }
    val prefix = epochs.inits.toSeq.reverse.tail // 1..4 epoch prefixes
      .map(_.flatten.groupMapReduce(_._1)(_._2)(_ + _))
    (0 until 4).foreach { e =>
      assert(readAsOf(dir, e.toLong, retain) == prefix(e),
        s"as-of epoch $e")
    }
    // the plain current read is the as-of of the newest epoch
    assert(readAsOf(dir, 3L, retain) ==
      ExactlyOnce.currentStateBucketed(spark, dir)(
        sys.error("state expected")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("as-of past the retained window fails loudly, not wrongly") {
    val dir = Files.createTempDirectory("graft_asof_deep").toString
    // retain=2 (the default grace): key "a" is rewritten every epoch,
    // so epoch 0's version of its bucket is retired by epoch 2
    (0 until 4).foreach { e =>
      advance(dir, e.toLong, 2, Seq("a" -> 1L))
    }
    val err = intercept[RuntimeException] { readAsOf(dir, 0L, 2) }
    assert(err.getMessage.contains("retain"))
  }

  test("as-of an uncommitted epoch is rejected") {
    val dir = Files.createTempDirectory("graft_asof_nocommit").toString
    advance(dir, 0L, 2, Seq("a" -> 1L))
    val err = intercept[IllegalArgumentException] {
      readAsOf(dir, 7L, 2)
    }
    assert(err.getMessage.contains("never committed"))
  }

  test("a bucket born after the as-of epoch is provably absent, and a " +
      "written-empty bucket reads as empty rather than erroring") {
    val dir = Files.createTempDirectory("graft_asof_born").toString
    val retain = 4
    advance(dir, 0L, retain, Seq("a" -> 1L))
    // epoch 1 brings keys into fresh buckets; epoch 2 then empties
    // key "a"'s bucket entirely (merge filters everything out — the
    // partitioned write emits NO dir for the empty slice)
    val spread = (0 until 32).map(i => s"k$i" -> i.toLong)
    advance(dir, 1L, retain, spread)
    advance(dir, 2L, retain, Seq("a" -> 0L),
      (cur, batch) => defaultMerge(cur, batch).filter(lit(false)))

    val asOf0 = readAsOf(dir, 0L, retain)
    assert(asOf0 == Map("a" -> 1L),
      "epoch-1-born buckets must not leak into the epoch-0 view")
    // as of epoch 2 the emptied bucket contributes nothing — but the
    // other buckets' keys survive untouched
    val asOf2 = readAsOf(dir, 2L, retain)
    assert(!asOf2.contains("a"))
    assert(asOf2.nonEmpty)
    // and epoch 1 still sees the pre-wipe content
    assert(readAsOf(dir, 1L, retain).get("a").contains(1L))
  }

  test("CDC replica time travel: the row set as of each apply epoch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_asof_cdc").toString
    val retain = 4
    def envelope(k: String, op: String, ts: Long): (String, String) =
      k -> s"""{"op":"$op","after":${
        if (op == "d") "null" else s"""{"k":"$k","v":"v$ts"}"""
      },"source":{"ts_ms":$ts,"pos":$ts}}"""
    def batch(rows: Seq[(String, String)]) =
      rows.toDF("partitionKey", "value")

    val m = graft.operators.CdcApply.materializerVersioned(spark, dir,
      retain = retain) _
    m(batch(Seq(envelope("u1", "c", 1), envelope("u2", "c", 2))), 0L)
    m(batch(Seq(envelope("u1", "u", 3), envelope("u3", "c", 4))), 1L)
    m(batch(Seq(envelope("u2", "d", 5))), 2L)

    def replicaAsOf(e: Long) =
      graft.operators.CdcApply.replicaVersionedAsOf(spark, dir, e, retain)
    def keysAsOf(e: Long) =
      replicaAsOf(e)
        .select(col("partitionKey")).as[String].collect().toSet
    assert(keysAsOf(0L) == Set("u1", "u2"))
    assert(keysAsOf(1L) == Set("u1", "u2", "u3"))
    assert(keysAsOf(2L) == Set("u1", "u3"))
    // the as-of view reproduces the UPDATE history too: u1's value as
    // of epoch 0 predates the epoch-1 update
    def u1ValueAsOf(e: Long) =
      replicaAsOf(e)
        .filter(col("partitionKey") === "u1")
        .select(element_at(col("after"), "v")).as[String].head()
    assert(u1ValueAsOf(0L) == "v1")
    assert(u1ValueAsOf(2L) == "v3")
  }
}
