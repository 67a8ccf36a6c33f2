package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce
import graft.streaming.StreamingJoinView

/** Durable incremental join view: any epoch split of the two feeds
  * converges to the exact bag join; replays and torn epochs are safe;
  * retractions subtract exactly.
  */
class StreamingJoinViewSpec extends SparkSpec {

  private def ordersFeed(): DataFrame =
    queries.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private def customerFeed(): DataFrame =
    queries.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"))

  /** The batch truth: inner join with per-value-tuple multiplicities
    * (the bag the view's `__m` must reproduce).
    */
  private def truth(): Set[(Long, Long, Double, String, Long)] =
    ordersFeed().join(customerFeed(),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(4), r.getLong(5)))
      .toSet

  private def got(root: String): Set[(Long, Long, Double, String, Long)] =
    StreamingJoinView.view(spark, root)
      .collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
        r.getAs[Double]("o_totalprice"), r.getAs[String]("c_name"),
        r.getAs[Long]("__m")))
      .toSet

  /** Insert-only feeds: neither side carries a sign column. */
  private def insertOnly(root: String, leftKeys: Seq[String],
      rightKeys: Seq[String])(l: DataFrame, r: DataFrame, id: Long) =
    StreamingJoinView.materializerSigned(spark, root, leftKeys, rightKeys,
      None, None)(l, r, id)

  private val oKeys = Seq("o_custkey")
  private val cKeys = Seq("c_custkey")

  private def emptyC() = customerFeed().limit(0)

  test("interleaved uneven epochs converge to the exact batch join") {
    val root = Files.createTempDirectory("graft_jv").toString
    val o = ordersFeed(); val c = customerFeed()
    // epoch 0: a third of the orders, NO customers (view stays empty);
    // epoch 1: half the customers + another third of orders;
    // epoch 2: the rest of both — every Δ×state arm gets exercised
    insertOnly(root, oKeys, cKeys)(
      o.filter(col("o_orderkey") % 3 === 0), emptyC(), 0L)
    insertOnly(root, oKeys, cKeys)(
      o.filter(col("o_orderkey") % 3 === 1),
      c.filter(col("c_custkey") % 2 === 0), 1L)
    insertOnly(root, oKeys, cKeys)(
      o.filter(col("o_orderkey") % 3 === 2),
      c.filter(col("c_custkey") % 2 === 1), 2L)
    assert(got(root) == truth())
  }

  test("replayed epoch is a fenced no-op on all three states") {
    val root = Files.createTempDirectory("graft_jv_replay").toString
    val o = ordersFeed(); val c = customerFeed()
    insertOnly(root, oKeys, cKeys)(o, c, 0L)
    val after0 = got(root)
    // at-least-once re-delivery of epoch 0 (even with identical
    // content, a double-count would double every multiplicity)
    insertOnly(root, oKeys, cKeys)(o, c, 0L)
    assert(got(root) == after0)
    assert(after0 == truth())
  }

  test("torn epoch: left side committed, crash, full replay converges") {
    val root = Files.createTempDirectory("graft_jv_torn").toString
    val o = ordersFeed(); val c = customerFeed()
    insertOnly(root, oKeys, cKeys)(
      o.filter(col("o_orderkey") % 2 === 0), c, 0L)

    // simulate the crash window: epoch 1's LEFT advance commits (the
    // same delta rows the real epoch would write), then the process
    // dies before the right/view advances — replaying the whole epoch
    // must fence the left and still produce the exact increment
    val delta = o.filter(col("o_orderkey") % 2 === 1)
    val pDelta = delta
      .groupBy(delta.columns.map(col).toIndexedSeq: _*)
      .agg(sum(lit(1L)).as("__m"))
      // the materializer's packed-key format: length-prefixed parts
      .withColumn("__jkey", concat(
        length(col("o_custkey").cast("string")).cast("string"),
        lit(":"), col("o_custkey").cast("string")))
      .withColumn("__e", lit(1L))
    ExactlyOnce.advanceStateBucketed(spark, s"$root/left", 1L, pDelta,
      "__jkey", StreamingJoinView.DefaultBuckets)(pDelta.limit(0)) {
      (current, cluster) =>
        cluster(current
          .groupBy(pDelta.columns.filterNot(
            Set("__m", "__e")).map(col).toIndexedSeq: _*)
          .agg(sum(col("__m")).as("__m"), max(col("__e")).as("__e"))
          .filter(col("__m") =!= 0)
          .select(pDelta.columns.map(col).toIndexedSeq: _*)
          .unionByName(pDelta))
    }

    insertOnly(root, oKeys, cKeys)(
      delta, emptyC(), 1L)
    assert(got(root) == truth())
  }

  test("retractions: deleted orders leave the view, a retracted " +
      "customer takes all its join rows, out-of-order balances") {
    val root = Files.createTempDirectory("graft_jv_signed").toString
    val o = ordersFeed().withColumn("s", lit(1))
    val c = customerFeed().withColumn("s", lit(1))
    StreamingJoinView.materializerSigned(spark, root, oKeys, cKeys,
      Some("s"), Some("s"))(o, c, 0L)

    // retract every order of customers 1..10 — their join rows vanish
    StreamingJoinView.materializerSigned(spark, root, oKeys, cKeys,
      Some("s"), Some("s"))(
      o.filter(col("o_custkey") <= 10).withColumn("s", lit(-1)),
      c.limit(0), 1L)
    val want1 = truth().filter(_._2 > 10)
    assert(got(root) == want1)

    // retract customer 42 entirely — every surviving join row with it
    // disappears even though its orders are still in the left state
    StreamingJoinView.materializerSigned(spark, root, oKeys, cKeys,
      Some("s"), Some("s"))(
      o.limit(0),
      c.filter(col("c_custkey") === 42).withColumn("s", lit(-1)), 2L)
    assert(got(root) == want1.filter(_._2 != 42))

    // out-of-order: the retraction arrived first; re-inserting the
    // customer restores exactly the rows it owned
    StreamingJoinView.materializerSigned(spark, root, oKeys, cKeys,
      Some("s"), Some("s"))(
      o.limit(0),
      c.filter(col("c_custkey") === 42).withColumn("s", lit(1)), 3L)
    assert(got(root) == want1)
  }

  test("duplicate rows multiply: m_left x m_right join multiplicity") {
    val root = Files.createTempDirectory("graft_jv_dup").toString
    import spark.implicits._
    val l = Seq((1L, "a"), (1L, "a"), (1L, "b"))
      .toDF("lk", "lval")
    val r = Seq((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y"))
      .toDF("rk", "rval")
    insertOnly(root, Seq("lk"), Seq("rk"))(
      l, r, 0L)
    val m = StreamingJoinView.view(spark, root)
      .collect()
      .map(row => (row.getAs[String]("lval"), row.getAs[String]("rval")) ->
        row.getAs[Long]("__m"))
      .toMap
    assert(m == Map(("a", "x") -> 6L, ("b", "x") -> 3L))
  }

  test("a real tagged stream through foreachBatch converges; empty " +
      "view before any match reads as an empty frame") {
    val root = Files.createTempDirectory("graft_jv_stream").toString
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, String)]
    val q = in.toDS().toDF("side", "k", "v")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        insertOnly(root,
          Seq("lk"), Seq("rk"))(
          batch.filter(col("side") === "l")
            .select(col("k").as("lk"), col("v").as("lv")),
          batch.filter(col("side") === "r")
            .select(col("k").as("rk"), col("v").as("rv")),
          id)
        () // foreachBatch wants Unit; the increment is unused here
      }
      .start()
    try {
      // first wave: no key overlap yet — a committed-but-MATCHLESS view
      // must read as an empty, correctly-shaped frame (not an error)
      in.addData(("l", 1L, "a1"), ("l", 2L, "a2"), ("r", 99L, "b99"))
      q.processAllAvailable()
      val empty = StreamingJoinView.view(spark, root)
      assert(empty.columns.toSet == Set("lk", "lv", "rk", "rv", "__m"))
      assert(empty.count() == 0)
      // second wave: the matches arrive
      in.addData(("r", 1L, "b1"), ("r", 3L, "b3"), ("l", 3L, "a3"))
      q.processAllAvailable()
    } finally q.stop()
    val gotRows = StreamingJoinView.view(spark, root)
      .select(col("lk"), col("lv"), col("rv"), col("__m"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toSet
    assert(gotRows == Set((1L, "a1", "b1", 1L), (3L, "a3", "b3", 1L)))
  }

  test("cascade: a three-way view ((orders x customer) x nation) " +
      "maintained from the increment, retractions rippling through") {
    val r1 = Files.createTempDirectory("graft_jv_c1").toString
    val r2 = Files.createTempDirectory("graft_jv_c2").toString
    val o = ordersFeed().withColumn("s", lit(1))
    val c = queries.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
    val n = queries.Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"))
    val retracted = 42L

    def epoch(lb: DataFrame, rb: DataFrame, nb: DataFrame, e: Long): Unit = {
      val inc1 = StreamingJoinView.materializerSigned(spark, r1,
        oKeys, cKeys, Some("s"), Some("s"))(lb, rb, e)
      // the increment's __m IS the sign column of the next stage
      StreamingJoinView.materializerSigned(spark, r2,
        Seq("c_nationkey"), Seq("n_nationkey"), Some("__m"), None)(
        inc1, nb, e)
    }

    epoch(o.filter(col("o_orderkey") % 2 === 0),
      c.filter(col("c_custkey") % 2 === 0).withColumn("s", lit(1)),
      n, 0L)
    epoch(o.filter(col("o_orderkey") % 2 === 1),
      c.filter(col("c_custkey") % 2 === 1).withColumn("s", lit(1)),
      n.limit(0), 1L)
    // retract one customer: its rows must leave BOTH views
    epoch(o.limit(0).withColumn("s", lit(1)),
      c.filter(col("c_custkey") === retracted).withColumn("s", lit(-1)),
      n.limit(0), 2L)

    val view3 = StreamingJoinView.view(spark, r2)
    // every standing row is a live match: the retraction left no
    // negative or zero multiplicity behind
    assert(view3.filter(col("__m") <= 0).count() == 0)
    val got3 = view3
      .select(col("o_orderkey"), col("c_custkey"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val want3 = ordersFeed()
      .join(c.filter(col("c_custkey") =!= retracted),
        col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got3 == want3)
    assert(got3.nonEmpty)
  }

  test("sides sharing a non-key column name are rejected loudly") {
    val root = Files.createTempDirectory("graft_jv_clash").toString
    import spark.implicits._
    val l = Seq((1L, "a")).toDF("k", "v")
    val r = Seq((1L, "b")).toDF("k2", "v")
    val e = intercept[IllegalArgumentException] {
      insertOnly(root, Seq("k"), Seq("k2"))(
        l, r, 0L)
    }
    assert(e.getMessage.contains("rename"))
  }

  test("null join keys are dropped and separator-lookalike key tuples " +
      "cannot collide (length-prefixed packed keys)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_jv_keys").toString
    val sep = "\u0001"
    // the classic packing collision: ("a<sep>b","c") vs ("a","b<sep>c")
    // concatenate identically under a separator join — they must NOT
    // join; null-keyed rows on either side must vanish, not match
    val l = Seq((s"a${sep}b", "c", 10L), (null, "x", 11L))
      .toDF("k1", "k2", "lv")
    val r = Seq(("a", s"b${sep}c", 1.5), (null, "y", 9.9))
      .toDF("rk1", "rk2", "rv")
    insertOnly(root,
      Seq("k1", "k2"), Seq("rk1", "rk2"))(l, r, 0L)
    assert(StreamingJoinView.view(spark, root).count() == 0)

    // the genuinely-equal tuple still joins
    val l1 = Seq(("a", s"b${sep}c", 20L)).toDF("k1", "k2", "lv")
    insertOnly(root,
      Seq("k1", "k2"), Seq("rk1", "rk2"))(l1, r.limit(0), 1L)
    val got = StreamingJoinView.view(spark, root)
      .select(col("lv"), col("rv"), col("__m")).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSet
    assert(got == Set((20L, 1.5, 1L)))
  }
}
