package graft

import org.apache.spark.sql.functions._

/** Scale-pattern operators: bloom-filter probe pruning, and bucketed
  * tables for co-located (shuffle-free) joins.
  */
class ScaleOpsSpec extends SparkSpec {

  test("bloom probe prunes the fact side below the exchange; result equals the plain join") {
    import graft.functions.BloomOps
    val dim = queries.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = dim.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val fact = queries.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))

    // the probe is selective: most non-matching keys are dropped pre-shuffle
    val factRows = fact.count()
    val survivors = fact
      .filter(BloomOps.mightContainLong(col("l_orderkey"), bloom)).count()
    val trueMatches = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(survivors < factRows, s"probe dropped nothing ($survivors/$factRows)")
    assert(survivors >= trueMatches) // never a false negative
    // 1% fp sizing: survivors ≈ matches + 1% of non-matches
    assert(survivors - trueMatches <= (factRows - trueMatches) / 20,
      s"fp rate too high: $survivors survivors vs $trueMatches matches")

    // bloom-pruned SMJ ≡ plain SMJ, bit-identical
    val pruned = fact
      .filter(BloomOps.mightContainLong(col("l_orderkey"), bloom))
      .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
    val plain = fact.join(dim.hint("merge"),
      col("l_orderkey") === col("o_orderkey"))
    assert(pruned.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(pruned).count() == 0)

    // plan shape: the probe sits AT the fact scan (pre-shuffle) — the
    // line after the bloom Filter in the tree is the lineitem scan, not
    // an Exchange/Join (which would mean post-shuffle probing)
    val planLines = pruned.queryExecution.executedPlan.toString.linesIterator.toSeq
    val probeLine = planLines.indexWhere(_.contains("graft_bloom_might_contain"))
    assert(probeLine >= 0, planLines.mkString("\n"))
    val below = planLines.slice(probeLine + 1, probeLine + 3).mkString("\n")
    assert(below.contains("Scan parquet") || below.contains("ColumnarToRow"),
      s"probe is not directly over the scan:\n${planLines.mkString("\n")}")
  }

  test("bucketed tables join without an exchange") {
    // warehouse dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) and are dropped at the end
    val o = queries.Tables.orders(spark, sf)
    val c = queries.Tables.customer(spark, sf)
    o.write.mode("overwrite").bucketBy(4, "o_custkey")
      .sortBy("o_custkey").saveAsTable("graft_orders_b")
    c.write.mode("overwrite").bucketBy(4, "c_custkey")
      .sortBy("c_custkey").saveAsTable("graft_cust_b")
    val j = spark.table("graft_orders_b").join(
      spark.table("graft_cust_b"),
      col("o_custkey") === col("c_custkey"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    // both sides bucketed on the join key: no shuffle exchange
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(j.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    spark.sql("DROP TABLE IF EXISTS graft_orders_b")
    spark.sql("DROP TABLE IF EXISTS graft_cust_b")
  }
}
