package graft

import org.apache.spark.sql.functions._


import graft.operators.{ScoredId, TopKAggregator}

/** The bounded top-k aggregator, SQL function registration, graph and
  * approximate aggregates, and query-level operator checks.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("TopKAggregator: k-bounded, deterministic, matches window top-k") {
    val data = queries.Tables.orders(spark, sf)
      .select(col("o_custkey"),
        col("o_orderkey").as("id"),
        col("o_totalprice").as("score"))
    val viaAgg = data.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => ScoredId(t._2, t._3))
      .agg(new TopKAggregator(3).toColumn)
      .flatMap { case (cust, top) => top.map(s => (cust, s.id, s.score)) }
      .toDF("cust", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("score").desc, col("id").asc)
    val viaWindow = data
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey").as("cust"), col("id"), col("score"))
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
  }

  test("java_string_hash registered as a SQL function") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT java_string_hash('test_db.events.0') AS h").head().getInt(0)
    assert(got == "test_db.events.0".hashCode)
    // every descriptor resolves in SQL to its own expression class
    GraftFunctions.descriptors.foreach { case (id, info, _) =>
      val described = spark.sql(s"DESCRIBE FUNCTION ${id.funcName}")
        .collect().map(_.getString(0)).mkString("\n")
      assert(described.contains(info.getClassName), described)
    }
  }

  test("ConnectedComponents: chain graph converges in diameter+1 rounds, one job each") {
    // chain 0-1-2-...-9: worst case for min-label propagation (label 0
    // travels one hop per round). diameter = 9, plus one round that
    // observes zero changes = 10 rounds; the fold-in convergence check
    // means each round is a single job (no separate count() pass).
    val vertices = (0L to 9L).toDF("id")
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      operators.ConnectedComponents.runCounted(vertices, edges)
    val got = labels.orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L to 9L).map(i => (i, 0L)))
    assert(rounds == 10, s"expected diameter+1 = 10 rounds, got $rounds")
  }

  test("ConnectedComponents.runStar: 1000-node chain converges in O(log n) rounds") {
    // The adversarial case for min-label propagation (would need ~1000
    // rounds); large-star/small-star halves path lengths every
    // alternation, so a 1000-node chain must converge well inside
    // log-ish rounds.
    val n = 1000
    val vertices = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      operators.ConnectedComponents.runStarCounted(vertices, edges)
    assert(rounds <= 15, s"expected O(log n) alternations, got $rounds")
    val got = labels.orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until n.toLong).map(i => (i, 0L)))
  }

  test("ConnectedComponents.runStar matches min-label on a multi-component graph") {
    // components: {0..4} (star), {10,11,12} (triangle), {20,21} (edge),
    // {30} (singleton)
    val vertices = (Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L))
      .toDF("id")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 2L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("a", "b")
    val star = operators.ConnectedComponents.runStar(vertices, edges)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val minl = operators.ConnectedComponents.run(vertices, edges)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star == minl)
    assert(star.toMap.apply(30L) == 30L) // singleton labels itself
  }

  test("graph_pagerank: singletons settle at the damping floor, hubs above it") {
    val pr = SparkEntry.queries("graph_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val paired = queries.DedupQueries.minhashPairs(spark, sf)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pr.nonEmpty)
    // a doc with no candidate edges receives no contributions: its rank
    // is exactly the damping floor 0.15 in micros after round 1
    pr.foreach { case (id, rank) =>
      if (!paired(id)) assert(rank == 150000L, s"singleton $id rank $rank")
      else assert(rank > 150000L, s"paired doc $id rank $rank not above floor")
    }
  }

  test("KMV sketches land within the ~3/sqrt(k) theoretical band of exact") {
    // global sketch: k=256 → SE ≈ 6.3%; gate at 3σ ≈ 19%
    val g = q("rel_kmv_distinct").head()
    val gErr = math.abs(g.getAs[Double]("est_distinct") -
      g.getAs[Long]("exact_distinct")) / g.getAs[Long]("exact_distinct")
    assert(gErr < 0.19, s"global KMV err=$gErr")
    // grouped sketch: k=128 → SE ≈ 8.9%; gate each group at 3σ ≈ 27%
    q("rel_kmv_groups").collect().foreach { r =>
      val err = math.abs(r.getAs[Double]("est_parts") -
        r.getAs[Long]("exact_parts")) / r.getAs[Long]("exact_parts")
      assert(err < 0.27, s"group ${r.getString(0)} KMV err=$err")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val l = queries.Tables.lineitem(spark, sf)
    val exact = l.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = l.select(approx_count_distinct(col("l_partkey"), 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("bucketed band join equals the naive theta join") {
    val e = queries.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
    val p = e.filter(col("event_type") === "purchase").as("p")
    val x = e.filter(col("event_type") === "error").as("x")
    val naive = p.join(x, abs(col("p.t") - col("x.t")) <= 5)
      .select(col("p.event_id").as("purchase_id"),
        col("x.event_id").as("error_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = SparkEntry.queries("rel_band_join_bucketed")(spark, sf)
      .collect().map(r => (r.getAs[Long]("purchase_id"),
        r.getAs[Long]("error_id")))
    assert(bucketed.length === bucketed.toSet.size, "no duplicate pairs")
    assert(bucketed.toSet === naive,
      s"bucketed ${bucketed.length} pairs vs naive ${naive.size}")
  }

  test("rel_global_ids: dense contiguous ids in (lang, doc_id) order") {
    val rows = SparkEntry.queries("rel_global_ids")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("gid") === i.toLong, s"gap at $i")
    }
    val ordered = rows.map(r => (r.getAs[String]("lang"),
      r.getAs[Long]("doc_id")))
    assert(ordered.sameElements(ordered.sorted), "ids follow (lang, doc_id)")
  }

  test("emb_whiten standardizes: whitened dims have mean ~0, var ~1") {
    val vecs = queries.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stats = vecs.select(posexplode(col("v")))
      .groupBy(col("pos"))
      .agg(avg(col("col")).as("m"), var_pop(col("col")).as("var"))
      .filter(col("var") > 0)
      .select((col("pos") + 1).as("dim"), col("m"), col("var"))
    val check = vecs.select(col("vec_id"), posexplode(col("v")))
      .select((col("pos") + 1).as("dim"), col("col").as("x"))
      .join(stats, "dim")
      .select(col("dim"), ((col("x") - col("m")) / sqrt(col("var"))).as("w"))
      .groupBy(col("dim"))
      .agg(avg(col("w")).as("wm"), var_pop(col("w")).as("wv"))
      .collect()
    check.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-6, s"mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6, s"var ${r.getDouble(2)}")
    }
    // and the declared audit sample exists with finite values
    val sample = SparkEntry.queries("emb_whiten")(spark, sf).collect()
    assert(sample.nonEmpty)
    sample.foreach(r => assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }

  test("rel_skew_report: hottest keys descending, skew multiple exact") {
    val rows = SparkEntry.queries("rel_skew_report")(spark, sf).collect()
    assert(rows.length === 20)
    val counts = queries.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (nKeys, nRows) = (counts.size.toLong, counts.values.sum)
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val k = r.getAs[Long]("l_orderkey")
      assert(r.getAs[Long]("cnt") === counts(k))
      val expect = counts(k).toDouble * nKeys / nRows
      assert(math.abs(r.getAs[Double]("skew_x") - expect) < 1e-6)
    }
  }

  test("dedup_incremental: flags consistent, increment is the hash split") {
    val rows = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dup, nm) = (r.getAs[Long]("is_dup"), r.getAs[Long]("n_matches"))
      assert((dup == 1L) === (nm > 0L), r.toString)
      assert((dup == 0L) === r.isNullAt(r.fieldIndex("first_match")),
        r.toString)
    }
    // the increment is exactly the samp_hash-rule 10% split
    val expected = queries.Tables.documents(spark, sf)
      .withColumn("h", graft.queries.QueryDef.uhash(
        concat(lit("doc_"), col("doc_id"))))
      .filter(col("h") % 10 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === expected)
  }

  test("cdc_snapshot_chunks matches the snapshot chunk math, " +
      "tiles the key span") {
    // n = ceil(span / 8096) chunks of step = max(span div n, 1) keys
    // from the minimum key; the last chunk is open above
    def chunking(mn: Long, mx: Long): (Long, Long) = {
      val span = mx - mn + 1
      val n = (span + 8095) / 8096
      (n, math.max(span / n, 1L))
    }
    assert(chunking(1, 8096) == (1L, 8096L))
    assert(chunking(1, 8097) == (2L, 4048L))
    assert(chunking(0, 99999) == (13L, 7692L))
    val rows = SparkEntry.queries("cdc_snapshot_chunks")(spark, sf)
      .collect()
    val ids = queries.Tables.events(spark, sf)
      .select(col("event_id")).as[Long].collect()
    val (n, step) = chunking(ids.min, ids.max)
    val want = ids.groupBy(id => math.min(n - 1, (id - ids.min) / step))
      .toSeq.sortBy(_._1).map { case (c, in) =>
        (c, in.length.toLong, in.min, in.max) }
    assert(rows.map(r => (r.getAs[Long]("chunk_id"),
      r.getAs[Long]("n_rows"), r.getAs[Long]("lo_key"),
      r.getAs[Long]("hi_key"))).toSeq == want)
    assert(rows.length == n)
    // chunk key ranges are disjoint and ordered
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi_key") < b.getAs[Long]("lo_key"))
      case _ =>
    }
  }

  test("cdc_op_stats: Debezium image rules hold per op") {
    val rows = SparkEntry.queries("cdc_op_stats")(spark, sf).collect()
    val total = queries.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum === total)
    rows.foreach { r =>
      val (op, n, nb, na) = (r.getAs[String]("op"), r.getAs[Long]("n"),
        r.getAs[Long]("n_before_img"), r.getAs[Long]("n_after_img"))
      op match {
        case "c" => assert(nb === 0L && na === n)
        case "d" => assert(nb === n && na === 0L)
        case "u" => assert(nb === n && na === n)
        case other => fail(s"unexpected op $other")
      }
      assert(r.getAs[Long]("first_ts_ms") <= r.getAs[Long]("last_ts_ms"))
    }
  }
}
