package graft

/** Invariants of the analytic operators that the value-level oracle
  * can't express: funnel stages only shrink, the resampled series is
  * dense (every minute present for every type), and the salted
  * aggregation's sub-aggregates actually fan out the group key.
  */
class AnalyticsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("evt_funnel: stage populations are monotonically non-increasing") {
    val stages = q("evt_funnel").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.size == 3)
    assert(stages("1_view") >= stages("2_click"))
    assert(stages("2_click") >= stages("3_purchase"))
    assert(stages("1_view") > 0)
  }

  test("rel_unpivot: zero rows on an empty lineitem; sf0.001 rows match the GROUP BY shape") {
    import org.apache.spark.sql.functions._
    // the oracle's shape: unpivot every row first, then GROUP BY metric
    def grouped(dir: String) = queries.Tables.lineitem(spark, dir)
      .selectExpr("stack(4, " +
        "'quantity', CAST(l_quantity AS DECIMAL(18,2)), " +
        "'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)), " +
        "'discount', CAST(l_discount AS DECIMAL(18,2)), " +
        "'tax', CAST(l_tax AS DECIMAL(18,2))) AS (metric, value)")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("value")).cast("double").as("total"))
      .orderBy(col("metric"))
    val rows = q("rel_unpivot").collect().toSeq
    assert(rows.length == 4)
    assert(rows == grouped(sf).collect().toSeq)

    val empty = java.nio.file.Files.createTempDirectory("graft_empty_lineitem")
    queries.Tables.lineitem(spark, sf).limit(0)
      .write.parquet(s"$empty/lineitem.parquet")
    assert(grouped(empty.toString).count() == 0)
    val got = SparkEntry.queries("rel_unpivot")(spark, empty.toString).collect()
    assert(got.isEmpty, got.mkString(","))
  }

  test("evt_resample: dense spine — every (type, minute) cell exists exactly once") {
    val rows = q("evt_resample").collect()
    val types = rows.map(_.getString(0)).distinct
    val minutes = rows.map(_.getLong(1))
    val span = minutes.max - minutes.min + 1
    assert(rows.length == types.length * span,
      s"${rows.length} rows != ${types.length} types x $span minutes")
    // zero-filled gaps really are zero, not missing
    assert(rows.exists(_.getLong(2) == 0L), "expected at least one gap minute")
  }

  test("rel_agg_salted: salt fans out before folding (two aggregates in plan)") {
    val p = q("rel_agg_salted").queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // 2 phases x (partial+final)
  }

  test("rel_histogram: bucket counts sum to the table size, buckets ordered") {
    val rows = q("rel_histogram").collect()
    val total = queries.Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    val buckets = rows.map(_.getInt(0)).toSeq
    assert(buckets == buckets.sorted && buckets.forall(b => b >= 0 && b <= 19))
    // bucket value ranges never overlap out of order
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2) + 1e-9,
        s"bucket ${a.getInt(0)} max > bucket ${b.getInt(0)} min")
      case _ =>
    }
  }

  test("txt_search_bm25: scores strictly ranked, top-k bounded") {
    val rows = q("txt_search_bm25").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val scores = rows.sortBy(_.getInt(0)).map(_.getDouble(2))
    scores.sliding(2).foreach {
      case Array(hi, lo) => assert(hi >= lo, s"rank order violated: $hi < $lo")
      case _ =>
    }
    assert(scores.forall(_ > 0.0))
  }

  test("evt_anomaly: every flagged minute really deviates > 2 sigma") {
    val rows = q("evt_anomaly").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3)) > 2.0, r.toString)
    }
  }

  test("pack_waste: capacity bounds tokens; waste grows with context length") {
    val rows = q("pack_waste").collect().sortBy(_.getInt(0))
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "capacity >= tokens")
      val ratio = r.getDouble(3)
      assert(ratio >= 0.0 && ratio < 1.0, r.toString)
    }
    // boundary-preserving packing pads each doc's last bin: bigger bins
    // ⇒ more padding per doc ⇒ waste is non-decreasing in ctx
    val ratios = rows.map(_.getDouble(3))
    assert(ratios(0) <= ratios(1) && ratios(1) <= ratios(2), ratios.mkString(","))
  }

  test("evt_user_growth: cumulative curve is the running sum ending at " +
      "the distinct-user total") {
    val rows = q("evt_user_growth").collect()
    assert(rows.nonEmpty)
    var running = 0L
    rows.foreach { r =>
      val (newU, cum) = (r.getLong(1), r.getLong(2))
      assert(newU >= 1, "a day only appears when someone is new on it")
      running += newU
      assert(cum === running, s"cum $cum != running $running")
    }
    val totalUsers = graft.queries.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"))
      .distinct().count()
    assert(running === totalUsers)
  }

  test("evt_ab_lift: arms partition the traffic; lift consistent with means") {
    val rows = q("evt_ab_lift").collect()
    assert(rows.nonEmpty)
    val perType = graft.queries.Tables.events(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_ctrl") + r.getAs[Long]("n_treat") === perType(t))
      val expect = r.getAs[Double]("treat_mean") /
        r.getAs[Double]("ctrl_mean") - 1.0
      assert(math.abs(r.getAs[Double]("lift") - expect) < 1e-6)
    }
  }

  test("emb_outlier: 20 rows, non-negative scores, descending order") {
    val rows = q("emb_outlier").collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(_ >= 0.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("txt_tokenize_vocab: oov bounded by length, hash reproducible") {
    val a = q("txt_tokenize_vocab").collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (n, oov, h) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(oov >= 0 && oov <= n)
      assert(h >= 0 && h < 4294967296L, s"hash out of fold range: $h")
    }
    val b = q("txt_tokenize_vocab").collect()
    assert(a.toSeq === b.toSeq)
  }
}
