package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryDef.dec2

/** Analytic breadth beyond the core relational surface: window frames
  * (moving aggregates / ntile / percent_rank), wide→long reshaping
  * (unpivot), and time-series resampling with gap fill — the shapes a
  * metrics pipeline needs daily.
  *
  * Scale notes: window queries shuffle once on their partition key and
  * never use a global (unpartitioned) window; the unpivot is a
  * generator projection (no shuffle before the final agg); resampling
  * broadcasts a 1-row bounds aggregate and a tiny type dimension, so
  * the dense minute spine is generated in-plan — no driver-side loop,
  * no second scan of the fact table.
  */
object AnalyticsQueries {

  val defs: Map[String, QueryDef] = Map(

    // -------------------------------------------- window frames
    // Moving 3-row sum (exact decimal arithmetic), quartile bucket and
    // percentile rank per customer order history. Ties broken by
    // o_orderkey in BOTH engines so frames are deterministic.
    "rel_window_frames" -> QueryDef(
      (s, dir) => {
        val byCust = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(dec2(col("o_totalprice")))
              .over(byCust.rowsBetween(-2, Window.currentRow))
              .cast("double").as("moving3_sum"),
            ntile(4).over(byCust).as("quartile"),
            round(percent_rank().over(byCust), 6).as("pct_rank"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS moving3_sum,
          NTILE(4) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS quartile,
          ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey), 6) AS pct_rank
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // ------------------------------------------------- unpivot
    // Wide lineitem measures → long (metric, value) rows, aggregated
    // per metric with exact decimal sums.
    //
    // r18 (guide §1.2/§2.3): aggregate FIRST, stack the 4 totals after.
    // The old shape ran the stack generator below the aggregate — a 4×
    // row explosion (2.4 M rows at sf0.1) hashed by a STRING key just
    // to compute 4 column sums. One scan with 4 parallel decimal sums
    // + one count produces the identical rows: per-metric n is
    // count(*) (stack emits a row per metric per input row regardless
    // of value nulls), per-metric total is the same order-independent
    // exact-decimal sum of the same cast values, and the stack over
    // the 1-row aggregate keeps the wide→long reshape while the
    // Generate multiplies 1 row, not the corpus. Oracle unchanged —
    // rows bit-identical. A global aggregate over an EMPTY lineitem
    // still yields one (n = 0) row where the GROUP BY oracle yields
    // none, so that row is dropped before the stack.
    "rel_unpivot" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("l_quantity"))).cast("double").as("t_qty"),
            sum(dec2(col("l_extendedprice"))).cast("double").as("t_ep"),
            sum(dec2(col("l_discount"))).cast("double").as("t_disc"),
            sum(dec2(col("l_tax"))).cast("double").as("t_tax"))
          .filter(col("n") > 0)
          .selectExpr("stack(4, " +
            "'quantity', n, t_qty, 'extendedprice', n, t_ep, " +
            "'discount', n, t_disc, 'tax', n, t_tax) AS (metric, n, total)")
          .orderBy(col("metric"))
      },
      Some("""WITH u AS (
          SELECT 'quantity' AS metric, l_quantity AS value FROM lineitem
          UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'discount', l_discount FROM lineitem
          UNION ALL SELECT 'tax', l_tax FROM lineitem)
        SELECT metric, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM u GROUP BY metric ORDER BY metric""")),

    // --------------------------------------- time-series anomalies
    // z-score anomaly flags over the dense per-minute series: per type,
    // minutes whose event count deviates > 2σ from that type's mean
    // rate (gap minutes count as 0 — a dead feed IS an anomaly). All
    // moments come from exact integer sums (Σn, Σn² as longs), so mean/
    // variance/σ are identical doubles in both engines; round(6)
    // output. Per-type stats are a tiny aggregate joined back broadcast.
    "evt_anomaly" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("minute",
            (unix_timestamp(date_trunc("minute", col("ts"))) / 60L).cast("long"))
        val bounds = e.agg(min(col("minute")).as("lo"), max(col("minute")).as("hi"))
        val spine = broadcast(e.select(col("event_type")).distinct())
          .crossJoin(broadcast(bounds))
          .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("minute"))
        val dense = spine.join(
            e.groupBy(col("event_type"), col("minute"))
              .agg(count(lit(1)).as("cnt")),
            Seq("event_type", "minute"), "left")
          .select(col("event_type"), col("minute"),
            coalesce(col("cnt"), lit(0L)).as("n"))
        val stats = dense.groupBy(col("event_type"))
          .agg(count(lit(1)).as("m"), sum(col("n")).as("s1"),
            sum(col("n") * col("n")).as("s2"))
          .withColumn("mean", col("s1").cast("double") / col("m").cast("double"))
          .withColumn("sd", sqrt(
            col("s2").cast("double") / col("m").cast("double") -
              (col("s1").cast("double") / col("m").cast("double")) *
                (col("s1").cast("double") / col("m").cast("double"))))
          .select(col("event_type"), col("mean"), col("sd"))
        dense.join(broadcast(stats), "event_type")
          .filter(col("sd") > 0)
          .withColumn("z", round(
            (col("n").cast("double") - col("mean")) / col("sd"), 6))
          .filter(abs(col("z")) > 2.0)
          .select(col("event_type"), col("minute"), col("n"), col("z"))
          .orderBy(col("event_type"), col("minute"))
      },
      Some("""WITH e AS (
          SELECT event_type,
            CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT) AS minute
          FROM events),
        b AS (SELECT MIN(minute) AS lo, MAX(minute) AS hi FROM e),
        spine AS (
          SELECT t.event_type,
            CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT) AS minute
          FROM (SELECT DISTINCT event_type FROM e) t, b),
        c AS (SELECT event_type, minute, COUNT(*) AS cnt
          FROM e GROUP BY event_type, minute),
        dense AS (
          SELECT s.event_type, s.minute, COALESCE(c.cnt, 0) AS n
          FROM spine s LEFT JOIN c
            ON s.event_type = c.event_type AND s.minute = c.minute),
        st AS (
          SELECT event_type, COUNT(*) AS m, SUM(n) AS s1, SUM(n * n) AS s2
          FROM dense GROUP BY event_type),
        st2 AS (
          SELECT event_type,
            CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) AS mean,
            sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE) -
              (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) *
              (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))) AS sd
          FROM st)
        SELECT d.event_type, d.minute, d.n,
          ROUND((CAST(d.n AS DOUBLE) - mean) / sd, 6) AS z
        FROM dense d JOIN st2 ON d.event_type = st2.event_type
        WHERE sd > 0
          AND abs(ROUND((CAST(d.n AS DOUBLE) - mean) / sd, 6)) > 2.0
        ORDER BY d.event_type, d.minute""")),

    // ------------------------------------------ equi-width histogram
    // 20-bucket value distribution of order totals: bounds come from a
    // broadcast 1-row min/max aggregate (in-plan — one scan feeds both
    // the bounds and the bucketing), bucket ids are floor division on
    // doubles derived from identical inputs in both engines, and the
    // max value is clamped into the last bucket. The aggregation output
    // is 20 rows regardless of input size.
    "rel_histogram" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val bounds = o.agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        o.crossJoin(broadcast(bounds))
          .withColumn("bucket", least(
            floor((col("o_totalprice") - col("lo")) * 20.0 /
              (col("hi") - col("lo"))).cast("int"),
            lit(19)))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("o_totalprice")), 2).as("bucket_min"),
            round(max(col("o_totalprice")), 2).as("bucket_max"))
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (
          SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
        SELECT LEAST(CAST(FLOOR((o_totalprice - lo) * 20.0 / (hi - lo))
            AS INTEGER), 19) AS bucket,
          COUNT(*) AS n,
          ROUND(MIN(o_totalprice), 2) AS bucket_min,
          ROUND(MAX(o_totalprice), 2) AS bucket_max
        FROM orders, b
        GROUP BY 1 ORDER BY bucket""")),

    // ------------------------------------------- deterministic mode
    // Most-frequent value per group. Built-in mode() is tie-ambiguous
    // (engine- and partition-order-dependent); ranking on
    // (count DESC, value) makes the answer total-ordered and therefore
    // oracle-checkable — the only safe form of mode in a reproducible
    // pipeline. Two keyed aggregations, both partial-aggregated.
    "rel_mode" -> QueryDef(
      (s, dir) => {
        val counts = Tables.orders(s, dir)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("cnt").desc, col("o_orderpriority"))
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("o_orderstatus"),
            col("o_orderpriority").as("mode_priority"), col("cnt"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH c AS (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
          FROM orders GROUP BY o_orderstatus, o_orderpriority),
        r AS (
          SELECT o_orderstatus, o_orderpriority, cnt,
            ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY cnt DESC, o_orderpriority) AS rk
          FROM c)
        SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        FROM r WHERE rk = 1 ORDER BY o_orderstatus""")),

    // --------------------------------- ordered string aggregation
    // listagg/string_agg: the report-building aggregate. Deterministic
    // via sort_array over the collected set (collect_list order is
    // partition-dependent; sorting inside the row makes the result
    // reproducible and engine-portable). Grouped on nation — group
    // cardinality is small, the VALUES are what grow; at corpus scale
    // cap the per-group list (slice after sort) to bound row width.
    "rel_listagg" -> QueryDef(
      (s, dir) => {
        Tables.supplier(s, dir)
          .groupBy(col("s_nationkey"))
          .agg(concat_ws(",", sort_array(collect_list(col("s_name"))))
            .as("names"),
            count(lit(1)).as("n"))
          .orderBy(col("s_nationkey"))
      },
      Some("""SELECT s_nationkey,
          string_agg(s_name, ',' ORDER BY s_name) AS names,
          COUNT(*) AS n
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // --------------------------------- salted two-phase aggregation
    // The skew-defeating aggregation shape as a first-class declared
    // operator: a deterministic salt fans each hot group key out to 8
    // sub-keys, partials aggregate per (key, salt), then a second tiny
    // aggregation folds the salts. Exact-decimal partial sums re-sum
    // associatively, so the result is bit-identical to the direct
    // single-phase aggregation — which IS the oracle, proving the
    // rewrite is semantics-preserving. At scale the first exchange
    // spreads a hot key over 8 reducers; the second touches only
    // (groups × 8) rows. (Deterministic salt, not rand(): retries
    // re-produce the same partials — the same rule as hash sampling.)
    "rel_agg_salted" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir)
          .withColumn("salt", (col("l_orderkey") % 8).cast("int"))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(sum(dec2(col("l_quantity"))).as("pq"),
            count(lit(1)).as("pn"))
          .groupBy(col("l_returnflag"))
          .agg(sum(col("pq")).cast("double").as("sum_qty"),
            sum(col("pn")).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------- cohort retention
    // The retention matrix: users grouped by first-activity week
    // (cohort), counted in each later week they return. Weeks are
    // integer epoch-day/7 buckets — pure integer math after a
    // date_trunc('day'), so both engines agree exactly (no engine
    // week-start or fractional-epoch semantics involved). Plan: one
    // shuffle on user_id for the cohort aggregate + distinct activity,
    // then a tiny (cohorts × offsets) aggregate.
    "evt_retention" -> QueryDef(
      (s, dir) => {
        val weeks = Tables.events(s, dir)
          .select(col("user_id"),
            expr("cast(unix_timestamp(date_trunc('DAY', ts)) / 86400 as bigint) div 7")
              .as("week"))
          .distinct()
        val cohort = weeks.groupBy(col("user_id"))
          .agg(min(col("week")).as("cohort_week"))
        weeks.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH w AS (
          SELECT DISTINCT user_id,
            CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) // 7 AS week
          FROM events),
        c AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id)
        SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
          COUNT(DISTINCT w.user_id) AS users
        FROM w JOIN c ON w.user_id = c.user_id
        GROUP BY c.cohort_week, w.week - c.cohort_week
        ORDER BY cohort_week, week_offset""")),

    // ------------------------------------------- funnel analysis
    // Ordered-sequence funnel view → click → purchase: a user reaches
    // stage k at the earliest event of that type strictly AFTER their
    // stage-(k-1) time. Every stage aggregates and joins on user_id —
    // one shuffle key end-to-end, so the whole funnel co-partitions
    // (AQE reuses the exchange) and scales as three cheap keyed passes,
    // never a per-user sort of the full history.
    "evt_funnel" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"))
        val s1 = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        s1.agg(count(lit(1)).as("users")).select(lit("1_view").as("stage"), col("users"))
          .unionAll(s2.agg(count(lit(1)).as("users"))
            .select(lit("2_click").as("stage"), col("users")))
          .unionAll(s3.agg(count(lit(1)).as("users"))
            .select(lit("3_purchase").as("stage"), col("users")))
          .orderBy(col("stage"))
      },
      Some("""WITH s1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        SELECT '1_view' AS stage, COUNT(*) AS users FROM s1
        UNION ALL SELECT '2_click', COUNT(*) FROM s2
        UNION ALL SELECT '3_purchase', COUNT(*) FROM s3
        ORDER BY stage""")),

    // --------------------------------- resampling with gap fill
    // Per-minute event counts per type over the FULL [min, max] minute
    // range — absent minutes appear with n = 0 (the gap-fill a
    // downstream charting/anomaly job needs). The minute spine is
    // sequence(lo, hi) over a broadcast 1-row bounds aggregate crossed
    // with the distinct type dimension: generated in-plan, one scan of
    // the fact table feeds both the bounds and the counts.
    "evt_resample" -> QueryDef(
      (s, dir) => {
        // truncate BEFORE taking the epoch: both engines then divide an
        // exact multiple of 60, dodging DuckDB's round-vs-floor `//` on
        // fractional epochs
        val e = Tables.events(s, dir)
          .withColumn("minute",
            (unix_timestamp(date_trunc("minute", col("ts"))) / 60L).cast("long"))
        val bounds = e.agg(min(col("minute")).as("lo"), max(col("minute")).as("hi"))
        val types = e.select(col("event_type")).distinct()
        val spine = broadcast(types).crossJoin(broadcast(bounds))
          .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("minute"))
        val counts = e.groupBy(col("event_type"), col("minute"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec2(col("value"))).cast("double").as("v"))
        spine.join(counts, Seq("event_type", "minute"), "left")
          .select(col("event_type"), col("minute"),
            coalesce(col("cnt"), lit(0L)).as("n"),
            coalesce(col("v"), lit(0.0)).as("value_sum"))
          .orderBy(col("event_type"), col("minute"))
      },
      Some("""WITH e AS (
          SELECT event_type,
            CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT) AS minute,
            value
          FROM events),
        b AS (SELECT MIN(minute) AS lo, MAX(minute) AS hi FROM e),
        spine AS (
          SELECT t.event_type, CAST(unnest(range(b.lo, b.hi + 1)) AS BIGINT)
            AS minute
          FROM (SELECT DISTINCT event_type FROM e) t, b),
        c AS (
          SELECT event_type, minute, COUNT(*) AS cnt,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
          FROM e GROUP BY event_type, minute)
        SELECT s.event_type, s.minute,
          COALESCE(c.cnt, 0) AS n, COALESCE(c.v, 0.0) AS value_sum
        FROM spine s LEFT JOIN c
          ON s.event_type = c.event_type AND s.minute = c.minute
        ORDER BY s.event_type, s.minute""")),

    // ------------------------------------- RANGE-frame moving aggregate
    // Value-offset window frames (RANGE BETWEEN 10 PRECEDING AND
    // CURRENT ROW over the minute axis) — the time-based moving sum
    // that rows-frames (rel_window_frames) cannot express when the
    // series has gaps: the frame covers the last 10 MINUTES, not the
    // last 10 ROWS. Computed over the per-(type, minute) aggregate, so
    // the window input is already dense-keyed and partitioned; exact
    // decimal sums keep both engines bit-identical.
    "rel_range_frame" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("minute"))
          .rangeBetween(-10, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("minute",
            (unix_timestamp(date_trunc("minute", col("ts"))) / 60L).cast("long"))
          .groupBy(col("event_type"), col("minute"))
          .agg(sum(dec2(col("value"))).as("v"))
          .withColumn("moving_10m",
            sum(col("v")).over(w).cast("double"))
          .select(col("event_type"), col("minute"),
            col("v").cast("double").as("minute_sum"), col("moving_10m"))
          .orderBy(col("event_type"), col("minute"))
      },
      Some("""WITH m AS (
          SELECT event_type,
            CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT) AS minute,
            SUM(CAST(value AS DECIMAL(18,2))) AS v
          FROM events GROUP BY event_type, minute)
        SELECT event_type, minute,
          CAST(v AS DOUBLE) AS minute_sum,
          CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY minute
            RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS moving_10m
        FROM m ORDER BY event_type, minute""")),

    // ---------------------------------- incremental rollup maintenance
    // The materialized-view maintenance identity: a rollup kept as
    // per-day PARTIAL states (count + exact-decimal sum) merged with a
    // new day's partials re-aggregates to exactly the from-scratch
    // rollup — history is never rescanned. Here the two "materialized
    // generations" are the even/odd days; the oracle is the direct
    // single-pass aggregate, so the driver hash proves the
    // merge-of-partials is value-preserving (the same algebra that
    // makes map-side combine and AQE stage re-use safe). At 100 TB the
    // old generation is a tiny stored table and only the delta scans.
    "rel_rollup_incremental" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("day", date_trunc("DAY", col("ts")))
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"), col("day"))
            .agg(count(lit(1)).as("pn"), sum(dec2(col("value"))).as("pv"))
        partial(e.filter(dayofmonth(col("day")) % 2 === 0))
          .unionAll(partial(e.filter(dayofmonth(col("day")) % 2 === 1)))
          .groupBy(col("event_type"))
          .agg(sum(col("pn")).as("n"),
            sum(col("pv")).cast("double").as("value_sum"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // --------------------------- incremental join-view maintenance
    // The bilinear IVM identity Δ(L⋈R) = ΔL⋈R + L⋈ΔR + ΔL⋈ΔR, the
    // algebra behind StreamingJoinView's durable materializer: the two
    // "materialized generations" are even/odd order keys (L) and
    // even/odd customer keys (R); the four generation-pair joins union
    // to exactly the from-scratch join, which is the oracle. At 100 TB
    // the old generations are standing bucketed state and only the
    // deltas scan — each small join here stands in for one
    // bucket-pruned increment probe.
    "rel_join_view_incremental" -> QueryDef(
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"))
        val Seq(l1, l2) = Seq(0, 1).map(g =>
          o.filter(col("o_orderkey") % 2 === g))
        val Seq(r1, r2) = Seq(0, 1).map(g =>
          c.filter(col("c_custkey") % 2 === g))
        def j(l: org.apache.spark.sql.DataFrame,
            r: org.apache.spark.sql.DataFrame) =
          l.join(r, col("o_custkey") === col("c_custkey"))
        j(l1, r1).unionAll(j(l2, r1)).unionAll(j(l1, r2))
          .unionAll(j(l2, r2))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("c_name"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    // -------------------------------------------- gaps & islands
    // Sequence-gap detection (the classic islands-and-gaps shape): the
    // `click` stream's event_ids are a sparse subsequence of the dense
    // global sequence; each hole between consecutive click ids is a gap
    // [gap_start, gap_end]. One window sort on the filtered stream —
    // the filter cuts the data BEFORE the sort, and a real deployment
    // partitions the lead() by a shard key; here the global ORDER BY is
    // the operator itself.
    "evt_gaps" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // distributed successor-pair construction: lead() within id-range
        // buckets (parallel), then each bucket's tail pairs with the next
        // non-empty bucket's head via a lead over the O(buckets) bounds
        // table — the only unpartitioned window runs over buckets, never
        // the event stream (same two-phase shape as evt_concurrency)
        val clicks = Tables.events(s, dir)
          .filter(col("event_type") === "click")
          .select(col("event_id"))
          .withColumn("bkt", expr("event_id div 100000"))
        val wIn = Window.partitionBy(col("bkt")).orderBy(col("event_id"))
        val within = clicks
          .withColumn("next_id", lead(col("event_id"), 1).over(wIn))
          .filter(col("next_id").isNotNull)
          .select(col("event_id"), col("next_id"))
        val wB = Tables.tinyGlobalWindow(col("bkt"))
        val stitched = clicks.groupBy(col("bkt"))
          .agg(min(col("event_id")).as("bmin"), max(col("event_id")).as("bmax"))
          .withColumn("next_min", lead(col("bmin"), 1).over(wB))
          .filter(col("next_min").isNotNull)
          .select(col("bmax").as("event_id"), col("next_min").as("next_id"))
        within.unionAll(stitched)
          .filter(col("next_id") - col("event_id") > 1)
          .select((col("event_id") + 1).as("gap_start"),
            (col("next_id") - 1).as("gap_end"),
            (col("next_id") - col("event_id") - 1).as("gap_len"))
          .orderBy(col("gap_start"))
      },
      Some("""WITH c AS (
          SELECT event_id,
            LEAD(event_id) OVER (ORDER BY event_id) AS next_id
          FROM events WHERE event_type = 'click')
        SELECT event_id + 1 AS gap_start, next_id - 1 AS gap_end,
          next_id - event_id - 1 AS gap_len
        FROM c WHERE next_id - event_id > 1 ORDER BY gap_start""")),

    // -------------------------------------- event-type transition mining
    // First-order Markov transitions: per user, consecutive event pairs
    // (by ts, tie-broken by event_id so the sequence is total) counted
    // across the corpus — the "what do users do next" table. One shuffle
    // on user_id for the lag window, then a tiny (types × types)
    // aggregate. The per-user window never collapses to one partition.
    "evt_transitions" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("src"))
          .withColumn("dst", lead(col("src"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("src"), col("dst"))
      },
      Some("""WITH seq AS (
          SELECT user_id, event_type AS src,
            LEAD(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS dst
          FROM events)
        SELECT src, dst, COUNT(*) AS n
        FROM seq WHERE dst IS NOT NULL
        GROUP BY src, dst ORDER BY src, dst""")),

    // ------------------------------------------ sliding time windows
    // Sliding-window aggregation (10-minute windows every 5 minutes):
    // each event lands in exactly width/slide = 2 windows. Spark's
    // `window(ts, w, s)` generator is mirrored in the oracle by
    // unnesting the two aligned window starts per event — both compute
    // starts on the epoch-aligned 5-minute grid. Cost is a controlled
    // 2× row expansion then one aggregate; the grid arithmetic is exact
    // integer math after date_trunc (the evt_resample lesson).
    "evt_sliding_window" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir)
          .select(window(col("ts"), "10 minutes", "5 minutes").as("w"),
            col("value"))
          .groupBy(col("w.start").as("win_start"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("value_sum"))
          .select(
            (unix_timestamp(col("win_start")) / 60L).cast("long").as("win_min"),
            col("n"), col("value_sum"))
          .orderBy(col("win_min"))
      },
      Some("""WITH e AS (
          SELECT CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT)
              // 5 * 5 AS grid_min,
            value
          FROM events),
        x AS (
          SELECT grid_min - k.k * 5 AS win_min, value
          FROM e, (SELECT unnest([0, 1]) AS k) k)
        SELECT win_min, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM x GROUP BY win_min ORDER BY win_min""")),

    // --------------------------------------- time-windowed deduplication
    // Keep the FIRST event per (user, type) in each 1-minute tumbling
    // window — the batch shape of streaming dropDuplicates-with-
    // watermark (StreamingDedup covers the online side). row_number
    // inside the composite-key window; the filter drops ~duplicates
    // before the output sort. Fully key-partitioned — no global window.
    "evt_window_dedup" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"), col("event_type"),
            col("minute"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("minute",
            (unix_timestamp(date_trunc("minute", col("ts"))) / 60L)
              .cast("long"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("minute"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
          SELECT event_id, user_id, event_type, ts,
            CAST(epoch(date_trunc('minute', ts)) // 60 AS BIGINT) AS minute
          FROM events),
        r AS (
          SELECT event_id, user_id, event_type, minute,
            ROW_NUMBER() OVER (PARTITION BY user_id, event_type, minute
              ORDER BY ts, event_id) AS rn
          FROM e)
        SELECT event_id, user_id, event_type, minute
        FROM r WHERE rn = 1 ORDER BY event_id""")),

    // ----------------------------- cumulative distinct users (growth)
    // "Distinct users to date" without a running COUNT(DISTINCT) (which
    // needs full per-day user state): each user collapses to their
    // FIRST active day (one keyed min — map-side partial), then growth
    // is a per-day count plus a cumulative window over the tiny day
    // ------------------------------------ peak concurrency (sweep line)
    // Peak concurrent sessions per hour: gap-sessionize (same 1800 s
    // rule as evt_sessionize), emit +1/-1 boundary deltas (end is
    // inclusive, so -1 lands at end+1), collapse per second (ties
    // resolve by summing, no ordering ambiguity), then a DISTRIBUTED
    // prefix sum — within-hour running totals via a partitioned window
    // plus per-hour carry-in offsets from a cumulative sum over the
    // tiny hour-totals table (O(hours) rows — the rel_global_ids
    // two-phase pattern). Peaks are evaluated at boundary seconds;
    // hours without any boundary are absent by definition, identically
    // in both engines.
    "evt_concurrency" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
          .withColumn("sec", unix_timestamp(col("ts")))
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("sec"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = e.withColumn("prev_sec", lag(col("sec"), 1).over(wOrd))
          .withColumn("new_session",
            when(col("prev_sec").isNull ||
              col("sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(wRun))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
        // both deltas from ONE scan of the sessionization subtree
        // (r17, guide §2.3/§2.4): the unionAll form evaluated the
        // user-window + groupBy session derivation twice (one copy per
        // branch — exchange reuse covers only the shuffle below it,
        // not the window/aggregate stages above); the in-row explode
        // emits the identical (sec, delta) multiset from a single pass
        val perSec = sess.select(explode(array(
            struct(col("start_sec").as("sec"), lit(1L).as("delta")),
            struct((col("end_sec") + 1).as("sec"), lit(-1L).as("delta"))))
            .as("e"))
          .select(col("e.sec").as("sec"), col("e.delta").as("delta"))
          .groupBy(col("sec")).agg(sum(col("delta")).as("nd"))
          .withColumn("hour", expr("sec div 3600"))
        val wIn = Window.partitionBy(col("hour")).orderBy(col("sec"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withinRun = perSec.withColumn("in_run", sum(col("nd")).over(wIn))
        val wHours = Tables.tinyGlobalWindow(col("hour"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = perSec.groupBy(col("hour")).agg(sum(col("nd")).as("h_nd"))
          .withColumn("carry_in", coalesce(sum(col("h_nd")).over(wHours), lit(0L)))
          .select(col("hour"), col("carry_in"))
        withinRun.join(broadcast(offsets), "hour")
          .groupBy(col("hour"))
          .agg(max(col("in_run") + col("carry_in")).as("peak"))
          .orderBy(col("hour"))
      },
      Some("""WITH e AS (
          SELECT user_id, event_id,
            CAST(floor(epoch(ts)) AS BIGINT) AS sec
          FROM events),
        g AS (
          SELECT user_id, event_id, sec,
            CASE WHEN LAG(sec, 1) OVER w IS NULL
                   OR sec - LAG(sec, 1) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        sid AS (
          SELECT user_id, sec,
            CAST(SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY sec, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
          FROM g),
        sess AS (
          SELECT user_id, session_id,
            MIN(sec) AS start_sec, MAX(sec) AS end_sec
          FROM sid GROUP BY user_id, session_id),
        d AS (
          SELECT start_sec AS sec, 1 AS delta FROM sess
          UNION ALL SELECT end_sec + 1, -1 FROM sess),
        ps AS (SELECT sec, CAST(SUM(delta) AS BIGINT) AS nd
               FROM d GROUP BY sec),
        run AS (
          SELECT sec, CAST(SUM(nd) OVER (ORDER BY sec
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS conc
          FROM ps)
        SELECT sec // 3600 AS hour, MAX(conc) AS peak
        FROM run GROUP BY sec // 3600 ORDER BY hour""")),

    // series. State after the first aggregate is O(users), the window
    // runs over O(days) rows — the standard scalable form of a growth
    // curve at any event volume.
    "evt_user_growth" -> QueryDef(
      (s, dir) => {
        val w = Tables.tinyGlobalWindow(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("day"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .orderBy(col("day"))
      },
      Some("""WITH f AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS day
          FROM events GROUP BY user_id),
        g AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day)
        SELECT day, new_users,
          CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_users
        FROM g ORDER BY day""")),

    // ------------------------------- A/B experiment readout (lift)
    // The experimentation primitive: users split into control/treatment
    // by the deterministic id hash (stable across runs AND across the
    // backfill/live boundary — a rand() split is neither), then per
    // event type: per-arm event volume and mean value, and the relative
    // lift. Means use exact decimal sums (shuffle-order-proof); the
    // whole readout is one keyed aggregate with conditional sums — no
    // join, O(event_types) output at any traffic volume.
    "evt_ab_lift" -> QueryDef(
      (s, dir) => {
        import QueryDef.{dec2, uhash}
        val e = Tables.rebalance(Tables.events(s, dir))
          .withColumn("arm",
            uhash(concat(lit("u_"), col("user_id"))) % 2)
        e.groupBy(col("event_type"))
          .agg(
            count(when(col("arm") === 0, 1)).as("n_ctrl"),
            count(when(col("arm") === 1, 1)).as("n_treat"),
            (sum(when(col("arm") === 0, dec2(col("value")))).cast("double")
              / count(when(col("arm") === 0, 1))).as("ctrl_mean"),
            (sum(when(col("arm") === 1, dec2(col("value")))).cast("double")
              / count(when(col("arm") === 1, 1))).as("treat_mean"))
          .withColumn("lift",
            round(col("treat_mean") / col("ctrl_mean") - 1.0, 6))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH a AS (
          SELECT event_type, value,
            ${QueryDef.uhashSql("'u_' || CAST(user_id AS VARCHAR)")} % 2
              AS arm
          FROM events),
        g AS (SELECT event_type,
            COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_ctrl,
            COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_treat,
            CAST(SUM(CASE WHEN arm = 0
              THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
              / COUNT(CASE WHEN arm = 0 THEN 1 END) AS ctrl_mean,
            CAST(SUM(CASE WHEN arm = 1
              THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
              / COUNT(CASE WHEN arm = 1 THEN 1 END) AS treat_mean
          FROM a GROUP BY event_type)
        SELECT event_type, n_ctrl, n_treat, ctrl_mean, treat_mean,
          ROUND(treat_mean / ctrl_mean - 1.0, 6) AS lift
        FROM g ORDER BY event_type""")))
}
