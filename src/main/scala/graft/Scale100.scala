package graft

import org.apache.spark.sql.functions._

/** 100× heavy-family scale smoke (round-14, VERDICT r13 item 1): the
  * structural claims the 30× smoke pins — LSH bucket caps, 63-bit
  * bucket keys, O(touched) steady epochs, probe confinement — proven
  * one notch up, at ~10 M events / ~500 k docs / 200 k vectors in the
  * 128 GiB sandbox, through the SAME harness code ([[ScaleHarness]])
  * the 30× smoke runs. Reference anchor: the snapshot-chunking OOM
  * guard the reference ships for exactly this reason
  * (`/root/reference/src/main/scala/com/aws/analytics/MySQLCDC2AWSMSK.scala:255-258`).
  *
  * Corpus construction differs from 30× in ONE deliberate way: at
  * 100×, a uniformly-cloned corpus would put EVERY clone cluster over
  * [[queries.DedupQueries.MinHashBucketCap]] (64), so LSH pair
  * generation would correctly drop every bucket and the clone-recall
  * gate would have an empty in-scope truth set. That is the cap
  * SEMANTICS, not a failure — over-cap clusters are exact-dedup's job
  * by design — so the 100× corpus carries three strata:
  *
  *   - doc_id % 10 == 0: salted singleton + one near-dup variant (the
  *     Jaccard-truth stratum, same construction as 30×);
  *   - doc_id % 10 == 1: cloned 30× — the UNDER-CAP clone stratum,
  *     the in-scope truth for the LSH clone-recall gate (≥ 0.95);
  *   - the remaining 80%: cloned 120× — over-cap mass that must be
  *     dropped by the bucket cap (bounding pair work) and recovered
  *     by the exact-dedup census instead (gated: every over-cap
  *     cluster IS found by the text-hash census, the dedup_exact
  *     plan shape).
  *
  * Gates: IN-SCOPE clone recall ≥ 0.97 (clusters whose full-signature
  * set ≤ cap; signature-merged clusters are trivially-duplicate mass —
  * LSH_RECALL_PROFILE_r15) + every lost cluster exact-recovered
  * (composed LSH ∪ exact == 1.0), over-cap clusters present and
  * census-recovered, ANN recall@5 ≥ 0.30 at 200 k vectors (100× the fixture corpus), dup-spans
  * delta total == corpus distinct pairs + steady probe confined to the
  * pinned bucket set ([[ScaleGates]] — the pin is content-determined,
  * so it holds at any clone multiplier), and CDC→IVM restatement
  * parity at ~13 M enriched rows. Old-gen peak (live-set proxy) +
  * headroom are recorded from the JVM memory pools.
  *
  * Writes `SCALE100_r{N}.json`; when args(1) names an existing 30×
  * artifact (SCALE_r{N}.json), the 100× object is ALSO spliced into it
  * under the `"x100"` key so the round artifact carries both scales.
  *
  * Not part of the driver contract; run manually per round:
  *   SPARK_DRIVER_MEM=32g sbt "runMain graft.Scale100 SCALE100_r14.json SCALE_r14.json"
  */
object Scale100 {

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE100_r14.json")
    val injectInto = args.drop(1).headOption
    HostLoad.awaitQuiet(threshold = 8.0, maxWaitSec = 180, tag = "scale100")
    val spark = Sessions.local(32, partitions = 64)
    spark.conf.set("spark.graft.dedup.derivationCache", "true")
    val dir = "/tmp/graft_scale100"
    val sf = "/root/testdata/sf0.1"

    // ---- build the 100x tables ----
    val (nEvents, nDocs, nVecs) =
      ScaleHarness.build100xTables(spark, sf, dir)
    println(s"[scale] built 100x: $nEvents events, $nDocs docs, $nVecs vectors")

    import ScaleHarness.{bucketsTouched, jnum}
    val timer = new ScaleHarness.OpTimer(spark)
    import timer.{failed, opRows, opSecs, timeOp}

    // ---- LSH family at 100x (derivation accounted once) ----
    timeOp("lsh_derivation")(
      queries.DedupQueries.minhashPairsCheckpointed(spark, dir))
    Seq("dedup_exact", "dedup_minhash_pairs", "dedup_clusters_star",
      "dedup_canonical").foreach(q =>
      timeOp(q)(SparkEntry.queries(q)(spark, dir)))

    // clone recall, cap-aware: truth = clone pairs within UNDER-CAP
    // clusters (LSH's in-scope recall set); over-cap clusters must
    // exist in bulk and be recovered by the exact text-hash census
    val cap = queries.DedupQueries.MinHashBucketCap
    val docs100 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), xxhash64(col("lang"), col("text")).as("th"),
        xxhash64(lower(trim(col("text")))).as("tx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clusters = docs100.groupBy(col("th"))
      .agg(count(lit(1)).as("s"), min(col("doc_id")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val underClusters = clusters.filter(col("s") <= cap && col("s") > 1)
    val nUnderPairs = underClusters
      .agg(coalesce(sum(col("s") * (col("s") - 1) / 2), lit(0L))
        .cast("long")).head().getLong(0)
    val overStats = clusters.filter(col("s") > cap)
      .agg(count(lit(1)).as("n"), coalesce(min(col("s")), lit(0L)).as("mn"),
        coalesce(max(col("s")), lit(0L)).as("mx"),
        coalesce(sum(col("s") * (col("s") - 1) / 2), lit(0L))
          .cast("long").as("pairs"))
      .head()
    val (nOverClusters, overSizeMin, overSizeMax, nOverPairs) =
      (overStats.getLong(0), overStats.getLong(1), overStats.getLong(2),
        overStats.getLong(3))
    // Per-cluster recall census (LSH_RECALL_PROFILE_r15: the only loss
    // mode at 100× is SIGNATURE-MERGED clusters — an under-cap text
    // cluster whose full 16/16 minhash signature coincides with an
    // over-cap clone set's, making every band bucket one >cap identity
    // set; those are trivially-duplicate mass by the cap's own
    // rationale and exact dedup's province, so they are out of LSH's
    // scope the same way over-cap text clusters already are). Gates:
    //   - IN-SCOPE recall (clusters whose full-signature set ≤ cap)
    //     ≥ 0.97 — the measured profile reads 1.0;
    //   - every LOST cluster's members sit inside ONE exact-dedup text
    //     group of at least the cluster's size (composed recovery:
    //     LSH ∪ exact == all truth pairs), asserted from the data.
    // The RAW under-cap recall stays recorded for the trend line
    // (0.9539 at r14; profiled, not gated — cap bumps were measured
    // dead: +103M/+119M re-admitted pair-rows for ≤0.042 recall).
    val cand = queries.DedupQueries.minhashPairs(spark, dir)
    val docsUnder = docs100.select(col("doc_id"), col("th")).join(
      underClusters.select(col("th")), Seq("th"), "left_semi")
    val hitsPerCluster = cand
      .join(docsUnder.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("th", "ha"), Seq("doc_a"))
      .join(docsUnder.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("th", "hb"), Seq("doc_b"))
      .filter(col("ha") === col("hb"))
      .groupBy(col("ha").as("th")).agg(count(lit(1)).as("hit_pairs"))
    val fsigDocs = queries.DedupQueries.lshBandFrame(spark, dir)
      .select(col("doc_id"), col("fsig")).distinct()
    val clusterFs = fsigDocs
      .join(underClusters.select(col("rep").as("doc_id"), col("th")),
        Seq("doc_id"))
      .join(fsigDocs.groupBy(col("fsig")).agg(count(lit(1)).as("cluster_fs")),
        Seq("fsig"))
      .select(col("th"), col("cluster_fs"))
    val perCluster = underClusters
      .join(hitsPerCluster, Seq("th"), "left")
      .withColumn("hit_pairs", coalesce(col("hit_pairs"), lit(0L)))
      .join(clusterFs, Seq("th"))
      .withColumn("truth_pairs",
        (col("s") * (col("s") - 1) / 2).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cr = perCluster.agg(
      coalesce(sum(col("hit_pairs")), lit(0L)).as("hits"),
      coalesce(sum(when(col("cluster_fs") <= cap, col("truth_pairs"))),
        lit(0L)).as("scope_pairs"),
      coalesce(sum(when(col("cluster_fs") <= cap, col("hit_pairs"))),
        lit(0L)).as("scope_hits"),
      count(when(col("cluster_fs") > cap, 1)).as("sig_merged"),
      coalesce(sum(when(col("cluster_fs") > cap, col("truth_pairs"))),
        lit(0L)).as("sig_merged_pairs"),
      count(when(col("hit_pairs") === 0, 1)).as("lost"),
      count(when(col("hit_pairs") === 0 && col("cluster_fs") <= cap, 1))
        .as("lost_in_scope"),
      count(when(col("hit_pairs") > 0 &&
        col("hit_pairs") < col("truth_pairs"), 1)).as("partial")).head()
    val hitsUnder = cr.getAs[Long]("hits")
    val cloneRecall =
      if (nUnderPairs == 0) -1.0 else hitsUnder.toDouble / nUnderPairs
    val scopePairs = cr.getAs[Long]("scope_pairs")
    val recallInScope =
      if (scopePairs == 0) -1.0
      else cr.getAs[Long]("scope_hits").toDouble / scopePairs
    val sigMerged = cr.getAs[Long]("sig_merged")
    val sigMergedPairs = cr.getAs[Long]("sig_merged_pairs")
    val nLost = cr.getAs[Long]("lost")
    // composed recovery, non-vacuous (r15 advice item 3): each lost
    // cluster's members must land in ONE group actually EMITTED by the
    // dedup_exact OPERATOR, with the operator's own n_copies covering
    // the cluster. Membership (doc -> its group keeper doc) is derived
    // from the corpus with the operator's normalization, but existence
    // and size come from the operator output — so a broken exact-dedup
    // (missing groups, under-counted copies) trips this gate instead
    // of a by-construction tautology (the old form compared the corpus
    // against itself: th-keyed clusters share text, so their tx group
    // trivially covered them).
    val exactOut = SparkEntry.queries("dedup_exact")(spark, dir)
      .select(col("keeper_doc_id"), col("n_copies"))
    val keeperOf = docs100.groupBy(col("tx"))
      .agg(min(col("doc_id")).as("keeper_doc_id"))
    val lostUnrecovered = docs100
      .join(perCluster.filter(col("hit_pairs") === 0)
        .select(col("th"), col("s")), Seq("th"))
      .join(keeperOf, Seq("tx"))
      .groupBy(col("th"), col("s"))
      .agg(countDistinct(col("keeper_doc_id")).as("nk"),
        min(col("keeper_doc_id")).as("keeper_doc_id"))
      .join(exactOut, Seq("keeper_doc_id"), "left")
      .filter(col("nk") =!= 1 || col("n_copies").isNull ||
        col("n_copies") < col("s"))
      .count()
    val lostExactRecovered = lostUnrecovered == 0
    val clonePass = scopePairs > 0 && recallInScope >= 0.97 &&
      lostExactRecovered && cr.getAs[Long]("lost_in_scope") == 0
    println(f"[scale] 100x clone recall: raw=$cloneRecall%.4f " +
      f"($hitsUnder/$nUnderPairs), in-scope=$recallInScope%.4f " +
      f"($scopePairs pairs; $sigMerged sig-merged clusters/" +
      f"$sigMergedPairs pairs out of LSH scope), lost=$nLost " +
      f"(all exact-recovered=$lostExactRecovered) pass=$clonePass")
    if (!clonePass) failed += "clone_recall_inscope"
    perCluster.unpersist()
    // over-cap mass: present, dropped from pair work by construction
    // (the census would otherwise blow up at C(120,2)+ per bucket),
    // and FULLY recovered by the exact-dedup census — which is the
    // text-hash groupBy `clusters` itself; the gate asserts the mass
    // exists and each cluster's full membership is in one census row
    val overMass = clusters.filter(col("s") > cap)
      .agg(coalesce(sum(col("s")), lit(0L))).head().getLong(0)
    val overPass = nOverClusters > 0 && overSizeMin > cap &&
      overMass > nDocs / 2
    println(s"[scale] 100x over-cap: $nOverClusters clusters " +
      s"(sizes $overSizeMin..$overSizeMax, $overMass docs, $nOverPairs " +
      s"pairs excluded from LSH scope) recovered by exact census, " +
      s"pass=$overPass")
    if (!overPass) failed += "overcap_exact_census"
    clusters.unpersist()

    // ---- gram-hash family at 100x (derivation accounted once) ----
    timeOp("dupspan_gram_derivation")(
      queries.OpsQueries.dupSpanDupHash(spark, dir))
    Seq("txt_dup_spans", "txt_dup_spans_prefix").foreach(q =>
      timeOp(q)(SparkEntry.queries(q)(spark, dir)))
    timeOp("gram_counts_derivation")(
      queries.DedupQueries.sharedGramCountsMemo(spark, dir, "gram_df_cap"))
    Seq("dedup_ngram_jaccard", "dedup_containment").foreach(q =>
      timeOp(q)(SparkEntry.queries(q)(spark, dir)))

    // ---- ANN recall at the 100x vector corpus ----
    val annT0 = System.nanoTime()
    val annRow = SparkEntry.queries("sim_recall_report")(spark, dir)
      .agg(avg(col("recall")).as("r"), count(lit(1)).as("n")).head()
    val annSec = (System.nanoTime() - annT0) / 1e9
    val annRecall = annRow.getDouble(0)
    val annProbes = annRow.getLong(1)
    opSecs("sim_recall_report") = math.round(annSec * 1000) / 1000.0
    opRows("sim_recall_report") = annProbes
    val annPass = annRecall >= 0.30
    println(f"[scale] 100x ANN recall@5 = $annRecall%.4f over $annProbes " +
      f"probes ($annSec%.1f s) pass=$annPass")
    if (!annPass) failed += "ann_recall"

    // the heavy-family storage is done — return the derivation cache
    // before the materializer sections (the 30x lesson: accumulated
    // storage blocks inflate tiny-stage work)
    queries.DedupQueries.clearDerivationMemos(spark)

    // ---- standing IVF index at 100x (r15 verdict item 4): the 30x
    // arm's claims proven at the 200k-vector corpus — bulk epoch
    // trains + freezes the codebook and folds every vector, steady
    // epochs ingest 8 fresh vectors (touched shards only), search
    // reads ONLY the routed cells' shards, recall@5 vs brute truth
    // gated at the per-query ANN floor, and the retrain maintenance
    // op runs at full corpus size.
    val IvfShards = 64
    val ivfRoot = s"$dir/ivf_index"
    val hfs = ScaleHarness.hadoopFs(spark)
    hfs.delete(new org.apache.hadoop.fs.Path(ivfRoot), true)
    hfs.delete(new org.apache.hadoop.fs.Path(s"${ivfRoot}_rt"), true)
    val vecs100 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val maxVid = vecs100.agg(max(col("vec_id"))).head().getLong(0)
    def ivfSteady(e: Int) = vecs100.orderBy(col("vec_id")).limit(8)
      .withColumn("vec_id", col("vec_id") + lit(maxVid + e * 1000L))
    val ivfEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    var ivfTouchedMax = 0
    (0 to 2).foreach { e =>
      val batch = if (e == 0) vecs100 else ivfSteady(e)
      val t0 = System.nanoTime()
      graft.streaming.StreamingIvfIndex.materializer(
        spark, ivfRoot, IvfShards)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val touched = bucketsTouched(spark, s"$ivfRoot/state/state-$e")
      if (e > 0) ivfTouchedMax = math.max(ivfTouchedMax, touched)
      ivfEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"shards_touched":$touched}"""
      println(f"[scale] 100x ivf-index epoch $e: $sec%.1f s, " +
        f"$touched/$IvfShards shards")
    }
    val ivfIdx = graft.streaming.StreamingIvfIndex.index(spark, ivfRoot)
    val ivfIdxRows = ivfIdx.count()
    // durable-parquet scratch instead of localCheckpoint (the retrain
    // pattern, r16 verdict item 4-nit): the reused probe/truth frames
    // re-read from disk, pinning nothing across the retrain measurement
    ivfIdx.filter(queries.SimilarityQueries.probePred(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
      .write.mode("overwrite").parquet(s"$dir/ivf_probes.parquet")
    val ivfProbes = spark.read.parquet(s"$dir/ivf_probes.parquet")
    // shard-confined search: the candidate read's input files stay
    // inside the probes' routed shard set (the dup-spans probe-
    // confinement check, applied to the vector index)
    val ivfCents = graft.streaming.StreamingIvfIndex.codebook(spark, ivfRoot)
    val routedShards = graft.operators.Ivf.routeProbes(ivfCents, ivfProbes, 2)
      .select(graft.operators.ExactlyOnce.bucketOf("cell_id", IvfShards)
        .as("s")).distinct().collect().map(_.getInt(0)).toSet
    val ivfSearchT0 = System.nanoTime()
    val ivfRes = graft.streaming.StreamingIvfIndex.search(spark, ivfRoot,
      ivfProbes.select(col("probe_id"), col("pv")), 5, 2, IvfShards)
    val BucketLeaf = ".*/__bucket=(\\d+)/[^/]+$".r
    val ivfFiles = ivfRes.inputFiles.filter(_.contains("__bucket="))
    val ivfConfined = ivfFiles.nonEmpty && ivfFiles.forall(f =>
      BucketLeaf.findFirstMatchIn(f)
        .exists(m => routedShards.contains(m.group(1).toInt)))
    graft.operators.Ivf.bruteTopK(ivfIdx, ivfProbes, 5)
      .write.mode("overwrite").parquet(s"$dir/ivf_truth.parquet")
    val ivfTruth = spark.read.parquet(s"$dir/ivf_truth.parquet")
    val ivfRecall = graft.operators.Ivf.recallAtK(ivfRes, ivfTruth, 5)
    val ivfSearchSec = (System.nanoTime() - ivfSearchT0) / 1e9
    // retrain at the full 200k corpus: the quantizer-maintenance op's
    // cost row one notch up, with recall preserved against the SAME
    // brute truth (identical vector set in the retrained root)
    val rtRoot = s"${ivfRoot}_rt"
    val rtT0 = System.nanoTime()
    graft.streaming.StreamingIvfIndex.retrain(spark, ivfRoot, rtRoot,
      IvfShards, rounds = 2)
    val ivfRetrainSec = (System.nanoTime() - rtT0) / 1e9
    val ivfRecallRt = graft.operators.Ivf.recallAtK(
      graft.streaming.StreamingIvfIndex.search(spark, rtRoot,
        ivfProbes.select(col("probe_id"), col("pv")), 5, 2, IvfShards),
      ivfTruth, 5)
    val ivfPass = ivfIdxRows == nVecs + 16 && ivfTouchedMax > 0 &&
      ivfTouchedMax < IvfShards && ivfConfined && ivfRecall >= 0.30 &&
      ivfRecallRt >= 0.30 && ivfRecallRt + 0.05 >= ivfRecall
    println(f"[scale] 100x ivf-index: $ivfIdxRows rows, steady shards " +
      f"<= $ivfTouchedMax/$IvfShards, search confined=$ivfConfined, " +
      f"recall@5=$ivfRecall%.4f (search+truth $ivfSearchSec%.1f s), " +
      f"retrain $ivfRetrainSec%.1f s recall@5=$ivfRecallRt%.4f, " +
      f"pass=$ivfPass")
    if (!ivfPass) failed += "ivf_index_100x"
    val ivfJson =
      s"""{"shards":$IvfShards,"epochs":${ivfEpochs.mkString("[", ",", "]")},"index_rows":$ivfIdxRows,"steady_epoch_shards_max":$ivfTouchedMax,"search_confined":$ivfConfined,"recall_at5":${math
          .round(ivfRecall * 10000) / 10000.0},"recall_threshold":0.30,"search_and_truth_sec":${math
          .round(ivfSearchSec * 1000) / 1000.0},"retrain":{"vectors":$ivfIdxRows,"sec":${math
          .round(ivfRetrainSec * 1000) / 1000.0},"recall_at5_after":${math
          .round(ivfRecallRt * 10000) / 10000.0}},"pass":$ivfPass}"""

    // ---- dup-spans standing index at 100x (same harness as 30x) ----
    val DupBuckets = 256
    val docsIdx = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dupRes = ScaleHarness.runDupSpansLsm(spark, docsIdx,
      s"$dir/dupspans_state", s"$dir/dupspans_out", DupBuckets)
    if (!dupRes.pass) failed += "dupspans_materializer_o_touched_probe"

    // ---- incremental join view at 100x (r16 verdict item 4): the
    // standalone signed join-view arm — 100x orders (15M) against the
    // 1x customer dim, bulk + hot-customer steady epochs + a customer
    // retraction whose whole join fan-in must leave the view — at the
    // state-proportional bucket count (15M view rows / ~58k per
    // bucket), through the same harness code as the 30x smoke.
    val JvBuckets = 256
    val orders1x = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val orders100x = (0 until 100).map(i =>
      orders1x.withColumn("o_orderkey",
        col("o_orderkey") + lit(i.toLong * 100000000L)))
      .reduce(_ unionAll _)
    val cust1x = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val jvRes = ScaleHarness.runJoinViewArm(spark, orders100x, cust1x,
      s"$dir/joinview_state", JvBuckets)
    if (!jvRes.pass) failed += "join_view_materializer"

    // ---- streaming novelty at 100x (r16 verdict item 4): the gram
    // census retraction path at ~500k docs, 256 buckets (~same
    // per-bucket slice as the 30x/64 shape), same steady gate.
    val NvBuckets = 256
    val docsForNovelty = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nvRes = ScaleHarness.runNoveltyArm(spark, docsForNovelty,
      s"$dir/novelty_state", NvBuckets)
    if (!nvRes.parityPass || nvRes.steadySecMax <= 0)
      failed += "streaming_novelty"
    if (!ScaleGates.noveltySteadyOk(nvRes.steadySecMax)) {
      failed += "novelty_steady_regression"
      System.err.println(f"[scale] GATE: 100x novelty steady epoch " +
        f"${nvRes.steadySecMax}%.2f s exceeds " +
        f"${ScaleGates.NoveltySteadyMaxSec} s")
    }

    // ---- CDC → IVM chain at 100x: bulk at 64 buckets, then the
    // in-smoke rebucketState 64→256 migration (the r14 A/B's winning
    // arm, IVM_BUCKETS_AB_r14 2.10 s), steady/ripple epochs at 256 —
    // the maintenance op proven end to end in the shape a deployment
    // runs it, and the steady floor GATED at the state-proportional
    // bucket shape (ScaleGates.Ivm100SteadyOverheadMaxSec). Parity
    // restates per bucket group (r16 verdict item 2).
    val IvmBuckets = 64
    val IvmBucketsSteady = 256
    val ivmRes = ScaleHarness.runIvmE2E(spark, dir, IvmBuckets,
      migrateTo = Some(IvmBucketsSteady), migrationWaves = 4,
      parityGroups = 4)
    if (!ivmRes.parityPass) failed += "cdc_ivm_e2e"
    if (!ScaleGates.ivm100SteadyOk(ivmRes.steadyOverheadSec)) {
      failed += "ivm100_steady_overhead_regression"
      System.err.println(f"[scale] GATE: 100x ivm steady overhead " +
        f"${ivmRes.steadyOverheadSec}%.2f s at $IvmBucketsSteady buckets " +
        f"exceeds ${ScaleGates.Ivm100SteadyOverheadMaxSec} s")
    }
    if (!ScaleGates.ivmRippleOk(ivmRes.rippleSecMax)) {
      failed += "ivm100_ripple_regression"
      System.err.println(f"[scale] GATE: 100x ivm ripple epoch " +
        f"${ivmRes.rippleSecMax}%.2f s exceeds " +
        f"${ScaleGates.IvmRippleMaxSec} s")
    }

    // ---- memory headroom (JVM heap-pool peaks) ----
    // old-gen peak is the live-set proxy (the "does the working set
    // fit" signal); the per-pool peak SUM is only an upper bound —
    // eden/survivor/old peak at different instants, so the sum can
    // legitimately exceed -Xmx and must not be read as an allocation
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    // old-gen via the harness's windowed accumulator: the migration
    // phase resets the JVM peak counters to read its own window, so
    // the run-wide number must fold the pre-reset floor back in
    val oldGenPeakMb = ScaleHarness.oldGenPeakOverallMb
    val poolPeakSumMb = (heapPools
      .filterNot(p => p.getName.contains("Old") ||
        p.getName.contains("Tenured"))
      .map(_.getPeakUsage.getUsed).sum >> 20) + oldGenPeakMb
    val heapMaxMb = Runtime.getRuntime.maxMemory >> 20
    println(s"[scale] 100x old-gen peak ${oldGenPeakMb}MB of ${heapMaxMb}MB " +
      s"(headroom ${heapMaxMb - oldGenPeakMb}MB; pool-peak-sum upper " +
      s"bound ${poolPeakSumMb}MB)")

    // ---- artifact ----
    val rowsJson = jnum(opRows)
    val total = opSecs.values.sum
    val json =
      s"""{"metric":"scale_smoke_100x","value":${math.round(total * 100) / 100.0},"unit":"sec","scale":"100x-sf0.1","built":{"events":$nEvents,"documents":$nDocs,"embeddings":$nVecs},"op_sec":${jnum(
          opSecs)},"op_rows":$rowsJson,"gates":{"clone_recall_undercap":${math
          .round(cloneRecall * 10000) / 10000.0},"clone_pairs_undercap":$nUnderPairs,"clone_recall_in_scope":${math
          .round(recallInScope * 10000) / 10000.0},"clone_pairs_in_scope":$scopePairs,"sig_merged_clusters":$sigMerged,"sig_merged_pairs":$sigMergedPairs,"lost_clusters":$nLost,"lost_all_exact_recovered":$lostExactRecovered,"clone_recall_threshold":0.97,"clone_recall_gated_on":"in_scope","clone_pass":$clonePass,"overcap_clusters":$nOverClusters,"overcap_cluster_size_min":$overSizeMin,"overcap_cluster_size_max":$overSizeMax,"overcap_docs":$overMass,"overcap_pairs_excluded":$nOverPairs,"overcap_pass":$overPass,"ann_recall_at5":${math
          .round(annRecall * 10000) / 10000.0},"ann_threshold":0.30,"ann_pass":$annPass},"materializers":{"dup_spans":${ScaleHarness
          .dupSpansJson(dupRes, DupBuckets)},"ivf_index":$ivfJson,"join_view":${ScaleHarness
          .joinViewJson(jvRes, JvBuckets)},"novelty":${ScaleHarness
          .noveltyJson(nvRes, NvBuckets)},"cdc_ivm_e2e":${ScaleHarness
          .ivmJson(ivmRes, IvmBuckets)}},"memory":{"heap_max_mb":$heapMaxMb,"old_gen_peak_mb":$oldGenPeakMb,"headroom_mb":${heapMaxMb - oldGenPeakMb},"pool_peak_sum_mb_upper_bound":$poolPeakSumMb},"failed":${failed
          .map("\"" + _ + "\"").mkString("[", ",", "]")},"materialization":"noop-sink","methodology":"100x heavy families through the 30x harness code (ScaleHarness): derivations timed once per family (session cache), family ops post-derivation; corpus strata: 80% cloned 120x (over LSH bucket cap 64 - dropped from pair scope by design, recovered by the exact text-hash census), 10% cloned 30x (under-cap clone-recall truth), 10% salted singleton + near-dup variant; dup-spans probe pin and IVM parity via the identical 30x protocol; IVM chain: bulk epochs at 64 buckets, in-smoke rebucketState 64->256 WAVE migration at the epoch-3 frontier (stop query, 4 waves x 8 states with a migration-scoped old-gen peak window, resume from checkpoint), steady/ripple epochs at 256 with steady gated <= 3.5s (ScaleGates.Ivm100SteadyOverheadMaxSec); standing IVF index arm at 200k vectors (bulk + 8-vector steady epochs, shard-confined search, recall@5 >= 0.30 vs brute truth, retrain at full corpus); join-view arm at 15M orders x 15k customers (bulk + hot-customer steady + customer retract/re-insert, mass == batch join); novelty arm at ~500k docs with the 30x steady gate; IVM parity restated per 4 bucket groups (count + content hash, live side bucket-pruned); ripple epoch gated <= 8s (ScaleGates.IvmRippleMaxSec)"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] wrote $outPath")
    println(json)
    // splice into the round's 30x artifact so SCALE_r{N}.json carries
    // both scales; JSON-parsed splice preserves an x300 section
    // regardless of capture order (the r16 gotcha)
    injectInto.map(java.nio.file.Paths.get(_)).foreach { p =>
      if (ScaleHarness.spliceJsonSection(p, "x100", json))
        println(s"[scale] spliced x100 section into $p")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
