package graft

import org.apache.spark.sql.functions._

/** 30x scale smoke, bench-grade (round-3 verdict item 2): clones the
  * sf0.1 tables with shifted ids — ~3M events, 150k docs with EVERY
  * text present 30 times (a near-dup-saturated corpus, the worst case
  * for the LSH/dedup family: every band bucket holds 30 identical
  * signatures), 60k vectors — then:
  *
  *   - times the heavy operator family through the same noop-sink
  *     methodology as Bench (full materialization incl. the total-order
  *     sort; count() would let Catalyst drop the sort),
  *   - records output row counts per op (a cheap second pass — counts
  *     may elide the sort, which is fine for cardinality),
  *   - runs THREE quality gates AT SCALE: `sim_recall_report` (mean
  *     ANN recall@5 of the sign-bit LSH vs exact brute force; gate
  *     >= 0.30, the IvfSpec ANN floor), exact-clone dedup recall
  *     (LSH candidates must recover >= 0.95 of the clone pairs the
  *     corpus construction makes true by definition), and the
  *     `dedup_quality_report` Jaccard-truth instrument (non-empty
  *     truth from the non-saturated stratum; LSH recall >= 0.80),
  *   - writes ONE JSON artifact (default `SCALE_r05.json`, override via
  *     args(0)) with per-op seconds + rows + gate values + pass flags.
  *
  * Not part of the driver contract; run manually per round:
  *   sbt "runMain graft.ScaleSmoke SCALE_r05.json"
  */
object ScaleSmoke {

  /** The heavy family: dedup, graph, curation, sampling, embedding,
    * text-sketch ops — the ones whose 100 TB story needs executable
    * evidence that 30x input does not produce a cliff.
    */
  val ops: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_clusters_star", "dedup_canonical", "graph_pagerank",
    "txt_decontaminate", "txt_boilerplate", "samp_domain_mix",
    "samp_stratified", "samp_weighted", "pack_sequences",
    "pipe_curate_e2e", "emb_quantize_int8", "emb_pq_codes",
    "sim_knn_lsh", "sim_knn_ivf", "sim_kmeans", "dedup_semantic", "emb_whiten",
    "txt_tokenize_vocab", "docs_chunk_overlap", "rel_global_ids",
    "rel_band_join_bucketed", "dedup_incremental", "emb_outlier",
    "samp_epoch_mix", "mm_shard_manifest", "evt_ab_lift",
    // dup-saturated corpus is the worst case for span mining (every
    // gram is duplicated => maximal islands) and exercises the
    // sketch's eviction path hard (30x token stream)
    "txt_dup_spans", "txt_dup_spans_prefix", "dedup_ngram_jaccard",
    "dedup_containment", "txt_heavy_hitters", "txt_bpe_pairs",
    // triangle census on the saturated graph: every 30-clique emits
    // C(30,3) = 4060 triangles/bucket — the orientation bound's test
    "graph_triangles", "pipe_curriculum", "txt_sentences",
    // TPC-H macros on 18M lineitems with UNSCALED dim keys (30x
    // fan-in per customer/supplier/part): the six-table star join,
    // the integer-cents profit rollup, and the per-order
    // distinct-supplier wait census — the three heaviest shapes of
    // the 22-query suite
    "rel_tpch_q5", "rel_tpch_q9", "rel_tpch_q21")

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE_r05.json")
    // same quiet-window discipline as Bench: a smoke started right
    // after a sweep/test run times contention, not the operators (a
    // hot capture this round showed pagerank +77% on unchanged code)
    HostLoad.awaitQuiet(threshold = 8.0, maxWaitSec = 180, tag = "scale")
    val spark = Sessions.local(32, partitions = 64)
    // session derivation cache ON (the long-lived-session deployment
    // shape): the LSH signature/pair derivation — shared verbatim by
    // the whole dedup/graph family — is built ONCE, timed as its own
    // `lsh_derivation` entry below, and every family op's time is its
    // post-derivation cost. The cold whole-pipeline number is
    // lsh_derivation + op.
    spark.conf.set("spark.graft.dedup.derivationCache", "true")
    val dir = "/tmp/graft_scale"

    // ---- build the 30x tables (shifted ids keep keys unique) ----
    val base = queries.Tables.events(spark, "/root/testdata/sf0.1")
    (0 until 30).map(i =>
      base.withColumn("event_id", col("event_id") + lit(i.toLong * 100000)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // Documents: 90% of texts cloned 30x (the dup-saturated LSH worst
    // case), but docs with doc_id % 10 == 0 form a NON-saturated
    // stratum (round-4 verdict item 5): each is kept as a singleton
    // plus exactly one synthetic near-dup variant. The subtlety the
    // first cut of this stratum missed: the fixture's vocabulary is
    // tiny, so at 30x EVERY natural bigram's df blows past NgramDfCap
    // — no stratum doc owns a private bigram, and since the Jaccard
    // denominator uses FULL set sizes while `shared` counts only kept
    // (under-cap) grams, the stratum pair's score collapsed to ~0 and
    // the truth set stayed empty. So each stratum doc is SALTED with
    // 20 doc-unique tokens: the ~20 salt bigrams exist in exactly the
    // (orig, variant) pair (df = 2, far under cap) and push the pair's
    // capped-shared Jaccard to ≈ 20 / (2·(n+20)+1−20) ≈ 0.16 for the
    // fixture's typical n ≈ 51 distinct bigrams — above the 0.12 truth
    // threshold. The variant appends one more token, so raw similarity
    // stays near 1 and 4x4 MinHash-LSH catches the pair w.h.p., giving
    // dedup_quality_report a real, non-empty truth set to measure
    // recall against at 30x.
    val docs = queries.Tables.documents(spark, "/root/testdata/sf0.1")
    val saturated = (0 until 30).map(i =>
      docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000)))
      .reduce(_ unionAll _)
    val salt = concat_ws(" ", (0 until 20).map(j =>
      concat(lit("u"), col("doc_id"), lit(s"x$j"))): _*)
    val stratum = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" "), salt))
    val stratumVariant = stratum
      .withColumn("doc_id", col("doc_id") + lit(50000000L))
      .withColumn("text", concat(col("text"), lit(" graftvariantmark")))
    saturated.unionAll(stratum).unionAll(stratumVariant)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embs = queries.Tables.embeddings(spark, "/root/testdata/sf0.1")
    (0 until 30).map(i =>
      embs.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // TPC-H fact tables at 30x: lineitem + orders cloned with shifted
    // orderkeys (the join stays consistent), DIMENSION KEYS UNCHANGED —
    // every customer/supplier/part key now carries 30x the fact mass,
    // a deliberate fan-in stress on the macro joins. Dims copy 1x.
    val OrderShift = 1000000L
    val ordersBase = queries.Tables.orders(spark, "/root/testdata/sf0.1")
    (0 until 30).map(i => ordersBase
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderShift)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val liBase = queries.Tables.lineitem(spark, "/root/testdata/sf0.1")
    (0 until 30).map(i => liBase
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderShift)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val nLines = spark.read.parquet(s"$dir/lineitem.parquet").count()
    println(s"[scale] built $nEvents events, $nDocs docs, $nVecs vectors, " +
      s"$nLines lineitems")

    // ---- CDC / event family first (events-table consumers) ----
    import ScaleHarness.{bucketsTouched, dirBytes, dirRows, jnum}
    val timer = new ScaleHarness.OpTimer(spark)
    import timer.{failed, opRows, opSecs, timeOp}
    timeOp("cdc_flagship")(queries.CdcQueries.flagship(spark, dir))
    timeOp("evt_sessionize")(SparkEntry.queries("evt_sessionize")(spark, dir))
    timeOp("cdc_scd2_history")(
      SparkEntry.queries("cdc_scd2_history")(spark, dir))
    // the shared LSH derivation, cold, accounted ONCE (r12 verdict
    // item 2): signatures -> bucket census -> candidate pairs,
    // materialized into the session derivation cache; the noop pass
    // scans the checkpointed result
    timeOp("lsh_derivation")(
      queries.DedupQueries.minhashPairsCheckpointed(spark, dir))
    // the gram-hash family's shared derivations (r13 verdict item 4),
    // same accounting: built once into the session cache, timed as
    // their own entries; the family ops (txt_dup_spans{,_prefix},
    // dedup_ngram_jaccard, dedup_containment) are post-derivation cost
    timeOp("dupspan_gram_derivation")(
      queries.OpsQueries.dupSpanDupHash(spark, dir))
    timeOp("gram_counts_derivation")(
      queries.DedupQueries.sharedGramCountsMemo(spark, dir, "gram_df_cap"))
    ops.foreach(q => timeOp(q)(SparkEntry.queries(q)(spark, dir)))
    // regression gate on the won pagerank bar (post-derivation, the
    // split methodology the r12 verdict endorsed)
    if (!ScaleGates.pagerankOk(opSecs.get("graph_pagerank"))) {
      failed += "pagerank_post_derivation_regression"
      System.err.println(s"[scale] GATE: graph_pagerank " +
        s"${opSecs.get("graph_pagerank")} exceeds " +
        s"${ScaleGates.PageRankMaxSec} s post-derivation")
    }

    // ---- quality gates at 30x ----
    // ANN: mean recall@5 of sign-bit LSH vs exact brute force, over the
    // bounded probe sample the declared query uses (at most
    // SimilarityQueries.MaxProbes — recall estimation never needs every
    // probe). Gate at the ANN floor IvfSpec enforces at sf0.001 (0.30)
    // — scale must not erode it.
    val annT0 = System.nanoTime()
    val annRow = SparkEntry.queries("sim_recall_report")(spark, dir)
      .agg(avg(col("recall")).as("r"), count(lit(1)).as("n")).head()
    val annSec = (System.nanoTime() - annT0) / 1e9
    val annRecall = annRow.getDouble(0)
    val annProbes = annRow.getLong(1)
    opSecs("sim_recall_report") = math.round(annSec * 1000) / 1000.0
    opRows("sim_recall_report") = annProbes
    val annPass = annRecall >= 0.30
    println(f"[scale] ANN recall@5 = $annRecall%.4f over $annProbes probes " +
      f"($annSec%.1f s) pass=$annPass")

    // Dedup: the cloned corpus gives EXACT ground truth — every pair of
    // docs with identical text is a true duplicate, and there are
    // sum(C(s,2)) of them over text-cluster sizes s. Gate: the MinHash
    // LSH candidate set must recover >= 0.95 of those clone pairs
    // (identical text => identical signature => same bucket in every
    // band; the only legitimate misses are clusters the bucket cap
    // collapses — over-cap buckets are exact-dedup's job by design).
    // The declared dedup_quality_report (Jaccard-truth instrument) is
    // gated separately below, over the non-saturated stratum.
    val dqT0 = System.nanoTime()
    val docs30 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), xxhash64(col("lang"), col("text")).as("th"))
    val clusters = docs30.groupBy(col("th")).agg(count(lit(1)).as("s"))
    val nClonePairs = clusters
      .agg(sum(col("s") * (col("s") - 1) / 2).cast("long")).head().getLong(0)
    val cand = graft.queries.DedupQueries.minhashPairs(spark, dir)
    val hits = cand
      .join(docs30.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("th", "ha"), Seq("doc_a"))
      .join(docs30.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("th", "hb"), Seq("doc_b"))
      .filter(col("ha") === col("hb")).count()
    val dqSec = (System.nanoTime() - dqT0) / 1e9
    val cloneRecall = hits.toDouble / nClonePairs
    val dqPass = cloneRecall >= 0.95
    opSecs("dedup_clone_recall") = math.round(dqSec * 1000) / 1000.0
    opRows("dedup_clone_recall") = nClonePairs
    println(f"[scale] dedup clone-pair recall=$cloneRecall%.4f " +
      f"($hits of $nClonePairs pairs, $dqSec%.1f s) pass=$dqPass")
    // Jaccard-truth instrument at 30x — GATED now that the corpus
    // carries a non-saturated stratum (round-4 verdict item 5): truth
    // must be non-empty, and LSH must recover >= 0.80 of it (the
    // stratum's truth pairs are dominated by the one-token variants,
    // whose Jaccard (n-2)/(n-1) gives 4x4-band candidate probability
    // ≈ 1 - (1 - J^4)^4 > 0.95; natural medium-Jaccard pairs dilute
    // that, hence 0.80 not 0.95).
    val jqT0 = System.nanoTime()
    val dqRow = SparkEntry.queries("dedup_quality_report")(spark, dir).head()
    val jqSec = (System.nanoTime() - jqT0) / 1e9
    val dqInfo = (Option(dqRow.getAs[java.lang.Double]("precision")),
      Option(dqRow.getAs[java.lang.Double]("recall")))
    val nTrue = dqRow.getAs[Long]("n_true")
    opSecs("dedup_quality_report") = math.round(jqSec * 1000) / 1000.0
    opRows("dedup_quality_report") = nTrue
    val jqPass = nTrue > 0L && dqInfo._2.exists(_ >= 0.80)
    println(s"[scale] jaccard-truth report at 30x: n_true=$nTrue " +
      s"precision=${dqInfo._1} recall=${dqInfo._2} pass=$jqPass")

    // the LSH family and its gates are done — return the derivation
    // cache's storage before the materializer sections: the steady
    // IVM epochs are tiny-stage scheduling-bound, the regime where
    // accumulated storage blocks measurably inflate wall time
    queries.DedupQueries.clearDerivationMemos(spark)

    // ---- durable materializers at 30x: per-epoch write volume ----
    // (round-6 verdict item 5) Executable evidence that the fenced
    // state protocols write O(touched), not O(history), at scale:
    //   - SCD2 bucketed materializer: a bulk epoch (all 3M changes,
    //     every bucket) then steady-state epochs touching ~8 keys —
    //     per-epoch rows/bytes written must be the touched buckets'
    //     slice, not the full history;
    //   - dup-spans LSM materializer: 4 doc_id-ordered epochs; the
    //     per-epoch delta rows must sum to EXACTLY the corpus's
    //     distinct gram-pair count (appends partition the first-seen
    //     set — no epoch ever rewrites an already-indexed row).
    val hfs = ScaleHarness.hadoopFs(spark)

    val ScdBuckets = 64
    val scdDir = s"$dir/scd2_state"
    hfs.delete(new org.apache.hadoop.fs.Path(scdDir), true)
    val allChanges = queries.Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"), col("sec"))
    val maxSec = allChanges.agg(max(col("sec"))).head().getLong(0)
    val maxEid = allChanges.agg(max(col("event_id"))).head().getLong(0)
    val steadyUsers = allChanges.select(col("user_id")).distinct()
      .orderBy(col("user_id")).limit(8)
      .collect().map(_.getLong(0)).toSeq
    val scdEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 to 3).foreach { e =>
      val batch =
        if (e == 0) allChanges
        else {
          import spark.implicits._
          steadyUsers.zipWithIndex.map { case (u, i) =>
            (u, maxEid + e * 100L + i, maxSec + e * 60L) }
            .toDF("user_id", "event_id", "sec")
        }
      val t0 = System.nanoTime()
      graft.operators.ScdApply.materializer(spark, scdDir, ScdBuckets)(
        batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val touched = bucketsTouched(spark, s"$scdDir/state-$e")
      val rows = dirRows(spark, s"$scdDir/state-$e")
      val bytes = dirBytes(spark, s"$scdDir/state-$e")
      scdEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"rows_written":$rows,"bytes_written":$bytes,"buckets_touched":$touched}"""
      println(f"[scale] scd2 epoch $e: $sec%.1f s, $rows rows / $bytes bytes" +
        f" written, $touched/$ScdBuckets buckets")
    }
    val scdHistoryRows = graft.operators.ScdApply.history(spark, scdDir).count()
    // steady-state epochs must write a small fraction of the history
    // (the touched buckets' slice) — gate at < 1/4
    val scdSteadyRows = dirRows(spark, s"$scdDir/state-3")
    val scdPass = scdSteadyRows > 0 && scdSteadyRows < scdHistoryRows / 4
    println(s"[scale] scd2 steady-state epoch wrote $scdSteadyRows of " +
      s"$scdHistoryRows history rows pass=$scdPass")
    if (!scdPass) failed += "scd2_materializer_o_touched"

    // Versioned (out-of-order) replica materializer on the same
    // bulk + hot-keys shape: bulk epoch applies all 3M enriched
    // changes, steady epochs deliver synthetic late changes for 8
    // keys — per-epoch write must be the touched buckets' slice.
    val repDir = s"$dir/replica_state"
    hfs.delete(new org.apache.hadoop.fs.Path(repDir), true)
    val enriched30 = queries.CdcQueries.enriched(spark, dir)
      .select(col("partitionKey"), col("value"))
    val hotKeys = (1L to 8L).map(i => s"test_db.events.${i * 7 + 2}")
    def lateEnv(eid: Long, tsMs: Long) =
      s"""{"after":{"event_id":"$eid","event_type":"late"},""" +
        s""""source":{"ts_ms":$tsMs,"pos":$eid},"op":"u","ts_ms":$tsMs}"""
    val repEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 to 3).foreach { e =>
      val batch =
        if (e == 0) enriched30
        else {
          import spark.implicits._
          hotKeys.zipWithIndex.map { case (k, i) =>
            (k, lateEnv(9000000L + e * 100L + i, 9999999000L + e)) }
            .toDF("partitionKey", "value")
        }
      val t0 = System.nanoTime()
      graft.operators.CdcApply.materializerVersioned(
        spark, repDir, ScdBuckets)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = dirRows(spark, s"$repDir/state-$e")
      val bytes = dirBytes(spark, s"$repDir/state-$e")
      repEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"rows_written":$rows,"bytes_written":$bytes}"""
      println(f"[scale] replica epoch $e: $sec%.1f s, $rows rows / " +
        f"$bytes bytes written")
    }
    val repLive = graft.operators.CdcApply
      .replicaVersioned(spark, repDir).count()
    val repSteadyRows = dirRows(spark, s"$repDir/state-3")
    val repPass = repSteadyRows > 0 && repSteadyRows < repLive / 4
    println(s"[scale] replica steady-state epoch wrote $repSteadyRows of " +
      s"$repLive live rows pass=$repPass")
    if (!repPass) failed += "replica_materializer_o_touched"

    // Dup-spans standing index, a PER-BUCKET LSM (r7 verdict item 1):
    // protocol + gates live in ScaleHarness.runDupSpansLsm (shared
    // verbatim with the 100x smoke).
    val DupBuckets = 256
    val docs30x = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dupRes = ScaleHarness.runDupSpansLsm(spark, docs30x,
      s"$dir/dupspans_state", s"$dir/dupspans_out", DupBuckets)
    if (!dupRes.pass) failed += "dupspans_materializer_o_touched_probe"

    // Durable LSH near-dup index on the same bulk + trickle shape: the
    // bulk epoch folds the full 30x corpus (every shard), steady
    // epochs ingest 8 fresh docs each — a steady epoch's state write
    // must be the touched shards' slice of the index, not the index.
    val LshShards = 64
    val lshDir = s"$dir/lsh_state"
    val lshEvDir = s"$dir/lsh_events"
    hfs.delete(new org.apache.hadoop.fs.Path(lshDir), true)
    hfs.delete(new org.apache.hadoop.fs.Path(lshEvDir), true)
    val maxDocId = docs30x.agg(max(col("doc_id"))).head().getLong(0)
    val freshTexts = docs30x.orderBy(col("doc_id")).limit(8)
      .collect().map(_.getString(1)).toSeq
    val lshEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 to 3).foreach { e =>
      val batch =
        if (e == 0) docs30x
        else {
          import spark.implicits._
          freshTexts.zipWithIndex.map { case (t, i) =>
            (maxDocId + e * 100L + i, s"epoch $e variant $i $t") }
            .toDF("doc_id", "text")
        }
      val t0 = System.nanoTime()
      graft.streaming.StreamingLshIndex.materializer(
        spark, lshDir, lshEvDir, LshShards)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = dirRows(spark, s"$lshDir/state-$e")
      val bytes = dirBytes(spark, s"$lshDir/state-$e")
      val touched = bucketsTouched(spark, s"$lshDir/state-$e")
      lshEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"rows_written":$rows,"bytes_written":$bytes,"shards_touched":$touched}"""
      println(f"[scale] lsh-index epoch $e: $sec%.1f s, $rows rows / " +
        f"$bytes bytes, $touched/$LshShards shards")
    }
    val lshIndexRows = graft.streaming.StreamingLshIndex
      .index(spark, lshDir).count()
    val lshEvents = graft.streaming.StreamingLshIndex
      .dupEvents(spark, lshDir, lshEvDir).count()
    val lshSteadyRows = dirRows(spark, s"$lshDir/state-3")
    // The invariant: a steady epoch writes the TOUCHED shards' slice
    // of the index, never the whole index. 8 docs touch ≤ 32 band
    // buckets → ≤ 32 shards; with the dup-saturated corpus's small
    // bucket population (~19k buckets over 64 shards) that slice is a
    // large FRACTION here — the fraction shrinks with shard count in
    // production, so the gate checks the slice proportion itself:
    // rows ≈ index × touched/shards (25 % slack for per-shard
    // imbalance), some shards untouched, and real dup events emitted.
    val lshSteadyTouched = bucketsTouched(spark, s"$lshDir/state-3")
    val lshSliceBound = lshIndexRows.toDouble *
      lshSteadyTouched / LshShards * 1.25
    val lshPass = lshSteadyRows > 0 && lshSteadyTouched < LshShards &&
      lshSteadyRows <= lshSliceBound && lshEvents > 0
    println(s"[scale] lsh-index steady-state epoch wrote $lshSteadyRows " +
      s"rows over $lshSteadyTouched/$LshShards shards (slice bound " +
      f"$lshSliceBound%.0f) of $lshIndexRows index rows, $lshEvents dup " +
      s"events, pass=$lshPass")
    if (!lshPass) failed += "lsh_index_materializer_o_touched"

    // Durable standing IVF ANN index (round 14) on the same bulk +
    // trickle shape: the bulk epoch trains + freezes the codebook and
    // folds all 60k vectors; steady epochs ingest 8 fresh vectors each
    // (touched-shard writes only). Gates: (a) searchSelf over the
    // standing index is BIT-EQUAL to the frozen-codebook batch scan of
    // everything ingested — the train-then-freeze contract makes the
    // comparison exact; (b) steady epochs touch a strict subset of
    // shards.
    val IvfShards = 32
    val ivfRoot = s"$dir/ivf_index"
    hfs.delete(new org.apache.hadoop.fs.Path(ivfRoot), true)
    val vecs30 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val maxVecId = vecs30.agg(max(col("vec_id"))).head().getLong(0)
    def ivfSteady(e: Int) = vecs30.orderBy(col("vec_id")).limit(8)
      .withColumn("vec_id", col("vec_id") + lit(maxVecId + e * 1000L))
    val ivfEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    var ivfSteadyTouchedMax = 0
    (0 to 2).foreach { e =>
      val batch = if (e == 0) vecs30 else ivfSteady(e)
      val t0 = System.nanoTime()
      graft.streaming.StreamingIvfIndex.materializer(
        spark, ivfRoot, IvfShards)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = dirRows(spark, s"$ivfRoot/state/state-$e")
      val touched = bucketsTouched(spark, s"$ivfRoot/state/state-$e")
      if (e > 0) ivfSteadyTouchedMax = math.max(ivfSteadyTouchedMax, touched)
      ivfEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"rows_written":$rows,"shards_touched":$touched}"""
      println(f"[scale] ivf-index epoch $e: $sec%.1f s, $rows rows, " +
        f"$touched/$IvfShards shards")
    }
    val ivfIdxRows = graft.streaming.StreamingIvfIndex
      .index(spark, ivfRoot).count()
    val ivfCents = graft.streaming.StreamingIvfIndex.codebook(spark, ivfRoot)
    val ivfIngested = vecs30.unionByName(ivfSteady(1)).unionByName(ivfSteady(2))
    val ivfNodes = ivfIngested.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2Norm(col("v")))
    val ivfIndexedAll = graft.operators.Ivf.assignCarrying(ivfNodes, ivfCents)
    val ivfProbes = ivfIndexedAll.filter(
        queries.SimilarityQueries.probePred(col("vec_id")))
      .select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("norm").as("pnorm"))
    // sorted before comparing: the two sides run different physical
    // plans (pruned standing-index read vs full batch scan), and
    // although scanCandidates ends in an orderBy, comparing as sorted
    // multisets keeps the bit-exact row-content check independent of
    // any plan-level ordering accident (the FusedAdvanceSpec pattern)
    val ivfWant = graft.operators.Ivf.scanCandidates(ivfIndexedAll,
      graft.operators.Ivf.routeProbes(ivfCents, ivfProbes, 2), 10)
      .collect().map(_.toString).toSeq.sorted
    val ivfGot = graft.streaming.StreamingIvfIndex
      .searchSelf(spark, ivfRoot, 10, 2, IvfShards)
      .collect().map(_.toString).toSeq.sorted
    val ivfPass = ivfIdxRows == ivfIngested.count() &&
      ivfWant.nonEmpty && ivfGot == ivfWant &&
      ivfSteadyTouchedMax > 0 && ivfSteadyTouchedMax < IvfShards
    println(s"[scale] ivf-index: $ivfIdxRows rows, search parity " +
      s"${ivfGot == ivfWant} (${ivfWant.size} result rows), steady " +
      s"shards <= $ivfSteadyTouchedMax/$IvfShards, pass=$ivfPass")
    if (!ivfPass) failed += "ivf_index_parity_o_touched"

    // Recall gate for the STANDING index (round 15): parity above pins
    // search == frozen-codebook batch path, but not its quality — gate
    // the same recall@5 vs brute-force truth the per-query operator is
    // gated on (ann_recall_at5 >= 0.30), over the standing index.
    // no localCheckpoint here (r16 verdict item 4-nit): the index read
    // is already parquet-backed and each frame below is consumed once —
    // the pins held index-sized blocks on the heap for zero reuse; the
    // operator's own retrain dropped the pattern for cause last round
    val ivfTruth = graft.operators.Ivf.bruteTopK(
      graft.streaming.StreamingIvfIndex.index(spark, ivfRoot),
      ivfProbes, 5)
    val ivfRecall = graft.operators.Ivf.recallAtK(
      graft.streaming.StreamingIvfIndex.searchSelf(spark, ivfRoot, 5, 2,
        IvfShards), ivfTruth, 5)
    val ivfRecallPass = ivfRecall >= 0.30
    println(f"[scale] ivf-index recall@5 = $ivfRecall%.4f vs brute truth " +
      f"(threshold 0.30) pass=$ivfRecallPass")
    if (!ivfRecallPass) failed += "ivf_index_recall"

    // Retrain-vs-drift row (round 15): ingest a drifted blob straddling
    // the Voronoi boundary of the two closest frozen cells (sized ~2x a
    // cell's population so the quantizer error is material), measure
    // nprobe=1 recall against brute truth BEFORE and AFTER
    // StreamingIvfIndex.retrain — the codebook-refresh maintenance op
    // must recover what the frozen epoch-0 quantizer lost. Paired
    // construction: a dense majority grid on one side of the boundary
    // (mix 0.52) with every 16th member a MINORITY twin at the same
    // grid position on the other side (mix 0.48) — each minority's true
    // nearest neighbors are its grid-adjacent majority partners across
    // the frozen boundary, so nprobe=1 misses them until retrain
    // consolidates the blob into one re-centered cell. All constants
    // are deterministic in the frozen codebook.
    val ivfCbRows = ivfCents.orderBy(col("cell_id")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    def cdist(x: Array[Double], y: Array[Double]) =
      math.sqrt(x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum)
    val (cia, cib, cdmin) = (for (i <- ivfCbRows.indices;
      j <- ivfCbRows.indices if i < j)
      yield (i, j, cdist(ivfCbRows(i)._2, ivfCbRows(j)._2)))
      .minBy(_._3)
    val dca = ivfCbRows(cia)._2; val dcb = ivfCbRows(cib)._2
    val ivfDim = dca.length
    val driftN = math.min(20000L,
      math.max(120L, 2 * ivfIdxRows / ivfCbRows.length)).toInt
    val drift = {
      import spark.implicits._
      (0 until driftN).map { i =>
        val mix = if (i % 16 == 0) 0.48 else 0.52
        val gx = (i % 110).toDouble * 0.02
        val gy = (i / 110).toDouble * 0.02
        val v = (0 until ivfDim).map { d =>
          val w1 = if (d % 2 == 0) 1.0 else -1.0
          val w2 = if (d % 4 < 2) 1.0 else -1.0
          (mix * dca(d) + (1 - mix) * dcb(d) +
            (gx * w1 + gy * w2) * cdmin / math.sqrt(ivfDim)).toFloat
        }
        (900000000L + i, 99, v)
      }.toDF("vec_id", "label", "embedding")
    }
    graft.streaming.StreamingIvfIndex.materializer(
      spark, ivfRoot, IvfShards)(drift, 3L)
    // durable-parquet scratch instead of localCheckpoint (the retrain
    // pattern): the reused probe/truth frames re-read from disk, so the
    // smoke pins nothing index-shaped across the retrain measurement
    graft.streaming.StreamingIvfIndex
      .index(spark, ivfRoot).filter(col("vec_id") >= 900000000L)
      .filter(col("vec_id") % 20 === 0) // bounded probe sample
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
      .write.mode("overwrite").parquet(s"$dir/ivf_drift_probes.parquet")
    val driftProbes = spark.read.parquet(s"$dir/ivf_drift_probes.parquet")
    graft.operators.Ivf.bruteTopK(
      graft.streaming.StreamingIvfIndex.index(spark, ivfRoot),
      driftProbes, 5)
      .write.mode("overwrite").parquet(s"$dir/ivf_drift_truth.parquet")
    val driftTruth = spark.read.parquet(s"$dir/ivf_drift_truth.parquet")
    val recallBefore = graft.operators.Ivf.recallAtK(
      graft.streaming.StreamingIvfIndex.search(spark, ivfRoot,
        driftProbes.select(col("probe_id"), col("pv")), 5, 1, IvfShards),
      driftTruth, 5)
    val rtT0 = System.nanoTime()
    val ivfRtRoot = s"${ivfRoot}_rt"
    hfs.delete(new org.apache.hadoop.fs.Path(ivfRtRoot), true)
    graft.streaming.StreamingIvfIndex.retrain(spark, ivfRoot, ivfRtRoot,
      IvfShards, rounds = 3)
    val retrainSec = (System.nanoTime() - rtT0) / 1e9
    val recallAfter = graft.operators.Ivf.recallAtK(
      graft.streaming.StreamingIvfIndex.search(spark, ivfRtRoot,
        driftProbes.select(col("probe_id"), col("pv")), 5, 1, IvfShards),
      driftTruth, 5)
    val retrainPass = recallAfter + 1e-9 >= recallBefore &&
      recallAfter >= 0.95
    println(f"[scale] ivf-index retrain-vs-drift ($driftN drift vecs): " +
      f"recall@5(nprobe=1) before=$recallBefore%.4f after=$recallAfter%.4f " +
      f"(retrain $retrainSec%.1f s) pass=$retrainPass")
    if (!retrainPass) failed += "ivf_index_retrain_recovery"

    // Incremental join view at 30x: bulk epoch materializes the full
    // 4.5M-order x 15k-customer join, steady epochs ingest 40 orders
    // for 8 hot customers (epoch write must be the touched buckets'
    // slice of the view, never the view), one epoch RETRACTS a
    // customer (its entire join fan-in must leave the view), the next
    // re-inserts it. Exactness gate: sum of view multiplicities ==
    // the from-scratch batch join count over everything ingested.
    val JvBuckets = 64
    val orders30x = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust1x = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val jvRes = ScaleHarness.runJoinViewArm(spark, orders30x, cust1x,
      s"$dir/joinview_state", JvBuckets)
    if (!jvRes.pass) failed += "join_view_materializer"

    // Grouped-KMV sketch + stratified reservoir at 30x: bulk epoch
    // folds the full corpus, steady epochs ingest 8 fresh docs — the
    // standing state stays K-bounded per stratum (the whole point:
    // distinct-count and sample state are O(k·strata) at ANY corpus
    // size), and a steady epoch rewrites only its touched buckets'
    // slice of that already-tiny table.
    val gkDir = s"$dir/gkmv_state"
    val rsDir = s"$dir/resv_state"
    hfs.delete(new org.apache.hadoop.fs.Path(gkDir), true)
    hfs.delete(new org.apache.hadoop.fs.Path(rsDir), true)
    val docsForSketch = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val sketchEpochs = scala.collection.mutable.ArrayBuffer.empty[String]
    // captured INSIDE the loop — retirement (keep-2 grace) sweeps the
    // bulk epoch's version dirs once two steady epochs touch the same
    // buckets, so post-loop reads would measure the sweep
    val kmvWrites = scala.collection.mutable.ArrayBuffer.empty[Long]
    val resvWrites = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 to 2).foreach { e =>
      val batch =
        if (e == 0) docsForSketch
        else docsForSketch.orderBy(col("doc_id"))
          .limit(8).withColumn("doc_id", col("doc_id") + lit(e * 7919L))
      val t0 = System.nanoTime()
      graft.streaming.StreamingGroupedKmv.materializer(spark, gkDir,
        Seq("lang"), "doc_id")(batch, e.toLong)
      graft.streaming.StreamingReservoir.materializer(spark, rsDir,
        Seq("lang"), "doc_id",
        graft.streaming.StreamingReservoir.uniformPriority(
          col("doc_id"), "scale_"), 16)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val gw = dirRows(spark, s"$gkDir/state-$e")
      val rw = dirRows(spark, s"$rsDir/state-$e")
      kmvWrites += gw; resvWrites += rw
      sketchEpochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"kmv_rows_written":$gw,"reservoir_rows_written":$rw}"""
      println(f"[scale] sketch epoch $e: $sec%.1f s, $gw kmv rows / " +
        f"$rw reservoir rows written")
    }
    val gkGroups = graft.streaming.StreamingGroupedKmv
      .estimates(spark, gkDir, Seq("lang")).count()
    val rsRows = graft.streaming.StreamingReservoir
      .sample(spark, rsDir).count()
    // state stays k-bounded: the reservoir is exactly 16 rows per
    // stratum; the sketch one row per stratum; steady epochs wrote a
    // strict subset of the bulk write
    val sketchPass = rsRows == gkGroups * 16 &&
      kmvWrites(2) <= kmvWrites(0) && resvWrites(2) <= resvWrites(0) &&
      gkGroups > 0
    println(s"[scale] sketch state: $gkGroups strata, $rsRows sampled " +
      s"rows (k=16), pass=$sketchPass")
    if (!sketchPass) failed += "sketch_reservoir_state_bound"

    // ---- streaming novelty at 30x: bulk epoch folds the whole
    // dup-saturated corpus into the standing gram census, steady
    // epochs ingest 8 cloned docs — every clone gram hits the census,
    // so the epoch exercises the RETRACTION path (owners of
    // still-novel grams lose them) at O(batch grams + touched
    // buckets), and the standing table must equal the batch
    // txt_novelty restatement over everything ingested.
    val docsForNovelty = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nvRes = ScaleHarness.runNoveltyArm(spark, docsForNovelty,
      s"$dir/novelty_state", 64)
    if (!nvRes.parityPass || nvRes.steadySecMax <= 0)
      failed += "streaming_novelty"
    // regression gate on the novelty steady epoch (r15 verdict item 5:
    // the slowest ungated steady bar): losing the O(batch + touched)
    // retraction path re-reads the whole census per epoch — over this
    if (!ScaleGates.noveltySteadyOk(nvRes.steadySecMax)) {
      failed += "novelty_steady_regression"
      System.err.println(f"[scale] GATE: novelty steady epoch " +
        f"${nvRes.steadySecMax}%.2f s exceeds " +
        f"${ScaleGates.NoveltySteadyMaxSec} s")
    }

    // ---- CDC → IVM end-to-end at 30x (r7 verdict item 2): protocol,
    // parity restatements, and the steady-overhead accounting live in
    // ScaleHarness.runIvmE2E (shared verbatim with the 100x smoke).
    val IvmBuckets = 64
    val ivmRes = ScaleHarness.runIvmE2E(spark, dir, IvmBuckets)
    if (!ivmRes.parityPass) failed += "cdc_ivm_e2e"
    // regression gate on the won IVM steady-epoch bar: a lost fused
    // advance re-adds ~1 s+ of exchanges per epoch — over the 3.5 s
    // structural ceiling; host noise (±0.5 s measured) stays under it
    if (!ScaleGates.ivmSteadyOk(ivmRes.steadyOverheadSec)) {
      failed += "ivm_steady_overhead_regression"
      System.err.println(f"[scale] GATE: ivm steady overhead " +
        f"${ivmRes.steadyOverheadSec}%.2f s exceeds " +
        f"${ScaleGates.IvmSteadyOverheadMaxSec} s")
    }
    if (!ScaleGates.ivmRippleOk(ivmRes.rippleSecMax)) {
      failed += "ivm_ripple_regression"
      System.err.println(f"[scale] GATE: ivm ripple epoch " +
        f"${ivmRes.rippleSecMax}%.2f s exceeds " +
        f"${ScaleGates.IvmRippleMaxSec} s")
    }

    // ---- artifact ----
    val rowsJson = jnum(opRows)
    val total = opSecs.values.sum
    val json =
      s"""{"metric":"scale_smoke_30x","value":${math.round(total * 100) / 100.0},"unit":"sec","scale":"30x-sf0.1","built":{"events":$nEvents,"documents":$nDocs,"embeddings":$nVecs},"op_sec":${jnum(
          opSecs)},"op_rows":$rowsJson,"gates":{"ann_recall_at5":${math.round(
          annRecall * 10000) / 10000.0},"ann_threshold":0.30,"ann_pass":$annPass,"dedup_clone_recall":${math.round(
          cloneRecall * 10000) / 10000.0},"dedup_clone_pairs":$nClonePairs,"dedup_recall_threshold":0.95,"dedup_pass":$dqPass,"jaccard_truth_pairs":$nTrue,"jaccard_truth_precision":${dqInfo._1.map(_.toString)
          .getOrElse("null")},"jaccard_truth_recall":${dqInfo._2.map(_.toString)
          .getOrElse("null")},"jaccard_recall_threshold":0.80,"jaccard_pass":$jqPass},"materializers":{"scd2":{"buckets":$ScdBuckets,"epochs":${scdEpochs
          .mkString("[", ",", "]")},"history_rows":$scdHistoryRows,"steady_epoch_rows":$scdSteadyRows,"o_touched_pass":$scdPass},"replica_versioned":{"buckets":$ScdBuckets,"epochs":${repEpochs
          .mkString("[", ",", "]")},"live_rows":$repLive,"steady_epoch_rows":$repSteadyRows,"o_touched_pass":$repPass},"dup_spans":${ScaleHarness
          .dupSpansJson(dupRes, DupBuckets)},"lsh_index":{"shards":$LshShards,"epochs":${lshEpochs
          .mkString("[", ",", "]")},"index_rows":$lshIndexRows,"dup_events":$lshEvents,"steady_epoch_rows":$lshSteadyRows,"steady_epoch_shards":$lshSteadyTouched,"slice_bound_rows":${math.round(lshSliceBound)},"o_touched_pass":$lshPass},"ivf_index":{"shards":$IvfShards,"epochs":${ivfEpochs
          .mkString("[", ",", "]")},"index_rows":$ivfIdxRows,"search_parity_pass":${ivfGot == ivfWant},"steady_epoch_shards_max":$ivfSteadyTouchedMax,"o_touched_pass":$ivfPass,"recall_at5":${math
          .round(ivfRecall * 10000) / 10000.0},"recall_threshold":0.30,"recall_pass":$ivfRecallPass,"retrain":{"drift_vectors":$driftN,"recall_before":${math
          .round(recallBefore * 10000) / 10000.0},"recall_after":${math
          .round(recallAfter * 10000) / 10000.0},"retrain_sec":${math
          .round(retrainSec * 1000) / 1000.0},"recovery_pass":$retrainPass}},"join_view":${ScaleHarness
          .joinViewJson(jvRes, JvBuckets)},"sketch_reservoir":{"epochs":${sketchEpochs
          .mkString("[", ",", "]")},"strata":$gkGroups,"reservoir_rows":$rsRows,"state_bound_pass":$sketchPass},"novelty":${ScaleHarness
          .noveltyJson(nvRes, 64)},"cdc_ivm_e2e":${ScaleHarness
          .ivmJson(ivmRes, IvmBuckets)}},"failed":${failed
          .map("\"" + _ + "\"").mkString("[", ",", "]")},"materialization":"noop-sink","methodology":"single timed noop-sink pass per op (cold plans; 30x scale: 90% of texts cloned 30x, 10% stratum singleton + one-token near-dup variant), untimed count for cardinality; session derivation cache ON: the shared LSH signature/pair derivation is timed once as lsh_derivation and every dedup/graph family op's entry is its post-derivation cost (cold whole-pipeline = lsh_derivation + op); likewise dupspan_gram_derivation for txt_dup_spans{,_prefix} and gram_counts_derivation for dedup_ngram_jaccard/dedup_containment; regression gates (ScaleGates): ivm steady <= 3.5s, pagerank post-derivation <= 15s, dup-spans probe <= 52/256, novelty steady <= 7s"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] wrote $outPath")
    println(json)
    spark.stop()
    if (failed.nonEmpty || !annPass || !dqPass || !jqPass) sys.exit(1)
  }
}
