package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.operators.{CdcApply, ExactlyOnce, Ivf, ScdApply}
import graft.queries.{CdcQueries, DedupQueries, OpsQueries,
  SimilarityQueries, Tables}
import graft.streaming.{StreamingGroupedKmv, StreamingIvfIndex,
  StreamingLshIndex, StreamingReservoir}

import ScaleHarness._

/** The 30×/100×/300× scale runs: each clones the fixture tables with
  * shifted ids, times the heavy families through the same noop-sink
  * methodology as Bench (full materialization incl. the total-order
  * sort; count() would let Catalyst drop the sort), runs the quality
  * gates and the durable materializers' O(touched) and parity gates AT
  * SCALE, and writes ONE JSON artifact. Reference anchor: the
  * snapshot-chunking OOM guard the reference ships for exactly this
  * reason (MySQLCDC2AWSMSK.scala:255-258).
  *
  *   - 30×: ~3M events, 150k docs with 90% of texts present 30 times (a
  *     near-dup-saturated corpus, the worst case for the LSH/dedup
  *     family: every band bucket holds 30 identical signatures), 60k
  *     vectors, 18M lineitems; the whole heavy family, every
  *     materializer arm, and the CDC → IVM chain at 64 buckets.
  *   - 100×: ~10M events / ~500k docs / 200k vectors — the structural
  *     claims one notch up. A uniformly-cloned corpus would put EVERY
  *     clone cluster over [[DedupQueries.MinHashBucketCap]]
  *     (64) and leave the clone-recall gate no in-scope truth, so the
  *     docs carry three strata: the salted Jaccard-truth stratum (10%),
  *     an under-cap stratum cloned 30× (10%, the LSH clone-recall
  *     truth) and over-cap mass cloned 120× (80%, dropped from pair
  *     scope by the cap and recovered by the exact-dedup census). The
  *     IVM chain bulk-loads at 64 buckets and migrates to 256 mid-run.
  *   - 300×: the IVM chain alone at ~27M replica rows, bulk at 256
  *     buckets, an 8-wave migration to 768 (~35k replica rows per
  *     bucket, the sizing rule in SCALING.md), parity per 8 groups.
  *
  * Gates that fail are listed in the artifact's `failed` and make the
  * run exit nonzero; the bounds live in [[ScaleGates]]. `-sf` and
  * `-cores` pick the fixture dir and `local[cores]`, with two shuffle
  * partitions per core (sf0.1 and 32 by default — the shape the
  * committed artifacts were captured at; a smaller shape runs every
  * arm, and its gate values are recorded, not meaningful). With a
  * third argument the artifact is also spliced into that file (the
  * round's 30× artifact) under `x100`/`x300`. Run manually per round:
  * {{{
  *   sbt "runMain graft.Scale 30 SCALE_r{N}.json"
  *   SPARK_DRIVER_MEM=32g sbt \
  *     "runMain graft.Scale 100 SCALE100_r{N}.json SCALE_r{N}.json"
  *   SPARK_DRIVER_MEM=32g sbt \
  *     "runMain graft.Scale 300 SCALE300_r{N}.json SCALE_r{N}.json"
  * }}}
  */
object Scale {

  /** A run's session, work dir, fixture dir and per-op ledger. */
  private final class Run(val spark: SparkSession, val dir: String,
      val sf: String) {
    val t = new OpTimer(spark)

    def op(q: String): Unit = t.timeOp(q)(SparkEntry.queries(q)(spark, dir))

    /** Time a shared derivation once, under its own label, then its
      * family's ops: each op's entry is its post-derivation cost (cold
      * whole-pipeline = derivation + op).
      */
    def family(derivation: String, ops: String*): Unit = {
      t.timeOp(derivation)(derivation match {
        case "lsh_derivation" =>
          DedupQueries.minhashPairsCheckpointed(spark, dir)
        case "dupspan_gram_derivation" =>
          OpsQueries.dupSpanDupHash(spark, dir)
        case "gram_counts_derivation" =>
          DedupQueries.sharedGramCountsMemo(spark, dir, "gram_df_cap")
      })
      ops.foreach(op)
    }
  }

  /** What a scale's arms leave for the artifact: the sections after the
    * op ledger, the methodology, the headline value (the summed op
    * seconds when absent), and whether the gates that only set the exit
    * code passed.
    */
  private final case class Result(body: Seq[(String, Any)],
      methodology: String, value: Option[Double] = None,
      exitGates: Boolean = true)

  /** Per multiplier: default artifact, work dir, corpus and arms. */
  private final case class Plan(out: String, dir: String, corpus: Corpus,
      arms: Run => Result)

  private val plans: Map[Int, Plan] = Map(
    30 -> Plan("SCALE_r05.json", "/tmp/graft_scale",
      Corpus(30, Seq((col("doc_id") % 10 =!= 0, 30, 0L)), 50000000L,
        vectors = true, tpch = true), x30),
    100 -> Plan("SCALE100_r14.json", "/tmp/graft_scale100",
      Corpus(100, Seq((col("doc_id") % 10 >= 2, 120, 100000000L),
        (col("doc_id") % 10 === 1, 30, 0L)), 500000000L, vectors = true),
      x100),
    300 -> Plan("SCALE300_r16.json", "/tmp/graft_scale300", Corpus(300), x300))

  def main(args: Array[String]): Unit = {
    val in = inputs(args)
    val mult = in.positional.headOption.flatMap(_.toIntOption)
      .filter(plans.contains).getOrElse(sys.error(
        "usage: Scale <30|100|300> [out.json] [splice-into.json] " +
          "[-sf dir] [-cores n]"))
    val plan = plans(mult)
    val outPath = in.positional.lift(1).getOrElse(plan.out)
    // same quiet-window discipline as Bench: a run started right after
    // a sweep/test run times contention, not the operators (a hot
    // capture once showed pagerank +77% on unchanged code)
    HostLoad.awaitQuiet(in.cores / 4.0, maxWaitSec = 180, tag = "scale")
    val spark = Sessions.local(in.cores, partitions = in.partitions)
    // session derivation cache ON (the long-lived-session deployment
    // shape): the LSH signature/pair and gram derivations — shared
    // verbatim by their families — are built ONCE and timed as their
    // own entries
    spark.conf.set("spark.graft.dedup.derivationCache", "true")
    val built = buildCorpus(spark, in.sf, plan.dir, plan.corpus)
    val run = new Run(spark, plan.dir, in.sf)
    val res = plan.arms(run)
    val t = run.t
    val timed = t.opSecs.nonEmpty
    val doc = obj(Seq("metric" -> s"scale_smoke_${mult}x",
      "value" -> res.value.getOrElse(rounded(t.opSecs.values.sum, 2)),
      "unit" -> "sec", "scale" -> s"${mult}x-${in.sfName}", "built" -> built) ++
      (if (timed) Seq("op_sec" -> t.opSecs, "op_rows" -> t.opRows) else Nil) ++
      res.body ++ Seq("failed" -> t.failed) ++
      (if (timed) Seq("materialization" -> "noop-sink") else Nil) ++
      Seq("methodology" -> res.methodology): _*)
    val text = json(doc)
    Files.write(Paths.get(outPath), text.getBytes(UTF_8))
    println(s"[scale] wrote $outPath")
    println(text)
    // the JSON-parsed splice keeps every other section whatever the
    // capture order (an x300 written before x100 survives)
    in.positional.lift(2).map(Paths.get(_)).foreach { p =>
      if (spliceJsonSection(p, s"x$mult", doc))
        println(s"[scale] spliced x$mult section into $p")
    }
    spark.stop()
    if (t.failed.nonEmpty || !res.exitGates) sys.exit(1)
  }

  /** The 30× heavy family: dedup, graph, curation, sampling, embedding,
    * text-sketch ops — the ones whose 100 TB story needs executable
    * evidence that 30x input does not produce a cliff.
    */
  private val ops30: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_clusters_star", "dedup_canonical", "graph_pagerank",
    "txt_decontaminate", "txt_boilerplate",
    "samp_domain_mix", "samp_stratified", "samp_weighted", "pack_sequences",
    "pipe_curate_e2e", "emb_quantize_int8", "emb_pq_codes", "sim_knn_lsh",
    "sim_knn_ivf", "sim_kmeans", "dedup_semantic", "emb_whiten",
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

  /** rows_written, bytes_written and (under each `touched` name) the
    * bucket dirs of `stateDir`'s epoch-`e` version.
    */
  private def wroteState(spark: SparkSession, stateDir: String, e: Int,
      touched: String*): Seq[(String, Long)] = {
    val p = s"$stateDir/state-$e"
    Seq("rows_written" -> dirRows(spark, p),
      "bytes_written" -> dirBytes(spark, p)) ++
      touched.map(_ -> bucketsTouched(spark, p))
  }

  /** The section of a bulk + steady arm at 64 buckets: its steady
    * epoch (3) must write rows, under a quarter of the `standing` rows
    * (the touched buckets' slice, not the history).
    */
  private def touchedSection(t: OpTimer, label: String, eps: Seq[Epoch],
      standingKey: String, standing: Long): Obj = {
    val steady = eps(3)("rows_written")
    obj("buckets" -> 64, "epochs" -> eps.map(_.row), standingKey -> standing,
      "steady_epoch_rows" -> steady,
      "o_touched_pass" -> t.gate(steady > 0 && steady < standing / 4, label))
  }

  /** The IVM arm's parity, steady-overhead and ripple gates, under each
    * scale's labels.
    */
  private def ivmGates(r: Run, res: IvmResult, labels: (String, String, String),
      steadyOk: Double => Boolean): Unit = {
    r.t.gate(res.parityPass, labels._1)
    // a lost fused advance re-adds ~1 s+ of exchanges per epoch — over
    // the 3.5 s structural ceiling; host noise (±0.5 s) stays under it
    r.t.gate(steadyOk(res.steadyOverheadSec), labels._2)
    r.t.gate(ScaleGates.ivmRippleOk(res.rippleSecMax), labels._3)
  }

  // ----------------------------------------------------------------- 30×
  private def x30(r: Run): Result = {
    import r.{dir, spark, t}
    // CDC / event family first (events-table consumers)
    t.timeOp("cdc_flagship")(CdcQueries.flagship(spark, dir))
    Seq("evt_sessionize", "cdc_scd2_history").foreach(r.op)
    // the shared LSH derivation (signatures -> bucket census ->
    // candidate pairs) and the gram-hash family's derivations, cold,
    // accounted ONCE, then the whole heavy family post-derivation
    Seq("lsh_derivation", "dupspan_gram_derivation").foreach(r.family(_))
    r.family("gram_counts_derivation", ops30: _*)
    // regression gate on the won pagerank bar (post-derivation, the
    // split methodology the r12 verdict endorsed)
    t.gate(ScaleGates.pagerankOk(t.opSecs.get("graph_pagerank")),
      "pagerank_post_derivation_regression")
    val (ann, annPass) = annRecall(spark, dir, t)

    // Dedup: the cloned corpus gives EXACT ground truth — every pair of
    // docs with identical text is a true duplicate, and there are
    // sum(C(s,2)) of them over text-cluster sizes s. Gate: the MinHash
    // LSH candidate set must recover >= 0.95 of those clone pairs
    // (identical text => identical signature => same bucket in every
    // band; the only legitimate misses are clusters the bucket cap
    // collapses — over-cap buckets are exact-dedup's job by design).
    val dqT0 = System.nanoTime()
    val docs30 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), xxhash64(col("lang"), col("text")).as("th"))
    val nClonePairs = docs30.groupBy(col("th")).agg(count(lit(1)).as("s"))
      .agg(sum(col("s") * (col("s") - 1) / 2).cast("long")).head().getLong(0)
    val hits = cloneHits(r, docs30).count()
    t.record("dedup_clone_recall", secs(dqT0), nClonePairs)
    val cloneRecall = hits.toDouble / nClonePairs
    val dqPass = cloneRecall >= 0.95
    // Jaccard-truth instrument, gated over the non-saturated stratum:
    // truth must be non-empty, and LSH must recover >= 0.80 of it (the
    // stratum's truth pairs are dominated by the one-token variants,
    // whose Jaccard (n-2)/(n-1) gives 4x4-band candidate probability
    // ≈ 1 - (1 - J^4)^4 > 0.95; natural medium-Jaccard pairs dilute
    // that, hence 0.80 not 0.95).
    val jqT0 = System.nanoTime()
    val dqRow = SparkEntry.queries("dedup_quality_report")(spark, dir).head()
    val nTrue = dqRow.getAs[Long]("n_true")
    t.record("dedup_quality_report", secs(jqT0), nTrue)
    val precision = Option(dqRow.getAs[java.lang.Double]("precision"))
    val recall = Option(dqRow.getAs[java.lang.Double]("recall"))
    val jqPass = nTrue > 0L && recall.exists(_ >= 0.80)

    // the LSH family and its gates are done — return the derivation
    // cache's storage before the materializer sections: the steady
    // IVM epochs are tiny-stage scheduling-bound, the regime where
    // accumulated storage blocks measurably inflate wall time
    DedupQueries.clearDerivationMemos(spark)

    // ---- durable materializers: per-epoch write volume (round-6
    // verdict item 5) — executable evidence that the fenced state
    // protocols write O(touched), not O(history), at scale.
    // SCD2 bucketed materializer: a bulk epoch (all changes, every
    // bucket) then steady epochs touching ~8 keys — a steady epoch's
    // write must be the touched buckets' slice, not the history.
    val scdDir = s"$dir/scd2_state"
    clear(spark, scdDir)
    val allChanges = Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"), col("sec"))
    val maxSec = allChanges.agg(max(col("sec"))).head().getLong(0)
    val maxEid = allChanges.agg(max(col("event_id"))).head().getLong(0)
    val steadyUsers = allChanges.select(col("user_id")).distinct()
      .orderBy(col("user_id")).limit(8).collect().map(_.getLong(0)).toSeq
    val scd = epochs("scd2", 0 to 3) { e =>
      import spark.implicits._
      ScdApply.materializer(spark, scdDir, 64)(
        if (e == 0) allChanges
        else steadyUsers.zipWithIndex.map { case (u, i) =>
          (u, maxEid + e * 100L + i, maxSec + e * 60L) }
          .toDF("user_id", "event_id", "sec"), e.toLong)
    }(wroteState(spark, scdDir, _, "buckets_touched"))
    val scd2 = touchedSection(t, "scd2_materializer_o_touched", scd,
      "history_rows", ScdApply.history(spark, scdDir).count())

    // Versioned (out-of-order) replica materializer on the same bulk +
    // hot-keys shape: the bulk epoch applies every enriched change,
    // steady epochs deliver synthetic late changes for 8 keys.
    val repDir = s"$dir/replica_state"
    clear(spark, repDir)
    val enriched = CdcQueries.enriched(spark, dir)
      .select(col("partitionKey"), col("value"))
    val hotKeys = (1L to 8L).map(i => s"test_db.events.${i * 7 + 2}")
    def lateEnv(eid: Long, tsMs: Long) =
      s"""{"after":{"event_id":"$eid","event_type":"late"},""" +
        s""""source":{"ts_ms":$tsMs,"pos":$eid},"op":"u","ts_ms":$tsMs}"""
    val rep = epochs("replica", 0 to 3) { e =>
      import spark.implicits._
      CdcApply.materializerVersioned(spark, repDir, 64)(
        if (e == 0) enriched
        else hotKeys.zipWithIndex.map { case (k, i) =>
          (k, lateEnv(9000000L + e * 100L + i, 9999999000L + e)) }
          .toDF("partitionKey", "value"), e.toLong)
    }(wroteState(spark, repDir, _))
    val replica = touchedSection(t, "replica_materializer_o_touched", rep,
      "live_rows", CdcApply.replicaVersioned(spark, repDir).count())

    // Dup-spans standing index, a per-bucket LSM (r7 verdict item 1)
    val dupSpans = runDupSpansLsm(spark, t, dir, 256)

    // Durable LSH near-dup index on the same bulk + trickle shape: the
    // bulk epoch folds the full corpus (every shard), steady epochs
    // ingest 8 fresh docs each — a steady epoch's state write must be
    // the touched shards' slice of the index, not the index.
    val LshShards = 64
    val lshDir = s"$dir/lsh_state"
    val lshEvDir = s"$dir/lsh_events"
    clear(spark, lshDir, lshEvDir)
    val docsText = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxDocId = docsText.agg(max(col("doc_id"))).head().getLong(0)
    val freshTexts = docsText.orderBy(col("doc_id")).limit(8)
      .collect().map(_.getString(1)).toSeq
    val lsh = epochs("lsh-index", 0 to 3) { e =>
      import spark.implicits._
      StreamingLshIndex.materializer(spark, lshDir, lshEvDir, LshShards)(
        if (e == 0) docsText
        else freshTexts.zipWithIndex.map { case (txt, i) =>
          (maxDocId + e * 100L + i, s"epoch $e variant $i $txt") }
          .toDF("doc_id", "text"), e.toLong)
    }(wroteState(spark, lshDir, _, "shards_touched"))
    val lshIndexRows = StreamingLshIndex.index(spark, lshDir).count()
    val lshEvents = StreamingLshIndex.dupEvents(spark, lshDir, lshEvDir).count()
    val lshSteadyRows = lsh(3)("rows_written")
    // The invariant: a steady epoch writes the TOUCHED shards' slice
    // of the index, never the whole index. 8 docs touch ≤ 32 band
    // buckets → ≤ 32 shards; with the dup-saturated corpus's small
    // bucket population that slice is a large FRACTION here — the
    // fraction shrinks with shard count in production, so the gate
    // checks the slice proportion itself: rows ≈ index × touched/shards
    // (25 % slack for per-shard imbalance), some shards untouched, and
    // real dup events emitted.
    val lshSteadyTouched = lsh(3)("shards_touched")
    val lshSliceBound =
      lshIndexRows.toDouble * lshSteadyTouched / LshShards * 1.25
    val lshPass = t.gate(lshSteadyRows > 0 && lshSteadyTouched < LshShards &&
      lshSteadyRows <= lshSliceBound && lshEvents > 0,
      "lsh_index_materializer_o_touched")

    val ivfIndex = ivf30(r)

    // Incremental join view: orders against the 1x customer dim
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val joinView = runJoinViewArm(spark, t, orders,
      spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name")), s"$dir/joinview_state", 64)

    // Grouped-KMV sketch + stratified reservoir: bulk epoch folds the
    // full corpus, steady epochs ingest 8 fresh docs — the standing
    // state stays K-bounded per stratum (distinct-count and sample
    // state are O(k·strata) at ANY corpus size), and a steady epoch
    // rewrites only its touched buckets' slice of that tiny table.
    val gkDir = s"$dir/gkmv_state"
    val rsDir = s"$dir/resv_state"
    clear(spark, gkDir, rsDir)
    val docsLang = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val sketch = epochs("sketch", 0 to 2) { e =>
      val batch =
        if (e == 0) docsLang
        else docsLang.orderBy(col("doc_id"))
          .limit(8).withColumn("doc_id", col("doc_id") + lit(e * 7919L))
      StreamingGroupedKmv.materializer(spark, gkDir,
        Seq("lang"), "doc_id")(batch, e.toLong)
      StreamingReservoir.materializer(spark, rsDir,
        Seq("lang"), "doc_id", StreamingReservoir
          .uniformPriority(col("doc_id"), "scale_"), 16)(batch, e.toLong)
    } { e => Seq("kmv_rows_written" -> dirRows(spark, s"$gkDir/state-$e"),
      "reservoir_rows_written" -> dirRows(spark, s"$rsDir/state-$e")) }
    val gkGroups = StreamingGroupedKmv
      .estimates(spark, gkDir, Seq("lang")).count()
    val rsRows = StreamingReservoir.sample(spark, rsDir).count()
    // state stays k-bounded: the reservoir is exactly 16 rows per
    // stratum, the sketch one row per stratum; steady epochs wrote a
    // strict subset of the bulk write
    val sketchPass = t.gate(rsRows == gkGroups * 16 && gkGroups > 0 &&
      Seq("kmv_rows_written", "reservoir_rows_written")
        .forall(k => sketch(2)(k) <= sketch(0)(k)),
      "sketch_reservoir_state_bound")

    val nv = runNoveltyArm(spark, t, dir, 64)
    val ivm = runIvmE2E(spark, dir, 64)
    ivmGates(r, ivm, ("cdc_ivm_e2e", "ivm_steady_overhead_regression",
      "ivm_ripple_regression"), ScaleGates.ivmSteadyOk)

    Result(Seq("gates" -> obj(ann ++ Seq(
        "dedup_clone_recall" -> rounded(cloneRecall, 4),
        "dedup_clone_pairs" -> nClonePairs, "dedup_recall_threshold" -> 0.95,
        "dedup_pass" -> dqPass, "jaccard_truth_pairs" -> nTrue,
        "jaccard_truth_precision" -> precision,
        "jaccard_truth_recall" -> recall,
        "jaccard_recall_threshold" -> 0.80, "jaccard_pass" -> jqPass): _*),
      "materializers" -> obj(
        "scd2" -> scd2, "replica_versioned" -> replica,
        "dup_spans" -> dupSpans,
        "lsh_index" -> obj("shards" -> LshShards, "epochs" -> lsh.map(_.row),
          "index_rows" -> lshIndexRows, "dup_events" -> lshEvents,
          "steady_epoch_rows" -> lshSteadyRows,
          "steady_epoch_shards" -> lshSteadyTouched,
          "slice_bound_rows" -> math.round(lshSliceBound),
          "o_touched_pass" -> lshPass),
        "ivf_index" -> ivfIndex, "join_view" -> joinView,
        "sketch_reservoir" -> obj("epochs" -> sketch.map(_.row),
          "strata" -> gkGroups, "reservoir_rows" -> rsRows,
          "state_bound_pass" -> sketchPass),
        "novelty" -> nv, "cdc_ivm_e2e" -> ivm.section)),
      "single timed noop-sink pass per op (cold plans; 30x scale: 90% of texts cloned 30x, 10% stratum singleton + one-token near-dup variant), untimed count for cardinality; session derivation cache ON: the shared LSH signature/pair derivation is timed once as lsh_derivation and every dedup/graph family op's entry is its post-derivation cost (cold whole-pipeline = lsh_derivation + op); likewise dupspan_gram_derivation for txt_dup_spans{,_prefix} and gram_counts_derivation for dedup_ngram_jaccard/dedup_containment; regression gates (ScaleGates): ivm steady <= 3.5s, pagerank post-derivation <= 15s, dup-spans probe <= 52/256, novelty steady <= 7s",
      exitGates = annPass && dqPass && jqPass)
  }

  /** The LSH candidate pairs whose two docs share a text cluster:
    * `docs` (doc_id, th) keyed by text hash; `ha` is the cluster.
    */
  private def cloneHits(r: Run, docs: DataFrame) =
    DedupQueries.minhashPairs(r.spark, r.dir)
      .join(docs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("th", "ha"), Seq("doc_a"))
      .join(docs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("th", "hb"), Seq("doc_b"))
      .filter(col("ha") === col("hb"))

  /** What [[ivfLoad]] leaves: the index root, every vector ingested,
    * the epochs, the most shards a steady epoch touched, the index rows.
    */
  private final case class IvfLoad(root: String, ingested: DataFrame,
      eps: Seq[Epoch], touchedMax: Long, idxRows: Long)

  /** The standing IVF index under `dir`/ivf_index, bulk + trickle: the
    * bulk epoch trains + freezes the codebook and folds every vector,
    * steady epochs 1-2 ingest 8 fresh vectors each (touched-shard writes
    * only). The epochs record `shards_touched`, after `rows_written`
    * when `rowsWritten`.
    */
  private def ivfLoad(r: Run, shards: Int, rowsWritten: Boolean): IvfLoad = {
    import r.{dir, spark}
    val root = s"$dir/ivf_index"
    clear(spark, root, s"${root}_rt")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    val steady = trickle(vecs, "vec_id")
    val eps = epochs("ivf-index", 0 to 2) { e =>
      StreamingIvfIndex.materializer(spark, root, shards)(
        if (e == 0) vecs else steady(e), e.toLong)
    } { e =>
      val p = s"$root/state/state-$e"
      (if (rowsWritten) Seq("rows_written" -> dirRows(spark, p)) else Nil) :+
        ("shards_touched" -> bucketsTouched(spark, p))
    }
    IvfLoad(root, vecs.unionByName(steady(1)).unionByName(steady(2)), eps,
      eps.drop(1).map(_("shards_touched")).max,
      StreamingIvfIndex.index(spark, root).count())
  }

  /** Durable standing IVF ANN index (round 14) on the [[ivfLoad]]
    * shape. Gates: (a) searchSelf over the standing index is
    * BIT-EQUAL to the frozen-codebook batch scan of everything ingested
    * — the train-then-freeze contract makes the comparison exact; (b)
    * steady epochs touch a strict subset of shards; (c) recall@5 vs
    * brute-force truth over the standing index holds the per-query ANN
    * floor (0.30); (d) retrain recovers the recall a drifted blob costs
    * the frozen codebook.
    */
  private def ivf30(r: Run): Obj = {
    import r.{dir, spark, t}
    val IvfShards = 32
    val IvfLoad(ivfRoot, ingested, eps, touchedMax, idxRows) =
      ivfLoad(r, IvfShards, rowsWritten = true)
    val cents = StreamingIvfIndex.codebook(spark, ivfRoot)
    val indexedAll = Ivf.assignCarrying(ingested.select(col("vec_id"),
      col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2Norm(col("v"))), cents)
    val probes = indexedAll.filter(SimilarityQueries.probePred(col("vec_id")))
      .select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("norm").as("pnorm"))
    // sorted before comparing: the two sides run different physical
    // plans (pruned standing-index read vs full batch scan), and
    // comparing as sorted multisets keeps the bit-exact row-content
    // check independent of any plan-level ordering accident
    val want = Ivf.scanCandidates(indexedAll,
        Ivf.routeProbes(cents, probes, 2), 10)
      .collect().map(_.toString).toSeq.sorted
    val got = StreamingIvfIndex.searchSelf(spark, ivfRoot, 10, 2, IvfShards)
      .collect().map(_.toString).toSeq.sorted
    val pass = t.gate(idxRows == ingested.count() && want.nonEmpty &&
      got == want && touchedMax > 0 && touchedMax < IvfShards,
      "ivf_index_parity_o_touched")
    // recall of the STANDING index (round 15): parity pins search ==
    // the frozen-codebook batch path, not its quality. No
    // localCheckpoint: the index read is parquet-backed and each frame
    // is consumed once
    val recall = Ivf.recallAtK(
      StreamingIvfIndex.searchSelf(spark, ivfRoot, 5, 2, IvfShards),
      Ivf.bruteTopK(StreamingIvfIndex.index(spark, ivfRoot), probes, 5), 5)
    val recallPass = t.gate(recall >= 0.30, "ivf_index_recall")

    // Retrain-vs-drift (round 15): ingest a drifted blob straddling the
    // Voronoi boundary of the two closest frozen cells (sized ~2x a
    // cell's population so the quantizer error is material), measure
    // nprobe=1 recall against brute truth BEFORE and AFTER retrain —
    // the codebook-refresh maintenance op must recover what the frozen
    // epoch-0 quantizer lost. Paired construction: a dense majority
    // grid on one side of the boundary (mix 0.52) with every 16th
    // member a MINORITY twin at the same grid position on the other
    // side (mix 0.48) — each minority's true nearest neighbors are its
    // grid-adjacent majority partners across the frozen boundary, so
    // nprobe=1 misses them until retrain consolidates the blob into one
    // re-centered cell. All constants are deterministic in the frozen
    // codebook.
    val cb = cents.orderBy(col("cell_id")).collect()
      .map(row => (row.getInt(0), row.getSeq[Double](1).toArray))
    def cdist(x: Array[Double], y: Array[Double]) =
      math.sqrt(x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum)
    val (cia, cib, cdmin) = (for (i <- cb.indices; j <- cb.indices if i < j)
      yield (i, j, cdist(cb(i)._2, cb(j)._2))).minBy(_._3)
    val dca = cb(cia)._2; val dcb = cb(cib)._2
    val dim = dca.length
    val driftN = math.min(20000L, math.max(120L, 2 * idxRows / cb.length)).toInt
    val drift = {
      import spark.implicits._
      (0 until driftN).map { i =>
        val mix = if (i % 16 == 0) 0.48 else 0.52
        val gx = (i % 110).toDouble * 0.02
        val gy = (i / 110).toDouble * 0.02
        val v = (0 until dim).map { d =>
          val w1 = if (d % 2 == 0) 1.0 else -1.0
          val w2 = if (d % 4 < 2) 1.0 else -1.0
          (mix * dca(d) + (1 - mix) * dcb(d) +
            (gx * w1 + gy * w2) * cdmin / math.sqrt(dim)).toFloat
        }
        (900000000L + i, 99, v)
      }.toDF("vec_id", "label", "embedding")
    }
    StreamingIvfIndex.materializer(spark, ivfRoot, IvfShards)(drift, 3L)
    // durable parquet instead of localCheckpoint: the run pins nothing
    // index-shaped across the retrain measurement
    val driftProbes = durable(StreamingIvfIndex.index(spark, ivfRoot)
      .filter(col("vec_id") >= 900000000L)
      .filter(col("vec_id") % 20 === 0) // bounded probe sample
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm")), s"$dir/ivf_drift_probes.parquet")
    val driftTruth = durable(Ivf.bruteTopK(StreamingIvfIndex.index(spark,
      ivfRoot), driftProbes, 5), s"$dir/ivf_drift_truth.parquet")
    def nprobe1Recall(root: String) = Ivf.recallAtK(
      StreamingIvfIndex.search(spark, root,
      driftProbes.select(col("probe_id"), col("pv")), 5, 1, IvfShards),
      driftTruth, 5)
    val recallBefore = nprobe1Recall(ivfRoot)
    val rtT0 = System.nanoTime()
    val rtRoot = s"${ivfRoot}_rt"
    StreamingIvfIndex.retrain(spark, ivfRoot, rtRoot, IvfShards, rounds = 3)
    val retrainSec = secs(rtT0)
    val recallAfter = nprobe1Recall(rtRoot)
    val retrainPass = t.gate(recallAfter + 1e-9 >= recallBefore &&
      recallAfter >= 0.95, "ivf_index_retrain_recovery")
    obj("shards" -> IvfShards, "epochs" -> eps.map(_.row),
      "index_rows" -> idxRows, "search_parity_pass" -> (got == want),
      "steady_epoch_shards_max" -> touchedMax, "o_touched_pass" -> pass,
      "recall_at5" -> rounded(recall, 4), "recall_threshold" -> 0.30,
      "recall_pass" -> recallPass, "retrain" -> obj(
        "drift_vectors" -> driftN, "recall_before" -> rounded(recallBefore, 4),
        "recall_after" -> rounded(recallAfter, 4),
        "retrain_sec" -> rounded(retrainSec, 3),
        "recovery_pass" -> retrainPass))
  }

  // ---------------------------------------------------------------- 100×
  private def x100(r: Run): Result = {
    import r.{dir, spark, t}
    r.family("lsh_derivation", "dedup_exact", "dedup_minhash_pairs",
      "dedup_clusters_star", "dedup_canonical")
    val clone = cloneRecall100(r)
    r.family("dupspan_gram_derivation", "txt_dup_spans", "txt_dup_spans_prefix")
    r.family("gram_counts_derivation", "dedup_ngram_jaccard",
      "dedup_containment")
    val (ann, annPass) = annRecall(spark, dir, t)
    t.gate(annPass, "ann_recall")
    // the heavy-family storage is done — return the derivation cache
    // before the materializer sections (accumulated storage blocks
    // inflate tiny-stage work)
    DedupQueries.clearDerivationMemos(spark)

    val ivfIndex = ivf100(r)
    val dupSpans = runDupSpansLsm(spark, t, dir, 256)
    // the signed join view at the state-proportional bucket count
    // (15M view rows / ~58k per bucket): 100x orders against the 1x
    // customer dim
    val joinView = runJoinViewArm(spark, t,
      (0 until 100).map(i => spark.read.parquet(s"${r.sf}/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("o_orderkey",
          col("o_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ unionAll _),
      spark.read.parquet(s"${r.sf}/customer.parquet")
        .select(col("c_custkey"), col("c_name")), s"$dir/joinview_state", 256)
    // the gram census retraction path at ~500k docs, 256 buckets (~the
    // per-bucket slice of the 30x/64 shape), same steady gate
    val nv = runNoveltyArm(spark, t, dir, 256)
    // the IVM chain: bulk at 64 buckets, then the in-run rebucketState
    // 64→256 wave migration (the r14 A/B's winning arm), steady/ripple
    // epochs at 256 — the maintenance op proven end to end in the shape
    // a deployment runs it, the steady floor gated at the
    // state-proportional bucket shape; parity per 4 bucket groups
    val ivm = runIvmE2E(spark, dir, 64, migrateTo = Some(256),
      migrationWaves = 4, parityGroups = 4)
    ivmGates(r, ivm, ("cdc_ivm_e2e", "ivm100_steady_overhead_regression",
      "ivm100_ripple_regression"), ScaleGates.ivm100SteadyOk)

    Result(Seq("gates" -> obj(clone ++ ann: _*),
      "materializers" -> obj("dup_spans" -> dupSpans, "ivf_index" -> ivfIndex,
        "join_view" -> joinView, "novelty" -> nv, "cdc_ivm_e2e" -> ivm.section),
      "memory" -> memory(poolSum = true)),
      "100x heavy families through the 30x harness code (ScaleHarness): derivations timed once per family (session cache), family ops post-derivation; corpus strata: 80% cloned 120x (over LSH bucket cap 64 - dropped from pair scope by design, recovered by the exact text-hash census), 10% cloned 30x (under-cap clone-recall truth), 10% salted singleton + near-dup variant; dup-spans probe pin and IVM parity via the identical 30x protocol; IVM chain: bulk epochs at 64 buckets, in-smoke rebucketState 64->256 WAVE migration at the epoch-3 frontier (stop query, 4 waves x 8 states with a migration-scoped old-gen peak window, resume from checkpoint), steady/ripple epochs at 256 with steady gated <= 3.5s (ScaleGates.Ivm100SteadyOverheadMaxSec); standing IVF index arm at 200k vectors (bulk + 8-vector steady epochs, shard-confined search, recall@5 >= 0.30 vs brute truth, retrain at full corpus); join-view arm at 15M orders x 15k customers (bulk + hot-customer steady + customer retract/re-insert, mass == batch join); novelty arm at ~500k docs with the 30x steady gate; IVM parity restated per 4 bucket groups (count + content hash, live side bucket-pruned); ripple epoch gated <= 8s (ScaleGates.IvmRippleMaxSec)")
  }

  /** Clone recall, cap-aware: truth = clone pairs within UNDER-CAP
    * clusters (LSH's in-scope recall set); over-cap clusters must exist
    * in bulk and be recovered by the exact text-hash census. The only
    * loss mode at 100× is SIGNATURE-MERGED clusters (LSH_RECALL_PROFILE
    * _r15) — an under-cap text cluster whose full 16/16 minhash
    * signature coincides with an over-cap clone set's, making every
    * band bucket one >cap identity set; those are trivially-duplicate
    * mass by the cap's own rationale and out of LSH's scope the same
    * way over-cap text clusters are. Gates: IN-SCOPE recall (clusters
    * whose full-signature set ≤ cap) ≥ 0.97, and every LOST cluster
    * recovered by the dedup_exact OPERATOR (composed LSH ∪ exact ==
    * all truth pairs). The raw under-cap recall stays recorded for the
    * trend line (profiled, not gated — cap bumps were measured dead).
    * Returns the gate fields.
    */
  private def cloneRecall100(r: Run): Seq[(String, Any)] = {
    import r.{dir, spark, t}
    val cap = DedupQueries.MinHashBucketCap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), xxhash64(col("lang"), col("text")).as("th"),
        xxhash64(lower(trim(col("text")))).as("tx")).persist(MEMORY_AND_DISK)
    val clusters = docs.groupBy(col("th"))
      .agg(count(lit(1)).as("s"), min(col("doc_id")).as("rep"))
      .persist(MEMORY_AND_DISK)
    val underClusters = clusters.filter(col("s") <= cap && col("s") > 1)
    val nUnderPairs = underClusters
      .agg(coalesce(sum(col("s") * (col("s") - 1) / 2), lit(0L))
        .cast("long")).head().getLong(0)
    val over = clusters.filter(col("s") > cap)
      .agg(count(lit(1)).as("n"), coalesce(min(col("s")), lit(0L)).as("mn"),
        coalesce(max(col("s")), lit(0L)).as("mx"),
        coalesce(sum(col("s") * (col("s") - 1) / 2), lit(0L))
          .cast("long").as("pairs"),
        coalesce(sum(col("s")), lit(0L)).as("mass")).head()
    val docsUnder = docs.select(col("doc_id"), col("th")).join(
      underClusters.select(col("th")), Seq("th"), "left_semi")
    val hitsPerCluster = cloneHits(r, docsUnder)
      .groupBy(col("ha").as("th")).agg(count(lit(1)).as("hit_pairs"))
    val fsigDocs = DedupQueries.lshBandFrame(spark, dir)
      .select(col("doc_id"), col("fsig")).distinct()
    val clusterFs = fsigDocs
      .join(underClusters.select(col("rep").as("doc_id"), col("th")),
        Seq("doc_id"))
      .join(fsigDocs.groupBy(col("fsig")).agg(count(lit(1)).as("cluster_fs")),
        Seq("fsig")).select(col("th"), col("cluster_fs"))
    val perCluster = underClusters.join(hitsPerCluster, Seq("th"), "left")
      .withColumn("hit_pairs", coalesce(col("hit_pairs"), lit(0L)))
      .join(clusterFs, Seq("th"))
      .withColumn("truth_pairs", (col("s") * (col("s") - 1) / 2).cast("long"))
      .persist(MEMORY_AND_DISK)
    val inScope = col("cluster_fs") <= cap
    val cr = perCluster.agg(coalesce(sum(col("hit_pairs")), lit(0L)).as("hits"),
      coalesce(sum(when(inScope, col("truth_pairs"))), lit(0L))
        .as("scope_pairs"),
      coalesce(sum(when(inScope, col("hit_pairs"))), lit(0L)).as("scope_hits"),
      count(when(!inScope, 1)).as("sig_merged"),
      coalesce(sum(when(!inScope, col("truth_pairs"))), lit(0L))
        .as("sig_merged_pairs"),
      count(when(col("hit_pairs") === 0, 1)).as("lost"),
      count(when(col("hit_pairs") === 0 && inScope, 1)).as("lost_in_scope"))
      .head()
    def n(c: String) = cr.getAs[Long](c)
    val cloneRecall =
      if (nUnderPairs == 0) -1.0 else n("hits").toDouble / nUnderPairs
    val recallInScope =
      if (n("scope_pairs") == 0) -1.0
      else n("scope_hits").toDouble / n("scope_pairs")
    // composed recovery, non-vacuous (r15 advice item 3): each lost
    // cluster's members must land in ONE group actually EMITTED by the
    // dedup_exact OPERATOR, with the operator's own n_copies covering
    // the cluster. Membership (doc -> its group keeper doc) is derived
    // from the corpus with the operator's normalization, but existence
    // and size come from the operator output — so a broken exact-dedup
    // (missing groups, under-counted copies) trips this gate.
    val exactOut = SparkEntry.queries("dedup_exact")(spark, dir)
      .select(col("keeper_doc_id"), col("n_copies"))
    val keeperOf = docs.groupBy(col("tx"))
      .agg(min(col("doc_id")).as("keeper_doc_id"))
    val lostExactRecovered = docs.join(perCluster.filter(col("hit_pairs") === 0)
        .select(col("th"), col("s")), Seq("th")).join(keeperOf, Seq("tx"))
      .groupBy(col("th"), col("s"))
      .agg(countDistinct(col("keeper_doc_id")).as("nk"),
        min(col("keeper_doc_id")).as("keeper_doc_id"))
      .join(exactOut, Seq("keeper_doc_id"), "left")
      .filter(col("nk") =!= 1 || col("n_copies").isNull ||
        col("n_copies") < col("s")).count() == 0
    val clonePass = t.gate(n("scope_pairs") > 0 && recallInScope >= 0.97 &&
      lostExactRecovered && n("lost_in_scope") == 0, "clone_recall_inscope")
    // over-cap mass: present, dropped from pair work by construction
    // (the census would otherwise blow up at C(120,2)+ per bucket), and
    // FULLY recovered by the exact-dedup census — the text-hash groupBy
    // `clusters` itself
    val overPass = t.gate(over.getLong(0) > 0 && over.getLong(1) > cap &&
      over.getLong(4) > docs.count() / 2, "overcap_exact_census")
    Seq(perCluster, clusters, docs).foreach(_.unpersist())
    Seq("clone_recall_undercap" -> rounded(cloneRecall, 4),
      "clone_pairs_undercap" -> nUnderPairs,
      "clone_recall_in_scope" -> rounded(recallInScope, 4),
      "clone_pairs_in_scope" -> n("scope_pairs"),
      "sig_merged_clusters" -> n("sig_merged"),
      "sig_merged_pairs" -> n("sig_merged_pairs"), "lost_clusters" -> n("lost"),
      "lost_all_exact_recovered" -> lostExactRecovered,
      "clone_recall_threshold" -> 0.97, "clone_recall_gated_on" -> "in_scope",
      "clone_pass" -> clonePass, "overcap_clusters" -> over.getLong(0),
      "overcap_cluster_size_min" -> over.getLong(1),
      "overcap_cluster_size_max" -> over.getLong(2),
      "overcap_docs" -> over.getLong(4),
      "overcap_pairs_excluded" -> over.getLong(3), "overcap_pass" -> overPass)
  }

  /** The standing IVF index at 100× (r15 verdict item 4): the 30× arm's
    * claims at the 200k-vector corpus — bulk epoch trains + freezes the
    * codebook and folds every vector, steady epochs ingest 8 fresh
    * vectors (touched shards only), search reads ONLY the routed cells'
    * shards, recall@5 vs brute truth holds the per-query ANN floor, and
    * the retrain maintenance op runs at full corpus size with recall
    * preserved against the SAME brute truth.
    */
  private def ivf100(r: Run): Obj = {
    import r.{dir, spark, t}
    val IvfShards = 64
    val IvfLoad(ivfRoot, ingested, eps, touchedMax, idxRows) =
      ivfLoad(r, IvfShards, rowsWritten = false)
    val idx = StreamingIvfIndex.index(spark, ivfRoot)
    val probes = durable(idx.filter(SimilarityQueries.probePred(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm")), s"$dir/ivf_probes.parquet")
    // shard-confined search: the candidate read's input files stay
    // inside the probes' routed shard set
    val routed = Ivf.routeProbes(
        StreamingIvfIndex.codebook(spark, ivfRoot), probes, 2)
      .select(ExactlyOnce.bucketOf("cell_id", IvfShards)
        .as("s")).distinct().collect().map(_.getInt(0)).toSet
    val searchT0 = System.nanoTime()
    def search(root: String) = StreamingIvfIndex.search(spark, root,
      probes.select(col("probe_id"), col("pv")), 5, 2, IvfShards)
    val res = search(ivfRoot)
    val searchConfined = confined(
      res.inputFiles.toSeq.filter(_.contains("__bucket=")), routed)
    val truth = durable(Ivf.bruteTopK(idx, probes, 5),
      s"$dir/ivf_truth.parquet")
    val recall = Ivf.recallAtK(res, truth, 5)
    val searchSec = secs(searchT0)
    val rtT0 = System.nanoTime()
    val rtRoot = s"${ivfRoot}_rt"
    StreamingIvfIndex.retrain(spark, ivfRoot, rtRoot, IvfShards, rounds = 2)
    val retrainSec = secs(rtT0)
    val recallRt = Ivf.recallAtK(search(rtRoot), truth, 5)
    val pass = t.gate(idxRows == ingested.count() && touchedMax > 0 &&
      touchedMax < IvfShards && searchConfined && recall >= 0.30 &&
      recallRt >= 0.30 && recallRt + 0.05 >= recall, "ivf_index_100x")
    obj("shards" -> IvfShards, "epochs" -> eps.map(_.row),
      "index_rows" -> idxRows, "steady_epoch_shards_max" -> touchedMax,
      "search_confined" -> searchConfined, "recall_at5" -> rounded(recall, 4),
      "recall_threshold" -> 0.30,
      "search_and_truth_sec" -> rounded(searchSec, 3),
      "retrain" -> obj("vectors" -> idxRows, "sec" -> rounded(retrainSec, 3),
        "recall_at5_after" -> rounded(recallRt, 4)), "pass" -> pass)
  }

  // ---------------------------------------------------------------- 300×
  /** The IVM chain at the STATE-PROPORTIONAL bucket count, to confirm
    * the steady floor stays scheduler-bound (exchange count, not
    * per-bucket volume) when both the state and the bucket count grow 3×
    * past the 100× shape: bulk at 256 (the shape a deployment is running
    * when its corpus triples) over 8 epochs (each wave fences one epoch
    * at or below the frontier), then a 256→768 8-wave migration at the
    * ~27M-row frontier (~3.4M rows/wave) gated at
    * [[ScaleGates.MigrationWindowOldGenMaxMb]], then steady/ripple
    * epochs at 768. Parity restates per 8 bucket groups so the
    * verifier's working set is bounded like the migrator's.
    */
  private def x300(r: Run): Result = {
    val (bulk, steady, waves) = (256, 768, 8)
    val ivm = runIvmE2E(r.spark, r.dir, bulk, migrateTo = Some(steady),
      migrationWaves = waves, parityGroups = 8)
    ivmGates(r, ivm, ("cdc_ivm_e2e_300x", "ivm300_steady_overhead",
      "ivm300_ripple_regression"), ScaleGates.ivm100SteadyOk)
    // past the ceiling the migrator re-acquired an O(state) term: the
    // O(state/waves) discipline is lost
    r.t.gate(ScaleGates.migrationWindowOk(ivm.migrationOldGenPeakMb
      .getOrElse(-1L)), "ivm300_migration_window_old_gen")
    Result(Seq("materializers" -> obj("cdc_ivm_e2e" -> ivm.section),
      "bucket_sizing" -> obj("rows_per_bucket_target" -> 35000,
        "buckets_bulk" -> bulk, "buckets_steady" -> steady,
        "replica_rows" -> ivm.repGot),
      "memory" -> memory(poolSum = false)),
      s"300x IVM chain through the shared ScaleHarness.runIvmE2E (identical protocol code to the 30x/100x smokes): $waves bulk epochs at 256 buckets (the pre-growth deployment shape; one per wave fence epoch), then a 256->768 wave migration at the 27M-row frontier ($waves fenced waves, ~3.4M rows each, migration-window old-gen gated <= ${ScaleGates.MigrationWindowOldGenMaxMb}MB), then dim-ripple epochs ${waves}-${waves + 1} + facts-only steady epochs ${waves + 2}-${waves + 5} at 768 (~35k replica rows/bucket), parity restated PER BUCKET GROUP (8 groups, count + order-free content hash, live side bucket-pruned) vs from-scratch batch answers, steady gated <= 3.5s (ScaleGates.Ivm100SteadyOverheadMaxSec)",
      value = Some(rounded(ivm.steadyOverheadSec, 2)))
  }
}
