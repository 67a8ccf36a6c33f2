package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ExactlyOnce, Ivf}

/** DURABLE standing IVF index — the lake-backed deployment shape for
  * approximate nearest-neighbor at corpus scale, the counterpart of
  * [[StreamingLshIndex]] for the vector modality. The per-query
  * [[graft.operators.Ivf.search]] rebuilds codebook + assignment in
  * session storage on every call (its scaladoc pins that single-shot
  * contract); a pipeline that ingests vectors continuously instead
  * wants an index that SURVIVES the stream and answers queries by
  * reading only the probed cells' shards:
  *
  *   - the codebook is trained ONCE on the bulk epoch
  *     ([[graft.operators.Ivf.codebook]], per-label centroids) and
  *     FROZEN — the standard IVF train-then-freeze contract; its
  *     parquet is deterministic (decimal-exact means, round(6)), so a
  *     torn-epoch replay rewrites identical bytes;
  *   - each epoch assigns its vectors to cells with the carried-vector
  *     argmin (no corpus re-join) and folds them into hash-bucketed
  *     versioned parquet keyed on cell_id under
  *     [[ExactlyOnce.advanceStateBucketed]] — per-epoch write cost is
  *     O(batch + touched shards' rows), never O(index); replays are
  *     fenced no-ops; re-ingesting a vec_id replaces its row;
  *   - [[search]] routes probes to their nprobe nearest cells against
  *     the broadcast frozen codebook, turns the routed cells into a
  *     touched-shard set, and reads ONLY those shards
  *     ([[ExactlyOnce.currentStateBuckets]]) — at 100 TB the query
  *     touches a handful of state files, never the index; the
  *     candidate scan itself is the same broadcast shape as the
  *     per-query operator ([[graft.operators.Ivf.scanCandidates]]).
  *
  * 100 TB design: shard count is a deployment parameter sized so a
  * cell's slice stays file-sized (the bucket-sizing lever measured in
  * IVM_PROFILE_r14; [[ExactlyOnce.rebucketState]] migrates a grown
  * index); cell count bounds the candidate scan per probe at
  * nprobe × (corpus / cells) rows.
  */
object StreamingIvfIndex {

  /** Physical shards of the persisted index (tests; production uses
    * thousands — see scaladoc).
    */
  val DefaultShards = 16

  val indexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell_id", IntegerType),
    StructField("v", ArrayType(DoubleType)),
    StructField("norm", DoubleType)))

  private def emptyIndex(spark: SparkSession): DataFrame =
    ExactlyOnce.emptyFrame(spark, indexSchema)

  private def stateDir(root: String) = s"$root/state"
  private def codebookDir(root: String) = s"$root/codebook"

  /** (vec_id, label, v, norm) node frame from a raw
    * (vec_id, label, embedding) batch — the same projection the
    * per-query operator starts from.
    */
  private def nodes(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", graft.functions.VectorOps.l2Norm(col("v")))

  /** The frozen codebook (cell_id, c, cnorm). */
  def codebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(codebookDir(root))

  /** foreachBatch body: fold one micro-batch of
    * (vec_id, label, embedding) into the index at `root`. The FIRST
    * batch (no codebook on disk yet) trains and freezes the codebook —
    * the bulk-load contract: epoch 0 must be a representative corpus
    * slice, exactly like any IVF/PQ training split. Returns
    * advanceStateBucketed's advanced/fenced flag.
    */
  def materializer(spark: SparkSession, root: String,
      numShards: Int = DefaultShards)(
      batch: DataFrame, batchId: Long): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // gate on the commit marker, NOT directory existence: a crash
    // DURING the epoch-0 codebook job leaves a torn dir (partial part
    // files, no _SUCCESS) that a dir-exists gate would skip retraining
    // on, assigning every later vector against a broken codebook. The
    // content is deterministic (decimal-exact means, round(6)), so the
    // Overwrite replay rewrites identical bytes — the codebook needs
    // no fence of its own, just an honest done-marker.
    val cbSuccess = new org.apache.hadoop.fs.Path(
      codebookDir(root), "_SUCCESS")
    val ns = nodes(batch)
    if (!fs.exists(cbSuccess))
      Ivf.codebook(ns).write.mode(SaveMode.Overwrite)
        .parquet(codebookDir(root))
    val cents = codebook(spark, root)
    val assigned = Ivf.assignCarrying(ns, cents)
      .select(col("vec_id"), col("cell_id"), col("v"), col("norm"))
    ExactlyOnce.advanceStateBucketed(spark, stateDir(root), batchId,
      assigned, "cell_id", numShards)(emptyIndex(spark)) {
      (current, cluster) =>
        // re-ingested vec_ids replace their rows; `current` holds the
        // touched SHARDS' full content (a superset of the batch's
        // cells), so the anti join resolves without reading cold shards
        cluster(current.join(assigned.select(col("vec_id")), Seq("vec_id"),
            "left_anti")
          .unionByName(assigned))
    }
  }

  /** The standing index (vec_id, cell_id, v, norm), per shard the
    * newest committed epoch's version.
    */
  def index(spark: SparkSession, root: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir(root)),
      s"no committed index state under $root")
    ExactlyOnce.currentStateBucketed(spark, stateDir(root))(
      emptyIndex(spark))
  }

  /** Top-k cosine neighbors for `probes` (probe_id, pv — raw float or
    * double vectors) against the standing index, reading ONLY the
    * probed cells' shards. The routed probe set is ≤ |probes| × nprobe
    * rows; turning it into the touched-shard set is one bounded
    * driver collect (the same class as the materializers'
    * touched-bucket probes — iteration control, not data).
    */
  def search(spark: SparkSession, root: String, probes: DataFrame,
      k: Int = 10, nprobe: Int = 2,
      numShards: Int = DefaultShards): DataFrame = {
    val cents = codebook(spark, root)
    val p = probes
      .select(col("probe_id"), col("pv").cast("array<double>").as("pv"))
      .withColumn("pnorm", graft.functions.VectorOps.l2Norm(col("pv")))
    val routed = Ivf.routeProbes(cents, p, nprobe)
    val touched = routed
      .select(col("cell_id"),
        ExactlyOnce.bucketOf("cell_id", numShards).as("shard"))
      .distinct().collect()
      .map(_.getAs[Int]("shard")).toSet
    val candidates = ExactlyOnce.currentStateBuckets(spark,
      stateDir(root), touched, expectedBuckets = Some(numShards),
      schema = Some(indexSchema))(emptyIndex(spark))
    Ivf.scanCandidates(candidates, routed, k)
  }

  /** MAINTENANCE: retrain the standing index's coarse quantizer from
    * its CURRENT members and rebuild under `dstRoot` — the
    * [[ExactlyOnce.rebucketState]] counterpart for the QUANTIZER. The
    * frozen epoch-0 codebook is correct IVF practice per epoch, but a
    * standing index that ingests forever drifts away from it: vectors
    * pile up against centroids that no longer describe the corpus, and
    * probes route past their true neighbors' cells — recall decays
    * silently. `rounds` Lloyd re-estimation steps fix the quantizer to
    * the corpus it actually holds: each round recomputes every cell's
    * centroid as the decimal-exact mean of its current members (the
    * SAME deterministic round(6) math as [[Ivf.codebook]], so the
    * retrained codebook is bit-reproducible) and reassigns by the
    * carried-vector argmin. A cell that loses all members drops from
    * the codebook (k shrinks — the standard k-means empty-cell case).
    *
    * Cost is O(index) — a maintenance epoch, like rebucketState, not a
    * steady one; at deployment scale train on a reservoir sample if the
    * full pass is too dear (the determinism argument then binds to the
    * sample). The src root stays intact for cutover/rollback; the dst
    * commits as ONE fenced epoch at `batchId`, so a torn retrain
    * replays to identical bytes. Returns the advance's fenced flag.
    *
    * Because the dst is rebuilt from scratch, `numShards` may differ
    * from the src's — a retrain doubles as the shard-count migration
    * for this index (it subsumes `rebucketState` when the quantizer is
    * being refreshed anyway; use rebucketState alone to resize WITHOUT
    * touching the frozen codebook).
    */
  def retrain(spark: SparkSession, srcRoot: String, dstRoot: String,
      numShards: Int = DefaultShards, rounds: Int = 2,
      batchId: Long = 0L): Boolean = {
    require(srcRoot != dstRoot,
      "retrain rebuilds into a NEW root; in-place would tear the live" +
        " index under its readers")
    require(rounds >= 1, "at least one Lloyd round")
    // fence FIRST, before touching anything under dstRoot (r15 advice
    // item 2): the 'replays to identical bytes' claim binds to the src
    // content the committed run read — an at-least-once replay after
    // the live src ingested more epochs would recompute a DIFFERENT
    // codebook, and writing it while the state stays fenced at the old
    // assignment leaves dst routing probes with centroids that don't
    // match the stored cell assignments. A genuinely torn crash (some
    // scratch/codebook written, state never committed) still replays
    // through the codebook-then-state order below.
    if (ExactlyOnce.isEpochCommitted(spark, stateDir(dstRoot), batchId))
      return false
    // src resolved ONCE (fixed file list; the retain grace keeps the
    // files readable) and re-read from durable parquet per round — no
    // localCheckpoint of the corpus-sized frame (r15 verdict item 3:
    // a block-manager pin of the whole index dies with an executor and
    // competes with the retrain's own shuffles for storage memory).
    // Each round's codebook IS durably parquet-backed under dstRoot
    // scratch, so round r+1's assignment never re-executes round r's
    // aggregation and a lost executor recomputes from disk.
    val cur = index(spark, srcRoot)
      .select(col("vec_id"), col("cell_id"), col("v"), col("norm"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dstRoot), spark.sparkContext.hadoopConfiguration)
    def roundCb(r: Int) = s"$dstRoot/_retrain_codebook_$r"
    var assigned = cur
    (1 to rounds).foreach { r =>
      Ivf.codebook(assigned.select(col("cell_id").as("label"), col("v")))
        .write.mode(SaveMode.Overwrite).parquet(roundCb(r))
      assigned = Ivf.assignCarrying(
        cur.select(col("vec_id"), col("v"), col("norm")),
        spark.read.parquet(roundCb(r)))
    }
    val out = assigned
      .select(col("vec_id"), col("cell_id"), col("v"), col("norm"))
    // publish the final codebook first (deterministic bytes — a crash
    // between this write and the state commit replays to the identical
    // file), then the state as one fenced epoch
    spark.read.parquet(roundCb(rounds)).write.mode(SaveMode.Overwrite)
      .parquet(codebookDir(dstRoot))
    // `known` = every shard, wide (the rebuild writes the whole index —
    // the superset contract): skips the touched-probe job AND the
    // advance's batch persist, so the rows stream from the round
    // parquet straight through the clustering exchange into the write
    // with nothing index-sized pinned in storage memory
    val advanced = ExactlyOnce.advanceStateBucketed(spark,
      stateDir(dstRoot), batchId, out, "cell_id", numShards,
      known = Some(ExactlyOnce.Touched((0 until numShards).toSet,
        narrow = false)))(
      emptyIndex(spark)) { (current, cluster) =>
      cluster(current.join(out.select(col("vec_id")), Seq("vec_id"),
        "left_anti").unionByName(out))
    }
    // scratch cleanup only AFTER the advance (out's plan reads the
    // last round's parquet); idempotent, crash leaves only dead files
    (1 to rounds).foreach(r => fs.delete(
      new org.apache.hadoop.fs.Path(roundCb(r)), true))
    advanced
  }

  /** [[search]] with the probe sample drawn from the index itself
    * (the declared-operator shape: `SimilarityQueries.probePred` —
    * at most MaxProbes probes at any corpus size). The pnorm recompute
    * inside [[search]] reproduces the stored norm bit-exactly (same
    * formula over the same doubles).
    */
  def searchSelf(spark: SparkSession, root: String, k: Int = 10,
      nprobe: Int = 2, numShards: Int = DefaultShards): DataFrame =
    search(spark, root,
      index(spark, root)
        .filter(graft.queries.SimilarityQueries.probePred(col("vec_id")))
        .select(col("vec_id").as("probe_id"), col("v").as("pv")),
      k, nprobe, numShards)
}
