package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** DURABLE incremental per-document novelty — the streaming twin of
  * `txt_novelty` (per doc, the fraction of its distinct 5-grams that
  * appear in NO other document). The batch query rescans the corpus
  * gram census every run; this materializer carries the census as
  * standing state on the same 128-bit double-hash gram identity the
  * dup-spans index uses (two independent xxhash64 seeds — a false
  * merge needs a simultaneous 128-bit collision, ~never at 10^12
  * grams), so each epoch is O(batch grams + touched buckets), never
  * O(corpus).
  *
  * Novelty is RETRACTABLE: a gram that made doc A novel at epoch 1
  * stops being novel the moment doc B repeats it at epoch 7, so the
  * per-doc counters must go DOWN for documents ingested long ago.
  * Two bucketed states under one root make that exact:
  *
  *   `root/grams` — gram census keyed by the packed (gh1, gh2):
  *     `owner` (first document that introduced the gram) and `dup`
  *     (whether ≥ 2 distinct documents carry it). The dup bit flips
  *     in place, which is why this is the VERSIONED protocol
  *     ([[ExactlyOnce.advanceStateBucketed]]) rather than the
  *     append-only LSM the dup-spans miner uses — its deltas are
  *     disjoint by construction, a novelty census's are not.
  *   `root/docs` — per-document (n_grams, n_novel) counters, advanced
  *     by SIGNED deltas: +1 novel for a gram introduced alone this
  *     epoch, −1 against the OWNER when a standing still-novel gram
  *     is re-observed (the flip retracts exactly once — the dup bit
  *     guards re-retraction).
  *
  * Replay stability: the epoch's doc-counter deltas are computed from
  * PRE-commit gram state ([[ExactlyOnce.stateBucketsBefore]] — the
  * same device as the join-view increment), so a torn epoch replays
  * to identical deltas whether or not the gram advance had committed;
  * both state advances are fenced and run fork/join (independent
  * roots).
  *
  * After replaying any corpus split in any epoch order, [[novelty]]
  * is bit-identical to the declared batch `txt_novelty` over the
  * ingested corpus (each document must be ingested exactly once).
  */
object StreamingNovelty {

  val DefaultBuckets = 16

  /** The batch query's exact gram identity: per doc, DISTINCT 5-grams
    * as the (gh1, gh2) double hash, docs under 5 tokens dropped.
    */
  def docGrams(batch: DataFrame): DataFrame =
    batch
      // fused codegen per-doc distinct 5-grams — the identical swap
      // the batch txt_novelty made (trimmed tokenization; short texts
      // yield an empty array, replacing the size filter)
      .select(col("doc_id"), explode(graft.functions.WordGramStrings
        .wordGramStrings(trim(col("text")), 5, distinct = true))
        .as("phrase"))
      .select(col("doc_id"),
        xxhash64(col("phrase")).as("gh1"),
        xxhash64(lit(0x9e3779b9L), col("phrase")).as("gh2"))
      .withColumn("__gkey",
        StateKeys.packKeyCols(Seq(col("gh1"), col("gh2"))))

  /** foreachBatch body: fold one micro-batch of (doc_id, text) rows
    * into the standing novelty census. Each document must appear in
    * the whole feed exactly once (the CDC-replay/document-feed
    * contract of every census materializer here).
    */
  def materializer(spark: SparkSession, root: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    val gramsDir = s"$root/grams"
    val docsDir = s"$root/docs"
    // early whole-epoch fence: a FULLY committed epoch replays as a
    // no-op without touching state (an ancient replayed id would
    // otherwise try to resolve pre-epoch versions that retirement has
    // long swept — the protocol's replay window is the last epoch,
    // which the per-advance fences below still cover for torn epochs)
    if (ExactlyOnce.isEpochCommitted(spark, gramsDir, batchId) &&
        ExactlyOnce.isEpochCommitted(spark, docsDir, batchId)) return
    Seq(gramsDir, docsDir).foreach(d =>
      ExactlyOnce.ensureLedgerTag(spark, d, StateKeys.CodecTag))

    val bg = docGrams(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-gram batch partial: how many batch docs carry it, and the
      // lowest of them (the owner if the gram is new)
      val pg = bg.groupBy(col("__gkey"), col("gh1"), col("gh2"))
        .agg(count(lit(1)).as("bdf"), min(col("doc_id")).as("bfirst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val bexpr = ExactlyOnce.bucketOf("__gkey", numBuckets)
        // one job: the touched buckets and the gram count, whose bound
        // states the batch's width to the gram advance
        val probe = pg.select(bexpr.as("__b"))
          .agg(collect_set(col("__b")), count(lit(1))).head()
        val touched = probe.getSeq[Int](0).toSet

        val gramSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__gkey",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("gh1",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("gh2",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("owner",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dup",
            org.apache.spark.sql.types.BooleanType)))
        def emptyGrams = ExactlyOnce.emptyFrame(spark, gramSchema)

        // PRE-commit census of the touched buckets: the replay-stable
        // base for this epoch's doc-counter deltas
        val before = ExactlyOnce.stateBucketsBefore(spark, gramsDir,
          batchId, touched, expectedBuckets = Some(numBuckets),
          schema = Some(gramSchema))(emptyGrams)
          .select(col("__gkey"), col("owner"), col("dup"))

        //  - a batch gram absent from the census and carried by ONE
        //    batch doc is novel (+1 for that doc, for now);
        //  - a batch gram hitting a still-novel census gram flips it:
        //    −1 against the gram's owner, exactly once
        val bgx = bg.join(before, Seq("__gkey"), "left")
          .join(pg.select(col("__gkey"), col("bdf")), Seq("__gkey"))
        val docSide = bgx.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("dn_grams"),
            sum(when(col("owner").isNull && col("bdf") === 1, 1L)
              .otherwise(0L)).as("dn_novel"))
        val retractions = pg.join(before, Seq("__gkey"))
          .filter(!col("dup"))
          .select(col("owner").as("doc_id"))
          .groupBy(col("doc_id"))
          .agg(lit(0L).as("dn_grams"),
            (-count(lit(1))).as("dn_novel"))
        val docDeltas = docSide.unionByName(retractions)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // two independent states, one fork/join (same shape as the
          // join-view commit)
          graft.operators.Concurrent.both(spark)(
            ExactlyOnce.advanceStateBucketed(spark, gramsDir, batchId,
              pg, "__gkey", numBuckets,
              known = Some(ExactlyOnce.Touched(touched,
                narrow = probe.getLong(1) <= 4096L)))(emptyGrams) {
              (current, cluster) =>
              cluster(current.join(pg, Seq("__gkey"), "full")
                .select(
                  col("__gkey"),
                  coalesce(current("gh1"), pg("gh1")).as("gh1"),
                  coalesce(current("gh2"), pg("gh2")).as("gh2"),
                  coalesce(col("owner"), col("bfirst")).as("owner"),
                  (coalesce(col("dup"), lit(false)) ||
                    (col("bdf").isNotNull &&
                      (col("owner").isNotNull || col("bdf") > 1)))
                    .as("dup")))
            },
            ExactlyOnce.advanceStateBucketed(spark, docsDir, batchId,
              docDeltas, "doc_id", numBuckets)(
              ExactlyOnce.emptyFrame(spark, docDeltas.schema)) {
              (current, cluster) =>
              cluster(current.unionByName(docDeltas)
                .groupBy(col("doc_id"))
                .agg(sum(col("dn_grams")).as("dn_grams"),
                  sum(col("dn_novel")).as("dn_novel")))
            })
          ()
        } finally docDeltas.unpersist()
      } finally pg.unpersist()
    } finally bg.unpersist()
  }

  /** The standing novelty table, bit-identical to the batch
    * `txt_novelty` over everything ingested so far: (doc_id, n_grams,
    * n_novel, novelty), total-ordered by doc_id.
    */
  def novelty(spark: SparkSession, root: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, s"$root/docs"),
      s"no committed novelty state under $root")
    ExactlyOnce.currentStateBucketed(spark, s"$root/docs")(
      sys.error(s"novelty state at $root committed only empty epochs;" +
        " no documents exist yet"))
      .select(col("doc_id"), col("dn_grams").as("n_grams"),
        col("dn_novel").as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }
}
