package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-batch incremental duplicated-span mining — the streaming twin
  * of the batch `txt_dup_spans_prefix` query (prefix semantics: a span
  * in doc d is duplicated iff its 8-gram appeared in an EARLIER doc).
  *
  * Shape: a STANDING gram index carried between micro-batches — one
  * row per distinct 8-gram hash ever seen, with the lowest doc_id that
  * produced it — and each arriving batch of whole documents is mined
  * against (index ∪ its own intra-batch prefix). Per epoch:
  *
  *   1. explode the batch's 8-grams (the same fused stage as the batch
  *      query), keyed by a 128-bit double hash `(gh1, gh2)`,
  *   2. flag occurrences whose hash is in the standing index, or whose
  *      intra-batch first-seen doc_id is lower (same-batch prefix),
  *   3. reassemble flagged positions into maximal spans per doc — a
  *      batch-local window, sound because docs arrive whole,
  *   4. fold the batch's first-seen rows into the index for the next
  *      epoch.
  *
  * The feed is doc_id-ordered (each epoch's doc_ids above every
  * earlier epoch's); under it the union of every epoch's spans equals
  * the batch query bit-for-bit — proven in StreamingOpsSpec.
  *
  * State/scale: the index is O(distinct grams) at 24 bytes/row —
  * inherent to the operator (the batch query's first-seen aggregate
  * materializes the same set per run) — joined on 8-byte hash keys,
  * never gram strings. The ordered feed writes only an O(batch)
  * append delta per epoch ([[advanceOrdered]]). The batch twin
  * string-verifies candidates (collisions can only add candidates that
  * verification rejects); the standing index cannot afford strings, so
  * the stream verifies against the 128-bit double hash — a false span
  * needs a full 128-bit collision. Exactly-once: each epoch is a pure
  * function of (index, batch), so batch-id fencing on the output +
  * the ledger-fenced index LSM (ExactlyOnce.appendDeltaBucketed)
  * replays idempotently.
  */
object StreamingDupSpans {

  val L = 8

  /** Exploded 8-gram occurrences of a (doc_id, text) frame:
    * (doc_id, pos, gh1, gh2) — the identical gram text the batch query
    * hashes, under two independent xxhash64 seeds.
    */
  private def gramRows(docs: DataFrame): DataFrame =
    docs
      // fused codegen positional L-grams — the identical swap the
      // batch txt_dup_spans made (untrimmed tokenization; short texts
      // yield an empty array, replacing the size filter)
      .select(col("doc_id"), posexplode(graft.functions.WordGramStrings
        .wordGramStrings(col("text"), L, distinct = false)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("gh1"),
        xxhash64(lit(0x9e3779b9L), col("col")).as("gh2"))

  /** The empty standing index: (gh1, gh2, dmin). */
  def emptyIndex(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("gh1", LongType), StructField("gh2", LongType),
        StructField("dmin", LongType))))
  }

  /** Maximal-span reassembly of flagged (doc_id, pos) occurrences —
    * shared by both epoch modes. Batch-local window, sound because docs
    * arrive whole.
    */
  private def toSpans(flagged: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .select(col("doc_id"), col("pos"))
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + L).as("span_words"))
      .select(col("doc_id"), col("span_start"), col("span_words"))
  }

  /** Distinct gram hashes of `batch` absent from `index` — the expected
    * per-epoch delta cardinality. An independent (anti-join) computation
    * of what [[advanceOrdered]] derives via left-join + null filter, used
    * by the O(batch)-write guarantee test.
    */
  def newHashes(index: DataFrame, batch: DataFrame): DataFrame =
    gramRows(batch).select(col("gh1"), col("gh2")).distinct()
      .join(index, Seq("gh1", "gh2"), "left_anti")

  /** One ORDERED-feed epoch: returns (spans of this batch, index DELTA).
    *
    * Under the doc_id-ordered feed contract every arriving doc_id is
    * strictly larger than anything already in the index, so an existing
    * key's dmin can never change — the index update is APPEND-ONLY. The
    * delta is exactly the batch's first-seen rows for hashes NOT already
    * indexed (a left join probe on 8-byte keys), so the per-epoch index
    * write is O(batch new hashes), not O(corpus history). The caller
    * appends the delta (parquet append in the real pipeline; `union` +
    * checkpoint in tests) and may compact the accumulated delta files
    * periodically — compaction is a pure rewrite, never a merge, because
    * delta key sets are disjoint by construction.
    */
  private[graft] def advanceOrdered(index: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) =
    minedFrom(gramRows(batch), index)

  /** The ordered-feed epoch core over ALREADY-exploded gram rows — the
    * materializer persists the explosion once and derives the probe
    * set, the spans, and the delta from it (three downstream passes;
    * re-exploding per pass tripled the per-epoch gram work).
    */
  private def minedFrom(bg: DataFrame, index: DataFrame): (DataFrame, DataFrame) = {
    val batchMin = bg.groupBy(col("gh1"), col("gh2"))
      .agg(min(col("doc_id")).as("bmin"))
    // probe the standing index for only the batch's grams; dmin ≤ every
    // batch doc_id when present, so coalesce(dmin, bmin) IS the
    // corpus-so-far first-seen
    val probed = batchMin.join(index, Seq("gh1", "gh2"), "left")
    val sofar = probed.select(col("gh1"), col("gh2"),
      coalesce(col("dmin"), col("bmin")).as("dmin"))
    val spans = toSpans(bg.join(sofar, Seq("gh1", "gh2"))
      .filter(col("doc_id") > col("dmin")))
    val delta = probed.filter(col("dmin").isNull)
      .select(col("gh1"), col("gh2"), col("bmin").as("dmin"))
    (spans, delta)
  }

  /** How many hash buckets the persisted gram index is split across.
    * Small here (tests); a 100 TB index would use ~a million — the
    * per-epoch probe reads min(batch's distinct grams, numBuckets)
    * buckets, so more buckets = finer pruning, bounded below by sane
    * file sizes.
    */
  val DefaultBuckets = 64

  /** The buckets a batch's grams land in — the probe set. Bounded
    * driver collect (≤ numBuckets ints), same class as the
    * touched-bucket probes of the other materializers.
    */
  def touchedBuckets(batch: DataFrame, numBuckets: Int): Set[Int] = {
    import graft.operators.ExactlyOnce
    gramRows(batch)
      .select(ExactlyOnce.bucketOf("gh1", numBuckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
  }

  /** The standing index restricted to `buckets` — the bucket-pruned
    * probe the materializer joins the batch against. Because a gram's
    * bucket is a pure function of its gh1, every index row that COULD
    * match a batch gram lives in the batch's touched buckets, so the
    * pruned probe and a full-index probe mine identical spans; the
    * pruned one reads O(touched buckets) files, never the index.
    */
  def probeIndex(spark: SparkSession, stateDir: String,
      buckets: Set[Int], numBuckets: Int = DefaultBuckets): DataFrame = {
    import graft.operators.ExactlyOnce
    ExactlyOnce.appendedStateBuckets(spark, stateDir, buckets,
      expectedBuckets = Some(numBuckets))(emptyIndex(spark))
      .select(col("gh1"), col("gh2"), col("dmin"))
  }

  /** Durable ordered-feed materializer: foreachBatch body over a
    * standing gram index persisted as a PER-BUCKET LSM
    * ([[graft.operators.ExactlyOnce.appendDeltaBucketed]] — hash-
    * bucketed on gh1, a compacted bucketed base plus per-epoch
    * bucket-partitioned deltas). Per epoch:
    *
    *   1. probe — read ONLY the buckets the batch's grams land in
    *      ([[probeIndex]]): O(batch + touched buckets' index slice)
    *      per micro-batch, never O(index). A small steady-state batch
    *      against a 100 TB index reads a few bucket files; the
    *      pre-bucketing flat-LSM probe rescanned the index every epoch
    *      (the round-7 scale-killer residue);
    *   2. mine the batch's spans against the pruned index
    *      ([[advanceOrdered]] — identical output, see [[probeIndex]])
    *      and write them to `spansDir/epoch=<batchId>`;
    *   3. append the O(batch new hashes) delta into its touched
    *      buckets, committed by the epoch marker — spans land BEFORE
    *      the marker, so a crash anywhere replays as a pure overwrite
    *      (the probe reads committed state only, which a torn epoch
    *      never changed).
    *
    * Every `compactEvery` epochs the accumulated deltas fold into a
    * fresh bucketed base (a pure rewrite — delta key sets are disjoint
    * by construction, and compaction preserves the bucket layout).
    */
  def materializer(spark: SparkSession, stateDir: String, spansDir: String,
      compactEvery: Int = 8, numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.ExactlyOnce
    if (!ExactlyOnce.isEpochCommitted(spark, stateDir, batchId)) {
      // the epoch derives THREE passes from the exploded grams (probe
      // set, spans, delta) — pin the explosion, not the raw batch, so
      // the gram transform runs once per epoch
      val bg = gramRows(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val touched = bg
          .select(ExactlyOnce.bucketOf("gh1", numBuckets).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val index = probeIndex(spark, stateDir, touched, numBuckets)
        val (spans, delta) = minedFrom(bg, index)
        spans.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$spansDir/epoch=$batchId")
        ExactlyOnce.appendDeltaBucketed(spark, stateDir, batchId,
          "gh1", numBuckets)(delta)
      } finally bg.unpersist()
    }
    if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
      ExactlyOnce.compactAppended(spark, stateDir)(emptyIndex(spark))
    ()
  }
}
