package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ExactlyOnce

/** DURABLE standing near-duplicate index over
  * [[StreamingDedup.bandRows]]' per-row signatures. The LSH
  * (band, signature) → first-claimant map is materialized as
  * hash-bucketed versioned parquet under
  * [[ExactlyOnce.advanceStateBucketed]]'s epoch-ledger protocol, so:
  *
  *   - the index SURVIVES the stream (a new job, a batch backfill, or
  *     an ad-hoc query can all open it with [[index]]);
  *   - an epoch writes only the physical buckets its batch touches —
  *     per-epoch cost O(batch + touched buckets' rows), never
  *     O(index), the same MERGE-INTO-with-file-pruning shape as the
  *     CDC replica materializer;
  *   - replays are no-ops and crashes roll forward (the epoch marker
  *     is the single commit point for BOTH the index delta and that
  *     epoch's duplicate-event output — the event parquet lands
  *     before the marker, so a torn epoch's events are invisible to
  *     [[dupEvents]] and the replay overwrites them).
  *
  * Semantics: the first claimant of a bucket (lowest doc_id within its
  * claiming batch) owns it forever; every later arrival in that bucket
  * emits a (doc_id, dup_of = owner, band) event per matching band.
  * Doc-level verdicts distinct-aggregate downstream.
  *
  * 100 TB design: index size is O(distinct band-buckets) ≈ O(corpus
  * bands), sharded `hash(bucket_key) % numBuckets` into per-bucket
  * directories — thousands of shards in production so an epoch's
  * rewrite set stays proportional to its batch. The probe
  * (batch ⋈ prior owners) reads ONLY the touched shards' parquet —
  * the protocol hands `advance` exactly those rows.
  */
object StreamingLshIndex {

  /** Physical shards of the persisted index (tests; production uses
    * thousands — see scaladoc).
    */
  val DefaultBuckets = 16

  val indexSchema: StructType = StructType(Seq(
    StructField("bucket_key", StringType),
    StructField("owner", LongType)))

  private def emptyIndex(spark: SparkSession): DataFrame =
    ExactlyOnce.emptyFrame(spark, indexSchema)

  /** Exploded (bucket_key, doc_id) band rows for a (doc_id, text)
    * batch — [[StreamingDedup.bandRows]]'s fused codegen signatures,
    * with the (band, sig) pair packed into one join/shard key.
    */
  def bandKeys(docs: DataFrame): DataFrame =
    StreamingDedup.bandRows(docs)
      // separator-join is collision-free HERE by construction: `band`
      // is an int whose rendering can never contain '|', so the two
      // fields decode uniquely (unlike free-string key tuples, which
      // use StateKeys.packKey); the readable form is load-bearing —
      // the event emitter splits band back out of the key
      .select(concat_ws("|", col("band"), col("sig")).as("bucket_key"),
        col("doc_id"))

  /** foreachBatch body: fold one micro-batch of (doc_id, text) into
    * the index at `stateDir`, emitting the batch's duplicate events to
    * `eventsDir/epoch=<batchId>` under the same epoch marker.
    */
  def materializer(spark: SparkSession, stateDir: String, eventsDir: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    val keys = bandKeys(batch)
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, keys,
      "bucket_key", numBuckets)(emptyIndex(spark)) {
      (current, cluster) =>
      // one claimant per bucket this batch (lowest doc_id)
      val claims = keys.groupBy(col("bucket_key"))
        .agg(min(col("doc_id")).as("claimant"))
      // owner after this epoch: the prior owner if the bucket exists,
      // else this batch's claimant. `current` holds every row of the
      // touched SHARDS — a superset of the batch's buckets — so the
      // left join resolves prior ownership without reading cold shards.
      val owners = claims
        .join(current, Seq("bucket_key"), "left_outer")
        .select(col("bucket_key"),
          coalesce(col("owner"), col("claimant")).as("owner"))
      // duplicate events: every band row landing in a bucket owned by
      // someone else (prior owner, or this batch's lower-id claimant)
      keys.join(owners, Seq("bucket_key"))
        .filter(col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("owner").as("dup_of"),
          split(col("bucket_key"), "\\|").getItem(0).cast("int").as("band"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$eventsDir/epoch=$batchId")
      // next index content for the touched shards: unchanged buckets
      // (same shard, different key) plus the resolved owners
      cluster(current.join(claims.select(col("bucket_key")),
          Seq("bucket_key"), "left_anti")
        .unionByName(owners))
    }
    ()
  }

  /** The standing index (bucket_key → owner), per shard the newest
    * committed epoch's version.
    */
  def index(spark: SparkSession, stateDir: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed index state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(emptyIndex(spark))
  }

  private val EventsEpochRe = "^epoch=(\\d+)$".r

  /** All COMMITTED duplicate events at `eventsDir` (doc_id, dup_of,
    * band). Epoch directories whose marker never landed are crash
    * debris — skipped, exactly as a replay would overwrite them.
    */
  def dupEvents(spark: SparkSession, stateDir: String,
      eventsDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(eventsDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(eventsDir)
    val committed =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .collect { case EventsEpochRe(e) => e.toLong }
        .filter(ExactlyOnce.isEpochCommitted(spark, stateDir, _))
        .sorted
    if (committed.isEmpty)
      ExactlyOnce.emptyFrame(spark, StructType(Seq(
          StructField("doc_id", LongType),
          StructField("dup_of", LongType),
          StructField("band", IntegerType))))
    else
      spark.read.parquet(
        committed.map(e => s"$eventsDir/epoch=$e"): _*)
  }
}
