package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Continuous near-duplicate detection over an unbounded document
  * stream — the online counterpart of the batch MinHash/LSH pipeline
  * (`DedupQueries`): a newly-ingested document is flagged the moment
  * it collides with any previously-seen document, without ever
  * rescanning the corpus.
  *
  * Design for an unbounded corpus:
  *  - The MinHash signature is computed PER ROW with array expressions
  *    (shingle → hash → min over each permutation) — no aggregation,
  *    so there is no shuffle and no watermark requirement before the
  *    stateful stage.
  *  - The only stateful operator is keyed on (band, band-signature):
  *    state per key is just the first claimant's doc id (16 bytes +
  *    key), so total state is O(distinct buckets), not O(documents ×
  *    signature width). With the RocksDB state-store provider
  *    (`CdcPipeline` wires it) state spills to disk; for truly
  *    unbounded streams pass `bucketTtlMs` to [[nearDupEvents]] — a
  *    processing-time timeout ages out cold buckets so state stays
  *    bounded by the TTL window.
  *  - Duplicate events are emitted per matching band; a consumer
  *    wanting doc-level verdicts distinct-aggregates downstream (kept
  *    out of this operator so the query stays single-stateful-stage).
  */
object StreamingDedup {

  /** One exploded LSH band row for a document. */
  final case class BandRow(doc_id: Long, band: Int, sig: String)

  /** Emitted when `doc_id` lands in a bucket first claimed by `dup_of`. */
  final case class DupEvent(doc_id: Long, dup_of: Long, band: Int)

  // same LSH geometry as the batch operators (DedupQueries): 16
  // permutations in 4 bands of 4
  private val NumHashes = 16
  private val BandSize = 4

  /** Per-row band signatures: (doc_id, band, sig) — the SAME fused
    * codegen pair the batch operators use
    * ([[graft.functions.ClampedShingleHashes]] →
    * [[graft.functions.MinHashBands]]), so a streaming detector and a
    * batch `dedup_minhash_pairs` sweep land identical documents in
    * identical buckets. Pure expressions — streamable with no shuffle.
    * `docs` needs (doc_id: long, text: string).
    */
  def bandRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("bands", graft.functions.MinHashBands.minhashBands(
        graft.functions.ClampedShingleHashes.clampedShingleHashes(col("text")),
        NumHashes, BandSize))
      .select(col("doc_id"), posexplode(col("bands")))
      .select(col("doc_id"), col("pos").cast("int").as("band"),
        col("col").as("sig"))

  /** The streaming query body: first claimant of each (band, sig)
    * bucket is remembered; later arrivals emit a [[DupEvent]] against
    * it. Deterministic within a micro-batch (lowest doc_id claims).
    *
    * `bucketTtlMs` bounds state for truly unbounded streams: a bucket
    * untouched for that long is dropped on the next micro-batch (a
    * processing-time timeout), so state is O(buckets active within the
    * TTL window), not O(all buckets ever). The semantic trade is
    * explicit and matches every TTL'd dedup: a duplicate arriving AFTER
    * its bucket expired is re-admitted as a fresh first-claimant.
    * `None` (the default) keeps buckets forever — the exact batch-parity
    * mode.
    */
  def nearDupEvents(docs: DataFrame,
      bucketTtlMs: Option[Long] = None): Dataset[DupEvent] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf = if (bucketTtlMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()
    bandRows(docs).as[BandRow]
      .groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState[Long, DupEvent](
        OutputMode.Append(), timeoutConf) {
        case ((band, _), rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // cold bucket aged out: forget the owner; the next claimant
            // of this (band, sig) is admitted as new
            state.remove()
            Iterator.empty
          } else {
            val ids = rows.map(_.doc_id).toSeq.sorted
            val owner = state.getOption.getOrElse(ids.head)
            if (!state.exists) state.update(owner)
            bucketTtlMs.foreach(state.setTimeoutDuration)
            ids.filter(_ != owner).map(DupEvent(_, owner, band)).iterator
          }
      }
  }
}
