package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-row LSH band signatures for a document stream — the online
  * counterpart of the batch MinHash/LSH pipeline (`DedupQueries`). The
  * signature is computed PER ROW with array expressions (shingle → hash
  * → min over each permutation), so there is no aggregation, no shuffle
  * and no watermark before a stateful stage; the durable bucket-owner
  * index that flags collisions is [[StreamingLshIndex]].
  */
object StreamingDedup {

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
}
