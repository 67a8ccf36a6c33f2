package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Mongo `copyExisting` initial load + change-stream handoff — the Mongo
  * flavor of [[SnapshotHandoff]] (reference MongoCDC2AWSMSK.scala:156-169:
  * `copyExisting=true` scans the collection emitting synthetic insert
  * events, then the change stream takes over from the resume token).
  *
  * Spark decomposition, sharing [[SnapshotHandoff.PositionStore]] for the
  * durable position (here the copy watermark stands in for the resume
  * token):
  *   1. batch copy of every document at-or-below the watermark, emitted
  *      as synthetic INSERT change-stream envelopes,
  *   2. streaming change-stream replay fenced to documents beyond the
  *      watermark.
  *
  * Both phases produce the SAME envelope JSON shape, so the one
  * enrichMongo transform serves copy and tail — mirroring how the
  * reference feeds both through the same serializer.
  */
object MongoHandoff {

  final case class Copy(envelopes: DataFrame, watermark: Long)

  /** Phase 1: copy-existing scan as synthetic insert envelopes, the
    * watermark persisted durably (restart ⇒ same fence, no re-copy
    * overlap with the tail).
    */
  def copyExisting(spark: SparkSession, sfDir: String,
      checkpointDir: String, withFullDocument: Boolean = false): Copy = {
    val snap = SnapshotHandoff.snapshotDurable(spark, sfDir, checkpointDir)
    Copy(CdcReplay.mongoEnvelopeJson(snap.data, copyExisting = true,
      withFullDocument = withFullDocument), snap.watermark)
  }

  /** Phase 2: the change-stream tail beyond the persisted watermark.
    * `withFullDocument` is the stream-open `fullDocument=updateLookup`
    * option (CdcParams.fullDocumentLookup): without it update events
    * carry no row image, which a replica-applying consumer rejects
    * loudly at the first update — enforce the mode at config time via
    * `CdcParams.requireFullDocumentForApply()`.
    */
  def changeStream(spark: SparkSession, sfDir: String,
      checkpointDir: String, withFullDocument: Boolean = false): DataFrame = {
    val wm = SnapshotHandoff.PositionStore.load(spark, checkpointDir)
      .getOrElse(throw new IllegalStateException(
        s"no persisted copy-existing position under $checkpointDir — " +
          "run copyExisting first"))
    CdcReplay.mongoStream(spark, sfDir, afterId = wm,
      withFullDocument = withFullDocument)
  }
}
