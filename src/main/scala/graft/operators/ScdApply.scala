package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental SCD2 (slowly-changing-dimension type 2) apply — the
  * streaming twin of the batch `cdc_scd2_history` query, completing the
  * batch/stream story for the CDC apply/merge family (the reference's
  * downstream "apply to lake" consumers pair the change topic with
  * exactly this materialization; op-ordered upsert semantics
  * MySQLCDC2AWSMSK.scala:116-131).
  *
  * Every change becomes a version row with a validity interval:
  * valid_from = change time, valid_to = the key's next change time
  * (null ⇒ current row). Per ordered epoch the history is maintained as
  * an incremental MERGE:
  *
  *   1. new version rows: batch-local `row_number` per key, offset by
  *      the key's current max version read from the standing history —
  *      a keyed join against only the CURRENT rows (one row per key,
  *      the MERGE INTO source-matches-target probe);
  *   2. close-out: each touched key's previously-current row gets
  *      valid_to = the key's first new change time and is_current =
  *      false — the classic SCD2 UPDATE arm of the MERGE;
  *   3. untouched rows pass through unchanged.
  *
  * Under an event-time-ordered feed (the same ordered-feed contract the
  * other streaming twins rely on) the history after the last epoch is
  * BIT-IDENTICAL to the batch window query — proven in ScdApplySpec.
  *
  * Scale notes: the per-epoch work is one batch-local window (keyed
  * shuffle of the BATCH only) plus two keyed joins of batch-derived
  * frames against the history — on a lake table this is MERGE INTO with
  * file pruning on the key; the bucketed versioned parquet state here
  * keeps the logical shape testable AND the write O(touched) — see
  * ExactlyOnce.advanceStateBucketed. Exactly-once: each epoch is a
  * pure function of (history, batch), so batch-id fencing makes
  * replays no-ops.
  */
object ScdApply {

  /** The empty history frame: user_id, event_id, version, valid_from,
    * valid_to, is_current — the `cdc_scd2_history` schema.
    */
  def emptyHistory(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("version", IntegerType, nullable = false),
        StructField("valid_from", LongType),
        StructField("valid_to", LongType),
        StructField("is_current", BooleanType, nullable = false))))
  }

  /** One ordered epoch: fold a batch of changes (user_id, event_id,
    * sec) into the standing SCD2 `history`, returning the next history.
    * Requires the ordered-feed contract: every batch (sec, event_id)
    * sorts after all already-applied changes of its key.
    */
  def advance(history: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    // MERGE probe: one row per key — the current row carries the key's
    // max version
    val current = history.filter(col("is_current"))
      .select(col("user_id"), col("version").as("v0"))
    val newRows = batch
      .select(col("user_id"), col("event_id"), col("sec"))
      .withColumn("bv", row_number().over(w))
      .withColumn("next_sec", lead(col("sec"), 1).over(w))
      .join(current, Seq("user_id"), "left")
      .select(
        col("user_id"), col("event_id"),
        (col("bv") + coalesce(col("v0"), lit(0))).as("version"),
        col("sec").as("valid_from"),
        col("next_sec").as("valid_to"),
        col("next_sec").isNull.as("is_current"))
    // UPDATE arm: close each touched key's previously-current row at
    // the key's first new change time
    val firstNew = batch.groupBy(col("user_id"))
      .agg(min(col("sec")).as("first_new_sec"))
    val merged = history.join(firstNew, Seq("user_id"), "left")
      .select(
        col("user_id"), col("event_id"), col("version"),
        col("valid_from"),
        when(col("is_current") && col("first_new_sec").isNotNull,
          col("first_new_sec")).otherwise(col("valid_to")).as("valid_to"),
        (col("is_current") && col("first_new_sec").isNull).as("is_current"))
    merged.unionByName(newRows)
  }

  /** Hash-bucket fan-out of the persisted history (see
    * [[CdcApply.DefaultBuckets]] for the sizing story).
    */
  val DefaultBuckets = 16

  /** Streaming materializer: foreachBatch body maintaining the SCD2
    * history at `stateDir` via [[ExactlyOnce.advanceStateBucketed]] —
    * the history is hash-bucketed on user_id and an epoch rewrites
    * ONLY the buckets its batch touches, committed under one
    * epoch-ledger marker (crash-safe, replays are no-ops; MERGE INTO
    * with file pruning on a real table format). Expects enriched-events batches with (user_id,
    * event_id, sec) honoring the ordered-feed contract of [[advance]].
    * Read the history with [[history]].
    */
  def materializer(spark: SparkSession, stateDir: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, batch,
      "user_id", numBuckets)(
      emptyHistory(spark))(
      (current, cluster) => cluster(advance(current, batch)))
    ()
  }

  /** The newest committed history state at `stateDir` (per bucket, the
    * newest committed epoch's version).
    */
  def history(spark: SparkSession, stateDir: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed SCD2 history under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(emptyHistory(spark))
  }
}
