package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-batch incremental schema-drift census — the streaming twin of
  * the batch `cdc_schema_drift` query (upstream-DDL monitoring: per
  * (table, after-image column signature), row volume + the
  * binlog-position span the shape was seen in, majority shape flagged
  * canonical).
  *
  * The census is a pure commutative fold — per signature, (sum n,
  * min first_pos, max last_pos) — so unlike the ordered-feed twins
  * this one converges to the batch answer under ANY arrival order and
  * any batching, with no feed contract at all. Per epoch:
  *
  *   1. aggregate the batch's signature rows to an O(shapes) epoch
  *      census (map-side combine does the heavy lifting — the standing
  *      state never sees per-row volume);
  *   2. merge with the standing census of the touched buckets only
  *      ([[graft.operators.ExactlyOnce.advanceStateBucketed]] keyed on
  *      the (table, signature) composite — crash-safe, replays are
  *      no-ops).
  *
  * State is O(distinct shapes ever seen) — for real schemas, tens of
  * rows — so the epoch cost is dominated by the batch scan, exactly
  * like the batch query. The canonical flag is derived at READ time
  * ([[census]]): canonicality is a property of the whole history, not
  * of any epoch.
  */
object StreamingSchemaDrift {

  val DefaultBuckets = 4

  /** The standing census schema: bucket key + census row. */
  def emptyCensus(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("k", StringType),
        StructField("tbl", StringType),
        StructField("cols", StringType),
        StructField("n", LongType),
        StructField("first_pos", LongType),
        StructField("last_pos", LongType))))
  }

  /** Signature rows (tbl, cols, pos) of an envelope frame — the shared
    * extraction both twins use: sorted after-image column set, binlog
    * position. Delete envelopes (null after) carry no shape.
    */
  def signatureRows(envelope: DataFrame): DataFrame =
    envelope.filter(col("after").isNotNull).select(
      col("source.table").as("tbl"),
      concat_ws(",", array_sort(map_keys(col("after")))).as("cols"),
      col("source.pos").as("pos"))

  private def epochCensus(sigRows: DataFrame): DataFrame =
    sigRows.groupBy(col("tbl"), col("cols"))
      .agg(count(lit(1)).as("n"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"))
      // the persisted bucket key uses the shared collision-free codec
      // (a table name containing '|' must not merge two signatures);
      // `cols` itself stays the readable comma-joined canonical form —
      // it is the census PAYLOAD, not a key encoding
      .select(StateKeys.packKeyCols(Seq(col("tbl"), col("cols"))).as("k"),
        col("tbl"), col("cols"), col("n"), col("first_pos"), col("last_pos"))

  private def merge(current: DataFrame, epoch: DataFrame): DataFrame =
    current.unionByName(epoch)
      .groupBy(col("k"), col("tbl"), col("cols"))
      .agg(sum(col("n")).as("n"),
        min(col("first_pos")).as("first_pos"),
        max(col("last_pos")).as("last_pos"))

  /** foreachBatch body folding signature-row batches (tbl, cols, pos —
    * see [[signatureRows]]) into the standing census at `stateDir`.
    */
  def materializer(spark: SparkSession, stateDir: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.operators.ExactlyOnce.ensureLedgerTag(
      spark, stateDir, StateKeys.CodecTag)
    val ec = epochCensus(batch)
    graft.operators.ExactlyOnce.advanceStateBucketed(
      spark, stateDir, batchId, ec, "k", numBuckets)(
      emptyCensus(spark))(
      (current, cluster) => cluster(merge(current, ec)))
    ()
  }

  /** The standing census in the batch query's exact output shape:
    * majority signature per table flagged canonical, total order.
    */
  def census(spark: SparkSession, stateDir: String): DataFrame = {
    val w = Window.partitionBy(col("tbl")).orderBy(col("n").desc, col("cols"))
    graft.operators.ExactlyOnce.currentStateBucketed(
      spark, stateDir)(emptyCensus(spark))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("tbl"), col("cols"), col("n"), col("first_pos"),
        col("last_pos"), col("is_canonical"))
      .orderBy(col("tbl"), col("cols"))
  }
}
