package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** DURABLE incremental rollup — materialized-view maintenance of a
  * grouped aggregate under an append-only stream, the streaming twin
  * of `rel_rollup_incremental` (whose oracle proves the
  * merge-of-partials identity batch-side: partial states + a new
  * delta's partials re-aggregate to exactly the from-scratch rollup).
  *
  * Each micro-batch folds ONE map-side-combined partial per group into
  * keyed state under [[ExactlyOnce.advanceStateBucketed]]:
  *
  *   - per-epoch cost O(batch groups + touched buckets' state) — the
  *     standing rollup is NEVER rescanned (at 100 TB the rollup is a
  *     tiny keyed table and only the delta pays a scan);
  *   - counts are longs and sums exact decimals, so merge order can't
  *     leak into the result: any replay/arrival order converges to the
  *     bit-identical rollup the batch aggregate produces;
  *   - the epoch ledger fences at-least-once re-delivery (a replayed
  *     epoch is a no-op) and crash windows roll forward exactly as in
  *     the CDC replica materializer.
  *
  * The aggregate algebra is the commutative-monoid subset (COUNT + SUM
  * — what makes map-side combine and AQE stage reuse safe); AVG reads
  * derive as sum/count at query time. MIN/MAX fold the same way (max
  * of maxes) but are not needed by the anchor query.
  */
object StreamingRollup {

  /** Physical buckets of the persisted rollup (tests; production
    * scales this with group-key cardinality).
    */
  val DefaultBuckets = 16

  /** Signed partials: each row carries `signCol` ∈ {+1, −1} (insert /
    * retraction — the TPC-H refresh-stream shape, or a CDC feed's
    * after/before images). `n` folds as sum-of-signs and every sum as
    * sign × value, so a delete is just a −1 row and the algebra stays
    * the same commutative monoid.
    */
  def signedPartials(batch: DataFrame, keyCols: Seq[String],
      sums: Seq[(String, String)], signCol: String): DataFrame =
    batch.groupBy(keyCols.map(col): _*)
      .agg(sum(col(signCol).cast("long")).as("n"),
        sums.map { case (out, in) =>
          sum(col(signCol).cast("decimal(18,2)") *
            expr(in).cast("decimal(18,2)")).as(out) }: _*)
      .withColumn("__gkey", StateKeys.packKey(keyCols))

  /** foreachBatch body: fold one batch into the rollup at `stateDir`.
    * `sums` maps output column -> summed input expression. Rows where
    * `signCol` = −1 (an insert-only feed carries +1 throughout)
    * subtract from their group, and a group whose live count reaches
    * zero VANISHES from the rollup (state never accumulates dead
    * groups). Exact for any insert/delete interleaving — a retraction
    * may even arrive BEFORE its insert (the count goes transiently
    * negative and the group is carried until it balances); the one
    * contract, mirrored from every IVM engine, is that retractions
    * match inserts value-for-value, which makes "count 0" imply "all
    * sums 0" so the vanish-at-zero drop can never lose a pending
    * correction. The merge-of-partials is one aggregate grouped on
    * (`__bucket`, `__gkey`, keys) over the state ∪ partials union
    * passed through the protocol's clustering step, so merge and bucket
    * clustering share ONE exchange.
    */
  def materializerSigned(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], sums: Seq[(String, String)], signCol: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    ExactlyOnce.ensureLedgerTag(spark, stateDir, StateKeys.CodecTag)
    val p = signedPartials(batch, keyCols, sums, signCol)
    val sumCols = "n" +: sums.map(_._1)
    val merges = sumCols.map(c => sum(col(c)).as(c))
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, p,
      "__gkey", numBuckets)(ExactlyOnce.emptyFrame(spark, p.schema)) {
      (current, cluster) =>
        cluster(current.unionByName(p))
          .groupBy((col("__bucket") +: col("__gkey") +: keyCols.map(col)): _*)
          .agg(merges.head, merges.tail: _*)
          .filter(col("n") =!= 0)
          .select((col("__gkey") +: keyCols.map(col)) ++
            sumCols.map(col) :+ col("__bucket"): _*)
    }
    ()
  }

  /** The standing rollup (group columns + n + sums), bit-identical to
    * the batch aggregate of everything ingested so far.
    */
  def rollup(spark: SparkSession, stateDir: String,
      keyCols: Seq[String]): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed rollup state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(
      // only reachable when every committed epoch ingested an empty
      // batch — there is no schema to return an empty frame in, and
      // "rollup of nothing" deserves a loud answer over a guess
      sys.error(s"rollup state at $stateDir committed only empty " +
        "epochs; no groups exist yet"))
      .drop("__gkey")
  }
}
