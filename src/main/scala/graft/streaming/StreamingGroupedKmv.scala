package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ExactlyOnce, Kmv}

/** DURABLE per-group distinct-count sketch — the streaming twin of
  * `rel_kmv_groups` (ExtendedQueries.scala), maintained on the
  * bucketed epoch ledger like [[StreamingRollup]] maintains exact
  * aggregates. Per group the state is its K smallest distinct hash
  * values (the classic KMV sketch); the estimator
  * `(k-1)·P / h_(k)` and the portable universal hash are shared with
  * the batch query through [[Kmv]], so after ingesting the same rows
  * the standing sketch is BIT-EQUAL to the batch one — the parity the
  * spec asserts.
  *
  * Why this shape scales:
  *
  *   - a batch's partial is ≤ K hashes per touched group, computed
  *     with the same partial-WindowGroupLimit plan the batch query
  *     uses (each map partition keeps only its k smallest per group
  *     before the shuffle);
  *   - the merge is a pure array fold — union two sorted K-arrays,
  *     distinct, keep the K smallest (`slice∘array_sort∘array_distinct
  *     ∘flatten`, all codegen'd collection expressions, bounded 2K
  *     work per group);
  *   - KMV union is a commutative, idempotent semilattice, so ANY
  *     epoch split, arrival order, or at-least-once re-delivery
  *     converges to the identical sketch (stronger than the rollup's
  *     monoid: re-adding an already-seen id is a no-op by
  *     construction, no fencing needed for correctness — the ledger
  *     still fences to keep epoch cost, not just the result, exact);
  *   - per-epoch cost O(batch groups + touched buckets), the standing
  *     sketch table is tiny (K longs per group) and never rescanned.
  *
  * No retraction arm, honestly: a KMV sketch is not invertible — a
  * deleted id cannot be removed without the full id set. Deployments
  * needing retractable distinct counts keep exact per-key state (the
  * [[StreamingRollup]] signed arm over pre-deduplicated keys).
  */
object StreamingGroupedKmv {

  val DefaultBuckets = 16

  /** One batch's partial sketches: per group, its ≤ K smallest
    * distinct hashes as a sorted array.
    */
  def partials(batch: DataFrame, keyCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    val wk = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__h"))
    batch
      .select(keyCols.map(col) :+
        Kmv.hashCol(col(idCol), Kmv.GroupsSeed).as("__h"): _*)
      .distinct()
      .withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") <= k)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("__h"))).as("ks"))
      .withColumn("__gkey", StateKeys.packKey(keyCols))
  }

  /** foreachBatch body: fold one batch's partial sketches into the
    * standing per-group sketches at `stateDir`.
    */
  def materializer(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], idCol: String, k: Int = 128,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    ExactlyOnce.ensureLedgerTag(spark, stateDir, StateKeys.CodecTag)
    val p = partials(batch, keyCols, idCol, k)
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, p,
      "__gkey", numBuckets)(ExactlyOnce.emptyFrame(spark, p.schema)) {
      (current, cluster) =>
      // semilattice union: ≤ 2 sketch rows per group after the union
      // (current + delta), folded to the K smallest distinct hashes
      cluster(current.unionByName(p)
        .groupBy((col("__gkey") +: keyCols.map(col)): _*)
        .agg(slice(array_sort(array_distinct(
          flatten(collect_list(col("ks"))))), 1, k).as("ks"))
        .select((col("__gkey") +: keyCols.map(col)) :+ col("ks"): _*))
    }
    ()
  }

  /** The standing sketches resolved to estimates: group columns plus
    * `k` (retained hash count), `kth_hash`, and `est_distinct` — the
    * same derivation `rel_kmv_groups` computes, so on identical
    * ingested rows the columns are bit-equal.
    */
  def estimates(spark: SparkSession, stateDir: String,
      keyCols: Seq[String]): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed grouped-KMV state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(
      sys.error(s"grouped-KMV state at $stateDir committed only empty " +
        "epochs; no groups exist yet"))
      .drop("__gkey")
      .withColumn("k", size(col("ks")).cast("long"))
      .withColumn("kth_hash", element_at(col("ks"), size(col("ks"))))
      .withColumn("est_distinct",
        (col("k") - 1).cast("double") * lit(Kmv.P.toDouble) /
          col("kth_hash").cast("double"))
      .drop("ks")
  }
}
