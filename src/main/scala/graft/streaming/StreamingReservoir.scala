package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** DURABLE stratified reservoir sample — a k-row-per-stratum sample of
  * everything ever ingested, maintained on the bucketed epoch ledger
  * (the curation sibling of [[StreamingGroupedKmv]]: same K-min-state
  * semilattice, but the state keeps the sampled ROWS, not just
  * hashes). The priority is DETERMINISTIC (hash-derived), which is
  * what makes a distributed, restartable reservoir possible at all:
  *
  * [[uniformPriority]] is the engine's portable unsigned string hash of
  * the row id. Keeping the k smallest priorities per stratum is top-k
  * of a random permutation — a uniform sample without replacement, and
  * the one the declared query `samp_reservoir_groups` oracle-checks in
  * DuckDB (integer priorities, engine-exact). The materializer takes
  * any deterministic priority column.
  *
  * Merge = per-stratum top-k of (current ∪ batch-partial), bounded 2k
  * rows per group; the batch partial itself keeps only k per stratum
  * per map partition before the shuffle (partial WindowGroupLimit).
  * Top-k-by-fixed-priority is a commutative idempotent semilattice:
  * any epoch split, arrival order, or re-ingestion converges to the
  * identical sample. Per-epoch cost O(batch + touched buckets); the
  * standing sample is k rows per stratum — megabytes at 100 TB.
  *
  * No retraction arm, honestly: removing a sampled row would need the
  * k+1-th candidate, which the reservoir discarded by design.
  */
object StreamingReservoir {

  val DefaultBuckets = 16

  /** Deterministic uniform priority: the portable unsigned 32-bit
    * string hash of `seed ++ id` — exact in both engines, so the
    * uniform reservoir is DuckDB-oracle-checkable.
    */
  def uniformPriority(idCol: Column, seed: String): Column =
    graft.queries.QueryDef.uhash(concat(lit(seed), idCol.cast("string")))
      .cast("double")

  /** One batch's partial: per stratum its k best (smallest-priority)
    * rows, every original column retained plus `__prio`. Rows are
    * deduplicated per (stratum, id) first — id re-occurrence inside a
    * batch must not double-enter the candidate pool — keeping the
    * row with the smallest full-row hash, so the survivor is a pure
    * function of the batch CONTENT (never of partition layout or
    * arrival order). PRECONDITION, stated honestly: the id should
    * determine the row. Re-ingesting the same (stratum, id) with
    * DIFFERENT attribute values (a revised doc) keeps whichever
    * version hashes smaller — deterministic across replays/splits,
    * but not "latest wins"; a feed with row revisions belongs in the
    * CDC replica materializer, not a reservoir.
    */
  def partials(batch: DataFrame, keyCols: Seq[String], idCol: String,
      priority: Column, k: Int): DataFrame = {
    val dw = Window.partitionBy((keyCols :+ idCol).map(col): _*)
      .orderBy(xxhash64(batch.columns.map(col).toSeq: _*))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__prio"), col(idCol))
    batch.withColumn("__dn", row_number().over(dw))
      .filter(col("__dn") === 1).drop("__dn")
      .withColumn("__prio", priority)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
      .withColumn("__gkey", StateKeys.packKey(keyCols))
  }

  /** foreachBatch body: fold one batch into the standing per-stratum
    * reservoir at `stateDir`. `priority` must be a deterministic pure
    * function of the row (e.g. [[uniformPriority]]) — this is the
    * contract that makes replay, re-ingestion, and any epoch split
    * converge bit-identically.
    */
  def materializer(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], idCol: String, priority: Column, k: Int,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    ExactlyOnce.ensureLedgerTag(spark, stateDir, StateKeys.CodecTag)
    val p = partials(batch, keyCols, idCol, priority, k)
    val w = Window.partitionBy(col("__gkey"))
      .orderBy(col("__prio"), col(idCol))
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, p,
      "__gkey", numBuckets)(ExactlyOnce.emptyFrame(spark, p.schema)) {
      (current, cluster) =>
      // dedup per (stratum, id) BEFORE the top-k: a re-ingested row is
      // already in `current` with the same deterministic priority, and
      // two copies in the pool would evict a legitimate k-th row —
      // dedup is what upgrades "fenced" to genuinely idempotent. The
      // survivor is deterministic: the STANDING state row wins (so a
      // replayed/revised ingestion can never flip already-sampled row
      // content), full-row hash breaks any remaining tie.
      val dw = Window.partitionBy((keyCols :+ idCol).map(col): _*)
        .orderBy(col("__src"), xxhash64(p.columns.map(col).toSeq: _*))
      cluster(current.withColumn("__src", lit(0))
        .unionByName(p.withColumn("__src", lit(1)))
        .withColumn("__dn", row_number().over(dw))
        .filter(col("__dn") === 1).drop("__dn", "__src")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
        .select(p.columns.map(col): _*))
    }
    ()
  }

  /** The standing sample: original columns per sampled row (the
    * priority column is internal bookkeeping and dropped).
    */
  def sample(spark: SparkSession, stateDir: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed reservoir state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(
      sys.error(s"reservoir state at $stateDir committed only empty " +
        "epochs; no strata exist yet"))
      .drop("__gkey", "__prio")
  }
}
