package graft

import org.apache.spark.sql.functions._

import graft.operators.ExactlyOnce

/** CLI wrapper over [[ExactlyOnce.stateReport]] — the per-bucket
  * footprint and liveness of any graft state dir, plus the ledger
  * facts (pinned fan-out, committed-epoch count). Metadata-only.
  *
  *   sbt "runMain graft.StateReport /path/to/state_dir"
  */
object StateReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.error("usage: StateReport <stateDir>"))
    val spark = Sessions.local(4)
    val r = ExactlyOnce.stateReport(spark, dir).cache()
    r.show(10000, truncate = false)
    val summary = r.groupBy(col("kind"), col("live"))
      .agg(count(lit(1)).as("slices"), sum(col("files")).as("files"),
        sum(col("bytes")).as("bytes"))
      .orderBy(col("kind"), col("live"))
    summary.show(false)
    println(s"[state-report] pinned_buckets=" +
      s"${ExactlyOnce.pinnedBucketCount(spark, dir).getOrElse(-1)} " +
      s"has_committed=${ExactlyOnce.hasCommittedState(spark, dir)}")
    // as-of reachability: which committed epochs time travel can still
    // reconstruct — versioned states list their retained owner epochs
    // (per-bucket retention applies at read time), appended LSMs the
    // newest base + the deltas above it
    val vEpochs = ExactlyOnce.versionedOwnerEpochs(spark, dir)
    if (vEpochs.nonEmpty) println(
      s"[state-report] versioned_asof_owner_epochs=" +
        vEpochs.mkString(","))
    val aEpochs = ExactlyOnce.appendedAsOfEpochs(spark, dir)
    if (aEpochs.nonEmpty) println(
      s"[state-report] appended_asof_epochs=" + aEpochs.mkString(","))
    spark.stop()
  }
}
