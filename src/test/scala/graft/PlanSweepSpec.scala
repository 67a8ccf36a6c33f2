package graft

import scala.util.Try

import org.apache.spark.sql.execution.QueryExecution

/** Whole-surface plan audit: every declared query's physical plan is
  * screened for the two patterns that do not survive a 100× scale-up.
  *
  *   - `CartesianProduct` — never acceptable: it means a non-broadcast
  *     all-pairs stage slipped in (the exact failure the LSH/IVF/block
  *     caps exist to prevent).
  *   - `BroadcastNestedLoopJoin` — acceptable ONLY where the broadcast
  *     side is a deliberately tiny relation (probe sets, 1-row
  *     corpus-stats aggregates, generated spines). Those queries are
  *     allowlisted BY NAME so a new unlisted BNLJ — e.g. a join whose
  *     equi-condition was accidentally lost, degrading a hash join into
  *     a broadcast loop over the fact table — fails the build.
  *
  * A per-query gate (PlanSpec) pins the plans we actively designed;
  * this sweep catches regressions in the other ninety.
  */
class PlanSweepSpec extends SparkSpec {

  /** Queries where a BroadcastNestedLoopJoin is the designed shape:
    * the broadcast side is bounded by construction (see each note).
    */
  private val bnljByDesign: Set[String] = Set(
    "sim_knn_brute",      // broadcast probe set vs vector scan — the exact baseline
    "sim_knn_ivf",        // broadcast codebook crossJoin (assignment argmin)
    "txt_cross_entropy",  // crossJoin(broadcast(1-row total))
    "txt_search_bm25",    // crossJoin(broadcast(1-row corpus stats))
    "txt_tfidf",          // crossJoin(broadcast(1-row doc count))
    "evt_resample",       // broadcast types × broadcast 1-row bounds spine
    "evt_anomaly",        // broadcast per-series stats onto the dense spine
    "rel_histogram",      // broadcast 1-row min/max bounds
    "samp_temperature",   // crossJoin(broadcast(1-row normalizer))
    // sim_kmeans / dedup_semantic left the list in r17: the k-centroid
    // crossJoin became a per-row argmin over snapshot literals (zero
    // exchange, no BNLJ)
    "rel_skew_report",    // crossJoin(broadcast(1-row key-count stats))
    "cdc_snapshot_chunks", // crossJoin(broadcast(1-row PK-range stats))
    "lake_zorder",        // crossJoin(broadcast(1-row min/max bounds))
    "txt_heavy_hitters",  // crossJoin(broadcast(1-row ≤k-candidate sketch))
    "lake_skip_report",   // 16 probes × ≤64 broadcast file envelopes
    "sim_recall_report",  // broadcast probe set (brute recall baseline)
    "sim_hard_negatives", // broadcast anchor set vs anti-label vector scan
    "emb_matryoshka",     // broadcast probe set ×2 (full + truncated brute top-k)
    "pipe_curriculum",    // crossJoin(broadcast(1-row doc count))
    "rel_kmv_distinct",   // crossJoin(broadcast(1-row exact-distinct count))
    "rel_tpch_q11",       // crossJoin(broadcast(1-row regional total))
    "rel_tpch_q22"        // crossJoin(broadcast(1-row average balance))
  )

  /** Every declared query, by name, planned once per suite: each test
    * reads its plan from the same QueryExecution. A query that fails to
    * build keeps its failure.
    */
  private lazy val sweep: Seq[(String, Try[QueryExecution])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try(fn(spark, sf).queryExecution)
    }

  test("every declared query ends in a global total order (the oracle " +
      "hash compares rows in returned order)") {
    import org.apache.spark.sql.catalyst.plans.logical._
    def totalOrder(lp: LogicalPlan): Boolean = lp match {
      case s: Sort => s.global
      case GlobalLimit(_, child) => totalOrder(child)
      case LocalLimit(_, child) => totalOrder(child)
      case Project(_, child) => totalOrder(child)
      // a grouping-less aggregate emits at most one row — trivially a
      // total order (Catalyst's EliminateSorts removes any ORDER BY
      // written above it, so requiring a Sort node would be unsatisfiable)
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      // same for ANY provably ≤1-row plan (e.g. a join of two 1-row
      // aggregates, as in rel_kmv_distinct): OptimizeOneRowPlan strips
      // the root Sort, and one row needs no order
      case p if p.maxRows.exists(_ <= 1) => true
      case _ => false
    }
    val missing = sweep.flatMap {
      case (name, qe) =>
        val ok =
          try totalOrder(qe.get.optimizedPlan)
          catch { case _: Throwable => false }
        if (ok) None else Some(name)
    }
    assert(missing.isEmpty,
      s"queries without a root ORDER BY: ${missing.mkString(", ")}")
  }

  test("no declared query plans a CartesianProduct; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val sawBnlj = scala.collection.mutable.Set.empty[String]
    sweep.foreach { case (name, qe) =>
      val plan =
        try qe.get.executedPlan.toString
        catch { case e: Throwable => s"PLANNING FAILED: $e" }
      if (plan.startsWith("PLANNING FAILED"))
        offenders += s"$name: $plan"
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin")) {
        sawBnlj += name
        if (!bnljByDesign(name))
          offenders += s"$name: unlisted BroadcastNestedLoopJoin"
      }
    }
    // exact match both ways: an allowlisted query whose plan no longer
    // needs a BNLJ must be removed from the list, keeping the gate tight
    (bnljByDesign -- sawBnlj).foreach { stale =>
      offenders += s"$stale: allowlisted but plans no BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Queries whose UNPARTITIONED window (a single-partition sort, the
    * classic straggler at scale) runs over an input that is bounded by
    * construction — a small aggregate (languages, hours, days, k rows),
    * never the raw table. Each entry names the bounded domain.
    */
  private val globalWindowByDesign: Map[String, String] = Map(
    "rel_global_ids" -> "per-lang offsets (O(languages) rows)",
    "evt_user_growth" -> "per-day first-seen counts (O(days) rows)",
    "evt_concurrency" -> "per-hour carry-in totals (O(hours) rows)",
    "evt_gaps" -> "bucket-boundary stitching (O(id-range/bucket) rows)",
    "samp_domain_mix" -> "per-source quotas (O(sources) rows)",
    "txt_tokenize_vocab" -> "ranked vocabulary (bounded by vocab cap)",
    "txt_search_bm25" -> "rank over the post-limit top-20 rows",
    "pipe_curriculum" -> "per-length-bucket offsets (O(max_len/256) rows)")

  test("unpartitioned windows only over bounded-by-construction inputs " +
      "(single-partition sorts never touch a raw table)") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val sawGlobal = scala.collection.mutable.Set.empty[String]
    // logical plan, not executedPlan: AdaptiveSparkPlanExec hides its
    // subtree from TreeNode.collect until execution
    def hasGlobalWindow(p: LogicalPlan): Boolean =
      p.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty
    sweep.foreach { case (name, qe) =>
      val global =
        try hasGlobalWindow(qe.get.optimizedPlan)
        catch { case _: Throwable => false }
      if (global) {
        sawGlobal += name
        if (!globalWindowByDesign.contains(name))
          offenders += s"$name: unpartitioned WindowExec over an unlisted input"
      }
    }
    (globalWindowByDesign.keySet -- sawGlobal).foreach { stale =>
      offenders += s"$stale: allowlisted but plans no unpartitioned window"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
