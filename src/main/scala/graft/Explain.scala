package graft

import org.apache.spark.sql.SparkSession

/** Dev diagnostics: print the formatted physical plan of a declared
  * query and time its full (noop-sink) materialization — the same
  * methodology Bench uses — so plan regressions are inspectable
  * without a bench sweep. Usage:
  *
  *   runMain graft.Explain <queryName> [sfDir] [reps]
  */
object Explain {

  /** `--all`: one summary line per declared query — the exchange/join
    * census of every physical plan (the whole-surface audit PlanSweep
    * gates mechanically, in human-readable artifact form).
    */
  private def auditAll(spark: SparkSession, sfDir: String): Unit = {
    println("| query | exchanges | BHJ | SMJ | BNLJ | cartesian | " +
      "takeOrdered | aggregates |")
    println("|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLANNING FAILED: $e" }
      def n(pat: String) = pat.r.findAllIn(p).size
      println(s"| $name | ${n("Exchange ")} | ${n("BroadcastHashJoin")} | " +
        s"${n("SortMergeJoin")} | ${n("BroadcastNestedLoopJoin")} | " +
        s"${n("CartesianProduct")} | ${n("TakeOrderedAndProject")} | " +
        s"${n("(?:Hash|Sort|ObjectHash)Aggregate")} |")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("rel_q1_agg")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // ad-hoc session confs (comma-separated k=v), e.g. the operator
    // timing hooks: SPARK_GRAFT_CONF=spark.graft.graph.timing=true
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
        case _ => System.err.println(s"[explain] ignoring malformed conf token '$kv'")
      }
    })

    if (name == "--all") {
      auditAll(spark, sfDir)
      spark.stop()
      return
    }
    // --rebuild (4th arg): re-invoke the query function every rep —
    // the Bench methodology — so eager operators (iterative loops that
    // run during DataFrame CONSTRUCTION) are timed warm per-rep
    // instead of once at build time
    val rebuild = args.lift(3).contains("--rebuild")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to reps).foreach { i =>
      System.gc()
      val t0 = System.nanoTime()
      val d = if (rebuild) SparkEntry.queries(name)(spark, sfDir) else df
      d.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
