package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: executes the headline queries (one per major
  * operator family — set SPARK_GRAFT_BENCH_ALL=1 for the full declared
  * surface) on SPARK_GRAFT_SF_DIR and prints ONE JSON line with
  * per-query seconds.
  *
  * Methodology (contention-resistant):
  *   - A warm-up pass (table counts + one untimed execution per query)
  *     runs before timing so no measured run absorbs JVM/codegen/
  *     classloading startup.
  *   - The headline set then runs REPS (default 3) timed repetitions,
  *     INTERLEAVED round-robin (rep 1 of every query, then rep 2 of
  *     every query, ...) so a transient host-load spike degrades one
  *     rep of many queries instead of every rep of one query.
  *   - The artifact reports the per-query MIN across reps (the best
  *     observation is the least-contended one; steady-state plans are
  *     deterministic so min is an unbiased throughput estimate) plus
  *     the per-query spread ((max-min)/min) as a contention indicator.
  *   - If a committed full-sweep artifact is readable (default: the
  *     newest BENCH_SWEEP_r*.json in cwd, override with
  *     SPARK_GRAFT_SWEEP_REF), the per-query min is diffed against it;
  *     median |deviation| > 20 % across shared queries triggers up to
  *     two extra rescue reps, and the final JSON carries
  *     "sweep_deviation_pct" + "contended" so a hot capture window is
  *     self-describing rather than silently poisoning the round
  *     artifact (round-3 verdict item 1).
  */
object Bench {

  /** One representative per family: scan+agg, shuffle join, broadcast
    * join, window, CDC enrichment, CDC routing, MinHash LSH, inverted-
    * index jaccard, brute-force kNN, text analysis.
    *
    * Extended r18 (ADDITIONS ONLY — the r17 verdict's item 2: the
    * original 10 keep their names and definitions so round-over-round
    * comparison holds; the additions make optimization work
    * driver-visible instead of invisible to PERF):
    *   - the r17-touched operators (sim_kmeans, dedup_semantic,
    *     evt_concurrency, sim_knn_ivf),
    *   - the r18-touched operators (rel_date_funcs, rel_map_funcs,
    *     rel_unpivot, dedup_containment, dedup_quality_report).
    * cdc_apply_replica, also touched in r18, is not in the headline:
    * its r18 change measured as a plan no-op (OPTIMIZATION_r18 §6).
    */
  val headline: Seq[String] = Seq(
    "rel_q1_agg", "rel_join_shuffle", "rel_join_broadcast", "rel_window",
    "cdc_enrich_mysql", "cdc_route_topic_partition",
    "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "sim_knn_brute", "txt_tokens",
    // r17-touched (added r18)
    "sim_kmeans", "dedup_semantic", "evt_concurrency", "sim_knn_ivf",
    // r18-touched (added r18)
    "rel_date_funcs", "rel_map_funcs", "rel_unpivot",
    "dedup_containment", "dedup_quality_report")

  /** Parse a bench artifact's flat `"queries":{"name":sec,...}` map,
    * refusing an artifact captured at a different scale factor (a
    * deviation against it would be pure sf ratio). No JSON dependency
    * in the unmanaged-classpath build.
    */
  private def parseQueryMap(p: String): Option[Map[String, Double]] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
      val qre = """"queries"\s*:\s*\{([^}]*)\}""".r
      val kv = """"([^"]+)"\s*:\s*(-?[0-9.eE+]+)""".r
      val sfre = """"sf"\s*:\s*"([^"]*)"""".r
      val refSf = sfre.findFirstMatchIn(txt).map(_.group(1))
      if (!refSf.contains(sys.env.getOrElse(
          "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))) None
      else qre.findFirstMatchIn(txt).map { m =>
        kv.findAllMatchIn(m.group(1))
          .map(x => x.group(1) -> x.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => None }

  /** Newest committed sweep artifact, if any, as name -> seconds. */
  private def sweepRef(): Option[(String, Map[String, Double])] = {
    val explicit = sys.env.get("SPARK_GRAFT_SWEEP_REF")
    val path = explicit.orElse {
      val cwd = new java.io.File(".")
      Option(cwd.listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_SWEEP_r\\d+\\.json"))
        .sortBy(_.getName).lastOption.map(_.getPath)
    }
    path.flatMap(p => parseQueryMap(p).map(p -> _))
  }

  /** The PINNED per-query regression baseline (r16 verdict item 1):
    * a frozen copy of the first trustworthy chunked-methodology sweep
    * (BENCH_BASELINE.json = BENCH_SWEEP_r16), NOT the newest sweep —
    * the newest-sweep reference drifts with every round, which is
    * exactly how the r13–r15 capture issues lingered. Re-pin
    * deliberately (copy a newer sweep over the file) only when a plan
    * change makes the old shape non-comparable; record re-pins in
    * SCALING.md.
    */
  private def pinnedBaseline(): Option[(String, Map[String, Double])] = {
    val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "BENCH_BASELINE.json")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) None
    else parseQueryMap(p).map(p -> _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val benchAll = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    val spark = Sessions.local(cpus)

    // warm-up: touch every table
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try graft.queries.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => }

    // per-query shuffle-byte accounting: stage-completion metrics
    // accumulated across the timed pass (listener delivery is async, so
    // a short settle runs after each query before the delta is read —
    // close enough for the MB-granularity the artifact reports)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten)
        }
      })

    val timedSet =
      (sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        // ad-hoc subset for single-query iteration (comma-separated)
        case Some(names) =>
          val only = names.split(',').map(_.trim).toSet
          SparkEntry.queries.toSeq.filter(q => only.contains(q._1))
        case None if benchAll => SparkEntry.queries.toSeq
        case None =>
          SparkEntry.queries.toSeq.filter(q => headline.contains(q._1))
      }).sortBy(_._1)
    // BOTH the headline and the full sweep take >=3 interleaved reps
    // with per-query min + spread (round-4 verdict item 2: a single-rep
    // sweep makes round-over-round per-query deltas undecidable).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    // wait (bounded) for the host to go quiet before timing: the round
    // driver runs this main right after its correctness sweep / scale
    // smoke heat the box (round-4 verdict item 1); the 1-min load
    // includes this idle JVM (~0). Threshold cpus/8 (tightened from
    // cpus/4, r8 verdict item 3: a capture at load 7.05 on 32 cpus
    // passed the old gate yet showed 389 % spreads).
    def awaitQuietWindow(maxWaitSec: Int): Unit =
      HostLoad.awaitQuiet(math.max(2.0, cpus / 8.0), maxWaitSec)

    // materialize through the noop sink: unlike count(), Catalyst cannot
    // eliminate the final ORDER BY under an aggregate, so the bench pays
    // the same sort stages the Verify parquet dump does.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      // drop cached/checkpointed blocks the PREVIOUS query left behind
      // (localCheckpoint RDDs live until their plan is GC'd): in the
      // interleaved pass each query otherwise runs under its
      // neighbors' accumulated storage pressure — measured as a
      // reproducible ~1 s tax on dedup_ngram_jaccard whenever
      // dedup_minhash_pairs precedes it, the same session-level
      // interaction the r11 tree-anchored A/B chased. Blocking, and
      // BEFORE t0, so the removal never bleeds into the timed window
      // (the ScaleSmoke timeOp pattern).
      //
      // INVARIANT (load-bearing): every rep rebuilds its full plan from
      // scratch through `fn` — no DataFrame, cache, or checkpoint is
      // held across runOnce calls. Unpersisting a localCheckpointed RDD
      // DESTROYS its data (lineage is truncated; there is no recompute
      // path), so any future harness state that reuses a frame across
      // reps would fail at a distance here. Keep reuse out of the bench
      // loop, or scope this sweep to blocks registered since the
      // previous rep.
      spark.sparkContext.getPersistentRDDs.values.foreach(
        _.unpersist(blocking = true))
      // Sweep-mode GC settle (JMH's between-iterations discipline): a
      // 170-query interleaved pass accumulates enough garbage,
      // ContextCleaner backlog, and codegen classes that major GCs
      // land on RANDOM reps — measured as 100-200% spreads on
      // sub-second queries in the full sweep while the SAME queries
      // read 5-30% in a 10-query pass on the same idle box. A forced
      // GC before t0 bills each query its own cost, not its
      // predecessors' garbage. The 19-query headline pass skips it
      // to keep its wall-clock tight (its spread without the settle
      // was last checked at 10 queries).
      if (benchAll) { System.gc(); Thread.sleep(100) }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // One untimed pass per query first: the first execution of a plan is
    // dominated by codegen + JIT of its generated classes (~5 s vs ~1 s
    // steady-state for the CDC queries on this box) — a local single-JVM
    // artifact that amortizes to zero on a real cluster run. The timed
    // reps measure steady-state throughput. Failures record sentinel -1.
    val failedSet = scala.collection.mutable.Set.empty[String]
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    timedSet.foreach { case (name, fn) =>
      try {
        runOnce(fn)
        // account shuffle bytes once, from this warm pass (plan-
        // deterministic, so identical across reps)
        Thread.sleep(200) // settle async listener events
        val sb0 = shuffleBytes.get()
        runOnce(fn)
        Thread.sleep(200)
        shuffleMb(name) =
          math.round((shuffleBytes.get() - sb0) / 1048576.0 * 100) / 100.0
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failedSet += name
      }
    }
    // that second accounting run already IS a valid steady-state timing —
    // but to keep the artifact's semantics simple every reported number
    // comes from the interleaved timed reps below.
    System.gc()
    Thread.sleep(200)

    val live = timedSet.filterNot(q => failedSet.contains(q._1))
    val samples =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    live.foreach { case (name, _) => samples(name) = Nil }
    def timedPass(): Unit = live.foreach { case (name, fn) =>
      if (!failedSet.contains(name)) {
        try samples(name) ::= runOnce(fn)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failedSet += name
        }
      }
    }
    awaitQuietWindow(maxWaitSec = 180)
    // record the load the capture actually ran at (verdict r7 item 4):
    // the artifact self-describes its window instead of silently
    // becoming the next round's comparison base after a hot capture
    var loadAtStart = HostLoad.current()
    // one DISCARDED interleaved pass first: rep 1 otherwise absorbs the
    // post-GC / cold-page-cache cost of whatever ran before it, which
    // showed up as per-query spreads in the hundreds of percent while
    // the min was stable — the artifact's spread indicator should
    // measure steady-state jitter, not warm-up
    timedPass()
    samples.keys.foreach(k => samples(k) = Nil)
    (1 to reps).foreach(_ => timedPass())

    // spread gate (r8 verdict item 3): a load spike mid-capture shows
    // as per-query spreads in the hundreds of percent. Rescue reps
    // cannot shrink spread — samples only accumulate — so when a
    // meaningful fraction of queries ran hot, DISCARD the samples and
    // restart the timed reps on a quiet window (bounded)
    // 1 ms floor on the denominator: a degenerate 0.0-second min would
    // otherwise make the spread NaN (0/0), and NaN > 50 is false — a
    // degenerate-timing query would silently never count as hot.
    // TRIMMED to the fastest 3 samples (r16): the reported number is
    // the per-query MIN, so the honesty question is "are the retained
    // fastest observations steady", not "did any rep ever hiccup" —
    // an untrimmed max-minus-min GROWS with every rescue rep taken
    // (order statistics of a noisy sample), so the very mechanism
    // that repairs a capture was inflating its contention stamp.
    // Discarded slow reps are counted separately as outlier_reps.
    def spreadOf(ss: List[Double]): Double = {
      val kept = ss.sorted.take(3)
      (kept.max - kept.min) / math.max(kept.min, 0.001) * 100.0
    }
    def hotFraction: Double = {
      val sp = samples.collect {
        case (n, ss) if ss.size > 1 && !failedSet.contains(n) => spreadOf(ss)
      }.toSeq
      if (sp.isEmpty) 0.0 else sp.count(_ > 50.0).toDouble / sp.size
    }
    var restarts = 0
    while (hotFraction > 0.10 && restarts < 2) {
      System.err.println(
        f"[bench] ${hotFraction * 100}%.0f%% of queries show > 50%% " +
          "spread — hot capture window, discarding samples and restarting")
      System.gc(); Thread.sleep(500)
      awaitQuietWindow(maxWaitSec = 300)
      // the restart is a fresh capture window: re-sample the load the
      // REPORTED samples actually ran at, and re-pay the discarded
      // warm-up pass — rep 1 would otherwise absorb the post-GC /
      // cold-page-cache cost, re-inflate the spread, and burn the
      // second restart on warm-up, not contention
      loadAtStart = HostLoad.current()
      timedPass()
      samples.keys.foreach(k => samples(k) = Nil)
      (1 to reps).foreach(_ => timedPass())
      restarts += 1
    }

    def mins: Map[String, Double] =
      samples.collect { case (n, ss) if ss.nonEmpty && !failedSet.contains(n) =>
        n -> ss.min }.toMap

    // deviation guard vs the committed quiet-machine sweep: if the
    // capture window was hot (median deviation > 20 % on shared
    // queries), take rescue reps — per-query min only improves — then
    // report the residual deviation honestly. The FULL SWEEP now gets
    // the same gate (verdict r7 item 4), diffed against the PRIOR
    // round's committed sweep: a sweep captured in a loaded window
    // re-takes passes instead of silently poisoning the next round's
    // comparison base. (Per-query deviation is meaningless for plans
    // changed this round; the MEDIAN over ~170 shared queries is
    // robust to the handful that change.)
    val ref = sweepRef()
    def medianDeviationPct: Option[Double] = ref.flatMap { case (_, refQ) =>
      val devs = mins.toSeq.collect {
        case (n, v) if refQ.get(n).exists(_ > 0) =>
          math.abs(v - refQ(n)) / refQ(n) * 100.0
      }.sorted
      if (devs.isEmpty) None else Some(devs(devs.size / 2))
    }
    var rescues = 0
    // the sweep pass is ~170 queries — cap its rescues lower
    val maxRescues = if (benchAll) 2 else 4
    while (medianDeviationPct.exists(_ > 20.0) && rescues < maxRescues) {
      System.err.println(
        f"[bench] median deviation vs sweep ${medianDeviationPct.get}%.1f%% " +
          "> 20% — contended capture window, taking a rescue rep")
      System.gc(); Thread.sleep(500)
      awaitQuietWindow(maxWaitSec = 120)
      timedPass()
      rescues += 1
    }

    val finalMins = mins
    // median-of-reps alongside min (round-6 verdict item 6): min is the
    // throughput estimate (least-contended observation of a
    // deterministic plan), median is the robustness witness — a query
    // whose median tracks its min ran on a quiet machine; a large
    // median/min gap localizes contention to specific reps without
    // poisoning the headline number
    val medians = samples.collect {
      case (n, ss) if ss.nonEmpty && !failedSet.contains(n) =>
        val sorted = ss.sorted
        n -> sorted(sorted.size / 2)
    }
    val spreadPct = samples.collect {
      case (n, ss) if ss.size > 1 && !failedSet.contains(n) =>
        n -> math.round(spreadOf(ss) * 10) / 10.0
    }
    val deviation = medianDeviationPct
    // contended is the artifact's honesty bit (r9 verdict item 2): the
    // restart budget gives up after two tries, so when residual spread
    // is still hot the committed numbers must SAY so. The stamp uses
    // the SAME criterion the restart loop triggers on — the fraction
    // of queries whose (trimmed) spread exceeds 50% — plus the sweep
    // deviation. A single-query max was statistically doomed across a
    // 173-query surface (the max of 173 noisy relative spreads, many
    // on sub-second plans where one 0.3 s scheduler hiccup reads as
    // 100%, exceeds any fixed bar almost surely on an IDLE box) and
    // was inconsistent with the restart trigger it was meant to
    // certify; the max stays REPORTED alongside the fraction.
    val maxSpreadPct = spreadPct.values.maxOption.getOrElse(0.0)
    val hotFrac = hotFraction
    // count of discarded slow reps (samples above each query's
    // fastest 3) — where trimming put the hiccups, reported not hidden
    val outlierReps = samples.collect {
      case (n, ss) if !failedSet.contains(n) && ss.size > 3 =>
        ss.size - 3
    }.sum
    val contended = deviation.exists(_ > 20.0) || hotFrac > 0.10

    // PINNED-baseline regression gate (r16 verdict item 1): mechanical
    // per-query defense, judged only on QUIET captures — a contended
    // window's excursions are already stamped and must not read as
    // regressions. Enforced (nonzero exit) on the sweep-artifact path
    // and when SPARK_GRAFT_BENCH_GATE=1; always reported.
    val baseline = pinnedBaseline()
    val regressions = baseline match {
      case Some((_, base)) if !contended =>
        ScaleGates.benchRegressions(finalMins, base)
      case _ => Map.empty[String, Double]
    }
    val regressionGate =
      if (baseline.isEmpty) "no-baseline"
      else if (contended) "skipped-contended"
      else if (regressions.nonEmpty) "fail" else "pass"
    if (regressions.nonEmpty) System.err.println(
      s"[bench] REGRESSION GATE: ${regressions.size} quiet-window query" +
        s" min(s) exceed the pinned baseline by >" +
        s" ${ScaleGates.BenchRegressionMaxPct}%: " +
        regressions.toSeq.sortBy(-_._2)
          .map { case (n, p) => f"$n +$p%.1f%%" }.mkString(", "))

    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ordered = timedSet.map(_._1).collect {
      case n if finalMins.contains(n) => n -> finalMins(n)
      case n if failedSet.contains(n) => n -> -1.0
    }
    val total = ordered.filter(_._2 >= 0).map(_._2).sum
    val extras = new StringBuilder
    extras ++= s""","reps":${reps + rescues},"restarts":$restarts,"load_1m_at_start":$loadAtStart,"median":${jmap(medians)},"spread_pct":${jmap(spreadPct)},"max_spread_pct":${math.round(maxSpreadPct * 10) / 10.0},"hot_fraction_pct":${math.round(hotFrac * 1000) / 10.0},"outlier_reps":$outlierReps,"contended":$contended"""
    ref.foreach { case (p, _) =>
      extras ++= s""","sweep_ref":"${p}""""
      deviation.foreach(d =>
        extras ++= s""","sweep_deviation_pct":${math.round(d * 10) / 10.0}""")
    }
    baseline.foreach { case (p, _) =>
      extras ++= s""","baseline_ref":"$p","regression_gate":"$regressionGate","regressions":${jmap(regressions)}"""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(
        ordered)},"shuffle_mb":${jmap(shuffleMb)},"sf":"$sfDir","failed":${failedSet.size},"materialization":"noop-sink","methodology":"per-query warm run, one discarded interleaved warm-up pass, then $reps interleaved timed reps, per-query min + median, spread over the fastest 3 samples (discarded slower reps counted in outlier_reps), contended = sweep deviation > 20% or > 10% of queries over 50% trimmed spread; quiet captures gated per-query vs the pinned baseline (min > 25% over pinned min = fail); sweep artifact written only when contended=false AND hot_fraction=0"$extras}"""
    // stdout gets wrapped in sbt/log noise downstream — persist the
    // structured result to a well-known file too, so consumers that
    // fail to grep the line out of the tail still get the JSON
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => }
    // The per-round harvester keeps only the LAST ~2000 chars of the sbt
    // run: the full line above (~1.9k chars with the median/spread maps)
    // gets its head truncated there and never parses (r10/r11 verdicts,
    // "parsed: null"). Emit the full detail line first for direct
    // consumers, then end stdout with a COMPACT line (min-per-query +
    // honesty bits only, well under the tail window even after sbt's
    // trailing "[success]" line) so the tail always contains one
    // complete parseable JSON object. The sweep (BENCH_ALL) compact
    // line would still be ~6k chars, so it drops the per-query map —
    // sweep detail lives in the standalone artifact file.
    println(line)
    val compactQ = if (benchAll) "" else s""","queries":${jmap(ordered)}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec"$compactQ,"sf":"$sfDir","failed":${failedSet.size},"reps":${reps + rescues},"max_spread_pct":${math.round(maxSpreadPct * 10) / 10.0},"contended":$contended,"detail":"BENCH_LAST.json"}""")
    // sweep capture-quality gate (r15 verdict item 2, the ScaleGates
    // pattern): the committed sweep is every later round's comparison
    // base, so a CONTENDED capture must never become one. With
    // SPARK_GRAFT_SWEEP_OUT set, the artifact is written ONLY from a
    // quiet capture; a contended one is refused and the run exits
    // nonzero so no copy-the-file-anyway workflow can commit it
    // silently.
    // The sweep-out bar is STRICTER than the contended stamp (ADVICE
    // r16): this artifact anchors every later round's comparison — and,
    // when deliberately re-pinned, the regression gate itself — so the
    // write path demands hotFrac == 0 (no query's fastest-3 unstable),
    // not merely ≤ 10 %. A capture that is quiet-stamped but not
    // sweep-writable is still a valid round reading; it just cannot
    // become a baseline.
    val sweepWritable = !contended && hotFrac == 0.0
    sys.env.get("SPARK_GRAFT_SWEEP_OUT").foreach { out =>
      if (!sweepWritable) System.err.println(
        f"[bench] REFUSING to write sweep artifact $out: " +
          f"contended=$contended hot_fraction=${hotFrac * 100}%.1f%% " +
          f"(max spread $maxSpreadPct%.1f%%, median sweep deviation " +
          f"${deviation.getOrElse(-1.0)}%.1f%%) — the sweep artifact " +
          "must come from a fully-stable window; rerun on a quiet host")
      else {
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[bench] wrote sweep artifact $out (contended=false," +
          " hot_fraction=0)")
      }
    }
    spark.stop()
    if (!sweepWritable && sys.env.contains("SPARK_GRAFT_SWEEP_OUT"))
      sys.exit(3)
    // regression-gate enforcement (ScaleGates pattern): fail the run,
    // after every artifact is written, on the gated paths
    if (regressionGate == "fail" && (sys.env.contains("SPARK_GRAFT_SWEEP_OUT")
        || sys.env.get("SPARK_GRAFT_BENCH_GATE").contains("1")))
      sys.exit(4)
  }
}
