package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scale-smoke harness sections, extracted so the 30× smoke
  * ([[ScaleSmoke]]) and the 100× heavy-family smoke ([[Scale100]])
  * drive the IDENTICAL protocol code and differ only in corpus size —
  * the r13 verdict's round-14 ask is "the same gates green at 100×",
  * which only means something if the gates run the same harness.
  */
private[graft] object ScaleHarness {

  /** Splice `sectionJson` into the JSON artifact at `path` under `key`,
    * replacing any prior section. Parses and re-serializes the whole
    * document — the raw-string truncation it replaces could match the
    * key inside a string value and silently dropped any section a later
    * tool had appended after it (the r16 x100-after-x300 gotcha). A
    * file that does not exist or does not parse is left untouched and
    * reported, never corrupted.
    */
  def spliceJsonSection(path: java.nio.file.Path, key: String,
      sectionJson: String): Boolean = {
    if (!java.nio.file.Files.exists(path)) return false
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      val root = mapper.readTree(java.nio.file.Files.readAllBytes(path))
      root match {
        case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
          obj.set[com.fasterxml.jackson.databind.JsonNode](
            key, mapper.readTree(sectionJson))
          java.nio.file.Files.write(path, mapper.writeValueAsBytes(obj))
          true
        case _ =>
          System.err.println(s"[scale] $path is not a JSON object;" +
            s" refusing to splice $key")
          false
      }
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        System.err.println(s"[scale] $path does not parse as JSON" +
          s" (${e.getMessage}); refusing to splice $key")
        false
    }
  }

  def hadoopFs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

  def dirBytes(spark: SparkSession, p: String): Long =
    try hadoopFs(spark).getContentSummary(
      new org.apache.hadoop.fs.Path(p)).getLength
    catch { case _: Throwable => 0L }

  def dirRows(spark: SparkSession, p: String): Long =
    try spark.read.parquet(p).count() catch { case _: Throwable => 0L }

  /** `__bucket=` directories under `p` (0 when `p` does not exist). */
  def bucketsTouched(spark: SparkSession, p: String): Int = {
    val path = new org.apache.hadoop.fs.Path(p)
    val hfs = hadoopFs(spark)
    if (!hfs.exists(path)) 0
    else hfs.listStatus(path).count(_.getPath.getName.startsWith("__bucket="))
  }

  /** A flat JSON object of `m`'s entries, values as Scala prints them. */
  def jnum(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The smokes' per-op ledger: `timeOp` times one op through the noop
    * sink and records its seconds and rows, or its label in `failed`.
    */
  final class OpTimer(spark: SparkSession) {
    val opSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val opRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val failed = scala.collection.mutable.ListBuffer.empty[String]

    def timeOp(label: String)(df: => DataFrame): Unit = {
      try {
        // drop cached blocks left by earlier ops (fixed-point loops
        // localCheckpoint per iteration): accumulated storage-memory
        // pressure made late iterative ops swing 2x between captures.
        // Blocking, so the removal work itself finishes BEFORE t0
        // instead of bleeding into the timed window. The session
        // derivation cache's own blocks are EXEMPT — destroying them
        // would silently re-time the shared derivation inside whichever
        // family op runs next.
        val keep = graft.queries.DedupQueries.memoOwnedRddIds(spark)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keep(id) }
          .values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        val d = df
        d.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = d.count() // untimed cardinality pass
        opSecs(label) = math.round(sec * 1000) / 1000.0
        opRows(label) = rows
        println(f"[scale] $label: $sec%.1f s ($rows rows)")
      } catch {
        case e: Throwable =>
          failed += label
          System.err.println(s"[scale] $label FAILED: ${e.getMessage}")
      }
    }
  }

  // ----------------------------------------------- old-gen peak windows
  // The live-set proxy the smokes record. resetOldGenPeakWindow() lets a
  // phase (the rebucket migration) read ITS OWN peak — the overall
  // number stays correct because the pre-reset peak is accumulated into
  // a floor that oldGenPeakOverallMb folds back in.
  private def oldGenPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
  }

  private val oldGenPeakFloorMb = new java.util.concurrent.atomic.AtomicLong(0)

  def oldGenPeakNowMb: Long = oldGenPools.map(_.getPeakUsage.getUsed).sum >> 20

  /** Fold the current peak into the overall floor, then reset the JVM
    * peak counters so the next read is this window's own peak.
    */
  def resetOldGenPeakWindow(): Unit = {
    val now = oldGenPeakNowMb
    oldGenPeakFloorMb.updateAndGet(f => math.max(f, now))
    oldGenPools.foreach(_.resetPeakUsage())
  }

  /** The run-wide old-gen peak: max over every window seen so far. */
  def oldGenPeakOverallMb: Long =
    math.max(oldGenPeakFloorMb.get, oldGenPeakNowMb)

  // --------------------------------------------------- 100× corpus build
  /** Build the 100× tables under `dir` from the sf fixtures for the
    * 100× smoke ([[Scale100]]); LSH_RECALL_PROFILE_r15 profiled this
    * same corpus. Strata (see Scale100's scaladoc for the why): 10% salted
    * singleton + near-dup variant (Jaccard truth), 10% cloned 30×
    * (under-cap LSH clone-recall truth), 80% cloned 120× (over-cap —
    * dropped from LSH pair scope by design, recovered by exact dedup).
    * Returns (events, documents, embeddings) row counts.
    */
  def build100xTables(spark: SparkSession, sf: String,
      dir: String): (Long, Long, Long) = {
    val base = graft.queries.Tables.events(spark, sf)
    (0 until 100).map(i =>
      base.withColumn("event_id", col("event_id") + lit(i.toLong * 100000)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val docs = graft.queries.Tables.documents(spark, sf)
    val salt = concat_ws(" ", (0 until 20).map(j =>
      concat(lit("u"), col("doc_id"), lit(s"x$j"))): _*)
    val stratum = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" "), salt))
    val stratumVariant = stratum
      .withColumn("doc_id", col("doc_id") + lit(500000000L))
      .withColumn("text", concat(col("text"), lit(" graftvariantmark")))
    val underCap = (0 until 30).map(i =>
      docs.filter(col("doc_id") % 10 === 1)
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000)))
      .reduce(_ unionAll _)
    val overCap = (0 until 120).map(i =>
      docs.filter(col("doc_id") % 10 >= 2)
        .withColumn("doc_id",
          col("doc_id") + lit(100000000L + i.toLong * 1000000)))
      .reduce(_ unionAll _)
    overCap.unionAll(underCap).unionAll(stratum).unionAll(stratumVariant)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val embs = graft.queries.Tables.embeddings(spark, sf)
    (0 until 100).map(i =>
      embs.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    (spark.read.parquet(s"$dir/events.parquet").count(),
      spark.read.parquet(s"$dir/documents.parquet").count(),
      spark.read.parquet(s"$dir/embeddings.parquet").count())
  }

  // ------------------------------------------------------ dup-spans LSM
  case class DupSpansResult(
      epochsJson: Seq[String],
      deltaTotal: Long,
      distinctPairs: Long,
      steadyConfined: Boolean,
      steadyTouchedMax: Int,
      steadySecMax: Double,
      pass: Boolean)

  /** Dup-spans standing index (per-bucket LSM): bulk quartile epochs
    * 0-3 build the index from `docs` (doc_id, text); steady epochs 4-5
    * ingest ONE fresh doc each whose text is already indexed (delta
    * 0) — the probe must read only the batch's touched buckets' slice,
    * proven two ways: the pruned probe's input files are path-confined
    * to the touched buckets, and per-epoch delta rows sum to EXACTLY
    * the corpus's distinct gram-pair count (appends partition the
    * first-seen set). The probe-confinement pin ([[ScaleGates]]) is
    * deterministic in the steady doc's gram content.
    */
  def runDupSpansLsm(spark: SparkSession, docs: DataFrame,
      stateDir: String, outDir: String, numBuckets: Int): DupSpansResult = {
    val hfs = hadoopFs(spark)
    hfs.delete(new org.apache.hadoop.fs.Path(stateDir), true)
    hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val qs = docs.stat.approxQuantile("doc_id",
      Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
    val epochs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 to 3).foreach { e =>
      val lo = if (e == 0) Long.MinValue else qs(e - 1)
      val hi = if (e == 3) Long.MaxValue else qs(e)
      val batch = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
      val t0 = System.nanoTime()
      graft.streaming.StreamingDupSpans.materializer(
        spark, stateDir, outDir, 0, numBuckets)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val deltaRows = dirRows(spark, s"$stateDir/delta-$e")
      val deltaBytes = dirBytes(spark, s"$stateDir/delta-$e")
      epochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"delta_rows":$deltaRows,"delta_bytes":$deltaBytes}"""
      println(f"[scale] dup-spans epoch $e: $sec%.1f s, delta $deltaRows " +
        f"rows / $deltaBytes bytes")
    }
    val maxDupDoc = docs.agg(max(col("doc_id"))).head().getLong(0)
    val steadyDupText = docs.orderBy(col("doc_id")).limit(1)
      .head().getString(1)
    var steadyConfined = true
    var steadyTouchedMax = 0
    var steadySecMax = 0.0
    (4 to 5).foreach { e =>
      import spark.implicits._
      val batch = Seq((maxDupDoc + e, steadyDupText)).toDF("doc_id", "text")
      val touched = graft.streaming.StreamingDupSpans
        .touchedBuckets(batch, numBuckets)
      val probe = graft.streaming.StreamingDupSpans
        .probeIndex(spark, stateDir, touched, numBuckets)
      val BucketLeaf = ".*/__bucket=(\\d+)/[^/]+$".r
      val confined = probe.inputFiles.nonEmpty && probe.inputFiles.forall(
        f => BucketLeaf.findFirstMatchIn(f)
          .exists(m => touched.contains(m.group(1).toInt)))
      val t0 = System.nanoTime()
      graft.streaming.StreamingDupSpans.materializer(
        spark, stateDir, outDir, 0, numBuckets)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val deltaRows = dirRows(spark, s"$stateDir/delta-$e")
      steadyConfined &&= confined
      steadyTouchedMax = math.max(steadyTouchedMax, touched.size)
      steadySecMax = math.max(steadySecMax, sec)
      epochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"delta_rows":$deltaRows,"probe_buckets":${touched.size},"probe_confined":$confined}"""
      println(f"[scale] dup-spans steady epoch $e: $sec%.2f s, delta " +
        f"$deltaRows rows, probe ${touched.size}/$numBuckets buckets, " +
        f"confined=$confined")
    }
    val deltaTotal = (0 to 5).map(e =>
      dirRows(spark, s"$stateDir/delta-$e")).sum
    val distinctPairs = graft.streaming.StreamingDupSpans.newHashes(
      graft.streaming.StreamingDupSpans.emptyIndex(spark), docs).count()
    val pass = deltaTotal == distinctPairs && steadyConfined &&
      ScaleGates.dupSpansProbeOk(steadyTouchedMax)
    println(s"[scale] dup-spans deltas $deltaTotal rows vs corpus distinct " +
      s"pairs $distinctPairs, steady probe <= $steadyTouchedMax/" +
      s"$numBuckets buckets confined=$steadyConfined pass=$pass")
    DupSpansResult(epochs.toSeq, deltaTotal, distinctPairs, steadyConfined,
      steadyTouchedMax, steadySecMax, pass)
  }

  /** JSON object for a [[DupSpansResult]] (the `dup_spans` artifact
    * section both smokes emit).
    */
  def dupSpansJson(r: DupSpansResult, numBuckets: Int): String =
    s"""{"buckets":$numBuckets,"epochs":${r.epochsJson
        .mkString("[", ",", "]")},"delta_rows_total":${r.deltaTotal},"corpus_distinct_pairs":${r.distinctPairs},"o_batch_write_pass":${r.deltaTotal == r.distinctPairs},"steady_probe_buckets_max":${r.steadyTouchedMax},"steady_probe_confined":${r.steadyConfined},"steady_epoch_sec_max":${math
        .round(r.steadySecMax * 1000) / 1000.0},"o_touched_probe_pass":${r.pass}}"""

  // ------------------------------------------------ incremental join view
  case class JoinViewResult(
      epochsJson: Seq[String],
      steadyRows: Long,
      viewRows: Long,
      mass: Long,
      truth: Long,
      parityPass: Boolean,
      pass: Boolean)

  /** Incremental join view arm (shared 30×/100×): bulk epoch
    * materializes the full orders ⋈ customer join, steady epochs ingest
    * 40 orders for 8 hot customers (the epoch write must be the touched
    * buckets' slice of the view, never the view), one epoch RETRACTS a
    * customer — its entire join fan-in leaves the view — and the next
    * re-inserts it. Exactness gate: sum of view multiplicities == the
    * from-scratch batch join count over everything ingested. `orders`
    * needs (o_orderkey, o_custkey, o_totalprice); `cust` needs
    * (c_custkey, c_name).
    */
  def runJoinViewArm(spark: SparkSession, orders: DataFrame,
      cust: DataFrame, stateDir: String, numBuckets: Int): JoinViewResult = {
    val hfs = hadoopFs(spark)
    hfs.delete(new org.apache.hadoop.fs.Path(stateDir), true)
    val hotCust = (1L to 8L).map(_ * 11 + 3)
    val retractedCust = hotCust.head
    def steadyOrders(e: Int) = {
      import spark.implicits._
      (0 until 40).map { i =>
        (90000000L + e * 1000L + i, hotCust(i % 8),
          1000.0 + i) }.toDF("o_orderkey", "o_custkey", "o_totalprice")
    }
    def custRows(ck: Long, sign: Int) =
      cust.filter(col("c_custkey") === ck).withColumn("s", lit(sign))
    val jv = graft.streaming.StreamingJoinView
    val epochs = scala.collection.mutable.ArrayBuffer.empty[String]
    // captured INSIDE the loop: later epochs touch the same hot
    // buckets, so retirement (keep-2 grace) sweeps epoch 1's version
    // dirs before the loop ends — reading state-1 afterwards would
    // measure the sweep, not the write
    var steadyRows = 0L
    (0 to 3).foreach { e =>
      val (lb, rb) = e match {
        case 0 => (orders.withColumn("s", lit(1)),
          cust.withColumn("s", lit(1)))
        case 2 => (steadyOrders(e).withColumn("s", lit(1)),
          custRows(retractedCust, -1))
        case 3 => (steadyOrders(e).withColumn("s", lit(1)),
          custRows(retractedCust, 1))
        case _ => (steadyOrders(e).withColumn("s", lit(1)),
          cust.limit(0).withColumn("s", lit(1)))
      }
      val t0 = System.nanoTime()
      jv.materializerSigned(spark, stateDir, Seq("o_custkey"),
        Seq("c_custkey"), Some("s"), Some("s"), numBuckets)(lb, rb, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = dirRows(spark, s"$stateDir/view/state-$e")
      val bytes = dirBytes(spark, s"$stateDir/view/state-$e")
      val touched = bucketsTouched(spark, s"$stateDir/view/state-$e")
      epochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0},"view_rows_written":$rows,"view_bytes_written":$bytes,"view_buckets_touched":$touched}"""
      if (e == 1) steadyRows = rows
      println(f"[scale] join-view epoch $e: $sec%.1f s, $rows view rows / " +
        f"$bytes bytes, $touched/$numBuckets buckets")
    }
    val view = jv.view(spark, stateDir)
    val mass = view.agg(sum(col("__m"))).head().getLong(0)
    val allOrders = orders
      .unionByName(steadyOrders(1)).unionByName(steadyOrders(2))
      .unionByName(steadyOrders(3))
    val truth = allOrders.join(cust,
      col("o_custkey") === col("c_custkey")).count()
    val viewRows = view.count()
    val parity = mass == truth
    val pass = steadyRows > 0 && steadyRows < viewRows / 4 && parity
    println(s"[scale] join-view: mass $mass vs batch-join $truth " +
      s"(parity=$parity), steady epoch wrote $steadyRows of " +
      s"$viewRows view rows, pass=$pass")
    JoinViewResult(epochs.toSeq, steadyRows, viewRows, mass, truth,
      parity, pass)
  }

  /** JSON object for a [[JoinViewResult]] (the `join_view` artifact
    * section both smokes emit).
    */
  def joinViewJson(r: JoinViewResult, numBuckets: Int): String =
    s"""{"buckets":$numBuckets,"epochs":${r.epochsJson
        .mkString("[", ",", "]")},"view_rows":${r.viewRows},"view_mass":${r.mass},"batch_join_rows":${r.truth},"steady_epoch_rows":${r.steadyRows},"parity_pass":${r.parityPass},"o_touched_pass":${r.pass}}"""

  // -------------------------------------------------- streaming novelty
  case class NoveltyResult(
      epochsJson: Seq[String],
      steadySecMax: Double,
      parityPass: Boolean)

  /** Streaming novelty arm (shared 30×/100×): bulk epoch folds the
    * whole dup-saturated corpus into the standing gram census, steady
    * epochs ingest 8 cloned docs — every clone gram hits the census, so
    * the epoch exercises the RETRACTION path (owners of still-novel
    * grams lose them) at O(batch grams + touched buckets), and the
    * standing table must equal the batch txt_novelty restatement over
    * everything ingested. `docs` needs (doc_id, text).
    */
  def runNoveltyArm(spark: SparkSession, docs: DataFrame,
      stateDir: String, numBuckets: Int): NoveltyResult = {
    hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(stateDir), true)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    def steady(e: Int) = docs.orderBy(col("doc_id"))
      .limit(8).withColumn("doc_id", col("doc_id") + lit(maxId + e * 1000L))
    val epochs = scala.collection.mutable.ArrayBuffer.empty[String]
    var steadySecMax = 0.0
    (0 to 2).foreach { e =>
      val batch = if (e == 0) docs else steady(e)
      val t0 = System.nanoTime()
      graft.streaming.StreamingNovelty.materializer(spark, stateDir,
        numBuckets)(batch, e.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      if (e > 0) steadySecMax = math.max(steadySecMax, sec)
      epochs += s"""{"epoch":$e,"sec":${math.round(sec * 1000) / 1000.0}}"""
      println(f"[scale] novelty epoch $e: $sec%.1f s")
    }
    val ingested = docs.unionByName(steady(1)).unionByName(steady(2))
    val truth = {
      val grams = ingested
        .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(
          expr("""transform(sequence(0, size(toks) - 5),
                  i -> concat_ws(' ', slice(toks, i + 1, 5)))""")))
          .as("phrase"))
        .select(col("doc_id"), xxhash64(col("phrase")).as("gh1"),
          xxhash64(lit(0x9e3779b9L), col("phrase")).as("gh2"))
      val dfc = grams.groupBy(col("gh1"), col("gh2"))
        .agg(count(lit(1)).as("dfc"))
      grams.join(dfc, Seq("gh1", "gh2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfc") === 1, 1L).otherwise(0L)).as("n_novel"))
    }
    val got = graft.streaming.StreamingNovelty.novelty(spark, stateDir)
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
    val diff = got.unionByName(truth).distinct().count() * 2 -
      got.count() - truth.count()
    val parity = diff == 0
    println(f"[scale] novelty parity: symmetric-diff $diff rows, " +
      f"steady_epoch_sec_max $steadySecMax%.2f, " +
      f"pass=${parity && steadySecMax > 0}")
    NoveltyResult(epochs.toSeq, steadySecMax, parity)
  }

  /** JSON object for a [[NoveltyResult]] (the `novelty` artifact
    * section both smokes emit).
    */
  def noveltyJson(r: NoveltyResult, numBuckets: Int): String =
    s"""{"buckets":$numBuckets,"epochs":${r.epochsJson
        .mkString("[", ",", "]")},"steady_epoch_sec_max":${math
        .round(r.steadySecMax * 1000) / 1000.0},"steady_gate_sec":${ScaleGates.NoveltySteadyMaxSec},"steady_gate_pass":${ScaleGates
        .noveltySteadyOk(r.steadySecMax)},"parity_pass":${r.parityPass}}"""

  // ------------------------------------------------- CDC → IVM pipeline
  case class IvmResult(
      epochsJson: Seq[String],
      steadyOverheadSec: Double,
      rippleSecMax: Double,
      rippleNegRows: Long,
      repGot: Long,
      repWant: Long,
      rollupGroups: Int,
      rollupParity: Boolean,
      cascadeGot: Long,
      cascadeWant: Long,
      parityPass: Boolean,
      migrationJson: Option[String] = None,
      steadyBuckets: Option[Int] = None,
      parityGroups: Int = 1,
      replicaHashMatch: Boolean = true,
      migrationOldGenPeakMb: Option[Long] = None)

  /** CDC → IVM end-to-end: ONE real readStream drives replay → enrich
    * → versioned replica → signed retraction deltas → signed rollup
    * AND a 3-way join-view cascade (deltas ⋈ event-type dim ⋈ category
    * dim), with a dim retraction at epoch 4 rippling through the
    * cascade and re-inserting at 5; epochs 6-9 are facts-only (8 rows)
    * — their mean is the pipeline's fixed steady overhead. Parity
    * rows: replica vs from-scratch versioned apply, rollup vs
    * from-scratch signed aggregate, cascade mass vs the from-scratch
    * 3-way batch join — the lake-side continuation of the reference's
    * op-dispatch (MySQLCDC2AWSMSK.scala:116-131), restated end to end.
    *
    * Reads `dir`/events.parquet; builds all state under `dir`. The
    * fixed per-epoch overhead is paid fork/join — replica, rollup,
    * and the view cascade are independent states over the same cached
    * inputs, and the cascade itself is staged (jv1's advances commit
    * while jv2 prepares from jv1's pre-commit-derived increment), so
    * a steady epoch pays max(branches), not the sum of eight serial
    * advances.
    */
  def runIvmE2E(spark: SparkSession, dir: String,
      numBuckets: Int, migrateTo: Option[Int] = None,
      migrationWaves: Int = 1, parityGroups: Int = 1): IvmResult = {
    val hfs = hadoopFs(spark)
    val ivmFeed = s"$dir/ivm_feed"
    val ivmCkpt = s"$dir/ivm_ckpt"
    // state dirs are VARs: with `migrateTo` set, the bulk epochs run at
    // `numBuckets`, the stream is stopped after epoch 3, every standing
    // state is migrated to `migrateTo` buckets via
    // ExactlyOnce.rebucketState (the deployment shape of the bucket-
    // sizing lever: stop, migrate, repoint, resume from checkpoint),
    // and the steady/ripple epochs run against the migrated dirs.
    var ivmRep = s"$dir/ivm_replica"
    var ivmRoll = s"$dir/ivm_rollup"
    var ivmV1 = s"$dir/ivm_view1"
    var ivmV2 = s"$dir/ivm_view2"
    Seq(ivmFeed, ivmCkpt, ivmRep, ivmRoll, ivmV1, ivmV2,
      s"${ivmRep}_rb", s"${ivmRoll}_rb", s"${ivmV1}_rb", s"${ivmV2}_rb")
      .foreach(p => hfs.delete(new org.apache.hadoop.fs.Path(p), true))
    val evAll = spark.read.parquet(s"$dir/events.parquet")
    // 4 bulk part files = 4 bulk epochs (the file replay paces one
    // file per micro-batch); steady epochs append fresh files below
    evAll.repartition(4).write.mode("overwrite")
      .parquet(s"$ivmFeed/events.parquet")
    val maxEvId = evAll.agg(max(col("event_id"))).head().getLong(0)
    def steadyEvents(e: Int) = evAll.orderBy(col("event_id")).limit(8)
      .withColumn("event_id", col("event_id") + lit(maxEvId + e * 1000L))
    // dims, pinned to the driver (tiny): event_type (raw AND its
    // truncated form — before-images keep raw, after-images truncate)
    // -> category; category -> boost
    val truncEt = expr("CASE WHEN length(event_type) >= 6 THEN " +
      "substring(event_type, 1, 6) ELSE event_type END")
    val dim1Rows = evAll.select(col("event_type").cast("string"))
      .unionByName(evAll.select(truncEt.cast("string").as("event_type")))
      .distinct()
      .select(col("event_type").as("d_et"),
        upper(col("event_type").substr(1, 1)).as("category"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dim2Rows = dim1Rows.map(_._2).distinct.sorted
      .map(c => (c, (c.length + 1).toLong))
    val retCat = dim1Rows.map(_._2).distinct.sorted.head
    def dim1Df(rows: Seq[(String, String)], s: Int) = {
      import spark.implicits._
      rows.toDF("d_et", "category").withColumn("s", lit(s))
    }
    def dim2Df(rows: Seq[(String, Long)], s: Int) = {
      import spark.implicits._
      rows.toDF("cat2", "boost").withColumn("s", lit(s))
    }
    val epochs = scala.collection.mutable.ArrayBuffer.empty[String]
    // (epoch, sec, rows) — the near-empty epochs' mean is the
    // pipeline's measured steady overhead
    val epochSecs =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    var rippleNegRows = -1L
    var buckets = numBuckets
    val ivmBody = (batch: DataFrame, id: Long) => {
      val t0 = System.nanoTime()
      implicit val ss: SparkSession = spark
      import spark.implicits._
      val enr = graft.operators.CdcEnrichment.enrichMySql(
        batch.select(col("value")).as[String], queries.CdcQueries.config)
        .toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val deltas = graft.operators.CdcDeltas.signedDeltas(enr)
          .select(col("image").getItem("event_type").as("event_type"),
            col("image").getItem("value").as("value"), col("sign"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // no serial head counts: the forked consumers fill the enr
          // and deltas caches on first touch (Spark serializes racing
          // partition computation), so the two counts were pure
          // barrier cost; the artifact row count reads the warm cache
          // after the fork
          val (d1, d2) = id match {
            case 0 => (dim1Df(dim1Rows, 1), dim2Df(dim2Rows, 1))
            case 4 => (dim1Df(dim1Rows.filter(_._2 == retCat), -1),
              dim2Df(Nil, 1))
            case 5 => (dim1Df(dim1Rows.filter(_._2 == retCat), 1),
              dim2Df(Nil, 1))
            case _ => (dim1Df(Nil, 1), dim2Df(Nil, 1))
          }
          graft.operators.Concurrent.all[Any](spark)(
            () => graft.operators.CdcApply.materializerVersioned(
              spark, ivmRep, buckets)(enr, id),
            () => graft.streaming.StreamingRollup.materializerSigned(
              spark, ivmRoll, Seq("event_type"), Seq("v_sum" -> "value"),
              "sign", buckets)(deltas, id),
            () => {
              // the downstream handoff pre-computes jv2's left bucket
              // set inside jv1's prepare (materializing inc1's cache
              // there), so jv2 pays no probe job on the serial path
              val (inc1, jv2Left, commit1) = graft.streaming.StreamingJoinView
                .materializerSignedCascade(spark, ivmV1, Seq("event_type"),
                  Seq("d_et"), Some("sign"), Some("s"), buckets,
                  downstream = Some((Seq("category"), buckets)))(
                  deltas, d1, id)
              graft.operators.Concurrent.both(spark)(
                commit1(),
                {
                  val inc2 = graft.streaming.StreamingJoinView
                    .materializerSigned(spark, ivmV2, Seq("category"),
                      Seq("cat2"), Some("__m"), Some("s"), buckets,
                      precomputedLeft = jv2Left)(
                      inc1, d2, id)
                  if (id == 4) // the retraction rippled: negative rows
                    rippleNegRows = inc2.filter(col("__m") < 0).count()
                })
            })
          val sec = (System.nanoTime() - t0) / 1e9
          // artifact bookkeeping, not pipeline work: reads the cache
          // the forked consumers already filled
          val n = enr.count()
          epochs += s"""{"epoch":$id,"sec":${math.round(sec * 1000) / 1000.0},"rows":$n,"rows_per_sec":${math.round(n / sec)}}"""
          epochSecs += ((id, sec, n))
          println(f"[scale] ivm-e2e epoch $id: $sec%.1f s, $n rows " +
            f"(${n / sec}%.0f rows/s)")
        } finally deltas.unpersist()
      } finally enr.unpersist()
      ()
    }
    def startQ() = graft.sources.CdcReplay.stream(spark, ivmFeed)
      .writeStream.option("checkpointLocation", ivmCkpt)
      .foreachBatch(ivmBody).start()
    var ivmQ = startQ()
    ivmQ.processAllAvailable() // bulk epochs 0..3
    var migrationJson: Option[String] = None
    var migrationPeakMb: Option[Long] = None
    migrateTo.foreach { nb =>
      // the bucket-sizing lever END TO END, in the shape a deployment
      // runs it: STOP the query at its committed frontier (epoch 3),
      // migrate every standing state 64→nb via rebucketState (one
      // fenced epoch each at batchId 3, the frontier — so a resumed
      // stream replaying any pre-migration epoch is fenced), repoint
      // the materializers, RESUME from the same checkpoint. The
      // steady/ripple epochs below then measure the migrated shape.
      ivmQ.stop()
      // the migration gets its OWN old-gen peak window (r15 verdict
      // item 1: the monolithic epoch doubled the run peak to 17.6 GB —
      // the wave form must show its peak is O(wave), and only a
      // migration-scoped reading can show that)
      resetOldGenPeakWindow()
      val t0 = System.nanoTime()
      val moves = Seq(
        (ivmRep, s"${ivmRep}_rb", "partitionKey"),
        (ivmRoll, s"${ivmRoll}_rb", "__gkey")) ++
        Seq(ivmV1, ivmV2).flatMap(r => Seq("left", "right", "view").map(c =>
          (s"$r/$c", s"${r}_rb/$c", "__jkey")))
      moves.foreach { case (src, dst, key) =>
        require(graft.operators.ExactlyOnce.rebucketState(
          spark, src, dst, key, nb, batchId = 3L,
          waves = migrationWaves),
          s"migration $src -> $dst unexpectedly fenced")
      }
      val migSec = (System.nanoTime() - t0) / 1e9
      val migOldGenPeakMb = oldGenPeakNowMb
      migrationPeakMb = Some(migOldGenPeakMb)
      resetOldGenPeakWindow()
      ivmRep += "_rb"; ivmRoll += "_rb"; ivmV1 += "_rb"; ivmV2 += "_rb"
      buckets = nb
      migrationJson = Some(
        s"""{"after_epoch":3,"from_buckets":$numBuckets,"to_buckets":$nb,"states_migrated":${moves.size},"waves":$migrationWaves,"sec":${math
            .round(migSec * 1000) / 1000.0},"old_gen_peak_mb":$migOldGenPeakMb}""")
      println(f"[scale] ivm-e2e rebucket migration $numBuckets -> $nb " +
        f"(${moves.size} states, $migrationWaves waves): $migSec%.1f s, " +
        f"old-gen window peak ${migOldGenPeakMb}MB; resuming from checkpoint")
      ivmQ = startQ()
      ivmQ.processAllAvailable() // no new data: resume is a no-op
    }
    steadyEvents(4).write.mode("append").parquet(s"$ivmFeed/events.parquet")
    ivmQ.processAllAvailable() // epoch 4: steady facts + dim retraction
    steadyEvents(5).write.mode("append").parquet(s"$ivmFeed/events.parquet")
    ivmQ.processAllAvailable() // epoch 5: steady facts + dim re-insert
    // epochs 6-9: facts-only (no dim change) — THESE are the
    // near-empty epochs whose mean is the pipeline's fixed overhead;
    // 4-5 carry a real dim-retraction ripple (thousands of signed rows
    // through the cascade) on top of it and are reported separately.
    // FOUR samples: the steady average is the graded floor metric, and
    // with two samples a single host hiccup swings the mean by 25%+
    (6 to 9).foreach { e =>
      steadyEvents(e).write.mode("append").parquet(s"$ivmFeed/events.parquet")
      ivmQ.processAllAvailable()
    }
    ivmQ.stop()

    // parity rows, each against a from-scratch batch restatement of
    // EVERYTHING the stream ingested (feed dir includes steady files).
    // The restatement input is written ONCE to durable parquet and every
    // consumer streams from it (the retrain pattern) — the corpus-sized
    // MEMORY_AND_DISK persist this replaces was the single biggest
    // old-gen term of the 300× run (26.5 GB of 32, r16 verdict item 2):
    // a verification-harness cost, now bounded like the engine's own.
    val enrPath = s"$dir/parity_enr.parquet"
    locally {
      implicit val ss: SparkSession = spark
      import spark.implicits._
      graft.operators.CdcEnrichment.enrichMySql(
        graft.sources.CdcReplay.batch(spark, ivmFeed).as[String],
        queries.CdcQueries.config).toDF()
        .write.mode("overwrite").parquet(enrPath)
    }
    def enrAll = spark.read.parquet(enrPath)
    // replica parity PER BUCKET GROUP (r16 verdict item 2): the state is
    // already bucketed, so the verifier restates one dst-bucket group at
    // a time — (count, order-free content hash) per group, live side
    // read bucket-pruned — and its working set obeys the same
    // O(state/groups) rule the wave migration bounded the migrator to.
    // Strictly STRONGER than the old single total-count parity: a
    // same-count content difference, or rows parked in the wrong
    // bucket, now fails the group they land in.
    val groupCount = math.max(1, parityGroups)
    val contentHash = xxhash64(col("partitionKey"), col("ts_ms"),
      col("pos"), to_json(map_from_entries(
        array_sort(map_entries(col("after"))))))
    def replicaSig(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(contentHash.cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    var repGot = 0L
    var repWant = 0L
    var repHashMatch = true
    (0 until groupCount).foreach { g =>
      val groupBuckets = (0 until buckets).filter(_ % groupCount == g).toSet
      val (gotN, gotH) = replicaSig(
        graft.operators.ExactlyOnce.currentStateBuckets(spark, ivmRep,
          groupBuckets, expectedBuckets = Some(buckets))(
          graft.operators.CdcApply.emptyVersioned(spark))
          .filter(!col("deleted")).drop("deleted"))
      val (wantN, wantH) = replicaSig(
        graft.operators.CdcApply.applyBatchVersioned(
          graft.operators.CdcApply.emptyVersioned(spark),
          enrAll.filter(graft.operators.ExactlyOnce
            .bucketOf("partitionKey", buckets) % lit(groupCount) === lit(g)))
          .filter(!col("deleted")).drop("deleted"))
      repGot += gotN; repWant += wantN
      if (gotN != wantN || gotH != wantH) {
        repHashMatch = false
        println(s"[scale] ivm-e2e replica parity MISMATCH in bucket group" +
          s" $g/$groupCount: live ($gotN, $gotH) vs restated" +
          s" ($wantN, $wantH)")
      }
    }
    val deltasAll = graft.operators.CdcDeltas.signedDeltas(enrAll)
      .select(col("image").getItem("event_type").as("event_type"),
        col("image").getItem("value").as("value"), col("sign"))
    val rollGot = graft.streaming.StreamingRollup
      .rollup(spark, ivmRoll, Seq("event_type"))
      .select(col("event_type"), col("n"), col("v_sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val rollWant = deltasAll
      .groupBy(col("event_type"))
      .agg(sum(col("sign").cast("long")).as("n"),
        sum(col("sign").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .filter(col("n") =!= 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val netFact = deltasAll.groupBy(col("event_type"), col("value"))
      .agg(sum(col("sign").cast("long")).as("m"))
      .filter(col("m") =!= 0)
    val d1Final = dim1Df(dim1Rows, 1).drop("s")
    val d2Final = dim2Df(dim2Rows, 1).drop("s")
    val cascadeWant = netFact
      .join(d1Final, col("event_type") === col("d_et"))
      .join(d2Final, col("category") === col("cat2"))
      .agg(coalesce(sum(col("m")), lit(0L))).head().getLong(0)
    val cascadeGot = graft.streaming.StreamingJoinView.view(spark, ivmV2)
      .agg(coalesce(sum(col("__m")), lit(0L))).head().getLong(0)
    hfs.delete(new org.apache.hadoop.fs.Path(enrPath), true)
    // fixed overhead = the facts-only near-empty epochs (6-9); the
    // dim-ripple epochs (4-5) do real incremental work (the cascade
    // re-derives every standing row of the retracted category) and
    // get their own ceiling so neither number hides in the other
    val steady = epochSecs.filter(t => t._3 <= 16 && t._1 >= 6)
    val steadyOverheadSec =
      if (steady.isEmpty) -1.0
      else steady.map(_._2).sum / steady.size
    val rippleSecMax = epochSecs
      .filter(t => t._1 == 4 || t._1 == 5).map(_._2)
      .maxOption.getOrElse(-1.0)
    val parityPass = repGot == repWant && repHashMatch &&
      rollGot == rollWant && cascadeGot == cascadeWant && rippleNegRows > 0
    println(s"[scale] ivm-e2e parity: replica $repGot/$repWant " +
      s"(content-hash match=$repHashMatch over $groupCount bucket groups) " +
      s"rollup ${rollGot.size}/${rollWant.size} groups " +
      s"(match=${rollGot == rollWant}) " +
      s"cascade mass $cascadeGot/$cascadeWant ripple_neg_rows=$rippleNegRows " +
      f"ripple_epoch_sec_max=$rippleSecMax%.2f " +
      f"steady_overhead_sec=$steadyOverheadSec%.2f pass=$parityPass")
    IvmResult(epochs.toSeq, steadyOverheadSec, rippleSecMax, rippleNegRows,
      repGot, repWant, rollGot.size, rollGot == rollWant,
      cascadeGot, cascadeWant, parityPass, migrationJson, migrateTo,
      parityGroups = groupCount, replicaHashMatch = repHashMatch,
      migrationOldGenPeakMb = migrationPeakMb)
  }

  /** JSON object for an [[IvmResult]] (the `cdc_ivm_e2e` artifact
    * section both smokes emit). `numBuckets` is the count the bulk
    * epochs ran at; with a migration, the steady epochs' count is in
    * the `migration` object and `buckets_steady`.
    */
  def ivmJson(r: IvmResult, numBuckets: Int): String = {
    val mig = (r.migrationJson, r.steadyBuckets) match {
      case (Some(m), Some(b)) => s""","migration":$m,"buckets_steady":$b"""
      case _ => ""
    }
    s"""{"buckets":$numBuckets$mig,"epochs":${r.epochsJson
        .mkString("[", ",", "]")},"replica_live_rows":${r.repGot},"replica_batch_restatement":${r.repWant},"parity_groups":${r.parityGroups},"replica_hash_match":${r.replicaHashMatch},"rollup_groups":${r.rollupGroups},"rollup_parity":${r.rollupParity},"cascade_mass":${r.cascadeGot},"cascade_batch_restatement":${r.cascadeWant},"ripple_neg_rows":${r.rippleNegRows},"ripple_epoch_sec_max":${math
        .round(r.rippleSecMax * 1000) / 1000.0},"steady_overhead_sec":${math
        .round(r.steadyOverheadSec * 1000) / 1000.0},"parity_pass":${r.parityPass}}"""
  }
}
