package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.operators.{CdcApply, CdcDeltas, CdcEnrichment, Concurrent,
  ExactlyOnce}
import graft.queries.{CdcQueries, DedupQueries, Tables}
import graft.sources.CdcReplay
import graft.streaming.{StreamingDupSpans, StreamingJoinView,
  StreamingNovelty, StreamingRollup}

/** The building blocks of [[Scale]]: its inputs, the corpus builder,
  * the artifact writer, and the arms that more than one multiplier
  * runs, so every scale drives the IDENTICAL protocol code and differs
  * only in corpus size — "the same gates green at 100×" only means
  * something if the gates run the same harness.
  */
private[graft] object ScaleHarness {

  /** The inputs of [[Scale]]: its positional arguments, and the fixture
    * dir and core count from `-sf` and `-cores` (defaults sf0.1, 32
    * cores). The shuffle partitions follow the cores, two per core (64 at
    * 32 cores, the shape of every committed artifact).
    */
  final case class Inputs(positional: Seq[String], sf: String, cores: Int) {
    def partitions: Int = 2 * cores

    /** The fixture dir's last path element, e.g. `sf0.1`. */
    def sfName: String = java.nio.file.Paths.get(sf).getFileName.toString
  }

  def inputs(args: Array[String]): Inputs = {
    val flags = Set("-sf", "-cores")
    require(!args.lastOption.exists(flags), s"${args.last} needs a value")
    val kv = args.sliding(2).collect { case Array(k, v) if flags(k) => k -> v }
      .toMap
    Inputs(args.indices.filterNot(i => flags(args(i)) ||
        (i > 0 && flags(args(i - 1)))).map(args),
      kv.getOrElse("-sf", "/root/testdata/sf0.1"),
      kv.get("-cores").fold(32)(_.toInt))
  }

  // ------------------------------------------------------------ artifact
  /** An artifact object: its fields in the order they are written. */
  type Obj = ListMap[String, Any]

  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)

  /** `x` rounded to `places` decimals, the artifact's number format. */
  def rounded(x: Double, places: Int): Double =
    math.round(x * math.pow(10, places)) / math.pow(10, places)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val mapper = new ObjectMapper()

  /** `v` as the Java value Jackson writes: maps (in iteration order)
    * become objects, other iterables arrays, `None` null.
    */
  private def plain(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, plain(x)) }
      o
    case xs: Iterable[_] => java.util.Arrays.asList(xs.map(plain).toSeq: _*)
    case o: Option[_] => o.map(plain).orNull
    case x @ (null | _: Boolean | _: Int | _: Long | _: Double | _: String) =>
      x.asInstanceOf[AnyRef]
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** The compact JSON text of an artifact value. */
  def json(v: Any): String = mapper.writeValueAsString(plain(v))

  /** Splice `section` into the JSON artifact at `path` under `key`,
    * replacing any prior section. Parses and re-serializes the whole
    * document — the raw-string truncation it replaces could match the
    * key inside a string value and silently dropped any section a later
    * tool had appended after it (the r16 x100-after-x300 gotcha). A
    * file that is missing, does not parse, or is not an object is left
    * untouched and reported, never corrupted.
    */
  def spliceJsonSection(path: java.nio.file.Path, key: String,
      section: Any): Boolean = {
    val refusal =
      try mapper.readTree(java.nio.file.Files.readAllBytes(path)) match {
        case o: ObjectNode =>
          o.set[JsonNode](key, mapper.valueToTree[JsonNode](plain(section)))
          java.nio.file.Files.write(path, mapper.writeValueAsBytes(o))
          None
        case _ => Some("is not a JSON object")
      } catch {
        case e: java.io.IOException => Some(s"cannot be read as JSON ($e)")
      }
    refusal.foreach(why =>
      System.err.println(s"[scale] $path $why; refusing to splice $key"))
    refusal.isEmpty
  }

  // ------------------------------------------------------------- fs reads
  def hadoopFs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Delete `dirs` (recursively; a missing dir is fine). */
  def clear(spark: SparkSession, dirs: String*): Unit = dirs.foreach(d =>
      hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(d), true))

  def dirBytes(spark: SparkSession, p: String): Long =
    try hadoopFs(spark).getContentSummary(
      new org.apache.hadoop.fs.Path(p)).getLength
    catch { case _: Throwable => 0L }

  /** Rows of the parquet dir `p` (flat or bucketed); 0 when it holds no
    * data file — an epoch that writes nothing leaves only `_SUCCESS`,
    * and reading that makes Spark log a schema-inference error.
    */
  def dirRows(spark: SparkSession, p: String): Long =
    try {
      val data = Seq(s"$p/*.parquet", s"$p/*/*.parquet").exists(g => Option(
        hadoopFs(spark).globStatus(new org.apache.hadoop.fs.Path(g)))
        .exists(_.nonEmpty))
      if (data) spark.read.parquet(p).count() else 0L
    } catch { case _: Throwable => 0L }

  /** `__bucket=` directories under `p` (0 when `p` does not exist). */
  def bucketsTouched(spark: SparkSession, p: String): Long =
    try hadoopFs(spark).listStatus(new org.apache.hadoop.fs.Path(p))
      .count(_.getPath.getName.startsWith("__bucket="))
    catch { case _: java.io.FileNotFoundException => 0L }

  /** Whether `files` is non-empty and each is a file of a `__bucket=`
    * dir in `buckets`: a pruned read confined to its bucket set.
    */
  def confined(files: Seq[String], buckets: Set[Int]): Boolean = {
    val BucketLeaf = ".*/__bucket=(\\d+)/[^/]+$".r
    files.nonEmpty && files.forall(f => BucketLeaf.findFirstMatchIn(f)
      .exists(m => buckets.contains(m.group(1).toInt)))
  }

  /** The steady-epoch trickle of a bulk + trickle arm: epoch `e`'s batch
    * is `df`'s first 8 rows by `id`, re-keyed past `df`'s largest id.
    */
  def trickle(df: DataFrame, id: String): Int => DataFrame = {
    val maxId = df.agg(max(col(id))).head().getLong(0)
    e => df.orderBy(col(id)).limit(8)
      .withColumn(id, col(id) + lit(maxId + e * 1000L))
  }

  /** `df` written to `path` and read back: a frame reused across
    * measurements re-reads durable parquet instead of pinning a
    * corpus-sized cached copy (the retrain pattern).
    */
  def durable(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  // --------------------------------------------------------- timed epochs
  /** One materializer epoch: its wall seconds and what it wrote. */
  final case class Epoch(epoch: Int, sec: Double, wrote: Seq[(String, Long)]) {
    def apply(key: String): Long = wrote.toMap.apply(key)
    def row: Obj =
      obj(Seq("epoch" -> epoch, "sec" -> rounded(sec, 3)) ++ wrote: _*)
  }

  /** Advance a materializer through `range`: `step(e)` runs epoch `e`
    * inside the timed window, `wrote(e)` reads what it left right after
    * (untimed — a later epoch's retirement, keep-2 grace, can sweep an
    * earlier epoch's version dirs, so the read cannot wait for the end
    * of the loop).
    */
  def epochs(name: String, range: Range)(step: Int => Unit)(
      wrote: Int => Seq[(String, Long)]): Seq[Epoch] =
    range.map { e =>
      val t0 = System.nanoTime()
      step(e)
      val ep = Epoch(e, secs(t0), wrote(e))
      println(f"[scale] $name epoch $e: ${ep.sec}%.1f s " +
        ep.wrote.map { case (k, v) => s"$k=$v" }.mkString(" "))
      ep
    }

  /** The per-op ledger: `timeOp` times one op through the noop sink
    * and records its seconds and rows, or its label in `failed`; `gate`
    * records a failed gate.
    */
  final class OpTimer(spark: SparkSession) {
    val opSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val opRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val failed = scala.collection.mutable.ListBuffer.empty[String]

    def record(label: String, sec: Double, rows: Long): Unit = {
      opSecs(label) = rounded(sec, 3)
      opRows(label) = rows
    }

    /** `ok`, after printing the verdict and, when it fails, recording
      * `label` in `failed` (the gated values are in the artifact).
      */
    def gate(ok: Boolean, label: String): Boolean = {
      println(s"[scale] gate $label pass=$ok")
      if (!ok) failed += label
      ok
    }

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
        val sec = secs(t0)
        record(label, sec, d.count()) // untimed cardinality pass
        println(f"[scale] $label: $sec%.1f s (${opRows(label)} rows)")
      } catch {
        case e: Throwable =>
          failed += label
          System.err.println(s"[scale] $label FAILED: ${e.getMessage}")
      }
    }
  }

  // ------------------------------------------------------------ corpus
  /** A scale's corpus: every table cloned `mult` times with shifted ids.
    * Documents carry `docClones` strata — (doc_id filter, copies, id
    * base) — plus the doc_id % 10 == 0 Jaccard-truth stratum: each doc
    * kept once, SALTED with 20 doc-unique tokens, and one near-dup
    * variant at `variantShift` that appends one more token. (The
    * fixture's vocabulary is tiny, so at 30x EVERY natural bigram's df
    * blows past NgramDfCap; the salt bigrams exist in exactly the
    * (orig, variant) pair and push its capped-shared Jaccard to ≈ 0.16,
    * above the 0.12 truth threshold, while raw similarity stays near 1
    * so 4x4 MinHash-LSH catches the pair w.h.p.) No strata: no
    * documents. `vectors` clones the embeddings; `tpch` clones orders
    * and lineitem with shifted orderkeys (dimension keys unchanged:
    * every customer/supplier/part key carries mult x the fact mass, a
    * deliberate fan-in stress on the macro joins) and copies the dims.
    */
  final case class Corpus(mult: Int, docClones: Seq[(Column, Int, Long)] = Nil,
      variantShift: Long = 0L, vectors: Boolean = false,
      tpch: Boolean = false)

  /** Build `c` under `dir` from the fixtures at `sf`; returns the built
    * row counts of events, documents and embeddings.
    */
  def buildCorpus(spark: SparkSession, sf: String, dir: String,
      c: Corpus): Obj = {
    def clones(df: DataFrame, id: String, n: Int, shift: Long,
        base: Long = 0L) =
      (0 until n).map(i => df.withColumn(id, col(id) + lit(base + i * shift)))
        .reduce(_ unionAll _)
    def write(df: DataFrame, table: String) =
      df.repartition(32).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    write(clones(Tables.events(spark, sf), "event_id", c.mult,
      100000L), "events")
    if (c.docClones.nonEmpty) {
      val docs = Tables.documents(spark, sf)
      val salt = concat_ws(" ", (0 until 20).map(j =>
        concat(lit("u"), col("doc_id"), lit(s"x$j"))): _*)
      val stratum = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" "), salt))
      val variant = stratum
        .withColumn("doc_id", col("doc_id") + lit(c.variantShift))
        .withColumn("text", concat(col("text"), lit(" graftvariantmark")))
      write((c.docClones.map { case (keep, n, base) =>
        clones(docs.filter(keep), "doc_id", n, 1000000L, base)
      } :+ stratum :+ variant).reduce(_ unionAll _), "documents")
    }
    if (c.vectors) write(clones(Tables.embeddings(spark, sf),
      "vec_id", c.mult, 1000000L), "embeddings")
    if (c.tpch) {
      write(clones(Tables.orders(spark, sf), "o_orderkey", c.mult,
        1000000L), "orders")
      write(clones(Tables.lineitem(spark, sf), "l_orderkey", c.mult,
        1000000L), "lineitem")
      Seq("customer", "supplier", "part", "nation", "region").foreach(t =>
        spark.read.parquet(s"$sf/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet"))
    }
    val built = obj(Seq("events" -> true, "documents" -> c.docClones.nonEmpty,
      "embeddings" -> c.vectors).collect { case (t, true) =>
      t -> spark.read.parquet(s"$dir/$t.parquet").count() }: _*)
    println(s"[scale] built ${c.mult}x: $built")
    built
  }

  // ------------------------------------------------ shared 30x/100x arms
  /** ANN: mean recall@5 of sign-bit LSH vs exact brute force, over the
    * bounded probe sample the declared `sim_recall_report` uses (at
    * most SimilarityQueries.MaxProbes — recall estimation never needs
    * every probe), gated at the ANN floor IvfSpec enforces at sf0.001
    * (0.30): scale must not erode it. Returns the gate fields and pass.
    */
  def annRecall(spark: SparkSession, dir: String,
      t: OpTimer): (Seq[(String, Any)], Boolean) = {
    val t0 = System.nanoTime()
    val row = SparkEntry.queries("sim_recall_report")(spark, dir)
      .agg(avg(col("recall")).as("r"), count(lit(1)).as("n")).head()
    t.record("sim_recall_report", secs(t0), row.getLong(1))
    val recall = row.getDouble(0)
    val pass = recall >= 0.30
    (Seq("ann_recall_at5" -> rounded(recall, 4), "ann_threshold" -> 0.30,
      "ann_pass" -> pass), pass)
  }

  // old-gen peak windows: the live-set proxy the scales record.
  // resetOldGenPeakWindow() lets a phase (the rebucket migration) read
  // ITS OWN peak — the overall number stays correct because the
  // pre-reset peak is accumulated into a floor that memory() folds
  // back in.
  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  }

  private def oldGen(p: java.lang.management.MemoryPoolMXBean) =
    p.getName.contains("Old") || p.getName.contains("Tenured")

  private val oldGenPeakFloorMb = new java.util.concurrent.atomic.AtomicLong(0)

  private def oldGenPeakNowMb: Long =
    heapPools.filter(oldGen).map(_.getPeakUsage.getUsed).sum >> 20

  /** Fold the current peak into the overall floor, then reset the JVM
    * peak counters so the next read is this window's own peak.
    */
  private def resetOldGenPeakWindow(): Unit = {
    val now = oldGenPeakNowMb
    oldGenPeakFloorMb.updateAndGet(f => math.max(f, now))
    heapPools.filter(oldGen).foreach(_.resetPeakUsage())
  }

  /** The `memory` section: old-gen peak (the live-set proxy, "does the
    * working set fit") over every window, and headroom. With `poolSum`,
    * also the per-pool peak SUM — only an upper bound: eden/survivor/old
    * peak at different instants, so the sum can legitimately exceed
    * -Xmx and must not be read as an allocation.
    */
  def memory(poolSum: Boolean): Obj = {
    val oldPeak = math.max(oldGenPeakFloorMb.get, oldGenPeakNowMb)
    val heapMax = Runtime.getRuntime.maxMemory >> 20
    val sum = oldPeak +
      (heapPools.filterNot(oldGen).map(_.getPeakUsage.getUsed).sum >> 20)
    obj(Seq("heap_max_mb" -> heapMax, "old_gen_peak_mb" -> oldPeak,
      "headroom_mb" -> (heapMax - oldPeak)) ++
      Option.when(poolSum)("pool_peak_sum_mb_upper_bound" -> sum): _*)
  }

  // ------------------------------------------------------ dup-spans LSM
  /** Dup-spans standing index (per-bucket LSM): bulk quartile epochs
    * 0-3 build the index from `docs` (doc_id, text); steady epochs 4-5
    * ingest ONE fresh doc each whose text is already indexed (delta
    * 0) — the probe must read only the batch's touched buckets' slice,
    * proven two ways: the pruned probe's input files are path-confined
    * to the touched buckets, and per-epoch delta rows sum to EXACTLY
    * the corpus's distinct gram-pair count (appends partition the
    * first-seen set). The probe-confinement pin ([[ScaleGates]]) is
    * deterministic in the steady doc's gram content. Reads
    * `dir`/documents.parquet; returns the `dup_spans` section.
    */
  def runDupSpansLsm(spark: SparkSession, t: OpTimer, dir: String,
      numBuckets: Int): Obj = {
    val (stateDir, outDir) = (s"$dir/dupspans_state", s"$dir/dupspans_out")
    clear(spark, stateDir, outDir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qs = docs.stat.approxQuantile("doc_id",
      Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
    def delta(e: Int) = s"$stateDir/delta-$e"
    val bulk = epochs("dup-spans", 0 to 3) { e =>
      val lo = if (e == 0) Long.MinValue else qs(e - 1)
      val hi = if (e == 3) Long.MaxValue else qs(e)
      StreamingDupSpans.materializer(spark, stateDir, outDir, 0, numBuckets)(
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi), e.toLong)
    } { e => Seq("delta_rows" -> dirRows(spark, delta(e)),
      "delta_bytes" -> dirBytes(spark, delta(e))) }
    val maxDupDoc = docs.agg(max(col("doc_id"))).head().getLong(0)
    val steadyDupText = docs.orderBy(col("doc_id")).limit(1).head().getString(1)
    // (sec, probe buckets, probe confined, row) per steady epoch; the
    // probe is planned outside the timed window
    val steady = (4 to 5).map { e =>
      import spark.implicits._
      val batch = Seq((maxDupDoc + e, steadyDupText)).toDF("doc_id", "text")
      val touched = StreamingDupSpans.touchedBuckets(batch, numBuckets)
      val probeConfined = confined(
        StreamingDupSpans.probeIndex(spark, stateDir, touched, numBuckets)
          .inputFiles.toSeq,
        touched)
      val t0 = System.nanoTime()
      StreamingDupSpans.materializer(spark, stateDir, outDir, 0, numBuckets)(
        batch, e.toLong)
      val sec = secs(t0)
      (sec, touched.size, probeConfined, obj("epoch" -> e,
        "sec" -> rounded(sec, 3), "delta_rows" -> dirRows(spark, delta(e)),
        "probe_buckets" -> touched.size, "probe_confined" -> probeConfined))
    }
    val deltaTotal = (0 to 5).map(e => dirRows(spark, delta(e))).sum
    val distinctPairs = StreamingDupSpans.newHashes(
      StreamingDupSpans.emptyIndex(spark), docs).count()
    val steadyConfined = steady.forall(_._3)
    val touchedMax = steady.map(_._2).max
    val pass = t.gate(deltaTotal == distinctPairs && steadyConfined &&
      ScaleGates.dupSpansProbeOk(touchedMax),
      "dupspans_materializer_o_touched_probe")
    obj("buckets" -> numBuckets,
      "epochs" -> (bulk.map(_.row) ++ steady.map(_._4)),
      "delta_rows_total" -> deltaTotal,
      "corpus_distinct_pairs" -> distinctPairs,
      "o_batch_write_pass" -> (deltaTotal == distinctPairs),
      "steady_probe_buckets_max" -> touchedMax,
      "steady_probe_confined" -> steadyConfined,
      "steady_epoch_sec_max" -> rounded(steady.map(_._1).max, 3),
      "o_touched_probe_pass" -> pass)
  }

  // ------------------------------------------------ incremental join view
  /** Incremental join view arm: bulk epoch materializes the full
    * orders ⋈ customer join, steady epochs ingest 40 orders for 8 hot
    * customers (the epoch write must be the touched buckets' slice of
    * the view, never the view), one epoch RETRACTS a customer — its
    * entire join fan-in leaves the view — and the next re-inserts it.
    * Exactness gate: sum of view multiplicities == the from-scratch
    * batch join count over everything ingested. `orders` needs
    * (o_orderkey, o_custkey, o_totalprice); `cust` needs (c_custkey,
    * c_name). Returns the `join_view` section.
    */
  def runJoinViewArm(spark: SparkSession, t: OpTimer, orders: DataFrame,
      cust: DataFrame, stateDir: String, numBuckets: Int): Obj = {
    clear(spark, stateDir)
    val hotCust = (1L to 8L).map(_ * 11 + 3) // the first is retracted
    def steadyOrders(e: Int) = {
      import spark.implicits._
      (0 until 40).map { i =>
        (90000000L + e * 1000L + i, hotCust(i % 8),
          1000.0 + i) }.toDF("o_orderkey", "o_custkey", "o_totalprice")
    }
    def view(e: Int) = s"$stateDir/view/state-$e"
    val eps = epochs("join-view", 0 to 3) { e =>
      val rb = e match {
        case 0 => cust.withColumn("s", lit(1))
        case 2 | 3 => cust.filter(col("c_custkey") === hotCust.head)
          .withColumn("s", lit(if (e == 2) -1 else 1))
        case _ => cust.limit(0).withColumn("s", lit(1))
      }
      StreamingJoinView.materializerSigned(spark, stateDir, Seq("o_custkey"),
        Seq("c_custkey"), Some("s"), Some("s"), numBuckets)(
        (if (e == 0) orders else steadyOrders(e)).withColumn("s", lit(1)), rb,
        e.toLong)
    } { e => Seq("view_rows_written" -> dirRows(spark, view(e)),
      "view_bytes_written" -> dirBytes(spark, view(e)),
      "view_buckets_touched" -> bucketsTouched(spark, view(e))) }
    val steadyRows = eps(1)("view_rows_written")
    val standing = StreamingJoinView.view(spark, stateDir)
    val mass = standing.agg(sum(col("__m"))).head().getLong(0)
    val truth = (1 to 3).map(steadyOrders).foldLeft(orders)(_ unionByName _)
      .join(cust, col("o_custkey") === col("c_custkey")).count()
    val viewRows = standing.count()
    val pass = t.gate(steadyRows > 0 && steadyRows < viewRows / 4 &&
      mass == truth, "join_view_materializer")
    obj("buckets" -> numBuckets, "epochs" -> eps.map(_.row),
      "view_rows" -> viewRows, "view_mass" -> mass, "batch_join_rows" -> truth,
      "steady_epoch_rows" -> steadyRows, "parity_pass" -> (mass == truth),
      "o_touched_pass" -> pass)
  }

  // -------------------------------------------------- streaming novelty
  /** Streaming novelty arm: bulk epoch folds the whole dup-saturated
    * corpus into the standing gram census, steady epochs ingest 8
    * cloned docs — every clone gram hits the census, so the epoch
    * exercises the RETRACTION path (owners of still-novel grams lose
    * them) at O(batch grams + touched buckets), and the standing table
    * must equal the batch txt_novelty restatement over everything
    * ingested. Reads `dir`/documents.parquet; gates parity and (r15
    * verdict item 5: the slowest ungated steady bar) the steady epoch —
    * losing the O(batch + touched) retraction path re-reads the whole
    * census per epoch. Returns the `novelty` section.
    */
  def runNoveltyArm(spark: SparkSession, t: OpTimer, dir: String,
      numBuckets: Int): Obj = {
    val stateDir = s"$dir/novelty_state"
    clear(spark, stateDir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val steady = trickle(docs, "doc_id")
    val eps = epochs("novelty", 0 to 2) { e =>
      StreamingNovelty.materializer(spark, stateDir,
        numBuckets)(if (e == 0) docs else steady(e), e.toLong)
    }(_ => Nil)
    val steadySecMax = eps.drop(1).map(_.sec).max
    val truth = {
      val grams = docs.unionByName(steady(1)).unionByName(steady(2))
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
      grams.join(dfc, Seq("gh1", "gh2")).groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfc") === 1, 1L).otherwise(0L)).as("n_novel"))
    }
    val got = StreamingNovelty.novelty(spark, stateDir)
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
    val diff = got.unionByName(truth).distinct().count() * 2 -
      got.count() - truth.count()
    t.gate(diff == 0 && steadySecMax > 0, "streaming_novelty")
    val steadyPass = t.gate(ScaleGates.noveltySteadyOk(steadySecMax),
      "novelty_steady_regression")
    obj("buckets" -> numBuckets, "epochs" -> eps.map(_.row),
      "steady_epoch_sec_max" -> rounded(steadySecMax, 3),
      "steady_gate_sec" -> ScaleGates.NoveltySteadyMaxSec,
      "steady_gate_pass" -> steadyPass, "parity_pass" -> (diff == 0))
  }

  // ------------------------------------------------- CDC → IVM pipeline
  /** The IVM arm's gate inputs and its `cdc_ivm_e2e` section. */
  final case class IvmResult(steadyOverheadSec: Double, rippleSecMax: Double,
      repGot: Long,
      parityPass: Boolean,
      migrationOldGenPeakMb: Option[Long],
      section: Obj)

  /** CDC → IVM end-to-end: ONE real readStream drives replay → enrich
    * → versioned replica → signed retraction deltas → signed rollup
    * AND a 3-way join-view cascade (deltas ⋈ event-type dim ⋈ category
    * dim): `bulk` = max(4, migrationWaves) bulk epochs, then a dim
    * retraction at epoch `bulk` rippling through the cascade and
    * re-inserting at `bulk` + 1; the next four are facts-only (8 rows)
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
    * advances. The section's `buckets` is the count the bulk epochs ran
    * at; with a migration, the steady epochs' count is in the
    * `migration` object and `buckets_steady`.
    */
  def runIvmE2E(spark: SparkSession, dir: String,
      numBuckets: Int, migrateTo: Option[Int] = None,
      migrationWaves: Int = 1, parityGroups: Int = 1): IvmResult = {
    val ivmFeed = s"$dir/ivm_feed"
    val ivmCkpt = s"$dir/ivm_ckpt"
    // with `migrateTo` set, the bulk epochs run at `numBuckets`, the
    // stream is stopped after the last of them, every standing state is
    // migrated to `migrateTo` buckets via ExactlyOnce.rebucketState into
    // its `_rb` dir (the deployment shape of the bucket-sizing lever:
    // stop, migrate, repoint, resume from checkpoint), and the
    // steady/ripple epochs run against the migrated dirs
    var rb = ""
    def state(name: String) = s"$dir/ivm_$name$rb"
    clear(spark, Seq(ivmFeed, ivmCkpt) ++ Seq("replica", "rollup", "view1",
      "view2").flatMap(n => Seq(state(n), s"${state(n)}_rb")): _*)
    val evAll = spark.read.parquet(s"$dir/events.parquet")
    // one bulk part file per bulk epoch (the file replay paces one file
    // per micro-batch); steady epochs append fresh files below. A
    // migration fences its waves at epochs frontier-waves+1..frontier,
    // so the frontier must be at least waves - 1. Split on event_id, not
    // round robin, so each bulk epoch holds the same rows in every run
    val bulk = math.max(4, migrationWaves)
    evAll.repartition(bulk, col("event_id")).write.mode("overwrite")
      .parquet(s"$ivmFeed/events.parquet")
    val steadyEvents = trickle(evAll, "event_id")
    // dims, pinned to the driver (tiny): event_type (raw AND its
    // truncated form — before-images keep raw, after-images truncate)
    // -> category; category -> boost
    val truncEt = expr("CASE WHEN length(event_type) >= 6 THEN " +
      "substring(event_type, 1, 6) ELSE event_type END")
    val dim1Rows = evAll.select(col("event_type").cast("string"))
      .unionByName(evAll.select(truncEt.cast("string").as("event_type")))
      .distinct().select(col("event_type").as("d_et"),
        upper(col("event_type").substr(1, 1)).as("category"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dim2Rows = dim1Rows.map(_._2).distinct.sorted
      .map(c => (c, (c.length + 1).toLong))
    val retCat = dim1Rows.map(_._2).distinct.sorted.head
    def dim1Df(rows: Seq[(String, String)], s: Int) = spark
      .createDataFrame(rows).toDF("d_et", "category").withColumn("s", lit(s))
    def dim2Df(rows: Seq[(String, Long)], s: Int) = spark
      .createDataFrame(rows).toDF("cat2", "boost").withColumn("s", lit(s))
    def narrowDeltas(enr: DataFrame) = CdcDeltas
      .signedDeltas(enr).select(col("image").getItem("event_type")
        .as("event_type"), col("image").getItem("value").as("value"),
        col("sign"))
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
      val enr = CdcEnrichment.enrichMySql(batch.select(col("value")).as[String],
        CdcQueries.config).toDF().persist(MEMORY_AND_DISK)
      val deltas = narrowDeltas(enr).persist(MEMORY_AND_DISK)
      try {
        // no serial head counts: the forked consumers fill the enr and
        // deltas caches on first touch (Spark serializes racing
        // partition computation), so the two counts were pure barrier
        // cost; the artifact row count reads the warm cache after the
        // fork
        val d1 = id match {
          case 0 => dim1Df(dim1Rows, 1)
          case r if r == bulk || r == bulk + 1 => dim1Df(
            dim1Rows.filter(_._2 == retCat), if (id == bulk) -1 else 1)
          case _ => dim1Df(Nil, 1)
        }
        val d2 = dim2Df(if (id == 0) dim2Rows else Nil, 1)
        Concurrent.all[Any](spark)(
          () => CdcApply.materializerVersioned(spark, state("replica"),
            buckets)(enr, id),
          () => StreamingRollup.materializerSigned(spark, state("rollup"),
            Seq("event_type"), Seq("v_sum" -> "value"), "sign", buckets)(
            deltas, id),
          () => {
            // the downstream handoff pre-computes jv2's left bucket set
            // inside jv1's prepare (materializing inc1's cache there),
            // so jv2 pays no probe job on the serial path
            val (inc1, jv2Left, commit1) = StreamingJoinView
              .materializerSignedCascade(spark, state("view1"),
                Seq("event_type"), Seq("d_et"), Some("sign"), Some("s"),
                buckets, downstream = Some((Seq("category"), buckets)))(
                deltas, d1, id)
            Concurrent.both(spark)(commit1(), {
              val inc2 = StreamingJoinView.materializerSigned(spark,
                state("view2"), Seq("category"), Seq("cat2"), Some("__m"),
                Some("s"), buckets, precomputedLeft = jv2Left)(inc1, d2, id)
              if (id == bulk) // the retraction rippled: negative rows
                rippleNegRows = inc2.filter(col("__m") < 0).count()
            })
          })
        // the row count is artifact bookkeeping, not pipeline work: it
        // reads the cache the forked consumers already filled
        epochSecs += ((id, secs(t0), enr.count()))
      } finally { deltas.unpersist(); enr.unpersist() }
      ()
    }
    def startQ() = CdcReplay.stream(spark, ivmFeed)
      .writeStream.option("checkpointLocation", ivmCkpt)
      .foreachBatch(ivmBody).start()
    var ivmQ = startQ()
    ivmQ.processAllAvailable() // bulk epochs 0..bulk-1
    // (section, old-gen window peak MB) of the migration, when one runs
    val migration = migrateTo.map { nb =>
      // the bucket-sizing lever END TO END, in the shape a deployment
      // runs it: STOP the query at its committed frontier (bulk - 1),
      // migrate every standing state to nb buckets via rebucketState
      // (its waves fenced at epochs up to the frontier — so a resumed
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
      // (state, sub dir, key column) of every standing state
      val moves =
        Seq(("replica", "", "partitionKey"), ("rollup", "", "__gkey")) ++
        Seq("view1", "view2").flatMap(v => Seq("left", "right", "view")
          .map(c => (v, s"/$c", "__jkey")))
      moves.foreach { case (n, sub, key) =>
        require(ExactlyOnce.rebucketState(spark, state(n) + sub,
          s"${state(n)}_rb$sub", key, nb, batchId = bulk - 1L,
          waves = migrationWaves), s"migration of ${state(n)}$sub fenced")
      }
      val migSec = secs(t0)
      val peakMb = oldGenPeakNowMb
      resetOldGenPeakWindow()
      rb = "_rb"
      buckets = nb
      ivmQ = startQ()
      ivmQ.processAllAvailable() // no new data: resume is a no-op
      (obj("after_epoch" -> (bulk - 1), "from_buckets" -> numBuckets,
        "to_buckets" -> nb,
        "states_migrated" -> moves.size, "waves" -> migrationWaves,
        "sec" -> rounded(migSec, 3), "old_gen_peak_mb" -> peakMb), peakMb)
    }
    // epoch bulk: steady facts + dim retraction; bulk + 1: steady facts
    // + dim re-insert; then four facts-only (no dim change) — THESE are
    // the near-empty epochs whose mean is the pipeline's fixed overhead;
    // the two ripple epochs carry a real dim-retraction ripple
    // (thousands of signed rows through the cascade) on top of it and
    // are reported separately.
    // FOUR samples: the steady average is the graded floor metric, and
    // with two samples a single host hiccup swings the mean by 25%+
    (bulk to bulk + 5).foreach { e =>
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
    val enrAll = {
      implicit val ss: SparkSession = spark
      import spark.implicits._
      durable(CdcEnrichment.enrichMySql(CdcReplay.batch(spark, ivmFeed)
        .as[String], CdcQueries.config).toDF(), enrPath)
    }
    // replica parity PER BUCKET GROUP (r16 verdict item 2): the state is
    // already bucketed, so the verifier restates one dst-bucket group at
    // a time — (count, order-free content hash) per group, live side
    // read bucket-pruned — and its working set obeys the same
    // O(state/groups) rule the wave migration bounded the migrator to.
    // Strictly STRONGER than a single total-count parity: a same-count
    // content difference, or rows parked in the wrong bucket, fails the
    // group they land in.
    val groupCount = math.max(1, parityGroups)
    val contentHash = xxhash64(col("partitionKey"), col("ts_ms"),
      col("pos"), to_json(map_from_entries(
        array_sort(map_entries(col("after"))))))
    def replicaSig(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(contentHash.cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    // (live, restated) signature per group
    val groups = (0 until groupCount).map { g =>
      val groupBuckets = (0 until buckets).filter(_ % groupCount == g).toSet
      val got = replicaSig(
        ExactlyOnce.currentStateBuckets(spark, state("replica"),
          groupBuckets, expectedBuckets = Some(buckets))(
          CdcApply.emptyVersioned(spark))
          .filter(!col("deleted")).drop("deleted"))
      val want = replicaSig(CdcApply.applyBatchVersioned(
          CdcApply.emptyVersioned(spark),
          enrAll.filter(ExactlyOnce
            .bucketOf("partitionKey", buckets) % lit(groupCount) === lit(g)))
          .filter(!col("deleted")).drop("deleted"))
      if (got != want)
        println(s"[scale] ivm-e2e replica parity MISMATCH in bucket group" +
          s" $g/$groupCount: live $got vs restated $want")
      (got, want)
    }
    val repGot = groups.map(_._1._1).sum
    val repWant = groups.map(_._2._1).sum
    val repHashMatch = groups.forall(g => g._1 == g._2)
    val deltasAll = narrowDeltas(enrAll)
    def triples(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val rollGot = triples(StreamingRollup
      .rollup(spark, state("rollup"), Seq("event_type"))
      .select(col("event_type"), col("n"), col("v_sum").cast("double")))
    val rollWant = triples(deltasAll.groupBy(col("event_type"))
      .agg(sum(col("sign").cast("long")).as("n"),
        sum(col("sign").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .filter(col("n") =!= 0))
    val netFact = deltasAll.groupBy(col("event_type"), col("value"))
      .agg(sum(col("sign").cast("long")).as("m")).filter(col("m") =!= 0)
    val cascadeWant = netFact
      .join(dim1Df(dim1Rows, 1).drop("s"), col("event_type") === col("d_et"))
      .join(dim2Df(dim2Rows, 1).drop("s"), col("category") === col("cat2"))
      .agg(coalesce(sum(col("m")), lit(0L))).head().getLong(0)
    val cascadeGot = StreamingJoinView.view(spark, state("view2"))
      .agg(coalesce(sum(col("__m")), lit(0L))).head().getLong(0)
    clear(spark, enrPath)
    // fixed overhead = the facts-only near-empty epochs; the dim-ripple
    // epochs (bulk, bulk + 1) do real incremental work (the cascade
    // re-derives every standing row of the retracted category) and
    // get their own ceiling so neither number hides in the other
    val steady = epochSecs.filter(t => t._3 <= 16 && t._1 >= bulk + 2)
    val steadyOverheadSec =
      if (steady.isEmpty) -1.0 else steady.map(_._2).sum / steady.size
    val rippleSecMax = epochSecs
      .filter(t => t._1 == bulk || t._1 == bulk + 1).map(_._2)
      .maxOption.getOrElse(-1.0)
    val parityPass = repGot == repWant && repHashMatch &&
      rollGot == rollWant && cascadeGot == cascadeWant && rippleNegRows > 0
    val section = obj(Seq("buckets" -> numBuckets) ++
      migration.toSeq.flatMap(m => Seq("migration" -> m._1,
        "buckets_steady" -> buckets)) ++ Seq(
      "epochs" -> epochSecs.map { case (e, sec, n) => obj("epoch" -> e,
        "sec" -> rounded(sec, 3), "rows" -> n,
        "rows_per_sec" -> math.round(n / sec)) },
      "replica_live_rows" -> repGot, "replica_batch_restatement" -> repWant,
      "parity_groups" -> groupCount, "replica_hash_match" -> repHashMatch,
      "rollup_groups" -> rollGot.size, "rollup_parity" -> (rollGot == rollWant),
      "cascade_mass" -> cascadeGot, "cascade_batch_restatement" -> cascadeWant,
      "ripple_neg_rows" -> rippleNegRows,
      "ripple_epoch_sec_max" -> rounded(rippleSecMax, 3),
      "steady_overhead_sec" -> rounded(steadyOverheadSec, 3),
      "parity_pass" -> parityPass): _*)
    IvmResult(steadyOverheadSec, rippleSecMax, repGot, parityPass,
      migration.map(_._2), section)
  }
}
