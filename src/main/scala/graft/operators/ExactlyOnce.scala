package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Exactly-once delivery machinery (SURVEY §7 hard part 1).
  *
  * Flink's Kafka sink reaches exactly-once with transactional two-phase
  * commit tied to checkpoints (reference `DeliveryGuarantee.EXACTLY_ONCE`,
  * MySQLCDC2AWSMSK.scala:187, txn timeout 900 s :178). Spark's Kafka
  * sink is at-least-once: a failed micro-batch is REPLAYED, so the same
  * (batchId, row) set can be produced twice.
  *
  * The Spark-native strategies, in preference order:
  *
  *  1. **Idempotent downstream** (reference README.md:33 itself
  *     recommends at_least_once + dedup): every record carries
  *     `partitionKey`; a keyed consumer collapses duplicates. On the
  *     lake side that consumer is [[CdcApply]], whose last change per
  *     key makes a replayed batch a no-op. This is the default.
  *  2. **Transactional producer inside foreachBatch**
  *     ([[foreachBatchTransactionalKafka]]): `foreachBatch` exposes a
  *     stable `batchId` per epoch, and a committed-epoch ledger makes
  *     the write idempotent (the two-phase-commit shape, with the ledger
  *     as the commit marker) around per-partition transactional
  *     producers behind the [[TxnProducer]] seam (the real deployment
  *     plugs in kafka-clients' `KafkaProducer` with
  *     `transactional.id = s"$group-$partitionId"`,
  *     initTransactions/commitTransaction — Flink's KafkaSink uses the
  *     same per-subtask-producer design). The epoch ledger fences
  *     replays; an epoch that crashed mid-send has no commit marker, so
  *     the replay re-runs every partition's transaction and the aborted
  *     first attempt stays invisible to `read_committed` consumers.
  */
object ExactlyOnce {

  /** Minimal transactional-producer surface — what the fencing state
    * machine needs from kafka-clients' KafkaProducer. Instantiated PER
    * input partition on the executor (transactions are per-producer, so
    * atomicity is per partition — the same granularity as Flink's
    * per-subtask producers).
    */
  trait TxnProducer extends Serializable {
    def beginTransaction(): Unit
    /** One ProducerRecord: topic, partition (-1 = let the broker's
      * partitioner choose), key and value bytes. Null key or value are
      * legal Kafka records (unkeyed produce, tombstones).
      */
    def sendRecord(topic: String, partition: Int,
        key: Array[Byte], value: Array[Byte]): Unit
    def commitTransaction(): Unit
    def abortTransaction(): Unit
    def close(): Unit
  }

  /** Producers that can recover broker-side transaction state — the
    * piece that closes the commit-vs-marker residual window (round-3
    * verdict item 6). The real binding: a producer re-created with the
    * SAME `transactional.id` can finish its predecessor's transaction
    * idempotently (Flink's KafkaCommitter recovery path — resume the
    * checkpointed transaction, call commit, and treat "already
    * committed" responses as success; kafka-clients exposes this
    * through initTransactions + the idempotent commit of a resumed
    * transaction).
    *
    * The transactional identity MUST be scoped to the epoch, not just
    * the partition: the factory receives `batchId` precisely so the id
    * is `s"$group-txn-$batchId-$partitionId"`. With an id stable across
    * epochs, the broker's "last transaction committed" state persists
    * past the epoch that produced it, so after epoch N commits, epoch
    * N+1's first (normal, non-crashed) task would probe true, skip all
    * of its sends, and still write its marker — silent data loss for
    * every epoch after the first. Epoch-scoped ids are exactly Flink's
    * per-checkpoint transactional.id rotation; Kafka's zombie fencing
    * still applies between attempts of the SAME epoch, which is the
    * only place two live producers can share an id.
    */
  trait RecoverableTxnProducer extends TxnProducer {
    /** Resume this `transactional.id`'s previous transaction, if any,
      * and drive it to COMMITTED idempotently. Returns true when a
      * prior attempt's transaction is now committed — its records are
      * visible to `read_committed` consumers, so the replaying task
      * must NOT re-send — false when no prior transaction committed
      * (it aborted, or never began): the replay owns a clean slate and
      * sends normally. Because the id carries the epoch, "prior
      * attempt" can only mean a prior attempt of THIS epoch — a
      * previous epoch's committed transaction lives under a different
      * id and can never fence this one.
      */
    def resumeAndCommit(): Boolean
  }

  private def stateFs(spark: SparkSession, dir: String) =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** The epoch ledger: the one place that decides how an epoch is
    * fenced, committed and folded, for every fenced writer and reader in
    * this object. A ledger is a directory of marker files — a state
    * dir's `_ledger`, or the path the transactional produce is given.
    * Its vocabulary:
    *
    *   - `epoch-N`: epoch N committed. Empty for the produce; a
    *     bucketed writer stores the epoch's touched-bucket
    *     list in it (the reader's bucket->epoch index);
    *   - `epoch-N.part-P`: partition P of epoch N committed its
    *     transaction (the transactional produce's per-partition fence);
    *     deleted once epoch N is sealed;
    *   - `hwm-N`: every epoch `<= N` committed. The fold's fence: the
    *     markers it subsumes are deleted, so listings stay O(live
    *     state), not O(total epochs ever). Sound because foreachBatch
    *     epochs commit in order — a committed epoch implies every lower
    *     epoch committed before it;
    *   - `owners-N`: bucket -> owning epochs at or below N, the folded
    *     form of the bucketed markers' bucket lists;
    *   - `buckets-B`: the pinned bucket fan-out (see [[pin]]);
    *   - `compact-N`: the append-only LSM's `base-N` is committed;
    *   - `migsrc-<uuid>` and `migparams-<batchId>-<waves>`: a rebucket
    *     migration's provenance and its parameter pin;
    *   - `<name>.tmp`: a commit in flight, or a crash orphan — never
    *     read, swept by the next fold;
    *   - anything else: an operator tag (the packed-key codec stamp).
    *
    * The rules, stated once: a fence accepts the epoch's marker OR a
    * covering `hwm`; a commit is tmp+rename, so a name is absent or
    * complete, never visibly truncated; a fold writes the `hwm` before
    * it deletes anything, so fencing never weakens mid-fold; every
    * operation pays ONE listing (r9 verdict item 1: the chained IVM
    * pipeline advances up to eight states per epoch, and each extra
    * listing or content read was fixed cost — a billable RPC on an
    * object store). Two caches make re-reads free:
    *
    *   - content: ledger files are write-once, so parsed content is
    *     cached JVM-wide keyed by (path, length, mtime) — a file
    *     re-created in place (a test rebuilding a state dir) changes its
    *     mtime/len and misses;
    *   - owners: the bucket->epochs map is memoized against the full
    *     listing's (name, len, mtime) signature, so consecutive reads of
    *     an unchanged ledger (the fence probe, the state read, and the
    *     retirement sweep of one epoch; every epoch of an idle stream)
    *     parse it once. Correct under the single-writer invariant AND
    *     under foreign writers: any change to the ledger changes the
    *     signature, which is re-listed every call.
    */
  private final class Ledger(fs: FileSystem, val dir: Path) {
    import Ledger._

    private def path(name: String) = new Path(dir, name)

    def list(): Seq[FileStatus] =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }

    def names(): Seq[String] = list().map(_.getPath.getName)

    def fenced(batchId: Long): Boolean = Ledger.fenced(names(), batchId)

    /** The transactional produce's per-partition fence: partition `pid`
      * of `batchId` committed, or the whole epoch did.
      */
    def partFenced(batchId: Long, pid: Int): Boolean = {
      val ns = names()
      ns.contains(part(batchId, pid)) || Ledger.fenced(ns, batchId)
    }

    /** Write `name` with `body` via tmp then rename. Names are
      * write-once: a destination that already exists is an earlier
      * commit of the same fact and stands (a store whose rename refuses
      * to replace it — the healing replay of a cutover fence — is not an
      * error).
      */
    def commit(name: String, body: String = ""): Unit = {
      val tmp = path(s"$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, path(name))) {
        fs.delete(tmp, false)
        if (!fs.exists(path(name)))
          sys.error(s"ledger commit failed for $name under $dir")
      }
    }

    def delete(name: String): Unit = fs.delete(path(name), false)

    /** Fold every epoch marker at or below `upTo` into the fence. The
      * `hwm` lands FIRST (an existing higher one stands), then a
      * bucketed ledger's `owners` snapshot (an empty body: no bucket
      * owner at or below `upTo` survives, nothing to write), and only
      * then are the subsumed markers, older fences and snapshots, and
      * `.tmp` files deleted — a crash anywhere leaves both the folded
      * view and the markers it subsumes, which fences and readers merge
      * idempotently. `names` is the caller's one listing: the single
      * writer's view of the ledger, in which any `.tmp` is a crash
      * orphan (the writer's own commits finished their renames).
      */
    def fold(names: Seq[String], upTo: Long,
        owners: Option[String] = None): Unit = {
      val fence = (highWater(names).toSeq :+ upTo).max
      if (!names.contains(hwm(fence))) commit(hwm(fence))
      owners.filter(_.nonEmpty).foreach { body =>
        if (!names.contains(s"owners-$upTo")) commit(s"owners-$upTo", body)
      }
      names.foreach {
        case n @ EpochRe(e) if e.toLong <= upTo => delete(n)
        case n @ HwmRe(e) if e.toLong < fence => delete(n)
        case n @ OwnersRe(e) if owners.isDefined && e.toLong < upTo => delete(n)
        case n if n.endsWith(".tmp") => delete(n)
        case _ => ()
      }
    }

    /** Commit epoch `batchId` of an unbucketed ledger (the transactional
      * produce) and fold below it: its own part markers and any
      * stale ones at or below it go, and the markers under it fold into
      * the `hwm`.
      */
    def seal(batchId: Long): Unit = {
      commit(epoch(batchId))
      val ns = names()
      ns.foreach {
        case n @ PartRe(e, _) if e.toLong <= batchId => delete(n)
        case _ => ()
      }
      epochs(ns).filter(_ < batchId).maxOption.foreach(fold(ns, _))
    }

    /** The bucket-count pin: the hash fan-out is structural (a key's
      * bucket must be stable across every epoch and reader), so the
      * first epoch records it and later epochs fail fast on a mismatch
      * instead of silently splitting keys across incompatible layouts.
      */
    def pin(names: Seq[String], numBuckets: Int): Unit =
      pinned(names) match {
        case Some(b) if b != numBuckets => sys.error(
          s"state at ${dir.getParent} is bucketed $b ways; refusing " +
            s"to advance it $numBuckets ways (keys would change buckets)")
        case Some(_) => ()
        case None => commit(s"buckets-$numBuckets")
      }

    /** bucket -> owning epochs, newest first, from one listing: the
      * newest `owners-<E>` snapshot plus every epoch marker above E.
      * Memoized against the listing's signature (see the cache note
      * above), so repeated derivations within and across epochs of an
      * unchanged ledger cost nothing beyond the listing itself.
      */
    def owners(sts: Seq[FileStatus]): Map[Int, Seq[Long]] = {
      if (sts.isEmpty) return Map.empty
      val sig = sts.map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
      val cached = ownersCache.get(dir.toString)
      if (cached != null && cached._1 == sig) return cached._2
      val byName = sts.map(s => s.getPath.getName -> s).toMap
      val snapMax = byName.keys.collect { case OwnersRe(e) => e.toLong }.maxOption
      val snap: Map[Int, Seq[Long]] = snapMax match {
        case None => Map.empty
        case Some(e) =>
          text(byName(s"owners-$e"))
            .split('\n').filter(_.nonEmpty).map { line =>
              val Array(b, es) = line.split(':')
              b.toInt -> es.split(',').filter(_.nonEmpty)
                .map(_.toLong).toSeq
            }.toMap
      }
      val live = epochs(byName.keys.toSeq)
        .filter(e => snapMax.forall(e > _)).sorted
      val merged = live.foldLeft(snap) { (acc, e) =>
        val bs = text(byName(epoch(e)))
          .split(',').filter(_.nonEmpty).map(_.toInt)
        bs.foldLeft(acc)((m, b) =>
          m.updated(b, (e +: m.getOrElse(b, Nil)).distinct))
      }
      ownersCache.put(dir.toString, (sig, merged))
      merged
    }

    private def text(st: FileStatus): String = {
      val key = s"${st.getPath}@${st.getLen}:${st.getModificationTime}"
      val hit = contentCache.get(key)
      if (hit != null) hit
      else {
        // bound the cache: markers retire continuously, so stale keys
        // accumulate over an unbounded run — a full clear every 8k
        // entries costs one re-read burst, never correctness
        if (contentCache.size > 8192) contentCache.clear()
        val in = fs.open(st.getPath)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        contentCache.put(key, txt)
        txt
      }
    }
  }

  private object Ledger {
    def apply(spark: SparkSession, stateDir: String): Ledger =
      at(s"$stateDir/_ledger", spark.sparkContext.hadoopConfiguration)

    def at(path: String, conf: org.apache.hadoop.conf.Configuration): Ledger = {
      val p = new Path(path)
      new Ledger(p.getFileSystem(conf), p)
    }

    def epoch(n: Long): String = s"epoch-$n"
    def part(n: Long, pid: Int): String = s"epoch-$n.part-$pid"
    def hwm(n: Long): String = s"hwm-$n"
    def compact(n: Long): String = s"compact-$n"
    def provenance(srcDir: String): String =
      "migsrc-" + java.util.UUID.nameUUIDFromBytes(
        srcDir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    def migParams(batchId: Long, waves: Int): String =
      s"migparams-$batchId-$waves"

    // Tolerant parse: a name counts only in its exact shape (so an
    // `epoch-N.part-P` sibling is not an epoch marker) — anything else
    // in the dir is ignored rather than crashing state reads.
    private val CommitRe = "^(?:epoch|hwm|owners|compact)-\\d+$".r
    private val EpochRe = "^epoch-(\\d+)$".r
    private val PartRe = "^epoch-(\\d+)\\.part-(\\d+)$".r
    private val HwmRe = "^hwm-(\\d+)$".r
    private val OwnersRe = "^owners-(\\d+)$".r
    private val CompactRe = "^compact-(\\d+)$".r
    private val BucketsRe = "^buckets-(\\d+)$".r
    private val MigParamsRe = "^migparams-(\\d+)-(\\d+)$".r

    def epochs(names: Seq[String]): Seq[Long] =
      names.collect { case EpochRe(e) => e.toLong }
    def compacts(names: Seq[String]): Seq[Long] =
      names.collect { case CompactRe(e) => e.toLong }
    def highWater(names: Seq[String]): Option[Long] =
      names.collect { case HwmRe(e) => e.toLong }.maxOption
    def pinned(names: Seq[String]): Option[Int] =
      names.collectFirst { case BucketsRe(b) => b.toInt }
    def migrations(names: Seq[String]): Seq[(Long, Int)] =
      names.collect { case MigParamsRe(b, w) => (b.toLong, w.toInt) }

    def fenced(names: Seq[String], batchId: Long): Boolean =
      highWater(names).exists(batchId <= _) || names.contains(epoch(batchId))

    /** Some epoch committed: a marker, a fence, or a fold of them. */
    def committed(names: Seq[String]): Boolean = names.exists(CommitRe.matches)

    /** Names the protocol owns; every other name is an operator tag. */
    def structural(name: String): Boolean =
      CommitRe.matches(name) || PartRe.matches(name) ||
        name.endsWith(".tmp") ||
        Seq("buckets-", "migsrc-", "migparams-").exists(name.startsWith)

    private val contentCache =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val ownersCache = new java.util.concurrent.ConcurrentHashMap[
      String, (String, Map[Int, Seq[Long]])]()
  }

  // -------------------------------------------------------------------
  // Bucketed versioned state — the O(touched-buckets) epoch protocol of
  // the foreachBatch materializers (CDC replica MERGE, SCD2 history
  // MERGE). The state is hash-bucketed on its key: epoch `e` writes
  // `state-<e>/__bucket=<b>` for ONLY the buckets its batch touches,
  // and the epoch marker records that bucket list, so a bucket's
  // current content lives at the NEWEST committed epoch that touched
  // it. This mirrors MERGE INTO file pruning on a lake table: an epoch
  // rewrites the files its keys land in, never the whole table. The
  // crash windows inherit the single-marker reasoning:
  //
  //   - crash after some bucket writes, before the marker → every new
  //     bucket dir is an uncommitted orphan (the marker is what makes
  //     an epoch's buckets visible); the replayed epoch's Overwrite
  //     clears them and then commits;
  //   - content-bearing ledger files (markers carry the bucket list,
  //     owners snapshots carry the bucket index) land via tmp+rename,
  //     so a crash mid-write leaves an invisible `.tmp`, never a
  //     visible-but-truncated commit point;
  //   - crash after the marker, before retirement → superseded bucket
  //     versions linger; readers resolve per-bucket newest, the next
  //     epoch's retirement sweep removes them;
  //   - retirement keeps the TWO newest versions of each bucket (a
  //     one-epoch grace window, so a reader that resolved state while
  //     epoch N commits can finish scanning N-1's files);
  //   - every retirement folds all but the newest marker into an
  //     `owners-<E>` snapshot (bucket -> owning epochs) plus the
  //     `hwm-<E>` fence — ownership and fencing are SEPARATE, so a
  //     cold bucket owned by an ancient epoch never blocks the fold
  //     and ledger listings stay O(1) files / O(buckets) content over
  //     an unbounded stream;
  //   - a read failure of a committed bucket PROPAGATES — never
  //     conflated with the genuinely-empty before-first-commit state.
  // -------------------------------------------------------------------

  private def bucketExpr(keyCol: String, numBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")

  /** The protocol's key→bucket map, public so a co-bucketed caller (the
    * join-view materializer keeps three states on the SAME key) can
    * compute touched buckets with the exact formula the state writer
    * uses — any drift would silently split keys across layouts.
    */
  def bucketOf(keyCol: String, numBuckets: Int): Column =
    bucketExpr(keyCol, numBuckets)

  /** An empty frame of `schema`: what a materializer hands the
    * protocol as its `empty` state, and what a reader returns before
    * anything committed.
    */
  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private val StateDirRe = "^state-(\\d+)$".r
  private val BucketDirRe = "^__bucket=(\\d+)$".r

  /** bucket -> owning epochs, newest first (see [[Ledger.owners]]).
    * Bounded retry covers the one benign race — a concurrent
    * retirement folding a listed marker between listStatus and open.
    */
  private def bucketOwners(spark: SparkSession,
      stateDir: String): Map[Int, Seq[Long]] = {
    val ledger = Ledger(spark, stateDir)
    def attempt(left: Int): Map[Int, Seq[Long]] =
      try ledger.owners(ledger.list())
      catch { case _: java.io.FileNotFoundException if left > 1 => attempt(left - 1) }
    attempt(3)
  }

  /** Per-advance phase timing behind `spark.graft.state.timing=true` —
    * the attribution instrument for the chained-materializer fixed
    * cost (drive it on one query with `SPARK_GRAFT_CONF=
    * spark.graft.state.timing=true runMain graft.Explain <query> <dir>
    * <reps>`).
    */
  private def phaseTimed[T](spark: SparkSession, tag: String)(f: => T): T =
    if (!spark.conf.getOption("spark.graft.state.timing").contains("true")) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[state-timing] $tag ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** The state's on-disk schema as last written or inferred in this
    * JVM — keyed by stateDir and refreshed on every write, so the
    * writer's reads skip parquet footer inference (the schema is
    * protocol-stable across epochs: the first advance may widen
    * aggregate types — e.g. sum over decimal — and every later epoch
    * reproduces that widened shape). Write-path only: cross-JVM
    * readers still infer, because only the single writer can know the
    * dir was not rebuilt underneath the cache.
    */
  private val stateSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** A caller's own touched-bucket probe, handed to
    * [[advanceStateBucketed]] in place of the protocol's: `buckets` is
    * a SUPERSET of the batch's actual bucket set, and `narrow` states
    * whether the batch is small enough to write without the clustering
    * exchange (the width the protocol's own probe measures).
    */
  final case class Touched(buckets: Set[Int], narrow: Boolean)

  /** One bucketed epoch: fold `batch` into the keyed state at
    * `stateDir`, writing ONLY the buckets the batch touches — per-epoch
    * write cost O(touched buckets' state + batch), never O(history).
    *
    * `advance(current, cluster)` receives the touched buckets' current
    * rows (or `empty` before any commit) and must return those
    * buckets' full next content — true for any per-key merge (its
    * output keys are a subset of input-state keys ∪ batch keys, all in
    * touched buckets) — with a `__bucket` column. `cluster` is the
    * protocol's clustering step: it tags `__bucket` ([[bucketOf]] on
    * `keyCol`) and, when the protocol clusters this epoch, hash-
    * repartitions on it into min(numBuckets, touched) partitions, so
    * each bucket lands in O(1) files instead of (tasks × buckets)
    * fragments. A keyed merge applies it to its merge input and groups
    * on (`__bucket`, key): a hash partitioning on a subset of the
    * grouping keys satisfies the aggregate's distribution, so merge and
    * clustering share ONE exchange (the r13 30× IVM profile measured
    * exchange count, not bucket volume, as the steady-epoch floor). Any
    * other advance applies it to its output.
    *
    * The protocol clusters when the epoch is not near-empty: more than
    * 4 touched buckets, or a wide batch. A near-empty epoch (≤ 4
    * buckets of a narrow batch) writes at most a few files per bucket,
    * where an extra exchange would cost a whole stage + AQE round per
    * state — the dominant share of the chained pipeline's steady-epoch
    * floor (r10); a wide skewed batch landing
    * in ≤ 4 buckets still clusters, or it would fan out (write tasks ×
    * buckets) fragments. Width is measured by the protocol's own probe
    * (narrow = ≤ 32 partitions) or stated by a caller passing `known`.
    *
    * The probe collects ≤ `numBuckets` distinct ints to the driver —
    * iteration control, same class as the k-row KMeans convergence
    * probe — and pins `batch` for the epoch. A caller passing `known`
    * skips both the probe job and the persist and caches the batch
    * itself. Returns true when the epoch advanced the state, false
    * when fenced (already committed — replays are no-ops).
    */
  def advanceStateBucketed(spark: SparkSession, stateDir: String,
      batchId: Long, batch: DataFrame, keyCol: String, numBuckets: Int,
      retain: Int = 2, known: Option[Touched] = None)(
      empty: => DataFrame)(
      advance: (DataFrame, DataFrame => DataFrame) => DataFrame): Boolean = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(retain >= 2, "retain must keep at least current + one grace" +
      " version (2); larger values enable deeper as-of time travel")
    val fs = stateFs(spark, stateDir)
    val ledger = Ledger(spark, stateDir)
    // ONE ledger listing serves the fence probe, the bucket-count pin,
    // the (signature-memoized) bucket->epoch index AND the retirement
    // fold — the batched fence check of the r9 verdict: the chained
    // pipeline advances eight states per epoch, and each redundant
    // listing/content-read was pure fixed cost (an RPC each on an
    // object store)
    val ledgerSts = phaseTimed(spark, s"fence+pin $stateDir")(ledger.list())
    val ledgerNames = ledgerSts.map(_.getPath.getName)
    if (Ledger.fenced(ledgerNames, batchId)) return false
    ledger.pin(ledgerNames, numBuckets)
    val bExpr = bucketExpr(keyCol, numBuckets)
    // the epoch evaluates `batch` several times (touched-bucket probe
    // here, plus whatever advance() does) — pin it so a source-backed
    // micro-batch is scanned once, not once per job
    val ownPersist = known.isEmpty
    if (ownPersist)
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // collect_set, not distinct().collect(): the partial aggregate
      // collapses to <= numBuckets ints per task with no wide shuffle —
      // a single tiny job instead of a two-stage exchange per advance.
      // The same job also reads max(spark_partition_id()) — the cached
      // batch's actual partition count, the width the clustering
      // decision needs — so the plan is never finalized through
      // batch.rdd (which under AQE can execute upstream shuffle stages
      // outside phase attribution).
      val Touched(touched, narrow) = known.getOrElse(
        phaseTimed(spark, s"probe $stateDir") {
          // partition id projected BEFORE the agg (a nondeterministic
          // expression may not appear as an aggregate argument)
          val r = batch.select(bExpr.as("__bucket"),
              spark_partition_id().as("__pid"))
            .agg(collect_set(col("__bucket")), max(col("__pid"))).head()
          Touched(r.getSeq[Int](0).toSet,
            r.isNullAt(1) || r.getInt(1) + 1 <= 32)
        })
      val owners = ledger.owners(ledgerSts)
      if (touched.nonEmpty) {
        // the writer knows its own state schema (refreshed every
        // write below) — skip footer inference on the read
        val current = readVersions(spark,
          newestVersions(fs, stateDir, owners, Some(touched)),
          Option(stateSchemaCache.get(stateDir)))(empty)
        val clusters = touched.size > 4 || !narrow
        val parts = math.min(numBuckets, touched.size)
        def cluster(df: DataFrame): DataFrame = {
          val tagged = df.withColumn("__bucket", bExpr)
          if (clusters) tagged.repartition(parts, col("__bucket")) else tagged
        }
        val next = advance(current, cluster)
        phaseTimed(spark, s"write $stateDir")(
          next.write.mode(SaveMode.Overwrite).partitionBy("__bucket")
            .parquet(s"$stateDir/state-$batchId"))
        stateSchemaCache.put(stateDir,
          StructType(next.schema.fields.filterNot(_.name == "__bucket")))
      }
      // the marker carries the touched-bucket list — it is both the
      // atomic commit point (tmp+rename: absent or complete, never
      // truncated) and the reader's bucket->epoch index; an all-empty
      // epoch commits an empty list purely for fencing
      ledger.commit(Ledger.epoch(batchId), touched.toSeq.sorted.mkString(","))
      // hand the post-commit ledger and ownership views forward so
      // retirement does not re-read the ledger it just derived them from
      val ownersAfter = touched.toSeq.sorted.foldLeft(owners)((m, b) =>
        m.updated(b, (batchId +: m.getOrElse(b, Nil)).distinct))
      phaseTimed(spark, s"retire $stateDir")(
        retireBucketed(spark, stateDir, ledger,
          ledgerNames :+ Ledger.epoch(batchId), ownersAfter, retain))
      true
    } finally if (ownPersist) batch.unpersist()
  }

  /** Retirement sweep: filesystem-driven and idempotent, crash-safe at
    * any point (deletions only ever remove superseded, orphaned, or
    * subsumed artifacts):
    *
    *   1. delete every bucket dir outside its bucket's `retain` newest
    *      committed versions (default keep-2 = current + one-epoch
    *      reader grace; larger `retain` keeps a deeper version history
    *      for [[currentStateBucketedAsOf]] time travel) — this also
    *      sweeps orphan dirs of uncommitted epochs, which own nothing
    *      by construction;
    *   2. drop epoch dirs that hold no buckets any more;
    *   3. fold ALL markers below the newest one ([[Ledger.fold]]) into
    *      an `owners-<E>` snapshot (per bucket, its surviving owners at
    *      or below E) plus the `hwm-<E>` fence. Ownership lives in the
    *      snapshot, fencing in the hwm — a cold bucket owned by an old
    *      epoch folds like any other, so the ledger stays O(1) files.
    *
    * `names` is the advance's one ledger listing plus the marker it
    * just committed — under the single-writer invariant, the ledger.
    */
  private def retireBucketed(spark: SparkSession, stateDir: String,
      ledger: Ledger, names: Seq[String], owners: Map[Int, Seq[Long]],
      retain: Int): Unit = {
    val fs = stateFs(spark, stateDir)
    fs.listStatus(new Path(stateDir)).toSeq.map(_.getPath.getName).foreach {
      case n @ StateDirRe(es) =>
        val e = es.toLong
        val p = new Path(s"$stateDir/$n")
        fs.listStatus(p).toSeq.map(_.getPath.getName).foreach {
          case bn @ BucketDirRe(bs) =>
            if (!owners.getOrElse(bs.toInt, Nil).take(retain).contains(e))
              fs.delete(new Path(p, bn), true)
          case _ => ()
        }
        if (!fs.listStatus(p).exists(s => BucketDirRe.matches(s.getPath.getName)))
          fs.delete(p, true)
      case _ => ()
    }
    // fold every marker below the newest one
    Ledger.epochs(names).sorted.dropRight(1).lastOption.foreach { foldUpTo =>
      // an all-empty snapshot (every owner above the fold point, or an
      // idle stream of empty epochs) writes nothing: readers without an
      // owners file resolve from live markers alone
      ledger.fold(names, foldUpTo, Some(
        owners.toSeq.sortBy(_._1).flatMap { case (b, es) =>
          val kept = es.take(retain).filter(_ <= foldUpTo)
          if (kept.isEmpty) None else Some(s"$b:${kept.mkString(",")}")
        }.mkString("\n")))
    }
  }

  /** True when `batchId` committed at `stateDir` — marker present, or
    * at/below the folded high watermark. The public probe for readers
    * of per-epoch side outputs (e.g. a materializer's event log):
    * an epoch directory without a committed marker is crash debris and
    * must stay invisible.
    */
  def isEpochCommitted(spark: SparkSession, stateDir: String,
      batchId: Long): Boolean =
    Ledger(spark, stateDir).fenced(batchId)

  /** True once any epoch has committed state at `stateDir` — the guard
    * that keeps "not started yet" distinct from "committed and empty".
    */
  def hasCommittedState(spark: SparkSession, stateDir: String): Boolean =
    Ledger.committed(Ledger(spark, stateDir).names())

  /** Operational introspection of any graft state directory — the
    * report a deployment watches instead of `du`-ing a 100 TB state:
    * one row per (component, bucket) slice with its file count and
    * bytes, the component kind (`versioned` = `state-<e>` under the
    * versioned protocol, `base`/`delta` = the append-only LSM,
    * `flat` = a non-bucketed component), and whether the slice is LIVE
    * (the newest committed owner of its bucket / a live LSM component)
    * or awaiting retirement. Metadata-only: a filesystem listing, no
    * parquet data is read — cost is O(files), which the protocols keep
    * at O(buckets x retain + live deltas).
    */
  def stateReport(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val fs = stateFs(spark, stateDir)
    val root = new Path(stateDir)
    val ComponentRe = "^(state|base|delta)-(\\d+)$".r
    val owners = bucketOwners(spark, stateDir)
    val liveAppended = appendedComponentDirs(spark, stateDir)
      .map(d => new Path(d).getName).toSet
    def slice(p: Path): (Long, Long) = {
      val files = fs.listStatus(p).toSeq.filterNot(_.getPath.getName.startsWith("_"))
      (files.size.toLong, files.map(_.getLen).sum)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath).foreach { comp =>
        comp.getName match {
          case ComponentRe(kindRaw, eStr) =>
            val e = eStr.toLong
            val kind = if (kindRaw == "state") "versioned" else kindRaw
            val children = fs.listStatus(comp).toSeq
            val bucketDirs = children.filter(c =>
              BucketDirRe.matches(c.getPath.getName))
            if (bucketDirs.isEmpty) {
              val (nf, nb) = slice(comp)
              // a versioned state-<e> with no __bucket= children is an
              // epoch that committed EMPTY touched buckets (partitioned
              // writes emit no dir for an empty slice) — still the
              // protocol's component, and live iff it is the newest
              // committed owner of any bucket; base/delta content without
              // bucket dirs is flat (an all-empty delta, or a compaction
              // of one)
              val (kindHere, live) =
                if (kindRaw == "state")
                  ("versioned", owners.values.exists(_.headOption.contains(e)))
                else ("flat", liveAppended(comp.getName))
              rows += Row(comp.getName, kindHere, e, null, nf, nb, live)
            } else bucketDirs.foreach { bd =>
              val b = BucketDirRe.findFirstMatchIn(bd.getPath.getName)
                .get.group(1).toInt
              val (nf, nb) = slice(bd.getPath)
              val live =
                if (kindRaw == "state")
                  owners.get(b).flatMap(_.headOption).contains(e)
                else liveAppended(comp.getName)
              rows += Row(comp.getName, kind, e, b, nf, nb, live)
            }
          case _ => () // the ledger, spans dirs, foreign content
        }
      }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava,
      StructType(Seq(
        StructField("component", StringType),
        StructField("kind", StringType),
        StructField("epoch", LongType),
        StructField("bucket", IntegerType),
        StructField("files", LongType),
        StructField("bytes", LongType),
        StructField("live", BooleanType))))
      .orderBy(col("epoch"), col("component"), col("bucket"))
  }

  /** The current state under [[advanceStateBucketed]]'s protocol: per
    * bucket, the newest committed epoch's version (a bucket whose owner
    * epoch wrote it empty contributes nothing). `empty` is returned
    * before the first commit AND for a committed-but-all-empty state —
    * callers needing the distinction check [[hasCommittedState]].
    */
  def currentStateBucketed(spark: SparkSession, stateDir: String)(
      empty: => DataFrame): DataFrame =
    readVersions(spark, newestVersions(stateFs(spark, stateDir), stateDir,
      bucketOwners(spark, stateDir), None), None)(empty)

  /** The newest committed version dir of each owned bucket in `buckets`
    * (every bucket when None), bucket order. A missing dir is a bucket
    * its owner epoch wrote empty (partitioned writes emit no dir for an
    * empty slice) and contributes nothing.
    */
  private def newestVersions(fs: FileSystem, stateDir: String,
      owners: Map[Int, Seq[Long]], buckets: Option[Set[Int]]): Seq[String] =
    owners.toSeq.sortBy(_._1)
      .collect { case (b, e +: _) if buckets.forall(_.contains(b)) =>
        s"$stateDir/state-$e/__bucket=$b" }
      .filter(p => fs.exists(new Path(p)))

  /** Read resolved version dirs; a caller that KNOWS the state schema
    * (the writer itself, or the join-view materializer probing its own
    * side states) skips footer inference — one fewer fixed cost per
    * probe in the hot path.
    */
  private def readVersions(spark: SparkSession, paths: Seq[String],
      schema: Option[StructType])(empty: => DataFrame): DataFrame =
    if (paths.isEmpty) empty
    else schema.fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)

  /** MAINTENANCE: migrate a bucketed state to a NEW bucket count — the
    * adoption path for the bucket-sizing lever (IVM_PROFILE_r14
    * measured it: a standing state whose per-bucket slice has grown
    * with the corpus pays the slice size on every touched-bucket
    * advance; at 256 buckets the 100× IVM chain ran BELOW the 30×
    * floor). Reads the src's live rows (newest committed version per
    * bucket) and folds them into `dstDir` under the new assignment
    * across `waves` fenced epochs, pinning `newBuckets` there — any
    * later advance or pruned probe with a mismatched count fails
    * loudly via the existing bucket-count guards, so a half-switched
    * caller cannot silently read wrong buckets.
    *
    * WAVES (the O(wave) memory shape): wave `w` owns exactly the dst
    * buckets `d` with `d % waves == w` and commits them as its own
    * fenced epoch `batchId - waves + 1 + w` (the LAST wave commits at
    * `batchId` itself). Each wave scans the src's live rows and keeps
    * only the keys whose NEW bucket lands in its group, so every dst
    * bucket is written exactly once (write amplification 1×, no
    * cross-wave rewrite) and the per-epoch working set — shuffle
    * buffers, write tasks — is O(state / waves), never O(state). The
    * src is re-SCANNED per wave (columnar parquet read, no
    * materialization), the deliberate trade for the bounded heap: the
    * monolithic form pinned the whole live state via the advance's
    * batch persist, which at the 100× smoke doubled old-gen to
    * 17.6 GB of 32 GB — one notch up it does not fit. Queries keep
    * reading the SRC throughout (it is never touched); the final
    * `hwm-batchId` fence is the cutover point after which the dst is
    * whole.
    *
    * Scope: LIVE state only. As-of history does not migrate — the src
    * dir is left intact and stays readable for time travel; retire it
    * once its retention window is no longer needed. `dstDir` must be
    * fresh; re-running the SAME parameters after a mid-wave crash
    * resumes exactly where it stopped (committed waves are fenced
    * no-ops, remaining waves run) and a fully-committed replay returns
    * false — the same at-least-once contract every epoch write
    * carries.
    *
    * Provenance: before migrating, the dst ledger gets a marker naming
    * the src dir (a deterministic digest of its path) plus a
    * `migparams-<batchId>-<waves>` pin. The resumed/replayed path
    * VERIFIES both and the pinned bucket count — a dst that happens to
    * carry an unrelated state whose epochs committed is a mis-pointed
    * migration, not a replay, and a re-run with a different epoch or
    * wave split would interleave incompatible bucket-group
    * assignments; both fail loudly instead of silently proceeding.
    *
    * Ledger tags: the src's non-structural ledger stamps (the packed-
    * key codec tag and any other operator-declared tags) are COPIED to
    * the dst before the migration epochs — the materializer resuming
    * on the dst would otherwise trip its own codec-stamp guard
    * ("committed epochs but no codec stamp") on state this very op
    * produced from correctly-stamped input.
    *
    * After the last wave the dst fence rises to `hwm-batchId`
    * IDEMPOTENTLY — on the normal path and on a replay that found
    * every wave already committed — closing the crash window between
    * the final wave's commit and the fence write: the migration
    * reflects every src epoch ≤ batchId, so a resumed pipeline that
    * replays any pre-migration epoch against the dst must be fenced,
    * not double-applied.
    */
  def rebucketState(spark: SparkSession, srcDir: String, dstDir: String,
      keyCol: String, newBuckets: Int, batchId: Long = 0L, waves: Int = 1,
      crashAfterWave: Option[Int] = None): Boolean = {
    require(srcDir != dstDir,
      "rebucket migrates into a NEW state dir; in-place would destroy" +
        " the fencing its own crash-safety rests on")
    require(hasCommittedState(spark, srcDir),
      s"no committed state at $srcDir to rebucket")
    require(waves >= 1 && waves <= newBuckets,
      s"waves must be in [1, newBuckets]; got $waves of $newBuckets")
    require(batchId >= waves - 1,
      s"batchId $batchId leaves no room for $waves wave epochs" +
        " (wave epochs are batchId-waves+1..batchId and must be >= 0)")
    val provenance = Ledger.provenance(srcDir)
    val migParams = Ledger.migParams(batchId, waves)
    val dst = Ledger(spark, dstDir)
    val names = dst.names()
    if (Ledger.committed(names)) {
      // only a resumed/fenced replay of THIS migration may pass: the
      // dst must name this src as its provenance, pin the same
      // (batchId, waves) parameterization, and pin the new count
      if (!names.contains(provenance)) sys.error(
        s"$dstDir has committed epochs but no provenance marker" +
          s" for $srcDir — it holds an UNRELATED state, not a replay of" +
          " this migration; refusing to report it as fenced")
      // validate against ALL migparams markers — a stale marker from a
      // crashed pre-commit attempt alongside the real one is a conflict
      // we must surface, not a coin-flip for collectFirst to resolve
      val pins = Ledger.migrations(names)
      if (pins.isEmpty) {
        // pre-marker dst (or a marker lost to a partial ledger): fall
        // back to the strict pre-r16 fence — only a replay of the SAME
        // final epoch may pass; a different batchId would run unfenced
        // wave epochs on top of the completed migration
        require(Ledger.fenced(names, batchId),
          s"$dstDir has committed state and provenance for $srcDir but" +
            s" no migparams pin and no committed epoch $batchId — a" +
            " replay with different parameters on top of a completed" +
            " migration would duplicate live state; rebuild the dst" +
            " to re-migrate")
      } else pins.foreach { case (b, w) =>
        require(b == batchId,
          s"$dstDir carries a migration from a different epoch" +
            s" (batchId $b, not $batchId) — a replay must use the" +
            " SAME parameters; rebuild the dst to re-migrate")
        if (w != waves) sys.error(
          s"$dstDir was part-migrated with $w waves, not $waves — a" +
            " different wave split would interleave incompatible" +
            s" bucket-group epochs; resume with waves=$w or rebuild" +
            " the dst")
      }
      if (!Ledger.pinned(names).contains(newBuckets)) sys.error(
        s"$dstDir carries provenance for $srcDir but is pinned" +
          s" ${Ledger.pinned(names).getOrElse("un")}-bucketed, not" +
          s" $newBuckets — a half-committed or mis-parameterized" +
          " migration; rebuild the dst")
    }
    // pre-advance, crash-safe order: markers + tags with no committed
    // state are inert; each wave's own fence makes its commit atomic.
    // A crashed PRE-COMMIT attempt may have left stale migparams-*
    // markers with different parameters — with no committed state they
    // pinned nothing, so clear them before writing this run's pin (on
    // the committed path the pins were just validated equal, so the
    // only removal is a same-name overwrite-equivalent)
    Ledger.migrations(names).filter(_ != ((batchId, waves)))
      .foreach { case (b, w) => dst.delete(Ledger.migParams(b, w)) }
    dst.commit(provenance)
    dst.commit(migParams)
    Ledger(spark, srcDir).names().filterNot(Ledger.structural)
      .foreach(dst.commit(_))
    def live = currentStateBucketed(spark, srcDir)(sys.error(
      s"state at $srcDir is committed but every bucket is empty —" +
        " nothing to rebucket"))
    var advancedAny = false
    (0 until waves).foreach { w =>
      val waveEpoch = batchId - waves + 1 + w
      val group = (0 until newBuckets).filter(_ % waves == w).toSet
      val waveRows =
        if (waves == 1) live
        else live.filter(
          bucketExpr(keyCol, newBuckets) % lit(waves) === lit(w))
      // `known` = the wave's whole bucket group (a superset of the
      // rows' actual buckets, which is the contract), wide: skips both
      // the touched-bucket probe job AND the batch persist — the rows
      // stream from the src scan straight through the bucket-
      // clustering exchange into the write, so nothing state-sized is
      // ever pinned in memory
      val adv = advanceStateBucketed(spark, dstDir, waveEpoch, waveRows,
        keyCol, newBuckets, known = Some(Touched(group, narrow = false)))(
        waveRows.limit(0))(
        (current, cluster) => cluster(current.unionByName(waveRows)))
      advancedAny ||= adv
      // test seam: simulate a crash after this wave's commit and
      // before anything later (the next wave, or the hwm fence)
      crashAfterWave.filter(_ == w).foreach(_ => sys.error(
        s"simulated crash after wave $w of $waves"))
    }
    // IDEMPOTENT cutover fence: written whenever the loop completes —
    // whether this invocation advanced waves or found them all fenced.
    // A crash between the last wave's commit and this write is healed
    // by the replay's all-fenced pass reaching here and writing it (a
    // commit onto an existing name stands, so the heal never fails).
    dst.commit(Ledger.hwm(batchId))
    advancedAny
  }

  /** [[currentStateBucketed]] restricted to a bucket subset — the read
    * half of bucket pruning: a caller that knows which buckets its keys
    * land in (via [[bucketOf]]) scans only those buckets' newest
    * versions, never the whole state. At 100 TB this is the difference
    * between probing a few state files and rescanning the table.
    */
  def currentStateBuckets(spark: SparkSession, stateDir: String,
      buckets: Set[Int], expectedBuckets: Option[Int] = None,
      schema: Option[StructType] = None)(
      empty: => DataFrame): DataFrame = {
    validateProbeFanout(spark, stateDir, expectedBuckets)
    readVersions(spark, newestVersions(stateFs(spark, stateDir), stateDir,
      bucketOwners(spark, stateDir), Some(buckets)), schema)(empty)
  }

  /** TIME TRAVEL: the bucketed state AS OF committed epoch `asOf` —
    * per bucket, the newest version at or below `asOf` (a lake table's
    * `VERSION AS OF`, resolved from the same owners index current
    * reads use; zero extra write-path cost). Depth is bounded by the
    * writer's `retain`: with the default 2 only the previous epoch is
    * reachable; a writer that wants N-epoch history passes `retain`
    * accordingly. Pass the SAME `retain` here — it is how the reader
    * distinguishes three cases that look alike on disk:
    *
    *   - owner found, dir present → that version, read it;
    *   - owner found within the retained window but dir absent → the
    *     owner epoch wrote the bucket EMPTY (partitioned writes emit
    *     no dir for an empty slice) — contributes nothing, silently;
    *   - owner found OUTSIDE the retained window, or no owner ≤ asOf
    *     in a possibly-truncated list → the version may have been
    *     retired: FAIL LOUDLY rather than return wrong (empty) data.
    */
  def currentStateBucketedAsOf(spark: SparkSession, stateDir: String,
      asOf: Long, retain: Int = 2)(empty: => DataFrame): DataFrame = {
    require(isEpochCommitted(spark, stateDir, asOf),
      s"epoch $asOf never committed at $stateDir — as-of reads name a" +
        " committed epoch")
    resolveVersioned(spark, stateDir, retain, None,
      _ <= asOf, s"at or below epoch $asOf")(empty)
  }

  /** Shared version resolver for the historical readers ([[currentStateBucketedAsOf]],
    * [[stateBucketsBefore]]): per bucket, the newest owner satisfying
    * `pick`, with the three-way disambiguation the scaladocs above
    * describe (in-window + dir present → read; in-window + dir absent →
    * written empty; out-of-window or unprovable → fail loudly).
    */
  private def resolveVersioned(spark: SparkSession, stateDir: String,
      retain: Int, buckets: Option[Set[Int]], pick: Long => Boolean,
      describe: String,
      schema: Option[StructType] = None)(
      empty: => DataFrame): DataFrame = {
    val fs = stateFs(spark, stateDir)
    val paths = bucketOwners(spark, stateDir).toSeq.sortBy(_._1)
      .filter { case (b, _) => buckets.forall(_.contains(b)) }
      .flatMap { case (b, es) =>
        es.find(pick) match {
          case Some(e) if es.take(retain).contains(e) =>
            val p = s"$stateDir/state-$e/__bucket=$b"
            if (fs.exists(new Path(p))) Some(p)
            else None // owner epoch wrote this bucket empty
          case Some(e) => sys.error(
            s"bucket $b's version $describe (epoch $e) is outside the" +
              s" $retain-version retained window — the version was" +
              " retired; advance with a larger retain to keep deeper" +
              " history")
          case None if es.size >= retain => sys.error(
            s"bucket $b has no retained version $describe and its" +
              s" $retain-deep owner list may be truncated — cannot" +
              " prove the bucket was empty then; advance with a larger" +
              " retain to keep deeper history")
          case None => None // bucket provably born outside the window
        }
      }
    readVersions(spark, paths, schema)(empty)
  }

  /** The bucketed state STRICTLY BEFORE epoch `batchId`, restricted to
    * a bucket subset — the pre-commit read of the join view's
    * increment and the novelty census's doc deltas: "what did this
    * epoch's touched buckets hold before it committed", answered
    * identically whether the epoch's own advance has already committed
    * or not (its versions carry epoch ≥ `batchId` and are skipped),
    * which is what makes a derived delta replay-stable across the
    * torn-epoch window. Resolvable as long as the pre-epoch versions
    * sit inside the retirement grace: with the
    * default retain=2 that is exactly until the NEXT epoch commits —
    * the same window foreachBatch replays are confined to. Same
    * retired-vs-written-empty disambiguation as
    * [[currentStateBucketedAsOf]].
    */
  def stateBucketsBefore(spark: SparkSession, stateDir: String,
      batchId: Long, buckets: Set[Int], retain: Int = 2,
      expectedBuckets: Option[Int] = None,
      schema: Option[StructType] = None)(
      empty: => DataFrame): DataFrame = {
    validateProbeFanout(spark, stateDir, expectedBuckets)
    resolveVersioned(spark, stateDir, retain, Some(buckets),
      _ < batchId, s"below epoch $batchId", schema)(empty)
  }

  /** The versioned twin of the appended-state fan-out guard: a caller
    * that computed its touched-bucket set mod N must probe a state
    * pinned N ways — a mismatch silently reads the wrong buckets
    * (for a pre-commit read that means a wrong increment, a
    * correctness bug, not a perf one), so it fails loudly instead.
    */
  private def validateProbeFanout(spark: SparkSession, stateDir: String,
      expected: Option[Int]): Unit =
    expected.foreach { nb =>
      pinnedBucketCount(spark, stateDir).foreach { pinned =>
        if (pinned != nb) sys.error(
          s"state at $stateDir is bucketed $pinned ways but the probe" +
            s" computed its touched buckets mod $nb — the pruned read" +
            " would probe the wrong buckets")
      }
    }

  /** APPEND-ONLY epoch-fenced state — the durable form of a standing
    * index whose per-epoch update is a disjoint DELTA (the
    * StreamingDupSpans ordered-feed shape), HASH-PARTITIONED by key
    * bucket: each epoch writes `delta-<batchId>/__bucket=<b>` for only
    * the buckets its delta lands in, committed by the same
    * ledger-marker protocol as [[advanceStateBucketed]] (crash before
    * the marker → the delta is invisible and the replay overwrites it).
    * The standing state is the UNION of a compacted base (if any) plus
    * every later committed delta — a miniature per-bucket LSM:
    *
    *   - [[appendDeltaBucketed]]: O(delta) written per epoch, never
    *     O(history);
    *   - [[appendedState]]: base-so-far ∪ committed deltas after it;
    *     [[appendedStateBuckets]]: the same, restricted to the buckets
    *     a probe's keys land in — at a 100 TB index the difference
    *     between scanning a few files and rescanning the index every
    *     micro-batch;
    *   - [[compactAppended]]: folds base + deltas ≤ the newest
    *     committed epoch into one `base-<epoch>` directory (a pure
    *     rewrite — delta key sets are disjoint by construction), then
    *     retires the inputs; its own compaction marker makes the fold
    *     atomic the same way epoch markers do.
    *
    * The bucket count is pinned like [[advanceStateBucketed]]'s — a
    * key's bucket is structural.
    */
  def appendDeltaBucketed(spark: SparkSession, stateDir: String,
      batchId: Long, keyCol: String, numBuckets: Int)(
      delta: => DataFrame): Boolean = {
    require(numBuckets > 0, "numBuckets must be positive")
    val ledger = Ledger(spark, stateDir)
    // one listing serves fence + pin, same as advanceStateBucketed
    val names = ledger.names()
    if (Ledger.fenced(names, batchId)) false
    else {
      ledger.pin(names, numBuckets)
      // cluster by bucket: O(1) files per touched bucket
      delta.withColumn("__bucket", bucketExpr(keyCol, numBuckets))
        .repartition(numBuckets, col("__bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("__bucket")
        .parquet(s"$stateDir/delta-$batchId")
      ledger.commit(Ledger.epoch(batchId))
      true
    }
  }

  /** The bucket-pruned read of a bucketed-append state: base + every
    * committed delta, restricted to `buckets` — the probe side of the
    * per-bucket LSM. Missing `__bucket=<b>` children are buckets that
    * component never touched (partitioned writes emit no dir for an
    * empty slice) and contribute nothing. `expectedBuckets` (when
    * given) is checked against the ledger's pinned fan-out, so a caller
    * bucketing its probe keys a different number of ways cannot
    * silently probe the wrong buckets.
    */
  def appendedStateBuckets(spark: SparkSession, stateDir: String,
      buckets: Set[Int], expectedBuckets: Option[Int] = None)(
      empty: => DataFrame): DataFrame = {
    validateProbeFanout(spark, stateDir, expectedBuckets)
    val fs = stateFs(spark, stateDir)
    val paths = appendedComponentDirs(spark, stateDir).flatMap { d =>
      fs.listStatus(new Path(d)).toSeq.map(_.getPath.getName).collect {
        case n @ BucketDirRe(b) if buckets.contains(b.toInt) => s"$d/$n"
      }
    }
    if (paths.isEmpty) empty else spark.read.parquet(paths: _*)
  }

  private val verifiedLedgerTags =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Ledger codec/layout stamp (the loud-failure twin of the bucket
    * pin): `tag` names the persisted key ENCODING the materializer
    * writes (e.g. `StateKeys.CodecTag`, the length-prefixed packKey
    * format). On a fresh state dir the stamp lands before the first
    * commit; on resume, a dir that carries committed epochs WITHOUT
    * the stamp fails loudly — it predates the stamp (the pre-round-9
    * `concat_ws` encoding, or foreign content), and advancing it would
    * silently split every group whose packed bytes changed: old keys
    * never merge with new, rollup sums go wrong, strata duplicate.
    * An operator who has verified a dir's encoding out-of-band can
    * adopt it by creating an empty file named `tag` in its ledger dir.
    * Memoized per (stateDir, tag) after the first successful check, so
    * steady epochs pay nothing.
    */
  def ensureLedgerTag(spark: SparkSession, stateDir: String,
      tag: String): Unit = {
    val memo = s"$stateDir#$tag"
    if (verifiedLedgerTags.contains(memo)) return
    val ledger = Ledger(spark, stateDir)
    val names = ledger.names()
    if (!names.contains(tag)) {
      if (Ledger.committed(names)) sys.error(
        s"state at $stateDir carries committed epochs but no '$tag' " +
          "codec stamp — it was written by an older key encoding; " +
          "resuming would silently split every group whose packed key " +
          "bytes changed. Rebuild the state from source, or stamp " +
          s"${ledger.dir}/$tag manually after verifying the " +
          "encoding matches.")
      ledger.commit(tag)
    }
    verifiedLedgerTags.add(memo)
    ()
  }

  /** The ledger's pinned bucket fan-out, if any epoch has committed. */
  def pinnedBucketCount(spark: SparkSession, stateDir: String): Option[Int] =
    Ledger.pinned(Ledger(spark, stateDir).names())

  /** The live component dirs of an appended state, oldest first: the
    * newest committed base (if any) + every committed, unretired delta
    * after it — from one ledger listing.
    */
  private def appendedComponentDirs(spark: SparkSession,
      stateDir: String): Seq[String] = {
    val fs = stateFs(spark, stateDir)
    val names = Ledger(spark, stateDir).names()
    val base = Ledger.compacts(names).maxOption
    (base.map(b => s"$stateDir/base-$b").toSeq ++
      Ledger.epochs(names).filter(e => base.forall(_ < e))
        .sorted.map(e => s"$stateDir/delta-$e"))
      .filter(d => fs.exists(new Path(d)))
  }

  /** The standing appended state: newest committed base ∪ every
    * committed delta after it, or `empty` before the first commit. A
    * bucketed component whose epoch had an all-empty delta holds no
    * partition dirs at all (only _SUCCESS) — committed, but nothing to
    * read and no schema to infer: skip it.
    */
  def appendedState(spark: SparkSession, stateDir: String)(
      empty: => DataFrame): DataFrame = {
    val fs = stateFs(spark, stateDir)
    val parts = appendedComponentDirs(spark, stateDir).filter { d =>
      fs.listStatus(new Path(d)).exists { s =>
        val n = s.getPath.getName
        n.startsWith("__bucket=") || n.startsWith("part-")
      }
    }.map(d => spark.read.parquet(d))
    if (parts.isEmpty) empty else parts.reduce(_ unionByName _)
  }

  /** The committed epochs an APPENDED state's live components stand
    * for: the newest base (if any) and every committed delta after it.
    * Operational introspection (surfaced by `graft.StateReport`).
    */
  def appendedAsOfEpochs(spark: SparkSession, stateDir: String): Seq[Long] = {
    val names = Ledger(spark, stateDir).names()
    val base = Ledger.compacts(names).maxOption
    (base.toSeq ++ Ledger.epochs(names).filter(e => base.forall(_ < e))).sorted
  }

  /** The distinct owner epochs of a VERSIONED state's retained bucket
    * versions — the candidate as-of points [[currentStateBucketedAsOf]]
    * resolves from (per-bucket retention still applies at read time).
    * Operational introspection (surfaced by `graft.StateReport`).
    */
  def versionedOwnerEpochs(spark: SparkSession,
      stateDir: String): Seq[Long] =
    bucketOwners(spark, stateDir).values.flatten.toSeq.distinct.sorted

  /** Fold the current base + committed deltas into one `base-<epoch>`
    * directory and retire the inputs. Returns the new base epoch, or
    * None when there is nothing to compact.
    */
  def compactAppended(spark: SparkSession, stateDir: String)(
      empty: => DataFrame): Option[Long] = {
    val fs = stateFs(spark, stateDir)
    val ledger = Ledger(spark, stateDir)
    val names = ledger.names()
    val compacts = Ledger.compacts(names)
    Ledger.epochs(names).maxOption.filter(e => !compacts.contains(e)).map { e =>
      val folded = appendedState(spark, stateDir)(empty)
      // a per-bucket LSM ([[appendDeltaBucketed]]) folds to a bucketed
      // base, so compaction preserves the pruned-read layout
      val w = folded.write.mode(SaveMode.Overwrite)
      (if (folded.columns.contains("__bucket"))
        w.partitionBy("__bucket") else w).parquet(s"$stateDir/base-$e")
      ledger.commit(Ledger.compact(e))
      // retirement only AFTER the compact marker — a crash mid-delete
      // leaves both the base and some inputs, and the reader prefers
      // the base while skipping retired delta dirs. EVERY other base
      // dir goes, committed or not: an unmarked base is an orphan of a
      // crashed compaction (invisible to readers by construction), and
      // leaving it would leak disk forever.
      val BaseRe = "^base-(\\d+)$".r
      fs.listStatus(new Path(stateDir)).toSeq.map(_.getPath.getName).foreach {
        case n @ BaseRe(b) if b.toLong != e =>
          fs.delete(new Path(s"$stateDir/$n"), true)
        case _ => ()
      }
      Ledger.epochs(names).filter(_ <= e).foreach(d =>
        fs.delete(new Path(s"$stateDir/delta-$d"), true))
      // retired compact markers + folded epoch markers: everything at or
      // below the new base is subsumed by it, so the ledger listing —
      // read several times per epoch — stays O(live deltas), not
      // O(total epochs ever)
      compacts.filter(_ < e).foreach(b => ledger.delete(Ledger.compact(b)))
      ledger.fold(names, e)
      e
    }
  }

  /** Strategy 2: writeStream.foreachBatch body sending the full Kafka
    * writer shape (`key` binary, `value` binary, `topic` string,
    * optional `partition` int — exactly what [[KafkaProjection.project]]
    * emits) through per-partition transactional producers: each row
    * goes through [[TxnProducer.sendRecord]], so a broker-bound producer
    * sees the real ProducerRecord fields, byte-for-byte.
    *
    * Fenced per (epoch, partition) — NOT per whole epoch. Kafka
    * transactions are per-producer, so atomicity is per partition; if
    * the ledger only fenced whole epochs, an epoch where partition A
    * committed but partition B crashed would replay BOTH, re-sending A's
    * records as visible duplicates to `read_committed` consumers (the
    * same hole a stage retry after one task's commit opens). So each
    * partition task commits its own part marker right after its
    * transaction, and a replayed / retried task that finds its marker
    * skips without producing. Once every partition holds a marker the
    * driver seals the epoch (the fast-path fence for whole-epoch
    * replays: no job, no producer) and folds it, so the part markers and
    * older epoch markers go and the ledger stays O(1) files.
    *
    * The commit-vs-marker window: a crash BETWEEN a partition's
    * `commitTransaction()` and its marker write leaves committed
    * records with no marker. A naive replay would re-send them. When
    * the factory supplies a [[RecoverableTxnProducer]] (epoch-scoped
    * `transactional.id` per (batchId, partition) — the factory gets
    * the batchId for exactly this reason; see the trait scaladoc), the
    * replaying task first probes the broker through
    * `resumeAndCommit()`: a prior committed transaction of THIS epoch
    * means the records are already visible, so the task only writes
    * its missing marker and skips the send — Flink's
    * recover-and-re-commit shape with per-checkpoint id rotation.
    * Remaining broker-only residue, stated explicitly: Kafka forgets a
    * transactional.id's state after `transactional.id.expiration.ms`
    * (default 7 days); a replay arriving later than that cannot
    * distinguish committed-then-crashed from never-ran and will
    * re-send. That bound is the broker's, not this operator's.
    */
  def foreachBatchTransactionalKafka(ledgerPath: String,
      producerFactory: Long => TxnProducer)(
      batch: DataFrame, batchId: Long): Unit = {
    val partition =
      if (batch.columns.contains("partition")) col("partition").cast("int")
      else lit(-1)
    val projected = batch.select(col("topic"), partition,
      col("key").cast("binary"), col("value").cast("binary"))
    val spark = projected.sparkSession
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    if (Ledger.at(ledgerPath, hadoopConf).fenced(batchId)) return
    // executors write their part markers with the SESSION's Hadoop conf
    // (s3a credentials, the checkpoint bucket's endpoint), not a blank
    // one — broadcast, so each executor deserializes it once, not per task
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
    try projected.foreachPartition { rows: Iterator[Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val ledger = Ledger.at(ledgerPath, conf.value.value)
      if (!ledger.partFenced(batchId, pid)) {
        val p = producerFactory(batchId)
        try {
          // recovery probe first: a missing marker does NOT mean the
          // records were not produced — the previous attempt may have
          // crashed between its commit and its marker write
          val priorCommitted = p match {
            case r: RecoverableTxnProducer => r.resumeAndCommit()
            case _ => false
          }
          if (!priorCommitted) {
            p.beginTransaction()
            try {
              rows.foreach(r => p.sendRecord(r.getString(0), r.getInt(1),
                r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
              p.commitTransaction()
            } catch {
              case e: Throwable => p.abortTransaction(); throw e
            }
          }
        } finally p.close()
        ledger.commit(Ledger.part(batchId, pid)) // partition commit marker
      }
    } finally conf.destroy()
    // foreachPartition returned ⇒ every partition committed (or was
    // already fenced): seal the epoch
    Ledger.at(ledgerPath, hadoopConf).seal(batchId)
  }
}
