package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped derivation cache — OFF by default
  * (`spark.graft.dedup.derivationCache=true` enables it).
  *
  * A long-lived analytics session (the `graft.Scale` runs; a real
  * cluster deployment running the dedup/graph/gram families
  * back-to-back) derives the SAME intermediate frames for every family
  * member: the LSH family shares minhash signatures and candidate
  * pairs (pairs, clusters ×2, canonical, sizes, pagerank, triangles,
  * quality report); the gram-hash family shares the fused
  * `word_gram_strings` derivations (`txt_dup_spans`,
  * `txt_dup_spans_prefix` share the positional 8-gram double-hash
  * frame and its phase-1 dup-hash census; `dedup_ngram_jaccard`,
  * `dedup_containment` share the inverted-index shared-gram counts).
  * With the cache on, each checkpointed frame is memoized per
  * (session, sfDir, stage) and its derivation cost is paid ONCE per
  * session; every consumer's declared plan starts from the shared
  * LogicalRDD leaf. Content is fully deterministic (integer hashes,
  * deterministic caps), so a memo hit can never change a result —
  * only skip recompute.
  *
  * The default is OFF so the per-query harnesses (Verify, Bench, the
  * plan census) keep timing and planning every query standalone.
  *
  * Memo validity — two independent guards:
  *   1. BLOCK liveness, checked two ways. First, storage-info
  *      completeness: every memo-owned RDD still tracked by the block
  *      manager must report ALL partitions cached
  *      (`getRDDStorageInfo`) — this catches a PARTIALLY swept
  *      checkpoint (first partition intact, later blocks lost) that a
  *      row-probe alone would miss, rebuilding instead of letting the
  *      consumer fail mid-query. Second, a 1-row probe action — an
  *      RDD that was FULLY unpersisted vanishes from storage info, so
  *      only an actual read can tell whether the frame's own
  *      checkpoint is gone (probe throws → rebuild) or merely an
  *      upstream intermediate the checkpointed result no longer needs
  *      (probe succeeds → still a valid hit). [[memoOwnedRddIds]]
  *      lets harness sweeps exempt live memos entirely.
  *   2. FIXTURE signature: each entry records the leaf files'
  *      (path, length, mtime) under the source table it derived from;
  *      a hit whose recomputed signature differs rebuilds (and
  *      unpersists the stale blocks). A rewritten `sfDir` can
  *      therefore never serve stale frames to a long-lived session —
  *      the liveness probe alone validates blocks, not content.
  */
object DerivationCache {

  private case class Memo(df: DataFrame, rddIds: Set[Int], sig: String)
  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Memo]()

  def on(s: SparkSession): Boolean =
    s.conf.get("spark.graft.dedup.derivationCache", "false").toBoolean

  /** Drop entries whose session's SparkContext has STOPPED — the
    * session-churn leak guard: the memo map strongly holds (session,
    * DataFrame) pairs, so a long-lived JVM that churns contexts (a job
    * server, a test harness restarting Spark) would otherwise pin
    * every dead session's object graph forever. The dead context's
    * blocks died with it — there is nothing to unpersist, only strong
    * references to release. Runs at the head of [[memoized]] and
    * [[clear]], so any live-session cache activity reclaims the dead.
    */
  private def purgeStopped(): Unit = {
    import scala.jdk.CollectionConverters._
    memos.keySet.asScala.filter(_._1.sparkContext.isStopped).toSeq
      .foreach(memos.remove)
  }

  /** Number of live memo entries held for `s` (spec instrument). */
  private[graft] def entryCount(s: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    memos.keySet.asScala.count(_._1 eq s)
  }

  /** Persisted RDD ids owned by live memo entries of this session —
    * storage sweeps (`graft.Scale`'s per-op unpersist) must skip these.
    */
  def memoOwnedRddIds(s: SparkSession): Set[Int] = {
    import scala.jdk.CollectionConverters._
    memos.asScala.collect {
      case ((ss, _, _), m) if ss eq s => m.rddIds
    }.flatten.toSet
  }

  /** Drop this session's memo entries and unpersist their blocks — for
    * harnesses that are done with a family and want the storage back
    * (`graft.Scale` before its materializer arms: accumulated storage
    * blocks measurably inflate later tiny-stage work).
    */
  def clear(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    purgeStopped()
    if (!s.sparkContext.isStopped) {
      val ids = memoOwnedRddIds(s)
      s.sparkContext.getPersistentRDDs
        .filter { case (id, _) => ids(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    memos.keySet.asScala
      .filter(_._1 eq s).toSeq.foreach(memos.remove)
  }

  /** Leaf-file signature of `dir/src`: sorted (path, length, mtime)
    * triples. One recursive listing per memoized call — a local/DFS
    * metadata op, negligible next to the derivation it guards.
    */
  private def fixtureSig(s: SparkSession, dir: String, src: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$src")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      entries.sorted.mkString("|")
    }
  }

  /** Memoize `build` (a checkpointed frame) under (session, dir,
    * stage), guarded by the block-liveness probe and the fixture
    * signature of `dir/src`. With the cache off, just builds.
    */
  def memoized(s: SparkSession, dir: String, stage: String,
      src: String = "documents.parquet")(build: => DataFrame): DataFrame = {
    if (!on(s)) return build
    purgeStopped()
    val k = (s, dir, stage)
    val sig = fixtureSig(s, dir, src)
    def evict(m: Memo): Unit = {
      memos.remove(k)
      s.sparkContext.getPersistentRDDs
        .filter { case (id, _) => m.rddIds(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    val hit = Option(memos.get(k)).filter { m =>
      lazy val infos = s.sparkContext.getRDDStorageInfo
      if (m.sig != sig) {
        // stale fixture: evict AND unpersist — the blocks hold frames
        // derived from data that no longer exists
        evict(m); false
      } else if (!m.rddIds.forall(id => infos.find(_.id == id)
          .forall(i => i.numCachedPartitions == i.numPartitions))) {
        // partial block loss: some tracked RDD lost a subset of its
        // partitions — a localCheckpoint cannot recompute them, and a
        // 1-row probe reads too little to notice; evict + rebuild
        evict(m); false
      } else {
        try { m.df.limit(1).collect(); true }
        catch { case _: Throwable => evict(m); false }
      }
    }
    hit.map(_.df).getOrElse {
      val before = s.sparkContext.getPersistentRDDs.keySet.toSet
      val df = build
      val ids = s.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
      memos.put(k, Memo(df, ids, sig))
      df
    }
  }
}
