package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC apply — materializes the enriched change stream into a replica
  * table, the job the reference's downstream consumers perform (its
  * README pairs the MSK topic with Hudi/Iceberg/"apply to lake"
  * consumers). Semantics per primary key, in change order:
  *
  *   - `c` / `u` / `r` → upsert the `after` image
  *   - `d` → remove the key
  *
  * Change order within a key is (source.ts_ms, source.pos) — the binlog
  * order the reference preserves by keying Kafka on partitionKey; the
  * apply picks each key's LAST change, so replaying duplicates (the
  * at-least-once case) or re-running a batch is idempotent — this is
  * where the per-key ordering guarantee pays off.
  *
  * Scale notes: every streaming arm runs ONE keyed merge — the touched
  * buckets' state and the batch's changes go through the bucketed
  * protocol's clustering step together, and each (bucket, key) keeps
  * its greatest row under the arm's order with `max_by`, so the merge
  * and the bucket clustering share one exchange. On a real lake this
  * is a MERGE INTO (Delta/Iceberg/Hudi); the parquet swap here keeps
  * the same logical shape with penalty-free testability. The batch
  * apply ([[applyBatch]]: last-change window, anti-join, union) stays
  * as the definition the streaming arms are checked against.
  */
object CdcApply {

  /** Latest change per key from a batch of enriched records (columns:
    * partitionKey, value = envelope JSON). Returns one row per key:
    * partitionKey, op, after (map), ts_ms, pos.
    */
  def lastChangePerKey(batch: DataFrame): DataFrame = {
    // explicit projection to exactly the five output fields BEFORE the
    // window (r18): MEASURED AS A PLAN NO-OP for the declared queries —
    // Catalyst's column pruning already extracted [partitionKey, after,
    // op, ts_ms, pos] below the window sort/exchange (the before/after
    // plan pair in plans/r18/ is structurally identical, shuffle bytes
    // unchanged). Kept because it makes the pruning explicit at the
    // operator boundary (guide §2.3 "cheap insurance"): a future caller
    // whose lineage hides the fields behind an opaque operator would
    // otherwise ship the raw envelope through the exchange.
    val env = batch.withColumn("env",
        from_json(col("value"), graft.model.CdcEnvelope.mysqlEnvelope))
      .select(
        col("partitionKey"),
        col("env.op").as("op"),
        col("env.after").as("after"),
        col("env.source.ts_ms").as("ts_ms"),
        col("env.source.pos").as("pos"))
    val w = Window.partitionBy(col("partitionKey"))
      .orderBy(col("ts_ms").desc, col("pos").desc)
    env.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Latest change per key for a MONGO change-stream batch
    * (`value` = mongo envelope JSON): op mapped from `operationType`
    * — insert/replace → c, update → u, delete → d, and anything else
    * (drop / rename / invalidate — collection-level events with no
    * row image) FAILS LOUDLY rather than upserting garbage. The image
    * comes from `fullDocument` (post-image only — mongo never ships a
    * before-image, so the apply keys on the last post-image); a
    * NON-delete change carrying no `fullDocument` (the change-stream
    * default for updates unless `fullDocument=updateLookup` is set)
    * also fails loudly — silently upserting a null image would corrupt
    * the replica. Per-key order: (ts_ms, clusterTime t, clusterTime i,
    * raw clusterTime, pos, value) — clusterTime is the change stream's
    * real total order when present, and it is compared NUMERICALLY:
    * an extended-JSON rendering is parsed by KEY (`"t": <n>` /
    * `"i": <n>` — key order in the serialized object is not
    * significant in JSON, so a serializer emitting `{"i":10,"t":…}`
    * must not swap the components), and the `Timestamp(t, i)`
    * rendering falls back to the first two digit runs positionally.
    * Numeric compare matters because a lexicographic compare of the
    * rendered string puts i=10 below i=9 at every digit-boundary
    * crossing — the exact wrong-winner bug this ordering exists to
    * prevent. `pos` (the fixture's
    * `evt_<n>` `_id`, anchored `^evt_(\d+)$` so real Mongo hex resume
    * tokens genuinely yield null rather than a truncated leading digit
    * run injecting pseudo-order) and finally the raw envelope string
    * break remaining ties so two changes to one key in the same
    * millisecond can never pick a nondeterministic winner. Same
    * output shape as [[lastChangePerKey]], so [[applyChanges]] is
    * envelope-agnostic.
    */
  def lastChangePerKeyMongo(batch: DataFrame): DataFrame = {
    val env = batch.withColumn("env",
      from_json(col("value"), graft.model.CdcEnvelope.mongoEnvelope))
    val op = when(col("env.operationType") === "delete", "d")
      .when(col("env.operationType") === "update", "u")
      .when(col("env.operationType").isin("insert", "replace"), "c")
      .otherwise(raise_error(concat(
        lit("unsupported mongo operationType '"),
        coalesce(col("env.operationType"), lit("null")),
        lit("' — only insert/replace/update/delete carry row images"))))
    // regexp_extract yields "" on no-match — nullif before the cast so
    // ANSI mode maps "no match" to null rather than CAST_INVALID_INPUT
    def digitsToLong(c: Column): Column = nullif(c, lit("")).cast("long")
    val pos = digitsToLong(regexp_extract(col("env._id"), "^evt_(\\d+)$", 1))
    // numeric (t, i) of clusterTime — keyed extended-JSON forms parse
    // by KEY (JSON key order is serializer-dependent; positional digit
    // runs would swap t and i under {"i":…,"t":…}), the Timestamp(t, i)
    // rendering falls back to positional runs; null when the form
    // carries neither, and the raw string stays in the chain as a
    // last-resort total order for unparseable forms
    val ctRaw = col("env.clusterTime")
    val hasKeyedT = ctRaw.rlike("\"t\"\\s*:\\s*\\d+")
    def ctPart(key: String, run: Int) = when(hasKeyedT,
      digitsToLong(regexp_extract(ctRaw,
        "\"" + key + "\"\\s*:\\s*(\\d+)", 1)))
      .otherwise(digitsToLong(regexp_extract(ctRaw,
        "(\\d+)\\D+(\\d+)", run)))
    val ctT = ctPart("t", 1)
    val ctI = ctPart("i", 2)
    val w = Window.partitionBy(col("partitionKey"))
      .orderBy(col("env.ts_ms").desc, ctT.desc, ctI.desc,
        col("env.clusterTime").desc, pos.desc, col("value").desc)
    val afterParsed =
      from_json(col("env.fullDocument"), MapType(StringType, StringType))
    val after = when(op === "d", afterParsed)
      .otherwise(coalesce(afterParsed, raise_error(concat(
        lit("mongo non-delete change for key "), col("partitionKey"),
        lit(" carries no fullDocument — run the change stream with" +
          " fullDocument=updateLookup")))))
    env.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(
        col("partitionKey"),
        op.as("op"),
        after.as("after"),
        col("env.ts_ms").as("ts_ms"),
        pos.as("pos"))
  }

  /** Apply a last-change-per-key frame to the current state (both
    * keyed by partitionKey): surviving state = old rows whose key saw
    * no change, plus the after-image of every non-delete last change.
    */
  def applyChanges(state: DataFrame, changes: DataFrame): DataFrame = {
    val untouched = state.join(
      changes.select(col("partitionKey")), Seq("partitionKey"), "left_anti")
    val upserts = changes.filter(col("op") =!= "d")
      .select(col("partitionKey"), col("after"), col("ts_ms"), col("pos"))
    untouched.unionByName(upserts)
  }

  /** [[applyChanges]] over a MySQL-envelope batch. */
  def applyBatch(state: DataFrame, batch: DataFrame): DataFrame =
    applyChanges(state, lastChangePerKey(batch))

  /** Apply with an explicit version guard — exact for ANY arrival
    * order: across state ∪ batch, each key keeps the change with the
    * greatest (ts_ms, pos) — the binlog position total order the
    * envelope already carries, i.e. the classic CDC MERGE with an
    * ordering column. Deletes become TOMBSTONES (after = null,
    * deleted = true) rather than removals, so a late-arriving OLDER
    * upsert can never resurrect a deleted key; re-delivery of an
    * already-applied change folds to the identical row. With
    * `tombstoneHorizonMs` set, tombstones older than the batch's
    * event-time high watermark minus the horizon are dropped lazily
    * (only in buckets the epoch rewrites anyway); unset, they are
    * retained forever (bounded by distinct deleted keys).
    */
  def applyBatchVersioned(state: DataFrame, batch: DataFrame,
      tombstoneHorizonMs: Long = Long.MaxValue): DataFrame = {
    val changes = lastChangePerKey(batch).select(
      col("partitionKey"),
      when(col("op") === "d", lit(null)).otherwise(col("after")).as("after"),
      col("ts_ms"), col("pos"),
      (col("op") === "d").as("deleted"))
    val w = Window.partitionBy(col("partitionKey"))
      .orderBy(col("ts_ms").desc, col("pos").desc)
    val merged = state.unionByName(changes)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    dropOldTombstones(merged, batch, tombstoneHorizonMs)
  }

  /** LAZY tombstone GC, piggybacked on buckets an epoch rewrites anyway
    * (zero extra writes — untouched buckets keep their tombstones until
    * next touched, standard LSM practice): drop tombstones older than
    * the batch's event-time high watermark minus the horizon, read as
    * a broadcast one-row frame. The horizon IS the lateness contract —
    * a change arriving later than it may resurrect a GC'd delete,
    * exactly the bound a lake's VACUUM declares. `Long.MaxValue` keeps
    * every tombstone.
    */
  private def dropOldTombstones(merged: DataFrame, batch: DataFrame,
      tombstoneHorizonMs: Long): DataFrame =
    if (tombstoneHorizonMs == Long.MaxValue) merged
    else {
      val hwm = batch.agg(
        max(get_json_object(col("value"), "$.source.ts_ms").cast("long"))
          .as("__hwm"))
      merged.crossJoin(broadcast(hwm))
        .filter(col("__hwm").isNull || !col("deleted") ||
          col("ts_ms") >= col("__hwm") - tombstoneHorizonMs)
        .drop("__hwm")
    }

  /** The empty versioned-replica frame. */
  def emptyVersioned(spark: SparkSession): DataFrame =
    ExactlyOnce.emptyFrame(spark, StructType(replicaSchema.fields :+
      StructField("deleted", BooleanType, nullable = false)))

  /** The empty replica frame. */
  def emptyReplica(spark: SparkSession): DataFrame =
    ExactlyOnce.emptyFrame(spark, replicaSchema)

  /** How many hash buckets the persisted replica is split across. Small
    * here (tests); a 100 TB replica would use thousands — per-epoch
    * write cost is O(touched buckets' rows), so more buckets = finer
    * pruning, bounded below by sane file sizes.
    */
  val DefaultBuckets = 16

  /** Streaming materializer: foreachBatch body maintaining the replica
    * at `stateDir` via [[ExactlyOnce.advanceStateBucketed]] — the state
    * is hash-bucketed on partitionKey and an epoch rewrites ONLY the
    * buckets its batch touches, committed under one epoch-ledger marker
    * (crash-safe, replays are no-ops). This is MERGE INTO with file
    * pruning on a real table format, kept testable as versioned
    * parquet. Read the replica with [[replica]]; reads resolving while
    * an epoch commits get a one-epoch grace window (retirement keeps
    * each bucket's previous version until the next epoch). Same result
    * as [[applyBatch]]: any change in the batch beats the state, and
    * the batch's latest change per key wins.
    */
  def materializer(spark: SparkSession, stateDir: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit =
    advance(spark, stateDir, numBuckets, batch, batchId)(changeRows)

  /** [[materializer]] for MONGO change-stream batches (op from
    * `operationType`, image from `fullDocument`): the merge takes
    * [[lastChangePerKeyMongo]]'s winners, so its checks fire only on
    * the change a key keeps.
    */
  def materializerMongo(spark: SparkSession, stateDir: String,
      numBuckets: Int = DefaultBuckets)(
      batch: DataFrame, batchId: Long): Unit =
    advance(spark, stateDir, numBuckets, batch, batchId)(
      b => versioned(lastChangePerKeyMongo(b)))

  /** The fenced bucketed apply both plain materializers run: the state
    * ranks 0 and the batch's `changes` rank 1, so the keyed merge on
    * (rank, ts_ms, pos) lets any change beat the state and the latest
    * change win among the batch's; a winning delete removes the key.
    */
  private def advance(spark: SparkSession, stateDir: String,
      numBuckets: Int, batch: DataFrame, batchId: Long)(
      changes: DataFrame => DataFrame): Unit = {
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, batch,
      "partitionKey", numBuckets)(emptyReplica(spark)) { (current, cluster) =>
      val ranked = current
        .select(col("*"), lit(false).as("deleted"), lit(0).as("__rank"))
        .unionByName(changes(batch).withColumn("__rank", lit(1)))
      keyedMerge(ranked, cluster, "__rank", "ts_ms", "pos")
        .filter(!col("deleted")).drop("deleted")
    }
    ()
  }

  /** Every change of a MySQL-envelope batch as a [[versioned]] row. */
  private def changeRows(batch: DataFrame): DataFrame = versioned(
    batch.withColumn("env",
        from_json(col("value"), graft.model.CdcEnvelope.mysqlEnvelope))
      .select(col("partitionKey"), col("env.op").as("op"),
        col("env.after").as("after"), col("env.source.ts_ms").as("ts_ms"),
        col("env.source.pos").as("pos")))

  /** Changes as versioned rows: the after-image (null for a delete),
    * the change position and whether it deletes.
    */
  private def versioned(changes: DataFrame): DataFrame = changes.select(
    col("partitionKey"),
    when(col("op") === "d", lit(null)).otherwise(col("after")).as("after"),
    col("ts_ms"), col("pos"), (col("op") === "d").as("deleted"))

  /** The one merge every streaming arm runs: `rows` go through the
    * protocol's clustering step and each key keeps its greatest row in
    * `order` with `max_by` grouped on (`__bucket`, key) — merge and
    * bucket clustering share ONE exchange.
    */
  private def keyedMerge(rows: DataFrame, cluster: DataFrame => DataFrame,
      order: String*): DataFrame =
    cluster(rows)
      .groupBy(col("__bucket"), col("partitionKey"))
      .agg(max_by(
        struct(col("after"), col("ts_ms"), col("pos"), col("deleted")),
        struct(order.map(col): _*)).as("__w"))
      .select(col("partitionKey"), col("__w.*"), col("__bucket"))

  /** Streaming materializer (out-of-order arm): same fenced bucketed
    * protocol, each epoch folding the batch into state with
    * [[applyBatchVersioned]]'s semantics — exact under ANY arrival
    * order and at-least-once re-delivery, holding tombstones against
    * late older upserts, and GC-ing them past `tombstoneHorizonMs`.
    * Every batch row converts to a versioned row, and the keyed merge
    * of the union with state keeps each key's (ts_ms, pos) winner.
    * State holds one row per key, so max over the union equals the
    * window-rank-1 over the batch-deduped union that
    * [[applyBatchVersioned]] (the batch reference) computes. Read the
    * live rows with [[replicaVersioned]].
    */
  def materializerVersioned(spark: SparkSession, stateDir: String,
      numBuckets: Int = DefaultBuckets,
      tombstoneHorizonMs: Long = Long.MaxValue, retain: Int = 2)(
      batch: DataFrame, batchId: Long): Unit = {
    ExactlyOnce.advanceStateBucketed(spark, stateDir, batchId, batch,
      "partitionKey", numBuckets, retain)(emptyVersioned(spark)) {
      (current, cluster) =>
        dropOldTombstones(keyedMerge(current.unionByName(changeRows(batch)),
          cluster, "ts_ms", "pos"), batch, tombstoneHorizonMs)
    }
    ()
  }

  /** The live (non-tombstoned) rows of a [[materializerVersioned]]
    * state, in the same shape [[replica]] returns.
    */
  def replicaVersioned(spark: SparkSession, stateDir: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed replica state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(emptyVersioned(spark))
      .filter(!col("deleted")).drop("deleted")
  }

  /** The replica's fixed schema: partitionKey + the dynamic after-image
    * map + the change position that produced it.
    */
  val replicaSchema: StructType = StructType(Seq(
    StructField("partitionKey", StringType),
    StructField("after", MapType(StringType, StringType)),
    StructField("ts_ms", LongType),
    StructField("pos", LongType)))

  /** The newest committed replica state at `stateDir` (per bucket, the
    * newest committed epoch's version).
    */
  def replica(spark: SparkSession, stateDir: String): DataFrame = {
    require(ExactlyOnce.hasCommittedState(spark, stateDir),
      s"no committed replica state under $stateDir")
    ExactlyOnce.currentStateBucketed(spark, stateDir)(emptyReplica(spark))
  }

  /** TIME TRAVEL: the LIVE rows of a [[materializerVersioned]] state
    * exactly as they stood when epoch `asOf` committed (a lake table's
    * `VERSION AS OF` over the CDC apply), tombstones resolved then
    * dropped. Reachable depth is the `retain` the materializer ran
    * with; pass the same value here (it disambiguates written-empty
    * buckets from retired versions — see
    * [[ExactlyOnce.currentStateBucketedAsOf]]).
    */
  def replicaVersionedAsOf(spark: SparkSession, stateDir: String,
      asOf: Long, retain: Int = 2): DataFrame =
    ExactlyOnce.currentStateBucketedAsOf(spark, stateDir, asOf, retain)(
      emptyVersioned(spark))
      .filter(!col("deleted")).drop("deleted")
}
