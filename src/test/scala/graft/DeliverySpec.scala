package graft

import java.nio.file.Files

import graft.config.CdcParams
import graft.streaming.CdcPipeline

/** Static recorder shared between executor threads (local mode = same
  * JVM) standing in for a Kafka broker's transaction log: records become
  * visible (read_committed semantics) only on commitTransaction.
  */
object TxnRecorder {
  import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
  val committedRecords = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val aborted = new AtomicInteger(0)
  val sent = new AtomicLong(0)
  /** Sends fail once this many records have gone through (crash fault). */
  val failAfter = new AtomicInteger(Int.MaxValue)
  /** Sends of ODD integer keys fail (after a short delay so the even
    * partition's transaction deterministically commits first) — the
    * partial-epoch-commit fault: one partition commits, another crashes.
    */
  val failOddKeys = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Per-transactional.id broker state (the transaction log): txn ids
    * whose last transaction COMMITTED. Mimics what a resumed
    * kafka-clients producer learns from the coordinator.
    */
  val brokerCommitted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** When set, close() throws AFTER a successful commit — the crash in
    * the commit-vs-marker window (commit durable at the broker, marker
    * never written).
    */
  val crashAfterCommit = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    committedRecords.clear(); aborted.set(0); sent.set(0)
    failAfter.set(Int.MaxValue); failOddKeys.set(false)
    brokerCommitted.clear(); crashAfterCommit.set(false)
  }
}

/** Mock transactional producer: buffers sends, publishes on commit —
  * the state machine kafka-clients' KafkaProducer implements.
  */
class RecordingProducer extends graft.operators.ExactlyOnce.TxnProducer {
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  override def beginTransaction(): Unit = buffer.clear()
  override def sendRecord(topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte]): Unit = {
    val k = new String(key, java.nio.charset.StandardCharsets.UTF_8)
    if (TxnRecorder.sent.incrementAndGet() > TxnRecorder.failAfter.get())
      throw new RuntimeException("simulated broker failure mid-transaction")
    if (TxnRecorder.failOddKeys.get() && k.toLong % 2 == 1) {
      Thread.sleep(500) // let the even partition commit first
      throw new RuntimeException("simulated failure in odd-key partition")
    }
    buffer += ((k, new String(value, java.nio.charset.StandardCharsets.UTF_8)))
  }
  override def commitTransaction(): Unit =
    buffer.foreach(TxnRecorder.committedRecords.add)
  override def abortTransaction(): Unit = {
    TxnRecorder.aborted.incrementAndGet(); buffer.clear()
  }
  override def close(): Unit = ()
}

/** Recording producer with a stable transactional.id and broker-side
  * transaction recovery — the full kafka-clients shape: commit records
  * the id in the broker's transaction log; a successor producer with
  * the same id can learn its predecessor committed and finish
  * idempotently instead of re-sending.
  */
class RecoverableRecordingProducer(txnId: String)
    extends RecordingProducer
    with graft.operators.ExactlyOnce.RecoverableTxnProducer {
  private var committedThisLife = false
  override def commitTransaction(): Unit = {
    super.commitTransaction()
    TxnRecorder.brokerCommitted.add(txnId) // durable at the broker
    committedThisLife = true
  }
  override def resumeAndCommit(): Boolean =
    // idempotent re-commit: the coordinator reports this id's last
    // transaction committed ⇒ records are visible; nothing to send
    TxnRecorder.brokerCommitted.contains(txnId)
  override def close(): Unit =
    if (committedThisLife && TxnRecorder.crashAfterCommit.get())
      throw new RuntimeException(
        "simulated crash between commitTransaction and marker write")
}

/** In-process stand-in for a Kafka broker's committed log, keyed by the
  * full ProducerRecord shape — what the E2E produce test byte-compares
  * against the routing oracle.
  */
object KafkaRecordRecorder {
  val records =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, String, String)]()
}

/** Transactional producer recording full (topic, partition, key, value)
  * records; visible only on commit, like read_committed.
  */
class KafkaRecordProducer extends graft.operators.ExactlyOnce.TxnProducer {
  private val buffer =
    scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, String)]
  override def beginTransaction(): Unit = buffer.clear()
  override def sendRecord(topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte]): Unit =
    buffer += ((topic, partition,
      new String(key, java.nio.charset.StandardCharsets.UTF_8),
      new String(value, java.nio.charset.StandardCharsets.UTF_8)))
  override def commitTransaction(): Unit =
    buffer.foreach(KafkaRecordRecorder.records.add)
  override def abortTransaction(): Unit = buffer.clear()
  override def close(): Unit = ()
}

/** Drives the exactly_once sink path end-to-end: the full CDC pipeline
  * through the fenced foreachBatch writer into a lake directory.
  */
class DeliverySpec extends SparkSpec {

  test("transactional producer fencing: crash mid-epoch replays, marker fences") {
    import graft.operators.ExactlyOnce
    val ledger = Files.createTempDirectory("graft_txn_ledger").toString
    TxnRecorder.reset()

    val batch = spark.range(0, 100).selectExpr(
      "'t' AS topic", "CAST(id AS STRING) AS key",
      "CAST(id * 2 AS STRING) AS value")
      .coalesce(1) // one partition ⇒ one transaction per attempt

    // attempt 1 crashes mid-send: transaction aborted, NO epoch marker
    TxnRecorder.failAfter.set(10)
    intercept[Exception] {
      ExactlyOnce.foreachBatchTransactionalKafka(
        ledger, _ => new RecordingProducer)(batch, 5L)
    }
    assert(TxnRecorder.aborted.get() == 1)
    assert(TxnRecorder.committedRecords.isEmpty)
    assert(!new java.io.File(s"$ledger/epoch-5").exists())

    // replay (same batchId): marker absent ⇒ the epoch re-runs in full
    TxnRecorder.failAfter.set(Int.MaxValue)
    ExactlyOnce.foreachBatchTransactionalKafka(
      ledger, _ => new RecordingProducer)(batch, 5L)
    assert(TxnRecorder.committedRecords.size() == 100)
    assert(new java.io.File(s"$ledger/epoch-5").exists())

    // second replay: marker present ⇒ fenced no-op, nothing re-sent
    ExactlyOnce.foreachBatchTransactionalKafka(
      ledger, _ => new RecordingProducer)(batch, 5L)
    assert(TxnRecorder.committedRecords.size() == 100)
  }

  test("per-partition fencing: committed partition is NOT re-sent on epoch replay") {
    import graft.operators.ExactlyOnce
    import org.apache.spark.sql.functions.col
    val ledger = Files.createTempDirectory("graft_txn_ledger_pp").toString
    TxnRecorder.reset()

    // two partitions split by key parity: evens commit, odds crash
    val batch = spark.range(0, 100)
      .repartitionByRange(2, col("id") % 2) // partition 0 = evens, 1 = odds
      .selectExpr("'t' AS topic", "CAST(id AS STRING) AS key",
        "CAST(id * 2 AS STRING) AS value")

    TxnRecorder.failOddKeys.set(true)
    intercept[Exception] {
      ExactlyOnce.foreachBatchTransactionalKafka(
        ledger, _ => new RecordingProducer)(batch, 7L)
    }
    // partial epoch: the even partition committed and wrote its part
    // marker; the odd partition aborted; the epoch is NOT sealed
    val committed1 = TxnRecorder.committedRecords.toArray
      .map(_.asInstanceOf[(String, String)]._1.toLong).toSet
    assert(committed1 == (0L until 100L by 2).toSet,
      s"expected exactly the evens committed, got ${committed1.size} keys")
    assert(!new java.io.File(s"$ledger/epoch-7").exists())
    assert(new java.io.File(ledger).list().exists(_.startsWith("epoch-7.part-")))

    // replay of the SAME epoch: the committed partition is fenced by its
    // part marker (no duplicate sends); only the aborted partition runs
    TxnRecorder.failOddKeys.set(false)
    ExactlyOnce.foreachBatchTransactionalKafka(
      ledger, _ => new RecordingProducer)(batch, 7L)
    val keys = TxnRecorder.committedRecords.toArray
      .map(_.asInstanceOf[(String, String)]._1.toLong).toSeq
    assert(keys.size == 100, s"expected one copy of each record, got ${keys.size}")
    assert(keys.distinct.size == 100, "duplicate records visible to read_committed")
    assert(new java.io.File(s"$ledger/epoch-7").exists())

    // whole-epoch replay after sealing: fast-path fenced no-op
    ExactlyOnce.foreachBatchTransactionalKafka(
      ledger, _ => new RecordingProducer)(batch, 7L)
    assert(TxnRecorder.committedRecords.size() == 100)
  }

  test("commit-vs-marker torn window: crash after commit, before marker — " +
      "recovery probe re-commits idempotently, nothing re-sent") {
    import graft.operators.ExactlyOnce
    import org.apache.spark.TaskContext
    val ledger = Files.createTempDirectory("graft_txn_ledger_tw").toString
    TxnRecorder.reset()

    val batch = spark.range(0, 100).selectExpr(
      "'t' AS topic", "CAST(id AS STRING) AS key",
      "CAST(id * 2 AS STRING) AS value")
      .coalesce(1)
    // EPOCH-scoped transactional.id — `graft-txn-$batchId-$pid`, the
    // per-checkpoint rotation the real kafka-clients binding relies on
    // (a stable per-partition-only id would carry broker state across
    // epochs and fence NORMAL later epochs into skipping their sends)
    val factory = (batchId: Long) => new RecoverableRecordingProducer(
      s"graft-txn-$batchId-${TaskContext.getPartitionId()}")

    // attempt 1: the transaction COMMITS at the broker, then the task
    // dies before its part marker lands (close() throws post-commit)
    TxnRecorder.crashAfterCommit.set(true)
    intercept[Exception] {
      ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 9L)
    }
    assert(TxnRecorder.committedRecords.size() == 100,
      "commit reached the broker before the crash")
    assert(!new java.io.File(s"$ledger/epoch-9").exists())
    assert(!new java.io.File(ledger).list().exists(_.startsWith("epoch-9.part-")),
      "crash happened before the marker write")

    // replay: no marker, so a naive writer would re-send all 100. The
    // recovery probe resumes the same transactional.id, learns the
    // prior transaction committed, writes only the missing marker.
    TxnRecorder.crashAfterCommit.set(false)
    ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 9L)
    val keys = TxnRecorder.committedRecords.toArray
      .map(_.asInstanceOf[(String, String)]._1.toLong).toSeq
    assert(keys.size == 100,
      s"exactly one copy of each record, got ${keys.size}")
    assert(keys.distinct.size == 100,
      "duplicate records visible to read_committed")
    assert(new java.io.File(s"$ledger/epoch-9").exists())

    // an id with NO committed transaction (aborted predecessor) must
    // still replay in full: probe false ⇒ normal send path
    TxnRecorder.reset()
    TxnRecorder.failAfter.set(10)
    intercept[Exception] {
      ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 10L)
    }
    assert(TxnRecorder.committedRecords.isEmpty, "aborted ⇒ invisible")
    TxnRecorder.failAfter.set(Int.MaxValue)
    ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 10L)
    assert(TxnRecorder.committedRecords.size() == 100)
  }

  test("consecutive NORMAL epochs through one recoverable factory with " +
      "persistent broker state: epoch N+1 is not fenced by epoch N's commit") {
    import graft.operators.ExactlyOnce
    import org.apache.spark.TaskContext
    // the ledger sits where a state dir's does, so the public fence
    // probe can read it
    val root = Files.createTempDirectory("graft_txn_ledger_xe").toString
    val ledger = s"$root/_ledger"
    TxnRecorder.reset()

    val batch = spark.range(0, 100).selectExpr(
      "'t' AS topic", "CAST(id AS STRING) AS key",
      "CAST(id * 2 AS STRING) AS value")
      .coalesce(1)
    val factory = (batchId: Long) => new RecoverableRecordingProducer(
      s"graft-txn-$batchId-${TaskContext.getPartitionId()}")

    // epoch 20 commits normally; brokerCommitted is NOT reset afterward —
    // the broker's transaction log survives between micro-batches, which
    // is exactly the state a stable (non-epoch-scoped) transactional.id
    // would trip over: epoch 21's recovery probe would see "last
    // transaction committed", skip every send, and still write its
    // marker — silent loss of the entire epoch. Epoch-scoped ids make
    // the probe see only THIS epoch's (nonexistent) prior transaction.
    ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 20L)
    assert(TxnRecorder.committedRecords.size() == 100)
    assert(TxnRecorder.brokerCommitted.size() == 1, "broker state persists")

    ExactlyOnce.foreachBatchTransactionalKafka(ledger, factory)(batch, 21L)
    val keys = TxnRecorder.committedRecords.toArray
      .map(_.asInstanceOf[(String, String)]._1.toLong).toSeq
    assert(keys.size == 200,
      s"both epochs' records must be visible, got ${keys.size} " +
        "(100 = epoch 21 was silently fenced by epoch 20's broker state)")
    assert(keys.distinct.size == 100 && keys.groupBy(identity).forall(_._2.size == 2),
      "each record exactly once per epoch")
    // both committed, through the fence: epoch 21's marker, and epoch
    // 20's marker or the watermark it was folded into
    assert(ExactlyOnce.isEpochCommitted(spark, root, 20L))
    assert(ExactlyOnce.isEpochCommitted(spark, root, 21L))
  }

  test("E2E fenced produce: CdcPipeline → ExactlyOnce → recorded Kafka " +
      "records byte-match the cdc_route_topic_partition oracle surface") {
    import org.apache.spark.sql.functions.col
    val ckpt = Files.createTempDirectory("graft_e2e_produce").toString
    KafkaRecordRecorder.records.clear()
    val params = CdcParams(
      topic = "cdc_topic", topicPrefix = "flink_cdc_",
      deliveryGuarantee = "exactly_once",
      checkpointDir = ckpt, checkpointInterval = 1,
      // identical table_pk config to CdcQueries.config (incl. the
      // truncation rules) — value bytes must match the oracle surface
      tablePk = """[{"db":"test_db","table":"eve.*","primary_key":"event_id","column_max_length":"event_type=6|props=8"}]""")
    // the SAME projection the declared routing query uses: 12 partitions
    val df = CdcPipeline.build(spark, sf, params, numPartitions = 12)
    val q = CdcPipeline.transactionalSink(df, params,
      _ => new KafkaRecordProducer).start()
    try q.processAllAvailable() finally q.stop()

    val produced = KafkaRecordRecorder.records.toArray
      .map(_.asInstanceOf[(String, Int, String, String)])
    assert(produced.length == 1000, s"expected 1000 records, got ${produced.length}")
    assert(produced.map(r => (r._1, r._2, r._3)).distinct.length == 1000,
      "duplicate (topic, partition, key) records produced")

    // byte-compare the routing surface against the declared query the
    // driver oracle-checks (key string, topic, partition)
    val expected = SparkEntry.queries("cdc_route_topic_partition")(spark, sf)
      .select(col("partition_key"), col("topic"), col("partition"))
      .collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(0))).toSet
    assert(produced.map(r => (r._1, r._2, r._3)).toSet == expected,
      "produced (topic, partition, key) set differs from the oracle surface")

    // value bytes: every produced value is the enriched JSON for its key
    val enrichedVals = graft.queries.CdcQueries.enriched(spark, sf)
      .selectExpr("partitionKey", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    produced.foreach { case (_, _, k, v) =>
      assert(enrichedVals(k) == v, s"value bytes differ for key $k")
    }
  }
}
