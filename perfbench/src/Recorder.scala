package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuilder
import scala.util.hashing.MurmurHash3

import graft.operators.ExactlyOnce

/** A committed producer transaction as the broker would expose it to a
  * `read_committed` consumer: which records became visible, and when.
  * Records are kept as (event id, partition, digest of topic + key +
  * value) so a run can check millions of them without holding the bytes.
  */
final class Txn(val batchId: Long, val beginNs: Long,
    val commitNs: Long, val ids: Array[Long], val parts: Array[Int],
    val digests: Array[Long], val bytes: Long)

/** Broker stand-in shared by every producer in the JVM (local mode runs
  * tasks in the driver JVM): records become visible on commit only.
  */
object Recorder {
  private val committed = new ConcurrentLinkedQueue[Txn]()
  val producers = new AtomicLong(0L)

  def add(t: Txn): Unit = committed.add(t)
  /** Takes every transaction committed since the last drain. */
  def drain(): Vector[Txn] = {
    val b = Vector.newBuilder[Txn]
    var t = committed.poll()
    while (t != null) { b += t; t = committed.poll() }
    b.result()
  }
  def reset(): Unit = { drain(); producers.set(0L) }

  def digest(topic: String, key: Array[Byte], value: Array[Byte]): Long = {
    val kh = MurmurHash3.bytesHash(if (key == null) Array.emptyByteArray else key,
      if (topic == null) 0 else topic.hashCode)
    val v = if (value == null) Array.emptyByteArray else value
    (MurmurHash3.bytesHash(v, kh).toLong << 32) |
      (MurmurHash3.bytesHash(v, ~kh) & 0xffffffffL)
  }

  /** The numeric primary key at the end of a `db.table.pk` key; -1 when
    * the key does not end in one.
    */
  def eventId(key: Array[Byte]): Long = {
    if (key == null || key.isEmpty) return -1L
    var i = key.length - 1
    var id = 0L
    var mul = 1L
    while (i >= 0 && key(i) >= '0' && key(i) <= '9' && mul <= 1000000000000000L) {
      id += (key(i) - '0') * mul
      mul *= 10
      i -= 1
    }
    if (i == key.length - 1 || i < 0 || key(i) != '.') -1L else id
  }

  /** Checks delivered transactions against the expected records of event
    * ids `[0, n)`: each committed exactly once, in the expected partition,
    * with the expected topic, key and value. Returns (attempted, failed):
    * one attempt per expected record, one failure per record that is
    * missing, duplicated, unexpected or different.
    */
  def check(txns: Seq[Txn], n: Int, expPart: Array[Int],
      expDigest: Array[Long]): (Long, Long) = {
    val seen = new Array[Int](n)
    var failed = 0L
    txns.foreach { t =>
      var i = 0
      while (i < t.ids.length) {
        val id = t.ids(i)
        if (id < 0 || id >= n) failed += 1
        else {
          seen(id.toInt) += 1
          if (t.parts(i) != expPart(id.toInt) || t.digests(i) != expDigest(id.toInt))
            failed += 1
        }
        i += 1
      }
    }
    var i = 0
    while (i < n) { if (seen(i) != 1) failed += 1; i += 1 }
    (n.toLong, failed)
  }

  /** Expected (partition, digest) of events `[0, n)`, built in parallel. */
  def expectedEvents(seed: Long, n: Int): (Array[Int], Array[Long]) = {
    val parts = new Array[Int](n)
    val digests = new Array[Long](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val (p, d) = Events.expected(seed, i.toLong)
      parts(i) = p
      digests(i) = d
    }
    (parts, digests)
  }
}

/** Transactional producer that records into [[Recorder]]. */
final class RecordingProducer(batchId: Long) extends ExactlyOnce.TxnProducer {
  Recorder.producers.incrementAndGet()
  private var beginNs = 0L
  private var bytes = 0L
  private val ids = ArrayBuilder.make[Long]
  private val parts = ArrayBuilder.make[Int]
  private val digests = ArrayBuilder.make[Long]

  def beginTransaction(): Unit = {
    ids.clear(); parts.clear(); digests.clear()
    bytes = 0L
    beginNs = System.nanoTime()
  }
  def send(key: String, value: String): Unit =
    sendRecord(null, -1, Option(key).map(_.getBytes(UTF_8)).orNull,
      Option(value).map(_.getBytes(UTF_8)).orNull)
  override def sendRecord(topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte]): Unit = {
    ids += Recorder.eventId(key)
    parts += partition
    digests += Recorder.digest(topic, key, value)
    bytes += (if (key == null) 0 else key.length) + (if (value == null) 0 else value.length)
  }
  def commitTransaction(): Unit =
    Recorder.add(new Txn(batchId, beginNs, System.nanoTime(), ids.result(), parts.result(),
      digests.result(), bytes))
  def abortTransaction(): Unit = ()
  def close(): Unit = ()
}
