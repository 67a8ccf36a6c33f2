package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `events` table inputs of the snapshot and tail workloads, and the
  * benchmark's own reference for what the pipeline must deliver for each
  * of them. The reference is written from the envelope and routing rules
  * (Debezium MySQL envelope, op from `event_id % 10`, `db.table.pk` key,
  * `String.hashCode % 12` partition, `topicPrefix + lower(db)` topic,
  * truncation to `max` when `length >= max`) and shares no code with the
  * program under test.
  */
object Events {
  val Db = "test_db"
  val Table = "events"
  val TopicPrefix = "flink_cdc_"
  val Topic: String = TopicPrefix + Db
  val Partitions = 12
  /** Same rule set as `CdcQueries.config`: PK event_id, event_type cut to
    * 6 and props to 8 characters.
    */
  val TablePk: String =
    """[{"db":"test_db","table":"eve.*","primary_key":"event_id","column_max_length":"event_type=6|props=8"}]"""
  val EventTypeMax = 6
  val PropsMax = 8

  private val Types = Array("view", "click", "login", "search", "logout",
    "purchase", "add_to_cart", "share")
  private val BaseSec = 1700000000L
  private val Letters = "abcdefghijklmnopqrstuvwxyz0123456789-"

  final case class Ev(id: Long, tsSec: Long, userId: Long, eventType: String,
      cents: Long, props: String)

  def event(seed: Long, id: Long): Ev = {
    val r = Gen.h(seed, id, 1)
    val props =
      if ((r >>> 59) == 0) null // about 3% null props
      else {
        val len = 3 + ((r >>> 40) % 18).toInt
        val p = Gen.h(seed, id, 2)
        val b = new StringBuilder(len)
        var i = 0
        while (i < len) {
          b += Letters(((p >>> (i % 10 * 6)) & 0x3f).toInt % Letters.length)
          i += 1
        }
        b.toString
      }
    Ev(id, BaseSec + id / 8 + (r & 3), (r >>> 8) % 50000,
      Types(((r >>> 24) & 7).toInt), (r >>> 32) % 1000000, props)
  }

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def row(e: Ev): Row = Row(e.id,
    LocalDateTime.ofEpochSecond(e.tsSec, 0, ZoneOffset.UTC), e.userId,
    e.eventType, e.cents / 100.0, e.props)

  /** Writes events `[lo, hi)` of each range as one parquet file per range. */
  def write(spark: SparkSession, seed: Long, ranges: Seq[(Long, Long)],
      path: String): Unit = {
    val rdd = spark.sparkContext.parallelize(ranges, ranges.size)
      .flatMap { case (lo, hi) => (lo until hi).iterator.map(id => row(event(seed, id))) }
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------ reference

  def op(id: Long): String = Math.floorMod(id, 10L) match {
    case 0 => "d"
    case 1 => "u"
    case _ => "c"
  }
  def key(id: Long): String = s"$Db.$Table.$id"
  def partition(key: String): Int = math.abs(key.hashCode % Partitions)
  /** True when an enriched record of this event carries a cut column. */
  def truncated(e: Ev): Boolean =
    e.eventType.length >= EventTypeMax || (e.props != null && e.props.length >= PropsMax)

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def cut(s: String, max: Int, on: Boolean): String =
    if (on && s.length >= max) s.substring(0, max) else s

  private def image(e: Ev, truncate: Boolean): String = {
    val props = if (e.props == null) "null"
      else "\"" + cut(e.props, PropsMax, truncate) + "\""
    val ts = LocalDateTime.ofEpochSecond(e.tsSec, 0, ZoneOffset.UTC).format(TsFmt)
    val value = f"${e.cents / 100}%d.${e.cents % 100}%02d"
    s"""{"event_id":"${e.id}","ts":"$ts","user_id":"${e.userId}",""" +
      s""""event_type":"${cut(e.eventType, EventTypeMax, truncate)}",""" +
      s""""value":"$value","props":$props}"""
  }

  /** The enriched record value: the Debezium envelope with the keyed image
    * (`before` for deletes, else `after`) truncated.
    */
  def value(e: Ev): String = {
    val o = op(e.id)
    val before = if (o == "d" || o == "u") image(e, truncate = o == "d") else "null"
    val after = if (o != "d") image(e, truncate = true) else "null"
    val tsMs = e.tsSec * 1000
    s"""{"before":$before,"after":$after,"source":{"version":"1.6.4.Final",""" +
      s""""connector":"mysql","name":"mysql_binlog_source","ts_ms":$tsMs,""" +
      s""""snapshot":"false","db":"$Db","sequence":null,"table":"$Table",""" +
      s""""server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.000001",""" +
      s""""pos":${e.id},"row":0,"thread":null,"query":null},"op":"$o","ts_ms":$tsMs}"""
  }

  /** Expected (partition, digest) of event `id`'s delivered record. */
  def expected(seed: Long, id: Long): (Int, Long) = {
    val k = key(id)
    (partition(k), Recorder.digest(Topic,
      k.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      value(event(seed, id)).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }
}
