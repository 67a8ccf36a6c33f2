package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.CdcApply

/** The Mongo change-stream apply: [[CdcApply.materializerMongo]] folds
  * `fullDocument` envelopes (no before-images) into the replica, and
  * [[CdcApply.lastChangePerKeyMongo]] orders same-key changes
  * deterministically and rejects envelopes it cannot apply.
  */
class ChangelogLookupSpec extends SparkSpec {

  test("materializerMongo folds a copy-existing epoch plus a tail into " +
      "the last change per key, and a replayed epoch is a no-op") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val replicaDir = Files.createTempDirectory("graft_mongo_apply").toString
    val events = queries.Tables.events(spark, sf)
    def enriched(envelopes: DataFrame): DataFrame =
      graft.operators.CdcEnrichment.enrichMongo(envelopes.as[String]).toDF()
    val copy = enriched(graft.sources.CdcReplay.mongoEnvelopeJson(
      events.filter(col("event_id") < 600), copyExisting = true,
      withFullDocument = true))
    // the tail: the replay's later events plus a day-later change to
    // every 7th copied key (updates, and deletes where event_id % 10 == 0)
    val tail = enriched(graft.sources.CdcReplay.mongoEnvelopeJson(
      events.filter(col("event_id") >= 600).unionByName(
        events.filter(col("event_id") < 600 && col("event_id") % 7 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))),
      withFullDocument = true))
    val m = CdcApply.materializerMongo(spark, replicaDir) _
    m(copy, 0L)
    m(tail, 1L)

    def rows(df: DataFrame) =
      df.select(col("partitionKey"), to_json(col("after")).as("after"),
        col("ts_ms"), col("pos")).collect().toSet
    val want = CdcApply.lastChangePerKeyMongo(copy.unionByName(tail))
      .filter(col("op") =!= "d").drop("op")
    val got = rows(CdcApply.replica(spark, replicaDir))
    assert(got == rows(want))
    // copied keys the tail deleted are gone, ones it updated survive
    val keys = got.map(_.getString(0))
    assert(!keys.exists(_.endsWith(".70")) && keys.exists(_.endsWith(".7")))

    m(tail, 1L)
    assert(rows(CdcApply.replica(spark, replicaDir)) == got)
  }

  // ---- mongo envelope hardening (round-7 ADVICE items 1 + 2) ----

  private def chain(t: Throwable): String = {
    val sw = new java.io.StringWriter
    t.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString
  }

  test("mongo same-millisecond changes to one key resolve " +
      "deterministically by clusterTime, with realistic resume-token " +
      "_ids the numeric-tail regex cannot order") {
    import spark.implicits._
    def env(id: String, full: String, ts: Long, ct: String) = {
      val esc = full.replace("\"", "\\\"")
      s"""{"_id":"$id","operationType":"update","fullDocument":"$esc",""" +
        s""""ts_ms":$ts,"clusterTime":"$ct"}"""
    }
    // both _ids carry the SAME digit run (82...), so pos ties; ts_ms
    // ties too — only clusterTime orders them
    val rows = Seq(
      ("k1", env("82AB0000", "{\"v\": \"old\"}", 100L,
        "Timestamp(1700000001, 1)")),
      ("k1", env("82AB0000", "{\"v\": \"new\"}", 100L,
        "Timestamp(1700000001, 2)")))
    def winner(input: Seq[(String, String)]): String =
      CdcApply.lastChangePerKeyMongo(input.toDF("partitionKey", "value"))
        .collect() match {
          case Array(r) => r.getAs[Map[String, String]]("after")("v")
        }
    assert(winner(rows) == "new")
    assert(winner(rows.reverse) == "new") // arrival order is irrelevant

    // digit-boundary crossing: i=10 > i=9 numerically but "10" < "9"
    // lexicographically — a string compare of the rendered clusterTime
    // would deterministically pick the OLDER image here
    val boundary = Seq(
      ("k1", env("82AB0000", "{\"v\": \"old\"}", 100L,
        "Timestamp(1700000001, 9)")),
      ("k1", env("82AB0000", "{\"v\": \"new\"}", 100L,
        "Timestamp(1700000001, 10)")))
    assert(winner(boundary) == "new")
    assert(winner(boundary.reverse) == "new")
    // same crossing in the extended-JSON rendering, and on t itself
    val extJson = Seq(
      ("k1", env("82AB0000", "{\"v\": \"old\"}", 100L,
        "{\\\"t\\\":99,\\\"i\\\":1}")),
      ("k1", env("82AB0000", "{\"v\": \"new\"}", 100L,
        "{\\\"t\\\":100,\\\"i\\\":1}")))
    assert(winner(extJson) == "new")
    assert(winner(extJson.reverse) == "new")
  }

  test("a real hex resume-token _id yields a null pos — its leading " +
      "digit run injects no pseudo-order into the tiebreak chain") {
    import spark.implicits._
    // _id "82AB10" vs "9XY2": an UNANCHORED first-digit-run regex
    // would give pos 82 vs 9 and pick the first; anchored ^evt_(\d+)$
    // leaves pos null for both and clusterTime decides
    def env(id: String, v: String, ct: String) = {
      val esc = s"""{"v": "$v"}""".replace("\"", "\\\"")
      s"""{"_id":"$id","operationType":"update","fullDocument":"$esc",""" +
        s""""ts_ms":100,"clusterTime":"$ct"}"""
    }
    val rows = Seq(
      ("k1", env("82AB10", "loser", "Timestamp(1, 1)")),
      ("k1", env("9XY2", "winner", "Timestamp(1, 2)")))
    val out = CdcApply.lastChangePerKeyMongo(
      rows.toDF("partitionKey", "value")).collect()
    assert(out.head.getAs[Map[String, String]]("after")("v") == "winner")
    assert(out.head.isNullAt(out.head.fieldIndex("pos")))
  }

  test("a mongo non-delete change without fullDocument fails loudly " +
      "instead of upserting a null image") {
    import spark.implicits._
    val rows = Seq(("k1",
      """{"_id":"evt_1","operationType":"update","ts_ms":5}"""))
      .toDF("partitionKey", "value")
    val e = intercept[Throwable] {
      CdcApply.lastChangePerKeyMongo(rows).collect()
    }
    assert(chain(e).contains("fullDocument"), chain(e).take(500))
  }

  test("collection-level mongo operationTypes (drop/rename/invalidate) " +
      "are rejected, never mapped to an upsert") {
    import spark.implicits._
    Seq("drop", "rename", "invalidate").foreach { t =>
      val rows = Seq(("k1",
        s"""{"_id":"evt_1","operationType":"$t","ts_ms":5}"""))
        .toDF("partitionKey", "value")
      val e = intercept[Throwable] {
        CdcApply.lastChangePerKeyMongo(rows).collect()
      }
      assert(chain(e).contains("unsupported mongo operationType"),
        chain(e).take(500))
    }
  }
}
