package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC replay source: re-expresses the driver's `events` parquet table as a
  * stream of MySQL Debezium change-event envelopes, so the whole pipeline
  * (source → enrich → kafka projection) is exercisable in-repo without a
  * MySQL binlog (SURVEY §7 step 5 — "file-backed CDC replay source").
  *
  * Works identically under `spark.read` (batch, DuckDB-oracle-checkable)
  * and `spark.readStream` (file streaming) because the envelope
  * construction is pure Column API.
  *
  * Determinism: `op` derives from `event_id` — `event_id % 10`: 0 ⇒ "d"
  * (delete, row image in `before`), 1 ⇒ "u" (update, image in both),
  * otherwise "c" (create, image in `after` only) — matching Debezium's
  * rule that deletes carry only `before` and creates only `after`
  * (reference envelope example MySQLCDC2AWSMSK.scala:91; op semantics
  * :116-131).
  */
object CdcReplay {

  /** The events schema a landing zone is EXPECTED to fill with: the
    * current fixtures' TIMESTAMP(MICROS)-as-NTZ layout. Used only when
    * the schema peek finds nothing to peek at (stream started before
    * the first part file arrived).
    */
  val emptyZoneSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Raw events file stream with a batch schema peek, so the fixture's
    * physical timestamp layout — TIMESTAMP(MICROS) today, nanos-as-long
    * historically — streams with TRUE timestamps either way: the
    * conversion is `Tables.normalizeEventsTs`, the SAME code the batch
    * path applies. Streams the landing-zone directory directly when
    * `events.parquet` is one (part files arriving), else globs the
    * single fixture file from its parent. A landing zone with no files
    * yet has nothing to peek — the stream then starts idle on
    * [[emptyZoneSchema]] and picks files up as they arrive.
    */
  def rawEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val peeked =
      try Some(spark.read.parquet(path).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val isDir =
      try org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
        .getFileStatus(new org.apache.hadoop.fs.Path(path)).isDirectory
      catch { case _: java.io.FileNotFoundException => true } // not-yet-created zone
    val reader = spark.readStream.schema(peeked.getOrElse(emptyZoneSchema))
      .option("maxFilesPerTrigger", 1)
    val raw0 =
      if (isDir) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val normalized = graft.queries.Tables.normalizeEventsTs(raw0)
    // The empty-zone path ASSUMED [[emptyZoneSchema]] (timestamp
    // micros) with nothing to peek at; if files later arrive in the
    // historical nanos-as-long layout, the fixed stream schema would
    // decode raw nanos as micros — timestamps ~1000x in the future,
    // silently. Fail the batch on the first such row instead: a real
    // micros value is bounded far below year 2500 (~16.7e15 micros),
    // a 2020-era nanos value lands ~year 52000 when misread. Peeked
    // schemas need no guard — the conversion is layout-driven there.
    if (peeked.isEmpty)
      normalized.withColumn("ts",
        when(col("ts").isNull || year(col("ts")) < 2500, col("ts"))
          .otherwise(raise_error(concat(lit(
            s"landing zone $path: arriving files do not match the " +
              "assumed timestamp-micros layout (ts decoded as "),
            col("ts").cast("string"),
            lit(") - nanos-as-long fixtures must be re-peeked")))))
    else normalized
  }

  /** Deterministic op code for an events row. */
  def opExpr(eventId: Column): Column =
    when(pmod(eventId, lit(10)) === 0, "d")
      .when(pmod(eventId, lit(10)) === 1, "u")
      .otherwise("c")

  /** The row image as a map<string,string> (the dynamic Debezium row shape,
    * SURVEY §1.2): decimals/timestamps stringified per the reference's
    * portability policy (`decimal.handling.mode=string`, the
    * DebeziumConverter datetime formats — DebeziumConverter.java:82-105).
    */
  private def imageExpr(df: DataFrame): Column = map(
    lit("event_id"), col("event_id").cast("string"),
    lit("ts"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
    lit("user_id"), col("user_id").cast("string"),
    lit("event_type"), col("event_type"),
    lit("value"), col("value").cast("decimal(18,2)").cast("string"),
    lit("props"), col("props"))

  /** events rows → full Debezium envelope DataFrame with typed columns
    * (before, after, source, op, ts_ms) — the known-schema analytics form.
    */
  def envelope(events: DataFrame, db: String = "test_db",
      table: String = "events"): DataFrame = {
    val op = opExpr(col("event_id"))
    val image = imageExpr(events)
    events.select(
      when(op === "d" || op === "u", image).as("before"),
      when(op =!= "d", image).as("after"),
      struct(
        lit("1.6.4.Final").as("version"),
        lit("mysql").as("connector"),
        lit("mysql_binlog_source").as("name"),
        (unix_timestamp(col("ts")) * 1000).as("ts_ms"),
        lit("false").as("snapshot"),
        lit(db).as("db"),
        lit(null).cast("string").as("sequence"),
        lit(table).as("table"),
        lit(57330068L).as("server_id"),
        lit(null).cast("string").as("gtid"),
        lit("mysql-bin-changelog.000001").as("file"),
        col("event_id").as("pos"),
        lit(0).as("row"),
        lit(null).cast("long").as("thread"),
        lit(null).cast("string").as("query")).as("source"),
      op.as("op"),
      (unix_timestamp(col("ts")) * 1000).as("ts_ms"))
  }

  /** Envelope DataFrame → Debezium JSON strings (the wire form the dynamic
    * enrichment path consumes). Null fields retained in the JSON, matching
    * Gson `serializeNulls` (MySQLCDC2AWSMSK.scala:38).
    */
  def envelopeJson(envelope: DataFrame): DataFrame =
    envelope.select(to_json(
      struct(col("before"), col("after"), col("source"), col("op"), col("ts_ms")),
      Map("ignoreNullFields" -> "false")).as("value"))

  /** Batch replay: events parquet at `sfDir` → Debezium JSON lines.
    * A scan planned into fewer than `defaultParallelism` partitions (a
    * single-row-group file) is rebalanced before the (CPU-heavy)
    * envelope JSON construction — mirroring the reference's post-source
    * `rebalance` (MySQLCDC2AWSMSK.scala:95). A wider scan already keeps
    * every core busy, so it goes straight on: there the round robin
    * only costs a shuffle of the raw rows. The scan's plan has no
    * exchange, so reading its partition count runs no job.
    */
  def batch(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.queries.Tables.events(spark, sfDir)
    val wide = events.queryExecution.toRdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism
    envelopeJson(envelope(if (wide) events else graft.queries.Tables.rebalance(events)))
  }

  /** events rows → Mongo change-stream envelope JSON (ns.db/ns.coll,
    * operationType, documentKey — reference MongoCDC2AWSMSK.scala:95-96),
    * shared by the batch oracle query and the streaming Mongo pipeline.
    * `copyExisting=true` emits SYNTHETIC INSERT envelopes regardless of
    * the row's op — the shape Mongo's copy.existing initial load
    * produces (reference MongoCDC2AWSMSK.scala:156-169).
    */
  def mongoEnvelopeJson(events: DataFrame, db: String = "test_db",
      coll: String = "events", copyExisting: Boolean = false,
      withFullDocument: Boolean = false): DataFrame = {
    val op = opExpr(col("event_id"))
    val opType =
      if (copyExisting) lit("insert")
      else when(op === "d", "delete").when(op === "u", "update")
        .otherwise("insert")
    // the real change stream carries the post-image for inserts and
    // replaces (and for updates under updateLookup) but NEVER a
    // before-image, so the Mongo apply keys on the last post-image per
    // key. Deletes carry no document.
    val fullDoc =
      if (!withFullDocument) lit(null).cast("string")
      else when(opType === "delete", lit(null).cast("string"))
        .otherwise(to_json(struct(
          col("event_id").cast("string").as("event_id"),
          col("event_type").cast("string").as("event_type"),
          col("value").cast("string").as("value"))))
    events.select(to_json(struct(
      concat(lit("evt_"), col("event_id")).as("_id"),
      opType.as("operationType"),
      fullDoc.as("fullDocument"),
      struct(lit(db).as("db"), lit(coll).as("coll")).as("ns"),
      concat(lit("{\"_id\": "), col("event_id"), lit("}")).as("documentKey"),
      (unix_timestamp(col("ts")) * 1000).as("ts_ms"))).as("value"))
  }

  /** Streaming Mongo change-stream replay (the Mongo twin of [[stream]]).
    * `afterId >= 0` fences the stream to events beyond the copy-existing
    * watermark (the resume-token position of a real change stream).
    * Reads `$sfDir/events.parquet` directly (file OR directory of
    * arriving part files — a CDC landing zone), with a batch schema peek
    * so both the fixture's nanos-long and plain timestamp layouts work.
    */
  def mongoStream(spark: SparkSession, sfDir: String,
      afterId: Long = -1L, withFullDocument: Boolean = false): DataFrame = {
    val raw = rawEventsStream(spark, sfDir)
    val fenced = if (afterId >= 0) raw.filter(col("event_id") > afterId) else raw
    mongoEnvelopeJson(fenced, withFullDocument = withFullDocument)
  }

  /** Streaming replay: the same pipeline under readStream (file source).
    * `maxFilesPerTrigger=1` paces the replay like binlog micro-batches.
    */
  def stream(spark: SparkSession, sfDir: String): DataFrame =
    envelopeJson(envelope(rawEventsStream(spark, sfDir)))
}
