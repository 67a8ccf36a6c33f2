package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.TablePkConfig
import graft.functions.JavaHash
import graft.operators.{CdcEnrichment, KafkaProjection}
import graft.sources.CdcReplay

/** The reference's own operator surface (SURVEY §2.1 #1-#12), exercised
  * end-to-end over the `events` fixture replayed as Debezium change
  * events: envelope encode → dynamic enrichment (regex table config, PK
  * extraction with op=="d"→before dispatch, in-place truncation) → Kafka
  * sink projection (key/value/topic/partition with the reference's
  * String.hashCode partitioner).
  *
  * Every query is batch Column-API + `mapPartitions` enrichment — the
  * identical transform chain runs under `readStream` (see
  * graft.streaming.CdcPipeline); batch mode is what makes the DuckDB
  * oracle applicable.
  */
object CdcQueries {

  /** Per-table config exercising the regex-dispatch: key pattern covers
    * the events table, PK = event_id, truncation on event_type (max 6)
    * and props (max 8) — lengths chosen so most fixture rows hit the
    * `length >= max` truncation branch (MySQLCDC2AWSMSK.scala:135-136).
    */
  val config: TablePkConfig = TablePkConfig.parse(
    """[{"db":"test_db","table":"eve.*","primary_key":"event_id","column_max_length":"event_type=6|props=8"}]""")

  /** No-PK config: forces the `db.table.no_pk` partition-key fallback. */
  val noPkConfig: TablePkConfig = TablePkConfig.parse("[]")

  /** Enriched records for `sfDir` (the shared front of every CDC query). */
  def enriched(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val lines = CdcReplay.batch(s, dir).as[String]
    CdcEnrichment.enrichMySql(lines, config).toDF()
  }

  /** Flagship: the full reference pipeline shape — replay → enrich →
    * Kafka projection with topic-prefix routing and reference-parity
    * partition assignment (12 partitions, README.md:98).
    */
  def flagship(s: SparkSession, dir: String): DataFrame =
    KafkaProjection.project(enriched(s, dir),
      topic = "cdc_topic", topicPrefix = "flink_cdc_", numPartitions = 12)

  /** DuckDB-side op derivation — must mirror CdcReplay.opExpr. */
  private val opSql =
    "CASE WHEN event_id % 10 = 0 THEN 'd' WHEN event_id % 10 = 1 THEN 'u' ELSE 'c' END"

  /** DuckDB-side truncation (length >= max ⇒ substr(1, max)). */
  private def truncSql(col: String, max: Int) =
    s"CASE WHEN LENGTH($col) >= $max THEN SUBSTR($col, 1, $max) ELSE $col END"

  /** Java String.hashCode in DuckDB SQL: left fold of `h*31 + c` over the
    * UTF-16 units (ASCII here) with 32-bit wrap-around, sign-adjusted at
    * the end — replicating the partitioner's hash bit-for-bit. `expr`
    * names a column of the surrounding query.
    */
  private def javaHashSql(expr: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, LENGTH($expr) + 1),
       |        i -> CAST(ord(SUBSTR($expr, CAST(i AS INTEGER), 1)) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 4294967296)""".stripMargin

  /** Shared oracle for the two enrichment implementations — declaring both
    * queries against the SAME SQL proves the codegen Column-API path
    * bit-identical to the parity-faithful Jackson path through an
    * external engine.
    */
  private val enrichOracleSql =
    s"""SELECT event_id, 'test_db' AS db, 'events' AS "table",
        'test_db.events.' || CAST(event_id AS VARCHAR) AS partition_key,
        $opSql AS op,
        ${truncSql("event_type", 6)} AS etype_trunc,
        ${truncSql("props", 8)} AS props_trunc
        FROM events ORDER BY event_id"""

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------ enrichment (operator #5/#6)
    "cdc_enrich_mysql" -> QueryDef(
      (s, dir) => {
        // single from_json parse (the typed envelope), not N
        // get_json_object calls that each re-parse the string
        val e = enriched(s, dir).withColumn("env",
          from_json(col("value"), graft.model.CdcEnvelope.mysqlEnvelope))
        e.select(
          col("env.source.pos").as("event_id"),
          col("db"), col("table"), col("partitionKey").as("partition_key"),
          col("env.op").as("op"),
          coalesce(
            col("env.after").getItem("event_type"),
            col("env.before").getItem("event_type")).as("etype_trunc"),
          coalesce(
            col("env.after").getItem("props"),
            col("env.before").getItem("props")).as("props_trunc"))
          .orderBy(col("event_id"))
      },
      Some(enrichOracleSql)),

    // ---------------- enrichment, codegen Column-API form (operator #5/#6)
    // The known-schema analytics path (CdcEnrichment.partitionKeyExpr +
    // truncateExpr — no mapPartitions, no UDF, whole plan codegen'd):
    // the form you'd run at 100 TB with a static table set. Same oracle
    // as cdc_enrich_mysql, so the two implementations are proven
    // equivalent every round.
    "cdc_enrich_expr" -> QueryDef(
      (s, dir) => {
        val env = CdcReplay.envelope(
          Tables.rebalance(Tables.events(s, dir)))
        val image0 = when(col("op") === "d", col("before"))
          .otherwise(col("after"))
        // truncation on the op-selected image, as the dynamic path does
        val image = CdcEnrichment.truncateExpr(
          CdcEnrichment.truncateExpr(image0, "event_type", 6), "props", 8)
        env.select(
          col("source.pos").as("event_id"),
          col("source.db").as("db"),
          col("source.table").as("table"),
          CdcEnrichment.partitionKeyExpr(
            col("source.db"), col("source.table"), col("op"),
            col("before"), col("after"), Seq("event_id"))
            .as("partition_key"),
          col("op"),
          image.getItem("event_type").as("etype_trunc"),
          image.getItem("props").as("props_trunc"))
          .orderBy(col("event_id"))
      },
      Some(enrichOracleSql)),

    // ------------------------- topic routing + partitioner (#8-#11)
    "cdc_route_topic_partition" -> QueryDef(
      (s, dir) => {
        val proj = KafkaProjection.project(enriched(s, dir),
          topic = "cdc_topic", topicPrefix = "flink_cdc_", numPartitions = 12)
        proj.select(
          col("key").cast("string").as("partition_key"),
          col("topic"), col("partition"))
          .orderBy(col("partition_key"))
      },
      Some(s"""WITH k AS (
          SELECT 'test_db.events.' || CAST(event_id AS VARCHAR) AS partition_key FROM events),
        h AS (SELECT partition_key, ${javaHashSql("partition_key")} AS hc FROM k)
        SELECT partition_key, 'flink_cdc_test_db' AS topic,
        CAST(abs((CASE WHEN hc >= 2147483648 THEN hc - 4294967296 ELSE hc END) % 12) AS INTEGER) AS partition
        FROM h ORDER BY partition_key""")),

    // ---------------- non-simple partitioner (source.kafka_partition_key)
    // The reference ships TWO partitioners: the simple one hashes the
    // enriched partitionKey (cdc_route_topic_partition above); the
    // non-simple one (FlinkCDCPartitioner.scala:9-12) re-parses the
    // record and hashes `source.kafka_partition_key` — for producers
    // that inject an explicit routing key into the envelope. Here a
    // deterministic third of the stream carries the injected key and
    // the rest falls back to the simple key, proving both paths and
    // the mixed-stream fallback in one oracle-checked query.
    "cdc_route_source_kpk" -> QueryDef(
      (s, dir) => {
        val recs = Tables.events(s, dir).select(
          col("event_id"),
          when(col("event_id") % 3 === 0,
            concat(lit("{\"source\":{\"kafka_partition_key\":\""),
              col("event_type"), lit("-"), col("user_id").cast("string"),
              lit("\"}}")))
            .otherwise(lit("{\"source\":{}}")).as("value"),
          concat(lit("test_db.events."), col("event_id").cast("string"))
            .as("fallback"))
        recs.select(col("event_id"),
          KafkaProjection.partitionBySourceKey(
            col("value"), col("fallback"), 12).as("partition"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH r AS (
          SELECT event_id,
            CASE WHEN event_id % 3 = 0
              THEN event_type || '-' || CAST(user_id AS VARCHAR)
              ELSE 'test_db.events.' || CAST(event_id AS VARCHAR) END AS k
          FROM events),
        h AS (SELECT event_id, ${javaHashSql("k")} AS hc FROM r)
        SELECT event_id,
          CAST(abs((CASE WHEN hc >= 2147483648 THEN hc - 4294967296 ELSE hc END) % 12) AS INTEGER) AS partition
        FROM h ORDER BY event_id""")),

    // ------------------------------ no-PK fallback (operator #5 branch)
    "cdc_enrich_nopk" -> QueryDef(
      (s, dir) => {
        implicit val spark: SparkSession = s
        import s.implicits._
        val lines = graft.sources.CdcReplay.batch(s, dir).as[String]
        CdcEnrichment.enrichMySql(lines, noPkConfig).toDF()
          .select(
            get_json_object(col("value"), "$.source.pos").cast("long").as("event_id"),
            col("partitionKey").as("partition_key"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
        'test_db.events.no_pk' AS partition_key
        FROM events ORDER BY event_id""")),

    // ----------------------- CDC apply: materialized replica state
    // The downstream consumer story: apply the change stream to an
    // (initially empty) replica — deletes drop keys, upserts keep the
    // latest after-image. Oracle: rows whose last change isn't a delete.
    "cdc_apply_replica" -> QueryDef(
      (s, dir) => {
        val batch = enriched(s, dir)
        val empty = graft.operators.CdcApply
          .lastChangePerKey(batch.limit(0)).drop("op")
        graft.operators.CdcApply.applyBatch(empty, batch)
          .select(
            col("after").getItem("event_id").cast("long").as("event_id"),
            col("partitionKey").as("partition_key"),
            col("after").getItem("event_type").as("event_type_trunc"),
            col("after").getItem("value").as("value_str"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id,
        'test_db.events.' || CAST(event_id AS VARCHAR) AS partition_key,
        ${truncSql("event_type", 6)} AS event_type_trunc,
        CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value_str
        FROM events WHERE event_id % 10 <> 0
        ORDER BY event_id""")),

    // -------------------------- SCD2 history (versioned replica)
    // The other classic CDC materialization: every change becomes a
    // version row with a validity interval — valid_from = change time,
    // valid_to = next change of the same key (null ⇒ current). Keyed on
    // user_id here (each event a change to that user's row), one
    // shuffle + one window sort.
    "cdc_scd2_history" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, dir)
          .withColumn("sec", unix_timestamp(col("ts")))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("sec"), col("event_id"))
        e.select(
          col("user_id"), col("event_id"),
          row_number().over(w).as("version"),
          col("sec").as("valid_from"),
          lead(col("sec"), 1).over(w).as("valid_to"),
          lead(col("sec"), 1).over(w).isNull.as("is_current"))
          .orderBy(col("user_id"), col("version"))
      },
      Some("""SELECT user_id, event_id,
        ROW_NUMBER() OVER w AS version,
        sec AS valid_from,
        LEAD(sec, 1) OVER w AS valid_to,
        LEAD(sec, 1) OVER w IS NULL AS is_current
        FROM (SELECT user_id, event_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
        ORDER BY user_id, version""")),

    // ---------------------------------------- Mongo variant (#3, Mongo #5)
    "cdc_enrich_mongo" -> QueryDef(
      (s, dir) => {
        implicit val spark: SparkSession = s
        import s.implicits._
        // events → Mongo change-stream envelopes (ns.db/ns.coll,
        // operationType, documentKey) → enrichMongo pk-regex extraction.
        val mongoJson = CdcReplay.mongoEnvelopeJson(
          Tables.rebalance(Tables.events(s, dir)))
        CdcEnrichment.enrichMongo(mongoJson.as[String]).toDF()
          .select(
            col("db"), col("table"),
            col("partitionKey").as("partition_key"))
          .orderBy(length(col("partition_key")), col("partition_key"))
      },
      Some("""SELECT 'test_db' AS db, 'events' AS "table",
        'test_db.events.' || CAST(event_id AS VARCHAR) AS partition_key
        FROM events ORDER BY LENGTH(partition_key), partition_key""")),

    // -------------------- datetime normalization (#12, DebeziumConverter)
    "cdc_datetime_convert" -> QueryDef(
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("as_date"),
          date_format(col("ts"), "HH:mm:ss").as("as_time"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("as_datetime"),
          (unix_timestamp(col("ts")) * 1000).as("ts_ms"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
        strftime(ts, '%Y-%m-%d') AS as_date,
        strftime(ts, '%H:%M:%S') AS as_time,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS as_datetime,
        CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ts_ms
        FROM events ORDER BY event_id""")),

    // --------------- golden JSON round-trip (Gson serializeNulls parity)
    "cdc_value_golden" -> QueryDef(
      (s, dir) => {
        enriched(s, dir).select(
          get_json_object(col("value"), "$.source.pos").cast("long").as("event_id"),
          col("value").as("envelope_json"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH img AS (
        SELECT event_id,
          '{"event_id":"' || CAST(event_id AS VARCHAR) ||
          '","ts":"' || strftime(ts, '%Y-%m-%d %H:%M:%S') ||
          '","user_id":"' || CAST(user_id AS VARCHAR) ||
          '","event_type":"' || ${truncSql("event_type", 6)} ||
          '","value":"' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) ||
          '","props":"' || replace(${truncSql("props", 8)}, '"', '\\"') || '"}' AS image_trunc,
          '{"event_id":"' || CAST(event_id AS VARCHAR) ||
          '","ts":"' || strftime(ts, '%Y-%m-%d %H:%M:%S') ||
          '","user_id":"' || CAST(user_id AS VARCHAR) ||
          '","event_type":"' || event_type ||
          '","value":"' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) ||
          '","props":"' || replace(props, '"', '\\"') || '"}' AS image_raw,
          $opSql AS op,
          CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ts_ms
        FROM events)
        -- truncation applies only to the op-selected image (before for d,
        -- after for c/u) — the before-image of an update stays raw
        SELECT event_id,
        '{"before":' || CASE WHEN op = 'd' THEN image_trunc WHEN op = 'u' THEN image_raw ELSE 'null' END ||
        ',"after":' || CASE WHEN op <> 'd' THEN image_trunc ELSE 'null' END ||
        ',"source":{"version":"1.6.4.Final","connector":"mysql","name":"mysql_binlog_source","ts_ms":' ||
        CAST(ts_ms AS VARCHAR) ||
        ',"snapshot":"false","db":"test_db","sequence":null,"table":"events","server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.000001","pos":' ||
        CAST(event_id AS VARCHAR) ||
        ',"row":0,"thread":null,"query":null},"op":"' || op ||
        '","ts_ms":' || CAST(ts_ms AS VARCHAR) || '}' AS envelope_json
        FROM img ORDER BY event_id""")),

    // ------------------------------------- dead-letter routing (DLQ)
    // The route-and-quarantine operator every production CDC consumer
    // wraps around its parser: classify each payload (well-formed /
    // missing the configured key / structurally truncated), pass the
    // good rows through, and aggregate the quarantine by error class
    // with id bounds for triage. Corruption is injected DETERMINISTICALLY
    // (id-modulus string surgery, identical in both engines) because
    // the fixture payloads are uniformly clean — the classification
    // predicates are the operator; swapping in real malformed input
    // changes nothing in the plan. Per-row projection + one tiny
    // aggregate; at 100 TB the classifier rides the scan.
    "cdc_dlq" -> QueryDef(
      (s, dir) => {
        val corrupted = Tables.events(s, dir)
          .select(col("event_id"),
            when(col("event_id") % 97 === 0,
              expr("substring(props, 1, length(props) - 1)")) // truncated
              .when(col("event_id") % 89 === 0,
                regexp_replace(col("props"), "\"k\"", "\"x\"")) // key renamed
              .otherwise(col("props")).as("payload"))
        corrupted
          .withColumn("error_class",
            when(!col("payload").endsWith("}"), lit("malformed"))
              .when(get_json_object(col("payload"), "$.k").isNull,
                lit("missing_key"))
              .otherwise(lit("ok")))
          .groupBy(col("error_class"))
          .agg(count(lit(1)).as("n"),
            min(col("event_id")).as("first_id"),
            max(col("event_id")).as("last_id"))
          .orderBy(col("error_class"))
      },
      Some("""WITH c AS (
          SELECT event_id,
            CASE WHEN event_id % 97 = 0 THEN substr(props, 1, length(props) - 1)
                 WHEN event_id % 89 = 0 THEN replace(props, '"k"', '"x"')
                 ELSE props END AS payload
          FROM events),
        cls AS (
          SELECT event_id,
            CASE WHEN NOT ends_with(payload, '}') THEN 'malformed'
                 WHEN json_extract_string(payload, '$.k') IS NULL
                   THEN 'missing_key'
                 ELSE 'ok' END AS error_class
          FROM c)
        SELECT error_class, COUNT(*) AS n,
          MIN(event_id) AS first_id, MAX(event_id) AS last_id
        FROM cls GROUP BY error_class ORDER BY error_class""")),

    // --------------------------- CDC stream observability (op mix)
    // The health dashboard a CDC pipeline ships with: per-op volume,
    // row-image presence (Debezium's rule: deletes carry only `before`,
    // creates only `after`, updates both), and the event-time span
    // covered — one keyed aggregate over the envelope, O(ops) output at
    // any stream volume. Validates the envelope constructor's image
    // rules against an independent restatement of them in the oracle.
    "cdc_op_stats" -> QueryDef(
      (s, dir) => {
        graft.sources.CdcReplay
          .envelope(Tables.rebalance(Tables.events(s, dir)))
          .groupBy(col("op"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("before").isNotNull, 1L).otherwise(0L))
              .as("n_before_img"),
            sum(when(col("after").isNotNull, 1L).otherwise(0L))
              .as("n_after_img"),
            min(col("ts_ms")).as("first_ts_ms"),
            max(col("ts_ms")).as("last_ts_ms"))
          .orderBy(col("op"))
      },
      Some(s"""WITH e AS (
          SELECT event_id, $opSql AS op,
            CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS ts_ms
          FROM events)
        SELECT op, COUNT(*) AS n,
          CAST(SUM(CASE WHEN op IN ('d', 'u') THEN 1 ELSE 0 END) AS BIGINT)
            AS n_before_img,
          CAST(SUM(CASE WHEN op IN ('c', 'u') THEN 1 ELSE 0 END) AS BIGINT)
            AS n_after_img,
          MIN(ts_ms) AS first_ts_ms, MAX(ts_ms) AS last_ts_ms
        FROM e GROUP BY op ORDER BY op""")),

    // ------------------- CDC → IVM bridge (signed-delta aggregate)
    // The envelope stream translated to retraction deltas
    // (CdcDeltas.signedDeltas: c→+after, d→−before, u→−before,+after)
    // and folded to a live grouped aggregate: sum(sign) per group is
    // the replica's live row count, sum(sign·value) its live sum —
    // the algebra StreamingRollup.materializerSigned maintains
    // incrementally (its spec proves epoch-split parity against this
    // query). Groups that net to zero vanish (HAVING mirror of the
    // materializer's vanish-at-zero). Note the fixture's updates move
    // rows between RAW and TRUNCATED event_type groups — before-images
    // keep the raw value (golden-envelope rule), so raw-type groups
    // carry the negative counts of retracted pre-update rows: the
    // oracle restates that image policy independently.
    "cdc_ivm_rollup" -> QueryDef(
      (s, dir) => {
        val deltas = graft.operators.CdcDeltas.signedDeltas(
          enriched(s, dir))
        deltas.select(
            col("image").getItem("event_type").as("event_type"),
            col("image").getItem("value").as("value"),
            col("sign"))
          .groupBy(col("event_type"))
          .agg(sum(col("sign").cast("long")).as("n"),
            sum(col("sign").cast("decimal(18,2)") *
              col("value").cast("decimal(18,2)")).cast("double")
              .as("value_sum"))
          .filter(col("n") =!= 0)
          .orderBy(col("event_type"))
      },
      Some(s"""WITH base AS (
          SELECT event_id, event_type, value, $opSql AS op,
            ${truncSql("event_type", 6)} AS et_trunc
          FROM events),
        deltas AS (
          SELECT et_trunc AS et, 1 AS sign, value FROM base WHERE op = 'c'
          UNION ALL
          SELECT et_trunc, -1, value FROM base WHERE op = 'd'
          UNION ALL
          SELECT event_type, -1, value FROM base WHERE op = 'u'
          UNION ALL
          SELECT et_trunc, 1, value FROM base WHERE op = 'u')
        SELECT et AS event_type, CAST(SUM(sign) AS BIGINT) AS n,
          CAST(SUM(CAST(sign AS DECIMAL(18,2)) *
            CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM deltas GROUP BY et HAVING SUM(sign) <> 0
        ORDER BY et""")),

    // ----------------------------- schema-drift census (DDL monitoring)
    // The other half of CDC observability: Debezium emits whatever the
    // table looks like NOW, so an upstream ALTER TABLE shows up as
    // after-images whose column set deviates from the table's majority
    // shape — silently, unless something watches. This query is that
    // watcher: per (table, after-image column signature), row volume
    // and the binlog-position span where the shape was seen, with the
    // majority signature flagged canonical — minority rows ARE the
    // drift (added column / dropped column), localized to a position
    // range for replay. Drift is injected deterministically (pos % 101
    // gains a column, pos % 103 loses one — the cdc_dlq corruption
    // idiom) so detection is demonstrable; the oracle restates the
    // rules independently. One keyed aggregate over the envelope +
    // an O(signatures) window — O(distinct shapes) output at any
    // stream volume, no per-row state.
    "cdc_schema_drift" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val env = CdcReplay
          .envelope(Tables.rebalance(Tables.events(s, dir)))
          .filter(col("after").isNotNull)
        val drifted = env.withColumn("after2",
          when(col("source.pos") % 101 === 0,
            map_concat(col("after"), map(lit("schema_v2"), lit("1"))))
            .when(col("source.pos") % 103 === 0,
              map_filter(col("after"), (k, _) => k =!= lit("props")))
            .otherwise(col("after")))
        val census = drifted.select(
            col("source.table").as("tbl"),
            concat_ws(",", array_sort(map_keys(col("after2")))).as("cols"),
            col("source.pos").as("pos"))
          .groupBy(col("tbl"), col("cols"))
          .agg(count(lit(1)).as("n"),
            min(col("pos")).as("first_pos"),
            max(col("pos")).as("last_pos"))
        val w = Window.partitionBy(col("tbl"))
          .orderBy(col("n").desc, col("cols"))
        census
          .withColumn("is_canonical", row_number().over(w) === 1)
          .orderBy(col("tbl"), col("cols"))
      },
      Some("""WITH e AS (
          SELECT event_id, 'events' AS tbl,
            CASE WHEN event_id % 101 = 0
                   THEN 'event_id,event_type,props,schema_v2,ts,user_id,value'
                 WHEN event_id % 103 = 0
                   THEN 'event_id,event_type,ts,user_id,value'
                 ELSE 'event_id,event_type,props,ts,user_id,value' END AS cols
          FROM events WHERE event_id % 10 <> 0),
        c AS (
          SELECT tbl, cols, COUNT(*) AS n,
            MIN(event_id) AS first_pos, MAX(event_id) AS last_pos
          FROM e GROUP BY tbl, cols),
        r AS (
          SELECT tbl, cols, n, first_pos, last_pos,
            ROW_NUMBER() OVER (PARTITION BY tbl ORDER BY n DESC, cols) AS rn
          FROM c)
        SELECT tbl, cols, n, first_pos, last_pos, rn = 1 AS is_canonical
        FROM r ORDER BY tbl, cols""")),

    // ---------------- snapshot chunk planning (operator #1, splitSize)
    // The reference's snapshot phase reads each table in splitSize-row
    // PK-range chunks (default 8096, MySQLCDC2AWSMSK.scala:255-258) —
    // this query IS that plan for the events table: per chunk, its key
    // range and actual row count (the skew report for parallel snapshot
    // readers). The PK stats are a 1-row broadcast; chunk assignment is
    // exact integer math at the scan; output is O(chunks). The chunk
    // math: n = ceil(span/8096) chunks of step = max(span div n, 1)
    // keys from the minimum key, the last chunk unbounded above.
    "cdc_snapshot_chunks" -> QueryDef(
      (s, dir) => {
        val ChunkSize = 8096L
        val stats = Tables.events(s, dir)
          .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
          .select(col("mn"), col("mx"),
            (col("mx") - col("mn") + 1).as("span"))
          .select(col("mn"),
            expr(s"(span + ${ChunkSize - 1}) div $ChunkSize").as("n"),
            col("span"))
          .select(col("mn"), col("n"),
            greatest(expr("span div n"), lit(1L)).as("step"))
        Tables.rebalance(Tables.events(s, dir))
          .select(col("event_id"))
          .crossJoin(broadcast(stats))
          .select(
            least(col("n") - 1, expr("(event_id - mn) div step"))
              .as("chunk_id"),
            col("event_id"))
          .groupBy(col("chunk_id"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("event_id")).as("lo_key"),
            max(col("event_id")).as("hi_key"))
          .orderBy(col("chunk_id"))
      },
      Some("""WITH s0 AS (
          SELECT MIN(event_id) AS mn, MAX(event_id) AS mx,
            MAX(event_id) - MIN(event_id) + 1 AS span
          FROM events),
        s1 AS (SELECT mn, (span + 8095) // 8096 AS n, span FROM s0),
        st AS (SELECT mn, n, greatest(span // n, 1) AS step FROM s1),
        a AS (SELECT least(st.n - 1, (e.event_id - st.mn) // st.step)
              AS chunk_id, e.event_id
          FROM events e CROSS JOIN st)
        SELECT chunk_id, COUNT(*) AS n_rows,
          MIN(event_id) AS lo_key, MAX(event_id) AS hi_key
        FROM a GROUP BY chunk_id ORDER BY chunk_id""")))
}
