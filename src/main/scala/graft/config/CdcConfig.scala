package graft.config

import scala.util.matching.Regex

/** Per-table CDC config resolved from the `-table_pk` JSON parameter.
  *
  * Reference behavior (MySQLCDC2AWSMSK.scala:70-112):
  *   - the JSON is an array of `{db, table, primary_key[, column_max_length]}`
  *   - entries are keyed `"db=table"`; both halves may be REGEXES
  *   - lookup matches keys longest-pattern-first with unanchored
  *     `findFirstIn` over the record's `"db=table"` string (substring
  *     semantics — pattern `a=b` matches inside `aa=bb`)
  *   - `column_max_length` is a `"col1=10|col2=20"` list; a value is
  *     truncated to `substring(0, max)` only when `length >= max`.
  *
  * Both lists are parsed once, when [[TablePkConfig.parse]] builds the
  * rule, not per record. A malformed `column_max_length` item fails the
  * config with an `IllegalArgumentException` that names it: inside
  * [[graft.operators.CdcEnrichment.enrichMySql]]'s per-record `try` it
  * would silently drop every record of the table.
  */
final case class TableRule(
    primaryKey: String,
    columnMaxLength: String) {

  /** PK column names, in declared order; empty when no PK configured. */
  val pkColumns: Seq[String] =
    if (primaryKey.isEmpty) Seq.empty else primaryKey.split(",").toSeq

  /** (column, maxLength) truncation rules in declared order. */
  val truncations: Seq[(String, Int)] =
    if (columnMaxLength.isEmpty) Seq.empty
    else columnMaxLength.split("\\|").toSeq.map { item =>
      item.split("=", -1) match {
        case Array(col, max) if col.nonEmpty && max.toIntOption.exists(_ >= 0) =>
          (col, max.toInt)
        case _ => throw new IllegalArgumentException(
          s"column_max_length item '$item' in '$columnMaxLength' is not " +
            "<column>=<non-negative length>")
      }
    }
}

/** Parsed table_pk config with the reference's longest-pattern-first regex
  * dispatch. Parsed once on the driver and closed over in query plans
  * (cheap — config maps are tiny; a broadcast variable would be overkill).
  */
final case class TablePkConfig(rules: Map[String, TableRule]) {

  /** Keys sorted longest-first (MySQLCDC2AWSMSK.scala:86). */
  private val orderedKeys: List[(String, Regex)] =
    rules.keys.toList.sortBy(-_.length).map(k => (k, k.r))

  /** Resolve the rule for a physical (db, table): first longest key whose
    * regex matches *anywhere* inside `"db=table"` (unanchored findFirstIn,
    * MySQLCDC2AWSMSK.scala:104-112).
    */
  def resolve(db: String, table: String): Option[TableRule] = {
    val probe = db + "=" + table
    orderedKeys.collectFirst {
      case (k, reg) if reg.findFirstIn(probe).nonEmpty => rules(k)
    }
  }
}

object TablePkConfig {
  val empty: TablePkConfig = TablePkConfig(Map.empty)

  /** Parse the `-table_pk` JSON array. The reference strips backslash
    * escapes before parsing (`params.tablePK.replace("\\","")`,
    * MySQLCDC2AWSMSK.scala:71); we reproduce that.
    *
    * Implemented with a minimal hand-rolled JSON reader (flat array of
    * flat string objects) so the engine has zero extra dependencies.
    */
  def parse(json: String): TablePkConfig = {
    val cleaned = json.replace("\\", "")
    val objPattern = "\\{[^{}]*\\}".r
    val fieldPattern = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    val rules = objPattern.findAllIn(cleaned).map { obj =>
      val fields = fieldPattern.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2)).toMap
      val key = fields.getOrElse("db", "") + "=" + fields.getOrElse("table", "")
      key -> TableRule(
        primaryKey = fields.getOrElse("primary_key", ""),
        columnMaxLength = fields.getOrElse("column_max_length", ""))
    }.toMap
    TablePkConfig(rules)
  }
}

/** Startup-position resolution (reference MySQLCDC2AWSMSK.scala:225-244):
  * `-position` parses into 5 modes. In the Spark rebuild these map to
  * Kafka source `startingOffsets` / `startingTimestamp`, or to a
  * batch-snapshot-then-stream handoff for `initial`.
  */
sealed trait StartupPosition
object StartupPosition {
  /** Snapshot then CDC (`initial`). */
  case object Initial extends StartupPosition
  /** Tail from the current end (`latest`). */
  case object Latest extends StartupPosition
  /** Specific binlog file/offset; bare file name implies offset 4. */
  final case class BinlogOffset(file: String, pos: Long) extends StartupPosition
  /** GTID set (`gtid:<set>`). */
  final case class Gtid(set: String) extends StartupPosition
  /** Epoch-millis timestamp (`timestamp:<ms>`). */
  final case class Timestamp(epochMs: Long) extends StartupPosition

  def parse(position: String): StartupPosition = position match {
    case "initial" => Initial
    case "latest" => Latest
    case s if s.startsWith("gtid:") => Gtid(s.stripPrefix("gtid:"))
    case s if s.startsWith("timestamp:") =>
      Timestamp(s.stripPrefix("timestamp:").toLong)
    case s =>
      // binlog-file[:offset]; bare file ⇒ offset 4 (binlog header size)
      s.split(":") match {
        case Array(file) => BinlogOffset(file, 4L)
        case Array(file, off) => BinlogOffset(file, off.toLong)
        case parts => BinlogOffset(parts.head, parts.last.toLong)
      }
  }

  /** Kafka-source option equivalent (SURVEY §2 #2).
    *
    * Binlog-file/GTID positions have no Kafka-source analogue — they are
    * Debezium CONNECTOR config (`snapshot.mode=schema_only_recovery` +
    * binlog file/pos, or `snapshot.mode=never` with a GTID set). Failing
    * fast here beats the earlier behavior of silently reading `earliest`,
    * which would replay the whole topic instead of resuming at the
    * requested position (reference resolves these into real binlog
    * offsets, MySQLCDC2AWSMSK.scala:225-244).
    */
  def toKafkaOptions(p: StartupPosition): Map[String, String] = p match {
    case Initial => Map("startingOffsets" -> "earliest")
    case Latest => Map("startingOffsets" -> "latest")
    case Timestamp(ms) => Map("startingTimestamp" -> ms.toString)
    case BinlogOffset(file, pos) => throw new IllegalArgumentException(
      s"position '$file:$pos' is a MySQL binlog offset: it must be applied " +
        "to the Debezium connector (snapshot.mode=schema_only_recovery + " +
        "binlog file/pos), not to the Kafka source — refusing to fall back " +
        "to startingOffsets=earliest, which would replay the entire topic")
    case Gtid(set) => throw new IllegalArgumentException(
      s"position 'gtid:$set' is a GTID set: it must be applied to the " +
        "Debezium connector (snapshot.mode=never + gtid set), not to the " +
        "Kafka source — refusing to fall back to startingOffsets=earliest, " +
        "which would replay the entire topic")
  }
}

/** CLI/runtime parameters — mirrors the reference's `MySQLCDC2MSKParams`
  * (model/ParamsModel.scala:5-16) with the same flag names (README.md:30-48).
  */
final case class CdcParams(
    brokerList: String = "",
    topic: String = "",
    topicPrefix: String = "",
    host: String = "",
    port: Int = 3306,
    username: String = "",
    password: String = "",
    dbList: String = ".*",
    tbList: String = ".*",
    position: String = "initial",
    serverId: String = "",
    serverTimeZone: String = "UTC",
    tablePk: String = "[]",
    chunkSize: Int = 8096,
    checkpointDir: String = "",
    checkpointInterval: Int = 60,
    // reference default (MySQLCDC2AWSMSK.scala:187): exactly_once unless
    // the flag is the literal "at_least_once". The cluster apps can only
    // deliver at_least_once (kafkaSink) until a transactional
    // KafkaProducer routes them through CdcPipeline.transactionalSink, so
    // they refuse anything else at submit via
    // [[requireAtLeastOnceForKafkaSink]]
    deliveryGuarantee: String = "exactly_once",
    parallel: Int = 4,
    kafkaProperties: Map[String, String] = Map.empty,
    // Mongo-app flags (getMongoCDC2MSKParams: `copy_existing`,
    // `collection_list`) — the initial-load toggle and collection regex,
    // both settings of the source connector here: the cluster app
    // refuses a non-default value via [[requireMongoConnectorDefaults]]
    copyExisting: Boolean = false,
    collectionList: String = ".*",
    // Mongo change-stream image mode (reference MongoCDC2AWSMSK.scala:
    // 156-169 config surface): "default" ships NO row image on updates;
    // "updateLookup" makes the server attach the post-image as
    // `fullDocument`. Any deployment whose downstream APPLIES changes
    // to a replica must run updateLookup — the apply path fails loudly
    // on the first imageless update otherwise — so apps that
    // materialize a replica enforce this AT CONFIG TIME via
    // [[requireFullDocumentForApply]].
    fullDocument: String = "default",
    // Apply-side (replica materializer) knobs — the lake consumer's
    // operational levers, reachable from the CLI so a deployment can
    // set them without code:
    //   replica_buckets       hash buckets of the persisted replica
    //   replica_retain        versions kept per bucket (>= 2; depth of
    //                         replicaVersionedAsOf time travel)
    //   tombstone_horizon_ms  lazy delete-tombstone GC horizon
    //                         (event-time ms; unset = keep forever)
    replicaBuckets: Int = 16,
    replicaRetain: Int = 2,
    tombstoneHorizonMs: Long = Long.MaxValue) {
  def tablePkConfig: TablePkConfig = TablePkConfig.parse(tablePk)
  def startupPosition: StartupPosition = StartupPosition.parse(position)

  /** True when the change stream ships update post-images. */
  def fullDocumentLookup: Boolean = fullDocument == "updateLookup"

  /** The config-time contract for replica-applying deployments: an
    * update with no `fullDocument` cannot be applied, so fail at
    * submit, not at the first production update.
    */
  def requireFullDocumentForApply(): Unit =
    require(fullDocumentLookup,
      s"this deployment applies mongo changes to a replica, but " +
        s"-full_document is '$fullDocument' — without updateLookup the " +
        "change stream ships NO row image on updates and the apply " +
        "path fails at the first update. Pass -full_document " +
        "updateLookup.")

  /** The config-time contract of the Mongo cluster app, which consumes
    * a topic its source connector fills: the initial load
    * (`-copy_existing`, the connector's `copy.existing`) and the
    * collection filter (`-collection_list`, the connector's collection
    * include list) happen in the connector, so a non-default value
    * fails at submit, naming where it belongs, instead of being
    * accepted and ignored.
    */
  def requireMongoConnectorDefaults(): Unit = {
    require(!copyExisting, "-copy_existing true is the source " +
      "connector's copy.existing setting: set it on the Mongo connector " +
      "that fills the source topic — this consumer cannot load existing " +
      "documents")
    require(collectionList == ".*", s"-collection_list '$collectionList'" +
      " is the source connector's collection include list: set it on the" +
      " Mongo connector — this consumer reads every collection its source" +
      " topic carries")
  }

  /** The config-time contract of the cluster apps, whose only sink is
    * the at-least-once `kafkaSink`: any `-delivery_guarantee` but the
    * literal `at_least_once` reads as exactly_once (as in the reference),
    * which they cannot deliver without kafka-clients' transactional
    * producer, so fail at submit instead of silently delivering
    * at-least-once.
    */
  def requireAtLeastOnceForKafkaSink(): Unit =
    require(deliveryGuarantee == "at_least_once",
      s"-delivery_guarantee is '$deliveryGuarantee', which reads as " +
        "exactly_once, but this app writes through the at-least-once " +
        "Kafka sink: exactly-once needs a transactional KafkaProducer and " +
        "kafka-clients is not on the classpath. Pass -delivery_guarantee " +
        "at_least_once.")

  /** Server-id range semantics (reference MySQLCDC2AWSMSK.scala:268-270,
    * README.md:39): `"5400-5412"` or a single `"5400"`; every parallel
    * snapshot/binlog reader connects to MySQL as a replica with its OWN
    * id, so the range must cover the parallelism. Empty ⇒ none
    * configured (the server assigns).
    */
  def serverIds: Seq[Long] = serverId match {
    case "" => Seq.empty
    case s if s.contains("-") =>
      val Array(lo, hi) = s.split("-", 2)
      lo.trim.toLong to hi.trim.toLong
    case s => Seq(s.trim.toLong)
  }

  /** The id reader `i` (0-based) must use; fails fast when the
    * configured range is too small for the parallelism instead of
    * letting two readers collide on one replica id (MySQL drops the
    * older connection — a silent stall at deploy).
    */
  def serverIdFor(readerIndex: Int): Long = {
    val ids = serverIds
    require(ids.nonEmpty, "no -server_id configured")
    require(readerIndex < ids.size,
      s"server_id range '$serverId' has ${ids.size} id(s) but reader " +
        s"#$readerIndex needs one per parallel reader — widen the range " +
        s"to at least $parallel ids (parallel=$parallel)")
    ids(readerIndex)
  }
}

object CdcParams {
  /** Parse `-flag value` pairs (ParameterTool.fromArgs style). */
  def fromArgs(args: Array[String]): CdcParams = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("-") => k.stripPrefix("-") -> v
    }.toMap
    CdcParams(
      // the reference's flag is `kafka_broker`
      // (ParameterToolUtils.scala:30); `broker_list` kept as an alias
      brokerList = kv.getOrElse("kafka_broker",
        kv.getOrElse("broker_list", "")),
      topic = kv.getOrElse("topic", ""),
      topicPrefix = kv.getOrElse("topic_prefix", ""),
      host = kv.getOrElse("host", ""),
      port = kv.getOrElse("port", "3306").toInt,
      username = kv.getOrElse("username", ""),
      password = kv.getOrElse("password", ""),
      dbList = kv.getOrElse("db_list", ".*"),
      tbList = kv.getOrElse("tb_list", ".*"),
      position = kv.getOrElse("position", "initial"),
      serverId = kv.getOrElse("server_id", ""),
      serverTimeZone = kv.getOrElse("server_time_zone", "UTC"),
      tablePk = kv.getOrElse("table_pk", "[]"),
      chunkSize = kv.getOrElse("chunk_size", "8096").toInt,
      checkpointDir = kv.getOrElse("checkpoint_dir", ""),
      checkpointInterval = kv.getOrElse("checkpoint_interval", "60").toInt,
      deliveryGuarantee = kv.getOrElse("delivery_guarantee", "exactly_once"),
      parallel = kv.getOrElse("parallel", "4").toInt,
      copyExisting = kv.getOrElse("copy_existing", "false") == "true",
      collectionList = kv.getOrElse("collection_list", ".*"),
      fullDocument = kv.getOrElse("full_document", "default") match {
        case v @ ("default" | "updateLookup") => v
        case other => throw new IllegalArgumentException(
          s"-full_document must be 'default' or 'updateLookup', got " +
            s"'$other'")
      },
      replicaBuckets = kv.getOrElse("replica_buckets", "16").toInt,
      replicaRetain = kv.getOrElse("replica_retain", "2").toInt,
      tombstoneHorizonMs = kv.get("tombstone_horizon_ms").map(_.toLong)
        .getOrElse(Long.MaxValue),
      kafkaProperties = kv.get("kafka_properties").filter(_.nonEmpty).map {
        // "k=v,k=v" pass-through producer props (MySQLCDC2AWSMSK.scala:204-212);
        // split on the first '=' only: a value such as sasl.jaas.config
        // holds '=' itself
        _.split(",").toIndexedSeq.map { item =>
          item.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => k -> v
            case _ => throw new IllegalArgumentException(
              s"kafka_properties item '$item' is not <key>=<value>")
          }
        }.toMap
      }.getOrElse(Map.empty))
  }
}
