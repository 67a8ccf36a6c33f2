package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

class ConfigSpec extends AnyFunSuite {

  test("table_pk parse: fields, escaped input, column_max_length") {
    val cfg = TablePkConfig.parse(
      """[{\"db\":\"test_db\",\"table\":\"product\",\"primary_key\":\"pid\"},
         {"db":"test_db","table":"product_01","primary_key":"pid,seq","column_max_length":"col1=100|col2=200"}]""")
    assert(cfg.rules.size == 2)
    val r = cfg.rules("test_db=product_01")
    assert(r.pkColumns == Seq("pid", "seq"))
    assert(r.truncations == Seq(("col1", 100), ("col2", 200)))
    assert(cfg.rules("test_db=product").pkColumns == Seq("pid"))
  }

  test("table_pk parse: a malformed column_max_length item fails the config, naming it") {
    Seq("props", "props=abc").foreach { item =>
      val e = intercept[IllegalArgumentException](TablePkConfig.parse(
        s"""[{"db":"test_db","table":"events","primary_key":"event_id","column_max_length":"event_type=6|$item"}]"""))
      assert(e.getMessage.contains(s"'$item'"), e.getMessage)
    }
  }

  test("resolve: longest pattern first, unanchored") {
    val cfg = TablePkConfig.parse(
      """[{"db":"test_db","table":"p.*","primary_key":"a"},
         {"db":"test_db","table":"prod_x","primary_key":"b"}]""")
    assert(cfg.resolve("test_db", "prod_x").get.primaryKey == "b")
    assert(cfg.resolve("test_db", "prod_y").get.primaryKey == "a")
    assert(cfg.resolve("nope", "nope").isEmpty)
  }

  test("startup position: all five modes") {
    assert(StartupPosition.parse("initial") == StartupPosition.Initial)
    assert(StartupPosition.parse("latest") == StartupPosition.Latest)
    assert(StartupPosition.parse("mysql-bin.000003") ==
      StartupPosition.BinlogOffset("mysql-bin.000003", 4L))
    assert(StartupPosition.parse("mysql-bin.000003:1024") ==
      StartupPosition.BinlogOffset("mysql-bin.000003", 1024L))
    assert(StartupPosition.parse("gtid:uuid:1-20") ==
      StartupPosition.Gtid("uuid:1-20"))
    assert(StartupPosition.parse("timestamp:1678634463000") ==
      StartupPosition.Timestamp(1678634463000L))
  }

  test("startup position → kafka options") {
    assert(StartupPosition.toKafkaOptions(StartupPosition.Initial) ==
      Map("startingOffsets" -> "earliest"))
    assert(StartupPosition.toKafkaOptions(StartupPosition.Latest) ==
      Map("startingOffsets" -> "latest"))
    assert(StartupPosition.toKafkaOptions(
      StartupPosition.Timestamp(123L)) == Map("startingTimestamp" -> "123"))
    // binlog/GTID positions are connector config, not source options:
    // fail fast instead of silently replaying the topic from earliest
    intercept[IllegalArgumentException] {
      StartupPosition.toKafkaOptions(
        StartupPosition.BinlogOffset("mysql-bin.000003", 1024L))
    }
    intercept[IllegalArgumentException] {
      StartupPosition.toKafkaOptions(StartupPosition.Gtid("uuid:1-20"))
    }
  }

  test("server_id range: one id per parallel reader, fail-fast when short") {
    val p = CdcParams(serverId = "5400-5403", parallel = 4)
    assert(p.serverIds == Seq(5400L, 5401L, 5402L, 5403L))
    assert(p.serverIdFor(0) == 5400L)
    assert(p.serverIdFor(3) == 5403L)
    // a range narrower than the parallelism would make two readers
    // collide on one replica id — refuse loudly
    val short = CdcParams(serverId = "5400-5401", parallel = 4)
    intercept[IllegalArgumentException] { short.serverIdFor(3) }
    assert(CdcParams(serverId = "5400").serverIds == Seq(5400L))
    assert(CdcParams().serverIds.isEmpty)
  }

  test("Debezium connector config consumes server_id and position") {
    import graft.sources.KafkaCdcSource
    val p = CdcParams(host = "db1", port = 3306, username = "u",
      password = "p", dbList = "test_db", tbList = "test_db.events",
      serverId = "5400-5403", parallel = 4, position = "initial")
    val cfg = KafkaCdcSource.connectorConfig(p)
    assert(cfg("database.server.id") == "5400-5403")
    assert(cfg("snapshot.mode") == "initial")
    assert(cfg("table.include.list") == "test_db.events")
    assert(KafkaCdcSource.connectorConfig(
      p.copy(position = "latest"))("snapshot.mode") == "never")
    assert(KafkaCdcSource.connectorConfig(
      p.copy(position = "mysql-bin.000003:1024"))("snapshot.mode") ==
      "schema_only_recovery")
    // a too-narrow range fails at config-assembly time, not at deploy
    intercept[IllegalArgumentException] {
      KafkaCdcSource.connectorConfig(p.copy(serverId = "5400-5401"))
    }
  }

  test("CLI args parse with reference flag names") {
    val p = CdcParams.fromArgs(Array(
      "-broker_list", "b-1:9092,b-2:9092",
      "-topic", "cdc", "-topic_prefix", "flink_cdc_",
      "-position", "latest", "-chunk_size", "4000",
      "-delivery_guarantee", "at_least_once",
      // a Flink-only flag: accepted and ignored
      "-parallel", "6", "-disable_chaining", "true",
      "-kafka_properties", "max.request.size=1073741824,linger.ms=5"))
    assert(p.brokerList == "b-1:9092,b-2:9092")
    assert(p.topicPrefix == "flink_cdc_")
    assert(p.chunkSize == 4000)
    assert(p.parallel == 6)
    assert(p.kafkaProperties ==
      Map("max.request.size" -> "1073741824", "linger.ms" -> "5"))
  }

  test("kafka_properties: a value holding '=' (a JAAS config) is kept byte-for-byte") {
    val jaas = "org.apache.kafka.common.security.scram.ScramLoginModule " +
      "required username=\"u\" password=\"p=q\";"
    val p = CdcParams.fromArgs(Array("-kafka_properties",
      s"security.protocol=SASL_SSL,sasl.jaas.config=$jaas,linger.ms="))
    assert(p.kafkaProperties == Map("security.protocol" -> "SASL_SSL",
      "sasl.jaas.config" -> jaas, "linger.ms" -> ""))
  }

  test("kafka_properties: an item with no '=' or an empty key fails the config, naming it") {
    Seq("linger.ms", "=5").foreach { item =>
      val e = intercept[IllegalArgumentException](CdcParams.fromArgs(
        Array("-kafka_properties", s"acks=all,$item")))
      assert(e.getMessage.contains(s"'$item'"), e.getMessage)
    }
    assert(CdcParams.fromArgs(Array("-kafka_properties", "")).kafkaProperties
      .isEmpty)
  }

  test("mongo-app flags parse: copy_existing, collection_list, project_env") {
    // `-project_env` is the reference's KDA switch: accepted and ignored
    val p = CdcParams.fromArgs(Array(
      "-copy_existing", "true", "-collection_list", "events.*",
      "-project_env", "prod"))
    assert(p == CdcParams(copyExisting = true, collectionList = "events.*"))
    // defaults match the reference's local-dev posture
    val d = CdcParams.fromArgs(Array("-topic", "t"))
    assert(!d.copyExisting && d.collectionList == ".*")
  }

  test("the mongo cluster app refuses -copy_existing and " +
      "-collection_list, naming the source connector") {
    def refusal(args: String*) = intercept[IllegalArgumentException] {
      CdcParams.fromArgs(args.toArray).requireMongoConnectorDefaults()
    }.getMessage
    val copy = refusal("-copy_existing", "true")
    assert(copy.contains("copy.existing") && copy.contains("connector"), copy)
    val colls = refusal("-collection_list", "events.*")
    assert(colls.contains("events.*") &&
      colls.contains("collection include list"), colls)
    // the defaults (flags omitted or spelled out) pass
    CdcParams.fromArgs(Array("-topic", "t")).requireMongoConnectorDefaults()
    CdcParams.fromArgs(Array("-copy_existing", "false",
      "-collection_list", ".*")).requireMongoConnectorDefaults()
  }

  test("full_document parses both modes, rejects anything else, and the " +
      "replica-apply contract fails at CONFIG time without updateLookup") {
    val lk = CdcParams.fromArgs(Array("-full_document", "updateLookup"))
    assert(lk.fullDocumentLookup)
    lk.requireFullDocumentForApply() // no throw: contract satisfied
    // mongo server default: legal for a forwarder...
    val dflt = CdcParams.fromArgs(Array("-topic", "t"))
    assert(dflt.fullDocument == "default" && !dflt.fullDocumentLookup)
    // ...but a replica-applying deployment must refuse at submit
    val e = intercept[IllegalArgumentException] {
      dflt.requireFullDocumentForApply()
    }
    assert(e.getMessage.contains("updateLookup"), e.getMessage)
    // unknown mode: fail at parse, not at first use
    val bad = intercept[IllegalArgumentException] {
      CdcParams.fromArgs(Array("-full_document", "whenAvailable"))
    }
    assert(bad.getMessage.contains("full_document"), bad.getMessage)
  }

  test("the cluster apps refuse a delivery guarantee their at-least-once " +
      "Kafka sink cannot deliver") {
    def refusal(args: String*) = intercept[IllegalArgumentException] {
      CdcParams.fromArgs(args.toArray).requireAtLeastOnceForKafkaSink()
    }.getMessage
    // the default reads as exactly_once (reference MySQLCDC2AWSMSK.scala:187)
    Seq(refusal("-topic", "t"),
      refusal("-delivery_guarantee", "exactly_once"),
      // anything but the literal at_least_once reads as exactly_once
      refusal("-delivery_guarantee", "at_least_onse")).foreach { m =>
      assert(m.contains("-delivery_guarantee at_least_once"), m)
      assert(m.contains("kafka-clients"), m)
    }
    CdcParams.fromArgs(Array("-delivery_guarantee", "at_least_once"))
      .requireAtLeastOnceForKafkaSink() // no throw: deliverable
  }

  test("kafka_broker is the reference's flag name; broker_list stays an alias") {
    // ParameterToolUtils.scala:30 — the reference reads `kafka_broker`
    val ref = CdcParams.fromArgs(Array("-kafka_broker", "b-1:9092"))
    assert(ref.brokerList == "b-1:9092")
    // both present: the reference name wins
    val both = CdcParams.fromArgs(Array(
      "-kafka_broker", "ref:9092", "-broker_list", "alias:9092"))
    assert(both.brokerList == "ref:9092")
  }

  test("apply-side replica knobs parse and default sanely") {
    val p = graft.config.CdcParams.fromArgs(Array(
      "-replica_buckets", "256", "-replica_retain", "6",
      "-tombstone_horizon_ms", "86400000"))
    assert(p.replicaBuckets == 256)
    assert(p.replicaRetain == 6)
    assert(p.tombstoneHorizonMs == 86400000L)
    val d = graft.config.CdcParams.fromArgs(Array.empty)
    assert(d.replicaBuckets == 16)
    assert(d.replicaRetain == 2)
    assert(d.tombstoneHorizonMs == Long.MaxValue)
  }
}
