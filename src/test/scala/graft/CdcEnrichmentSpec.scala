package graft

import graft.config.TablePkConfig
import graft.operators.CdcEnrichment

/** Golden tests for the enrichment transform against the reference's own
  * embedded envelope example (MySQLCDC2AWSMSK.scala:91) and the quirky
  * semantics called out in SURVEY §7: regex table dispatch, op=="d"
  * before-image keys, multi-column PKs joined with ".", the
  * `length >= max` truncation boundary, no_pk fallback, and Gson
  * serializeNulls-equivalent null retention in the re-serialized JSON.
  */
class CdcEnrichmentSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  /** The reference's golden envelope, verbatim. */
  val golden =
    """{"before":null,"after":{"pid":1,"pname":"prodcut-001","pprice":"125.12","create_time":"2023-02-14T03:16:38Z","modify_time":"2023-02-14T03:16:38Z"},"source":{"version":"1.6.4.Final","connector":"mysql","name":"mysql_binlog_source","ts_ms":1678634463000,"snapshot":"false","db":"test_db","sequence":null,"table":"product_01","server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.007670","pos":804,"row":0,"thread":null,"query":null},"op":"c","ts_ms":1678634463898,"transaction":null}"""

  def enrich(lines: Seq[String], cfg: String) =
    CdcEnrichment.enrichMySql(lines.toDS(), TablePkConfig.parse(cfg)).collect()

  test("golden envelope: pk extraction and partition key") {
    val out = enrich(Seq(golden),
      """[{"db":"test_db","table":"product_01","primary_key":"pid"}]""")
    assert(out.length == 1)
    assert(out.head.db == "test_db")
    assert(out.head.table == "product_01")
    assert(out.head.partitionKey == "test_db.product_01.1")
  }

  test("regex table config matches many physical tables, longest first") {
    val cfg =
      """[{"db":"test_db","table":"product.*","primary_key":"pid"},
         {"db":"test_db","table":"product_01","primary_key":"pname"}]"""
    // longer key "test_db=product_01" wins over "test_db=product.*"
    val out = enrich(Seq(golden), cfg)
    assert(out.head.partitionKey == "test_db.product_01.prodcut-001")
  }

  test("unanchored substring match (pattern a=b matches inside aa=bb)") {
    val cfg = TablePkConfig.parse(
      """[{"db":"b","table":"t","primary_key":"x"}]""")
    // findFirstIn("ab=tt") finds "b=t" → matches, reproducing the quirk
    assert(cfg.resolve("ab", "tt").nonEmpty)
  }

  test("delete op reads key from before image") {
    val del = golden
      .replace(""""before":null""",
        """"before":{"pid":99,"pname":"gone","pprice":"1.00","create_time":"2023-02-14T03:16:38Z","modify_time":"2023-02-14T03:16:38Z"}""")
      .replace(""""op":"c"""", """"op":"d"""")
    val out = enrich(Seq(del),
      """[{"db":"test_db","table":"product_01","primary_key":"pid"}]""")
    assert(out.head.partitionKey == "test_db.product_01.99")
  }

  test("multi-column pk joined with dots") {
    val out = enrich(Seq(golden),
      """[{"db":"test_db","table":"product_01","primary_key":"pid,pname"}]""")
    assert(out.head.partitionKey == "test_db.product_01.1.prodcut-001")
  }

  test("no matching config falls back to no_pk") {
    val out = enrich(Seq(golden),
      """[{"db":"other_db","table":"other","primary_key":"id"}]""")
    assert(out.head.partitionKey == "test_db.product_01.no_pk")
  }

  test("truncation boundary is length >= max (10 chars at max 10 truncates to 10)") {
    val out = enrich(Seq(golden),
      """[{"db":"test_db","table":"product_01","primary_key":"pid","column_max_length":"pname=11|pprice=3"}]""")
    val json = out.head.value
    // pname "prodcut-001" has length 11 → >= 11 → truncated to 11 (unchanged content)
    assert(json.contains(""""pname":"prodcut-001""""))
    // pprice "125.12" length 6 >= 3 → "125"
    assert(json.contains(""""pprice":"125""""))
    assert(!json.contains("125.12"))
  }

  test("truncation below max leaves value; nulls and field order preserved") {
    val out = enrich(Seq(golden),
      """[{"db":"test_db","table":"product_01","primary_key":"pid","column_max_length":"pname=100"}]""")
    val json = out.head.value
    assert(json.contains(""""pname":"prodcut-001""""))
    // serializeNulls parity: explicit nulls kept
    assert(json.contains(""""before":null"""))
    assert(json.contains(""""sequence":null"""))
    assert(json.contains(""""transaction":null"""))
    // field order preserved through the Jackson round-trip
    assert(json.indexOf("\"before\"") < json.indexOf("\"after\"") &&
      json.indexOf("\"after\"") < json.indexOf("\"source\"") &&
      json.indexOf("\"source\"") < json.indexOf("\"op\""))
  }

  test("malformed records are dropped (null-guard filter)") {
    val out = enrich(Seq(golden, "not json", """{"op":"c"}"""), "[]")
    assert(out.length == 1)
  }

  test("trailing content after the envelope drops the record") {
    val cfg = """[{"db":"test_db","table":"product_01","primary_key":"pid"}]"""
    val out = enrich(Seq(golden + " xyz ]", golden + """{"op":"d"}""", golden + " "), cfg)
    // only the trailing whitespace, which is no token, is accepted
    assert(out.length == 1)
    assert(out.head.value == golden)
  }

  test("mongo: trailing content after the change event drops the record") {
    val event =
      """{"_id":"x","operationType":"insert","ns":{"db":"d","coll":"c"},"documentKey":"{\"_id\": 42}"}"""
    val out = CdcEnrichment.enrichMongo(Seq(event, event + " xyz ]").toDS()).collect()
    assert(out.map(_.value).toSeq == Seq(event))
  }

  test("schema drift: unknown columns pass through untouched (schemaless, SURVEY §1.5)") {
    // a column added upstream mid-stream must survive enrichment — the
    // reference is schemaless (no registry, schema changes suppressed),
    // so the Jackson path may not project to a known field set
    val drifted = golden.replace(
      """"pprice":"125.12"""",
      """"pprice":"125.12","new_col":{"nested":[1,2]},"added_flag":true""")
    val out = enrich(Seq(drifted),
      """[{"db":"test_db","table":"product_01","primary_key":"pid"}]""")
    assert(out.length == 1)
    val json = out.head.value
    assert(json.contains(""""new_col":{"nested":[1,2]}"""), json)
    assert(json.contains(""""added_flag":true"""), json)
    assert(out.head.partitionKey == "test_db.product_01.1") // pk unaffected
  }

  test("Column-API enrichment matches the Jackson path bit-for-bit") {
    val dynamic = queries.CdcQueries.defs("cdc_enrich_mysql").fn(spark, sf)
    val expr = queries.CdcQueries.defs("cdc_enrich_expr").fn(spark, sf)
    assert(dynamic.columns.toSeq == expr.columns.toSeq)
    assert(dynamic.exceptAll(expr).count() == 0)
    assert(expr.exceptAll(dynamic).count() == 0)
  }

  test("mongo enrichment: scalar and compound document keys") {
    val scalar =
      """{"_id":"x","operationType":"insert","ns":{"db":"d","coll":"c"},"documentKey":"{\"_id\": 42.5}"}"""
    val compound =
      """{"_id":"y","operationType":"update","ns":{"db":"d","coll":"c"},"documentKey":"{\"_id\": {\"a\": 1, \"b\": 2}}"}"""
    val noKey =
      """{"_id":"z","operationType":"insert","ns":{"db":"d","coll":"c"},"documentKey":""}"""
    val out = CdcEnrichment.enrichMongo(
      Seq(scalar, compound, noKey).toDS()).collect().sortBy(_.partitionKey)
    // compound keys are space-stripped (MongoCDC2AWSMSK.scala:90) so the
    // partition hash matches the reference byte-for-byte
    assert(out.map(_.partitionKey).toSet ==
      Set("d.c.42.5", """d.c.{"a":1,"b":2}""", "d.c.no_pk"))
    // raw line passes through unmodified (no re-serialization)
    assert(out.forall(r => r.value.startsWith("""{"_id":""")))
  }
}
