package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.config.TablePkConfig
import graft.model.CdcKafkaRecord
import graft.operators.CdcEnrichment

/** Randomized proof that the single-scan splice in `CdcEnrichment` is the
  * Jackson tree path wherever it answers: golden and replay envelopes,
  * mutated at the root, image and nested levels (whitespace, escapes,
  * number forms, duplicate names, trailing content, Jackson's depth and
  * number-length limits, a non-BMP character cut in half), enriched
  * under rules that cut and key on strings, numbers, booleans, nulls and
  * objects, repeat a rule on one column, and cut to 0. Whenever the
  * splice accepts a line its record equals the tree's, and
  * `enrichMySql` equals the tree on every line.
  */
class SpliceParitySpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val golden =
    """{"before":null,"after":{"pid":1,"pname":"prodcut-001","pprice":"125.12","create_time":"2023-02-14T03:16:38Z","modify_time":"2023-02-14T03:16:38Z"},"source":{"version":"1.6.4.Final","connector":"mysql","name":"mysql_binlog_source","ts_ms":1678634463000,"snapshot":"false","db":"test_db","sequence":null,"table":"product_01","server_id":57330068,"gtid":null,"file":"mysql-bin-changelog.007670","pos":804,"row":0,"thread":null,"query":null},"op":"c","ts_ms":1678634463898,"transaction":null}"""

  /** Golden-table rules over every value kind the image can hold. */
  private val configs: Seq[TablePkConfig] =
    Seq(queries.CdcQueries.config, queries.CdcQueries.noPkConfig) ++ Seq(
      """[{"db":"test_db","table":"product_01","primary_key":"pid","column_max_length":"pname=5|pname=3|pprice=0"}]""",
      """[{"db":"test_db","table":"product_01","primary_key":"pname,pid","column_max_length":"pid=1|flag=2|obj=1|nul=1"}]""",
      """[{"db":"test_db","table":"prod.*","primary_key":"flag","column_max_length":"pname=4"}]""",
      """[{"db":"test_db","table":"product_01","primary_key":"obj"}]""",
      """[{"db":"test_db","table":"product_01","primary_key":"nul"}]""",
      """[{"db":"test_db","table":"eve.*","primary_key":"event_id,user_id","column_max_length":"event_id=3|props=0|value=4|event_type=2|event_type=1"}]"""
    ).map(TablePkConfig.parse)

  private def bases: Seq[String] = {
    val replay = graft.sources.CdcReplay.batch(spark, sf).as[String].collect().take(120)
    val extra = golden.replace(""""pprice":"125.12"""",
      """"pprice":"125.12","flag":true,"obj":{"a":[1,{"b":null}]},"nul":null,"big":123456789012345678901234567890""")
    val delete = golden.replace(""""before":null""", """"before":{"pid":-7,"pname":"x"}""")
      .replace(""""op":"c"""", """"op":"d"""")
    Seq(golden, extra, delete) ++ replay
  }

  /** One random mutation of `line`. */
  private def mutate(line: String, rnd: scala.util.Random): String = {
    def at(of: String): Int = {
      val hits = Iterator.iterate(line.indexOf(of))(i => line.indexOf(of, i + 1))
        .takeWhile(_ >= 0).toVector
      if (hits.isEmpty) -1 else hits(rnd.nextInt(hits.size))
    }
    def insertAfter(of: String, what: String): String = {
      val i = at(of)
      if (i < 0) line else line.substring(0, i + of.length) + what + line.substring(i + of.length)
    }
    def replaceOne(of: String, by: String): String = {
      val i = at(of)
      if (i < 0) line else line.substring(0, i) + by + line.substring(i + of.length)
    }
    val nonBmp = new String(Character.toChars(0x1F600))
    rnd.nextInt(30) match {
      case 0 => val i = rnd.nextInt(line.length + 1)
        line.substring(0, i) + Seq(" ", "\t", "\n", "\r")(rnd.nextInt(4)) + line.substring(i)
      case 1 => insertAfter(":\"", Seq("\\/", "\\u0041", "\\n", "\\u001F", "\\u001f", "\\u000A",
        "\\\"", "\\\\", "\\b", "\\x", "\u0001", "é", "\u2028")(rnd.nextInt(13)))
      case 2 => replaceOne(":1", ":" + Seq("1.50", "1e3", "-0", "007", "-", "1E3", "0.0",
        "10", "-12")(rnd.nextInt(9)))
      case 3 => insertAfter("{", "\"op\":\"u\",")
      case 4 => insertAfter("\"after\":{", "\"pid\":2,")
      case 5 => insertAfter("\"source\":{", "\"db\":\"other\",")
      case 6 => insertAfter("\"source\":{", "\"table\":\"product_01\",")
      case 7 => insertAfter("[1,", "{\"x\":1,\"x\":2},")
      case 8 => line + Seq(" xyz ]", "{}", " ", ",", "}")(rnd.nextInt(5))
      case 9 => replaceOne("null", "[" * 1200 + "]" * 1200)
      case 10 => replaceOne("null", "[" * 40 + "]" * 40)
      case 11 => replaceOne(":1", ":" + "9" * 1500)
      case 12 => replaceOne(":1", ":" + "9" * 40)
      case 13 => replaceOne("\"pname\":\"", "\"pname\":\"ab" + nonBmp)
      case 14 => replaceOne("\"props\":\"", "\"props\":\"abcdefg" + nonBmp)
      case 15 => replaceOne("\"event_type\":\"", "\"event_type\":\"abcde" + nonBmp)
      case 16 => replaceOne("\"op\":\"c\"", Seq("\"op\":\"d\"", "\"op\":1", "\"op\":null",
        "\"op\":\"\\u0064\"")(rnd.nextInt(4)))
      case 17 => replaceOne("\"db\":\"test_db\"", Seq("\"db\":7", "\"db\":\"te\\tst\"",
        "\"db\":{}", "\"d\\u0062\":\"test_db\"")(rnd.nextInt(4)))
      case 18 => line.replace("\"source\":{", "\"source\":[{").replace(",\"op\"", "],\"op\"")
      case 19 => replaceOne("\"pid\":1", Seq("\"pid\":true", "\"pid\":null", "\"pid\":{}",
        "\"pid\":\"1\"", "\"pid\":[1]", "\"pid\":\"\"", "\"pid\":\"a\\\"b\"")(rnd.nextInt(7)))
      case 20 => replaceOne("\"after\":{", "\"after\":null,\"x\":{")
      case 21 => replaceOne("\"after\":", "\"aft\\u0001er\":")
      case 22 => line.replaceAll("\"event_id\":\"([0-9]+)\"", "\"event_id\":$1") // cut as a number
      case 23 => replaceOne("\"flag\":true", Seq("\"flag\":false", "\"flag\":nul",
        "\"flag\":tru", "\"flag\":\"\"")(rnd.nextInt(4)))
      case 24 => line.substring(0, rnd.nextInt(line.length))
      case 25 => replaceOne("\"value\":\"", "\"value\":\"\\u0000")
      case 26 => insertAfter("\"source\":{", "\"nested\":{\"a\":1,\"a\":1},")
      case 27 => "\uFEFF" + line
      case 28 => replaceOne("\"props\":", "\"props\":{\"k\":\"v\"},\"props2\":")
      case _ => line
    }
  }

  private lazy val lines: Seq[String] = {
    val rnd = new scala.util.Random(20261019L)
    val bs = bases
    bs ++ Seq.fill(4000) {
      var l = bs(rnd.nextInt(bs.size))
      (0 to rnd.nextInt(3)).foreach(_ => l = mutate(l, rnd))
      l
    }
  }

  test("the splice and the tree: same record whenever the splice accepts") {
    var accepted = 0
    var checked = 0
    configs.foreach { cfg =>
      val splice = new CdcEnrichment.Splice(cfg)
      val tree = new CdcEnrichment.Tree(cfg)
      lines.foreach { line =>
        val spliced = splice.record(line)
        checked += 1
        if (spliced != null) {
          accepted += 1
          assert(spliced == tree.record(line), s"line: $line")
        }
      }
    }
    // both paths are exercised: most mutations stay canonical, many do not
    assert(accepted > checked / 4 && accepted < checked * 9 / 10, s"$accepted of $checked")
  }

  test("enrichMySql equals the tree on every line") {
    // Spark stores strings as UTF-8: a lone surrogate, which a cut can
    // leave behind, reads back as '?' on both sides
    def utf8(v: String) = new String(v.getBytes(UTF_8), UTF_8)
    val ds = lines.toDS().repartition(4)
    val stored = lines.map(utf8)
    configs.foreach { cfg =>
      val tree = new CdcEnrichment.Tree(cfg)
      val expected = stored.map(tree.record).filter(_ != null)
        .map(r => r.copy(partitionKey = utf8(r.partitionKey), value = utf8(r.value)))
      val got = CdcEnrichment.enrichMySql(ds, cfg).collect().toSeq
      def sorted(rs: Seq[CdcKafkaRecord]) = rs.sortBy(r => (r.partitionKey, r.value))
      assert(sorted(got) == sorted(expected))
    }
  }

  test("an uncut canonical line is emitted as the input string itself") {
    val cfg = TablePkConfig.parse("""[{"db":"test_db","table":"product_01","primary_key":"pid"}]""")
    val r = new CdcEnrichment.Splice(cfg).record(golden)
    assert(r != null && (r.value eq golden))
    assert(r.partitionKey == "test_db.product_01.1")
  }

  test("non-canonical forms go to the tree") {
    val splice = new CdcEnrichment.Splice(queries.CdcQueries.noPkConfig)
    val forms = Seq(
      golden.replace("\"pos\":804", "\"pos\": 804"),
      golden.replace("\"pos\":804", "\"pos\":804.0"),
      golden.replace("\"pos\":804", "\"pos\":8e2"),
      golden.replace("\"pos\":804", "\"pos\":-0"),
      golden.replace("\"pos\":804", "\"pos\":0804"),
      golden.replace("\"pos\":804", "\"pos\":\"a\\/b\""),
      golden.replace("\"pos\":804", "\"pos\":\"\\u0041\""),
      golden.replace("\"pos\":804", "\"pos\":\"\\u001f\""),
      golden.replace("\"pos\":804", "\"pos\":804,\"pos\":805"),
      golden.replace("\"pos\":804", "\"pos\":" + "[" * 1200 + "]" * 1200),
      golden.replace("\"pos\":804", "\"pos\":" + "7" * 1500),
      golden + " ")
    forms.foreach(f => assert(splice.record(f) == null, f))
  }
}
