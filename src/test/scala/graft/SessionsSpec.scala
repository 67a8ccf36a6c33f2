package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The local-session factory's conf, a guard that keeps it the only
  * session builder outside the two cluster entry points, and a guard on
  * the `spark.graft.*` session keys main code reads.
  */
class SessionsSpec extends AnyFunSuite {

  /** Build through the factory with the JVM-wide `spark.*` defaults
    * pointing the other way, so every asserted value is the factory's.
    * Any shared suite session is stopped first (the factory must build,
    * not adopt); the next suite's lazy getOrCreate builds a fresh one.
    */
  private def withFactorySession(build: => SparkSession)(
      check: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val props = Seq("spark.sql.session.timeZone" -> "America/Los_Angeles",
      "spark.ui.enabled" -> "true")
    val saved = props.map { case (k, _) => k -> Option(System.getProperty(k)) }
    props.foreach { case (k, v) => System.setProperty(k, v) }
    val spark =
      try build
      finally saved.foreach {
        case (k, Some(v)) => System.setProperty(k, v)
        case (k, None) => System.clearProperty(k)
      }
    try check(spark) finally spark.stop()
  }

  test("Sessions.local: master, shuffle partitions, cached-plan AQE, UTC, UI off") {
    withFactorySession(Sessions.local(2, partitions = 3)) { spark =>
      assert(spark.sparkContext.master == "local[2]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
    }
  }

  test("Sessions.local(cpus) gives one shuffle partition per core") {
    withFactorySession(Sessions.local(3)) { spark =>
      assert(spark.sparkContext.master == "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    }
  }

  /** Every `.scala` file under `src/main/scala`: its path relative to
    * that root -> its text.
    */
  private def mainSources(): Map[String, String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readString(p))
        .toMap
    }
  }

  test("the spark.graft.* keys main code reads are the derivation cache " +
      "and the two timing flags") {
    val keys = mainSources().values.flatMap(
      "\"(spark\\.graft\\.[^\"]*)\"".r.findAllMatchIn(_).map(_.group(1)))
      .toSet
    val expected = Set("spark.graft.dedup.derivationCache",
      "spark.graft.state.timing", "spark.graft.graph.timing")
    assert(keys == expected, s"unexpected ${keys -- expected}, " +
      s"missing ${expected -- keys}")
  }

  test("SparkSession.builder appears only in Sessions and the two cluster apps") {
    val builder = "SparkSession.builder"
    val builderRe = java.util.regex.Pattern.quote(builder).r
    val uses = mainSources().filter(_._2.contains(builder))
    assert(uses.keySet == Set("graft/Sessions.scala", "graft/apps/CdcApps.scala"),
      uses.keySet)
    assert(builderRe.findAllIn(uses("graft/Sessions.scala")).size == 1)
    // each cluster-app use sits in its own entry-point object
    val apps = uses("graft/apps/CdcApps.scala")
    val owners = builderRe.findAllMatchIn(apps).map { m =>
      "object (\\w+)".r.findAllMatchIn(apps.substring(0, m.start))
        .map(_.group(1)).toSeq.last
    }.toSeq
    assert(owners == Seq("MySQLCdcToKafka", "MongoCdcToKafka"), owners)
  }
}
