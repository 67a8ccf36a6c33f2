package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A source-scan guard against main code that only specs reach: every
  * top-level `object`, `class` or `trait` under `src/main/scala` is
  * named somewhere outside its own declaration (comments stripped) in
  * the main sources, the main resources or the benchmark's sources,
  * defines a `main`, or is allowlisted below with the reason nothing
  * names it.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Reached without being named in source, by reason. */
  private val allowlist: Map[String, String] = Map(
    "GraftExtensions" ->
      "deployments load it by class name through spark.sql.extensions",
    "JdbcSnapshot" -> ("the cluster-only chunked JDBC reader for " +
      "-position initial; no app calls it yet, and cdc_snapshot_chunks " +
      "mirrors its chunk math"))

  private def files(root: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    }

  /** `src` without its `//` and (nested) block comments; string and
    * character literals are kept whole, newlines survive.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else if (at("'") && (src.startsWith("'", i + 2) ||
          (src.startsWith("\\", i + 1) && src.startsWith("'", i + 3)))) {
        val stop = if (src(i + 1) == '\\') i + 4 else i + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (depth > 0 && i < src.length)
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val topLevel =
    ("""(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r

  test("every top-level main definition is reached from main code, a " +
      "main, or a reasoned allowlist entry") {
    val texts: Map[Path, String] =
      (files("src/main/scala") ++ files("src/main/resources") ++
        files("perfbench/src")).map { p =>
        val raw = Files.readString(p)
        p -> (if (p.toString.endsWith(".scala")) stripComments(raw) else raw)
      }.toMap
    // each declaration spans up to the next top-level one in its file
    val decls = texts.toSeq.filter(_._1.startsWith(Paths.get("src/main/scala")))
      .flatMap { case (p, t) =>
        val ms = topLevel.findAllMatchIn(t).toSeq
        ms.zip(ms.drop(1).map(_.start) :+ t.length)
          .map { case (m, end) => (m.group(1), p, m.start, end) }
      }
    val unreached = decls.groupBy(_._1).collect {
      case (name, own) if !own.exists { case (_, p, s, e) =>
            texts(p).substring(s, e).contains("def main(") } &&
          !texts.exists { case (p, t) =>
            val outside = own.filter(_._2 == p).sortBy(-_._3)
              .foldLeft(t) { case (acc, (_, _, s, e)) =>
                acc.substring(0, s) + "\n" + acc.substring(e) }
            s"\\b$name\\b".r.findFirstIn(outside).isDefined
          } =>
        name -> own.map(_._2).distinct.mkString(", ")
    }
    val offenders = (unreached -- allowlist.keySet).toSeq.sorted
      .map { case (name, where) => s"$name ($where)" }
    assert(offenders.isEmpty, s"only specs reach: ${offenders.mkString("; ")}")
    // exact both ways: an entry whose declaration is now named (or gone)
    // leaves the list, so a scan that finds nothing cannot pass
    val stale = allowlist.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allowlisted but reached or gone: $stale")
  }
}
