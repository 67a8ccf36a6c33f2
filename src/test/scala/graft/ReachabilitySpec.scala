package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A source-scan guard against main code that only specs reach: every
  * top-level `object`, `class` or `trait` under `src/main/scala` is
  * named somewhere outside its own declaration (comments stripped) in
  * the main sources, the main resources or the benchmark's sources,
  * defines a `main`, or is allowlisted below with the reason nothing
  * names it. Every public method of a top-level object is likewise
  * named outside its own declaration, with string literals blanked and
  * another object's same-named declaration not counting, or is
  * allowlisted.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Reached without being named in source, by reason. */
  private val allowlist: Map[String, String] = Map(
    "GraftExtensions" ->
      "deployments load it by class name through spark.sql.extensions")

  /** Public methods reached without a main caller, by reason. */
  private val methodAllowlist: Map[String, String] = Map(
    "KafkaCdcSource.connectorConfig" -> ("the only reader of the " +
      "reference's -host/-port/-username/-password/-server_id/-db_list/" +
      "-tb_list flags: the Debezium connector config a deployment " +
      "registers beside the cluster app"),
    "GraftFunctions.register" -> ("the documented path for a session " +
      "that is already running; GraftExtensions covers a session built " +
      "with spark.sql.extensions"))

  private def files(root: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    }

  /** The `${...}` and `$name` splices of a string literal, each on one
    * line; a splice cut short by a nested literal runs to its end.
    */
  private def splices(lit: String): Seq[String] =
    """\$(\w+|\{)""".r.findAllMatchIn(lit).map { m =>
      if (m.group(1) != "{") m.group(1) else {
        var (j, depth) = (m.end, 1)
        while (j < lit.length && depth > 0) {
          if (lit(j) == '{') depth += 1 else if (lit(j) == '}') depth -= 1
          j += 1
        }
        lit.substring(m.end, j).replace('\n', ' ')
      }
    }.toSeq

  /** `src` without its `//` and (nested) block comments; string and
    * character literals are kept whole or, with `blankLiterals`, emptied
    * to `""` followed by their splices; newlines survive.
    */
  private def stripComments(src: String,
      blankLiterals: Boolean = false): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def literal(stop: Int): Unit = {
      val lit = src.substring(i, stop)
      out ++= (if (!blankLiterals) lit
        else ("\"\"" +: splices(lit)).mkString(" ") + lit.filter(_ == '\n'))
      i = stop
    }
    while (i < src.length) {
      if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        literal(if (end < 0) src.length else end + 3)
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        literal(math.min(j + 1, src.length))
      } else if (at("'") && (src.startsWith("'", i + 2) ||
          (src.startsWith("\\", i + 1) && src.startsWith("'", i + 3)))) {
        literal(if (src(i + 1) == '\\') i + 4 else i + 3)
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
      """(object|class|trait)\s+(\w+)""").r

  /** A member `def` of a top-level object (two-space indent), with its
    * modifiers in group 1 and its name in group 2.
    */
  private val memberDef =
    ("""(?m)^  ((?:(?:@\w+|final|implicit|override|lazy|""" +
      """(?:private|protected)(?:\[\w+\])?)\s+)*)def\s+(\w+)""").r

  /** Modifiers that take a member off the public surface it is checked
    * for: an override answers to its supertype, not to callers here.
    */
  private val nonPublic = "private|protected|override".r

  /** The next line at top-level or member indent: where a member ends. */
  private val memberEnd = """(?m)^ {0,2}\S""".r

  /** The main sources (Scala ones with comments stripped and, with
    * `blankLiterals`, string literals emptied), the main resources and
    * the benchmark's sources.
    */
  private def sources(blankLiterals: Boolean): Map[Path, String] =
    (files("src/main/scala") ++ files("src/main/resources") ++
      files("perfbench/src")).map { p =>
      val raw = Files.readString(p)
      p -> (if (p.toString.endsWith(".scala")) stripComments(raw, blankLiterals)
        else raw)
    }.toMap

  /** Top-level declarations under `src/main/scala` as (kind, name, file,
    * start, end); each spans up to the next top-level one in its file.
    */
  private def declarations(texts: Map[Path, String])
      : Seq[(String, String, Path, Int, Int)] =
    texts.toSeq.filter(_._1.startsWith(Paths.get("src/main/scala")))
      .flatMap { case (p, t) =>
        val ms = topLevel.findAllMatchIn(t).toSeq
        ms.zip(ms.drop(1).map(_.start) :+ t.length)
          .map { case (m, end) => (m.group(1), m.group(2), p, m.start, end) }
      }

  /** Whether `name` occurs in `texts` outside the `own` (file, start,
    * end) spans, not counting occurrences right after `def `: another
    * object's same-named declaration is not a use.
    */
  private def named(texts: Map[Path, String], name: String,
      own: Seq[(Path, Int, Int)]): Boolean = {
    val use = s"(?<!def )\\b$name\\b".r
    texts.exists { case (p, t) =>
      val outside = own.filter(_._1 == p).sortBy(-_._2)
        .foldLeft(t) { case (acc, (_, s, e)) =>
          acc.substring(0, s) + "\n" + acc.substring(e) }
      use.findFirstIn(outside).isDefined
    }
  }

  /** Exact both ways: an entry whose declaration is now named (or gone)
    * leaves the list, so a scan that finds nothing cannot pass.
    */
  private def assertExact(unreached: Map[String, String],
      allowed: Map[String, String]): Unit = {
    val offenders = (unreached -- allowed.keySet).toSeq.sorted
      .map { case (name, where) => s"$name ($where)" }
    assert(offenders.isEmpty, s"only specs reach: ${offenders.mkString("; ")}")
    val stale = allowed.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allowlisted but reached or gone: $stale")
  }

  test("every top-level main definition is reached from main code, a " +
      "main, or a reasoned allowlist entry") {
    val texts = sources(blankLiterals = false)
    val unreached = declarations(texts).groupBy(_._2).collect {
      case (name, own) if !own.exists { case (_, _, p, s, e) =>
            texts(p).substring(s, e).contains("def main(") } &&
          !named(texts, name, own.map(d => (d._3, d._4, d._5))) =>
        name -> own.map(_._3).distinct.mkString(", ")
    }
    assertExact(unreached, allowlist)
  }

  test("every public method of a top-level main object is named in main " +
      "code outside its own declaration, or on a reasoned allowlist") {
    // string literals are blanked: "noop-sink" is not a call of `sink`
    val texts = sources(blankLiterals = true)
    val methods = for {
      (kind, obj, p, start, end) <- declarations(texts) if kind == "object"
      t = texts(p)
      m <- memberDef.findAllMatchIn(t.substring(start, end)).toSeq
      lineEnd = t.indexOf('\n', start + m.end)
      stop = if (lineEnd < 0) end else memberEnd
        .findFirstMatchIn(t.substring(lineEnd + 1, end))
        .fold(end)(lineEnd + 1 + _.start)
    } yield (s"$obj.${m.group(2)}", m.group(1), p, start + m.start, stop)
    val unreached = methods.groupBy(_._1).collect {
      case (qualified, own) if !qualified.endsWith(".main") &&
          own.exists(d => nonPublic.findFirstIn(d._2).isEmpty) &&
          !named(texts, qualified.split('.').last,
            own.map(d => (d._3, d._4, d._5))) =>
        qualified -> own.map(_._3).distinct.mkString(", ")
    }
    assertExact(unreached, methodAllowlist)
  }
}
