package graft.operators

import com.fasterxml.jackson.core.{StreamReadConstraints, StreamWriteConstraints}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{TablePkConfig, TableRule}
import graft.model.CdcKafkaRecord

/** The reference's core transform (SURVEY §2 operator #5/#6): per Debezium
  * change event — extract `db`/`table`/`op`, resolve the per-table rule
  * (longest-pattern-first regex over `"db=table"`), build the partition key
  * from PK columns (reading `before` when op=="d", else `after`; values
  * joined with "."), truncate configured columns in place inside the JSON
  * (only when `length >= max`), and emit
  * `CdcKafkaRecord(db, table, "db.table.pk1.pk2…"|"db.table.no_pk", json)`.
  *
  * Reference: MySQLCDC2AWSMSK.scala:95-168, MongoCDC2AWSMSK.scala:79-102.
  *
  * Two implementations:
  *
  *   - [[enrichMySql]] / [[enrichMongo]]: the parity-faithful dynamic path.
  *     The envelope has no compile-time schema (the reference accesses
  *     fields by name through Gson), and truncation mutates the JSON
  *     in place while preserving nulls, field order, and number types
  *     (Gson `serializeNulls`, MySQLCDC2AWSMSK.scala:38,142). That is
  *     inherently per-record imperative, so it is a `mapPartitions` with
  *     a per-partition memo of resolved (db,table)→rule lookups. Scale
  *     notes: stateless, no shuffle, records never leave their input
  *     partition; rule resolution is O(#rules) regex once per distinct
  *     (db,table) per partition, O(1) after.
  *
  *     The DEFINITION of a MySQL record is [[Tree]]: a Jackson tree parse
  *     (which ships in Spark's own classpath), the cuts on the tree, and a
  *     re-serialization. [[Splice]] is a single scan that reaches the same
  *     record without building the tree: it finds the value ranges of
  *     `source.db`, `source.table`, `op` and the image's fields, and
  *     replaces only the cut values in the input text; when nothing is
  *     cut, the record's value IS the input string. It handles a line
  *     only when `writeValueAsString(readTree(line))` would give back the
  *     same text — a CANONICAL line:
  *       - one object, no whitespace outside strings, nothing after it;
  *       - no object at any depth repeats a name (the tree would keep the
  *         last value in the first slot);
  *       - every number is an integer `-?(0|[1-9][0-9]*)` other than `-0`
  *         (the tree re-renders `1.50` as `1.5` and `1e3` as `1000.0`);
  *       - strings hold no raw control character, and escapes only in
  *         Jackson's own output forms (`\"`, `\\`, `\b`, `\t`, `\n`,
  *         `\f`, `\r`, uppercase `\u00XX` for the other control
  *         characters); a string the splice reads (db, table, op, a PK or
  *         cut column, a name at the first two levels) holds none;
  *       - it stays below `StreamReadConstraints.defaults()` (nesting
  *         depth, number, string and name length, document length, token
  *         count) and the write nesting depth, read at run time;
  *       - `source` is an object whose `db` and `table` are strings, `op`
  *         is a string and, when the rule has PK columns, the image is an
  *         object holding each of them as a string or an integer.
  *     Every other line goes to [[Tree]] unchanged, which keeps or drops
  *     it; nothing selects between the two. SpliceParitySpec fuzzes the
  *     equivalence.
  *
  *   - [[partitionKeyExpr]] + [[truncateExpr]]: Column-API pieces used by
  *     the batch/analytics path where the row schema is known — fully
  *     codegen'd by Catalyst (no UDF), preferred at 100 TB when the
  *     table set is static.
  */
object CdcEnrichment {

  // ---------------------------------------------------------------- dynamic

  /** MySQL Debezium JSON → enriched records. Malformed records become null
    * and are dropped, mirroring the EMR variant's trailing
    * `.filter(_ != null)` (emr/MySQLCDC2AWSMSK.scala:160).
    */
  def enrichMySql(lines: Dataset[String], config: TablePkConfig)(
      implicit spark: SparkSession): Dataset[CdcKafkaRecord] = {
    import spark.implicits._
    lines.mapPartitions { it =>
      val splice = new Splice(config)
      val tree = new Tree(config)
      it.map { line =>
        val spliced = splice.record(line)
        if (spliced != null) spliced else tree.record(line)
      }.filter(_ != null)
    }
  }

  /** A mapper that refuses anything after the root value: `readTree`
    * otherwise ignores trailing content, so `{"a":1} xyz ]` would parse.
    */
  private def strictMapper(): ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `config.resolve`, memoized per (db, table). */
  private def memoized(config: TablePkConfig): (String, String) => Option[TableRule] = {
    val memo = collection.mutable.HashMap.empty[(String, String), Option[TableRule]]
    (db, table) => memo.getOrElseUpdate((db, table), config.resolve(db, table))
  }

  /** The record of one MySQL envelope through the Jackson tree, or null
    * when the line is malformed: the definition [[Splice]] must match.
    */
  private[graft] final class Tree(config: TablePkConfig) {
    private val mapper = strictMapper()
    private val resolve = memoized(config)

    def record(line: String): CdcKafkaRecord =
      try {
        val root = mapper.readTree(line).asInstanceOf[ObjectNode]
        val src = root.get("source")
        val db = src.get("db").asText()
        val table = src.get("table").asText()
        val op = root.get("op").asText()
        val rule = resolve(db, table)
        val imageName = if (op == "d") "before" else "after"

        // In-place truncation on the before/after object: only when the
        // value is non-null, non-empty, and length >= max
        // (MySQLCDC2AWSMSK.scala:133-146 — `>=` is intentional).
        rule.foreach { r =>
          if (r.truncations.nonEmpty) {
            root.get(imageName) match {
              case obj: ObjectNode =>
                r.truncations.foreach { case (col, max) =>
                  val v = obj.get(col)
                  if (v != null && !v.isNull) {
                    val s = v.asText()
                    if (s != null && s.nonEmpty && s.length >= max)
                      obj.put(col, s.substring(0, max))
                  }
                }
              case _ => // null image (e.g. before on insert): nothing to do
            }
          }
        }

        val pkCols = rule.map(_.pkColumns).getOrElse(Seq.empty)
        val partitionKey =
          if (pkCols.nonEmpty) {
            val image = root.get(imageName)
            val vals = pkCols.map(c => image.get(c).asText())
            db + "." + table + "." + vals.mkString(".")
          } else db + "." + table + ".no_pk"

        CdcKafkaRecord(db, table, partitionKey, mapper.writeValueAsString(root))
      } catch {
        case _: Exception => null
      }
  }

  /** The record of one CANONICAL MySQL envelope by a single scan and a
    * splice of the cut values (see the header), or null when the line is
    * not canonical and [[Tree]] must decide. Not thread-safe: one per
    * partition.
    */
  private[graft] final class Splice(config: TablePkConfig) {
    /** The owner of the root object's members. */
    private final val Root = -1
    /** The owner of values whose members are not recorded. */
    private final val Deeper = -2

    private val resolve = memoized(config)
    private val limits = StreamReadConstraints.defaults()
    private val maxDepth =
      math.min(limits.getMaxNestingDepth, StreamWriteConstraints.defaults().getMaxNestingDepth)
    private val maxNumber = limits.getMaxNumberLength
    private val maxString = limits.getMaxStringLength
    private val maxName = limits.getMaxNameLength
    private val maxDocument = limits.getMaxDocumentLength
    private val maxTokens = limits.getMaxTokenCount

    private var s: String = _
    private var n = 0
    private var pos = 0
    private var tokens = 0L
    /** Whether the last string scanned held an escape. */
    private var escaped = false

    /** Names of the open objects, innermost last: the duplicate check. */
    private var nameAt = new Array[Int](32)
    private var nameEnd = new Array[Int](32)
    private var names = 0

    /** Members of the root object and of its object values: name and
      * value ranges (a string value's range includes its quotes), the
      * owning member (`Root` for the root's own) and whether a string
      * value holds an escape. `cut` is a member's value after the cuts,
      * null while uncut; `edited` lists the cut members.
      */
    private var mName = new Array[Int](64)
    private var mNameEnd = new Array[Int](64)
    private var mValue = new Array[Int](64)
    private var mValueEnd = new Array[Int](64)
    private var mOwner = new Array[Int](64)
    private var mEscaped = new Array[Boolean](64)
    private var cut = new Array[String](64)
    private var members = 0
    private var edited = new Array[Int](64)
    private var edits = 0

    def record(line: String): CdcKafkaRecord = {
      while (edits > 0) { edits -= 1; cut(edited(edits)) = null }
      if (line == null || !scan(line)) return null
      val source = find(Root, "source")
      val op = find(Root, "op")
      if (source < 0 || s.charAt(mValue(source)) != '{' || !plainString(op)) return null
      val dbAt = find(source, "db")
      val tableAt = find(source, "table")
      if (!plainString(dbAt) || !plainString(tableAt)) return null
      val db = content(dbAt)
      val table = content(tableAt)
      val rule = resolve(db, table)
      val image = find(Root, if (content(op) == "d") "before" else "after")
      val imageObject = image >= 0 && s.charAt(mValue(image)) == '{'
      val pkCols = rule.fold(Seq.empty[String])(_.pkColumns)
      if (pkCols.nonEmpty && !imageObject) return null
      if (imageObject && rule.isDefined) {
        val cuts = rule.get.truncations
        var t = 0
        while (t < cuts.length) {
          val (col, max) = cuts(t)
          val m = find(image, col)
          if (m >= 0 && !truncate(m, max)) return null
          t += 1
        }
      }

      val key = new java.lang.StringBuilder(db.length + table.length + 24)
        .append(db).append('.').append(table).append('.')
      if (pkCols.isEmpty) key.append("no_pk")
      else {
        var k = 0
        while (k < pkCols.length) {
          val m = find(image, pkCols(k))
          if (m < 0) return null
          val c = s.charAt(mValue(m))
          if (k > 0) key.append('.')
          if (cut(m) != null) key.append(cut(m))
          else if (c == '"' && !mEscaped(m)) key.append(s, mValue(m) + 1, mValueEnd(m) - 1)
          else if (c == '-' || (c >= '0' && c <= '9')) key.append(s, mValue(m), mValueEnd(m))
          else return null
          k += 1
        }
      }
      CdcKafkaRecord(db, table, key.toString, splice(line))
    }

    /** Applies one `(column, max)` rule to member `m` as the tree does:
      * null, objects and arrays stay, and a number or boolean that is cut
      * becomes a string. False when the value is a string holding an
      * escape, whose length the tree counts decoded.
      */
    private def truncate(m: Int, max: Int): Boolean = {
      val v = mValue(m)
      val c = s.charAt(v)
      if (c == 'n' || c == '{' || c == '[') true
      else if (cut(m) != null) {
        if (cut(m).length > max) cut(m) = cut(m).substring(0, max)
        true
      } else if (c == '"') {
        if (mEscaped(m)) false
        else {
          // a string of exactly `max` chars is rewritten to itself
          if (mValueEnd(m) - v - 2 > max) edit(m, s.substring(v + 1, v + 1 + max))
          true
        }
      } else {
        if (mValueEnd(m) - v >= max) edit(m, s.substring(v, v + max))
        true
      }
    }

    private def edit(m: Int, value: String): Unit = {
      cut(m) = value
      if (edits == edited.length) edited = java.util.Arrays.copyOf(edited, 2 * edits)
      edited(edits) = m
      edits += 1
    }

    /** The line with each cut member's value replaced by its quoted cut. */
    private def splice(line: String): String =
      if (edits == 0) line
      else {
        // members are recorded in line order
        java.util.Arrays.sort(edited, 0, edits)
        val out = new java.lang.StringBuilder(line.length + 2 * edits)
        var from = 0
        var e = 0
        while (e < edits) {
          val m = edited(e)
          out.append(line, from, mValue(m)).append('"').append(cut(m)).append('"')
          from = mValueEnd(m)
          e += 1
        }
        out.append(line, from, line.length).toString
      }

    private def plainString(m: Int): Boolean =
      m >= 0 && s.charAt(mValue(m)) == '"' && !mEscaped(m)

    private def content(m: Int): String = s.substring(mValue(m) + 1, mValueEnd(m) - 1)

    /** The member of `owner` named `name`, or -1. */
    private def find(owner: Int, name: String): Int = {
      var m = 0
      while (m < members) {
        if (mOwner(m) == owner && mNameEnd(m) - mName(m) == name.length &&
            s.startsWith(name, mName(m))) return m
        m += 1
      }
      -1
    }

    // ---------------------------------------------------------- the scan

    /** Whether `line` is canonical; records the members on the way. */
    private def scan(line: String): Boolean = {
      s = line
      n = line.length
      pos = 0
      tokens = 0
      names = 0
      members = 0
      (maxDocument <= 0 || n < maxDocument) && n > 0 && s.charAt(0) == '{' &&
        obj(1, Root) && pos == n && (maxTokens <= 0 || tokens < maxTokens)
    }

    /** One value at `pos` inside a container at `depth`; `owner` is the
      * member the value belongs to when its own members are recorded.
      */
    private def value(depth: Int, owner: Int): Boolean = {
      tokens += 1
      if (pos >= n) return false
      val c = s.charAt(pos)
      if (c == '"') string(maxString)
      else if (c == '{') obj(depth + 1, owner)
      else if (c == '[') arr(depth + 1)
      else if (c == 't') literal("true")
      else if (c == 'f') literal("false")
      else if (c == 'n') literal("null")
      else number()
    }

    private def obj(depth: Int, owner: Int): Boolean = {
      if (depth >= maxDepth) return false
      pos += 1
      tokens += 1
      if (pos < n && s.charAt(pos) == '}') { pos += 1; return true }
      val first = names
      val recorded = owner != Deeper
      while (true) {
        if (pos >= n || s.charAt(pos) != '"') return false
        tokens += 1
        val at = pos + 1
        if (!string(maxName) || (recorded && escaped)) return false
        val end = pos - 1
        var k = first
        while (k < names) {
          if (nameEnd(k) - nameAt(k) == end - at && s.regionMatches(nameAt(k), s, at, end - at))
            return false
          k += 1
        }
        pushName(at, end)
        if (pos >= n || s.charAt(pos) != ':') return false
        pos += 1
        val start = pos
        val m = if (recorded) addMember(at, end, owner) else Deeper
        if (!value(depth, if (owner == Root) m else Deeper)) return false
        if (recorded) {
          mValue(m) = start
          mValueEnd(m) = pos
          mEscaped(m) = escaped && s.charAt(start) == '"'
        }
        if (pos >= n) return false
        val c = s.charAt(pos)
        pos += 1
        if (c == '}') { names = first; return true }
        if (c != ',') return false
      }
      false
    }

    private def arr(depth: Int): Boolean = {
      if (depth >= maxDepth) return false
      pos += 1
      tokens += 1
      if (pos < n && s.charAt(pos) == ']') { pos += 1; return true }
      while (true) {
        if (!value(depth, Deeper) || pos >= n) return false
        val c = s.charAt(pos)
        pos += 1
        if (c == ']') return true
        if (c != ',') return false
      }
      false
    }

    /** A string at `pos` whose raw content is shorter than `limit`. */
    private def string(limit: Int): Boolean = {
      var i = pos + 1
      escaped = false
      while (i < n) {
        val c = s.charAt(i)
        if (c == '"') {
          val ok = i - pos - 1 < limit
          pos = i + 1
          return ok
        }
        if (c < 0x20) return false
        if (c == '\\') {
          val k = escape(i)
          if (k == 0) return false
          escaped = true
          i += k
        } else i += 1
      }
      false
    }

    /** The length of the escape at `i` when it is in Jackson's output
      * form, else 0.
      */
    private def escape(i: Int): Int =
      if (i + 1 >= n) 0
      else s.charAt(i + 1) match {
        case '"' | '\\' | 'b' | 't' | 'n' | 'f' | 'r' => 2
        case 'u' if i + 5 < n && s.charAt(i + 2) == '0' && s.charAt(i + 3) == '0' =>
          // `\u00XX`, uppercase, for a control character without a short form
          val hi = s.charAt(i + 4)
          val lo = s.charAt(i + 5)
          val low =
            if (lo >= '0' && lo <= '9') lo - '0'
            else if (lo >= 'A' && lo <= 'F') lo - 'A' + 10
            else -1
          val code = (hi - '0') * 16 + low
          if ((hi == '0' || hi == '1') && low >= 0 &&
              code != 0x08 && code != 0x09 && code != 0x0A && code != 0x0C && code != 0x0D) 6
          else 0
        case _ => 0
      }

    private def literal(word: String): Boolean =
      s.startsWith(word, pos) && { pos += word.length; true }

    /** An integer `-?(0|[1-9][0-9]*)`, not `-0`, with fewer digits than
      * the number limit; what follows is the container's to check.
      */
    private def number(): Boolean = {
      val negative = s.charAt(pos) == '-'
      val digits = if (negative) pos + 1 else pos
      if (digits >= n) return false
      val c = s.charAt(digits)
      var i = digits + 1
      if (c == '0') { if (negative) return false }
      else if (c >= '1' && c <= '9') {
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      } else return false
      pos = i
      i - digits < maxNumber
    }

    private def pushName(at: Int, end: Int): Unit = {
      if (names == nameAt.length) {
        nameAt = java.util.Arrays.copyOf(nameAt, 2 * names)
        nameEnd = java.util.Arrays.copyOf(nameEnd, 2 * names)
      }
      nameAt(names) = at
      nameEnd(names) = end
      names += 1
    }

    private def addMember(at: Int, end: Int, owner: Int): Int = {
      if (members == mName.length) {
        val size = 2 * members
        mName = java.util.Arrays.copyOf(mName, size)
        mNameEnd = java.util.Arrays.copyOf(mNameEnd, size)
        mValue = java.util.Arrays.copyOf(mValue, size)
        mValueEnd = java.util.Arrays.copyOf(mValueEnd, size)
        mOwner = java.util.Arrays.copyOf(mOwner, size)
        mEscaped = java.util.Arrays.copyOf(mEscaped, size)
        cut = java.util.Arrays.copyOf(cut, size)
      }
      mName(members) = at
      mNameEnd(members) = end
      mOwner(members) = owner
      members += 1
      members - 1
    }
  }

  /** Mongo change-stream JSON → enriched records
    * (MongoCDC2AWSMSK.scala:79-102): db/table from `ns.db`/`ns.coll`, op
    * from `operationType`, key regex-extracted from `documentKey`
    * (pattern `"_id":\s*([\d.]+|\{[^}]+\})` — scalar or compound keys,
    * with spaces stripped from the match as the reference does at
    * MongoCDC2AWSMSK.scala:90 so compound keys hash identically),
    * NO truncation, and the raw line passes through unmodified.
    */
  def enrichMongo(lines: Dataset[String])(
      implicit spark: SparkSession): Dataset[CdcKafkaRecord] = {
    import spark.implicits._
    val idPattern = """"_id":\s*([\d.]+|\{[^}]+\})""".r
    lines.mapPartitions { it =>
      val mapper = strictMapper()
      it.map { line =>
        try {
          val root = mapper.readTree(line)
          val ns = root.get("ns")
          val db = ns.get("db").asText()
          val table = ns.get("coll").asText()
          val docKey = Option(root.get("documentKey")).map(_.asText()).getOrElse("")
          val pk = idPattern.findFirstMatchIn(docKey)
            .map(_.group(1).replaceAll(" ", ""))
          val partitionKey = pk match {
            case Some(v) => db + "." + table + "." + v
            case None => db + "." + table + ".no_pk"
          }
          CdcKafkaRecord(db, table, partitionKey, line)
        } catch {
          case _: Exception => null
        }
      }.filter(_ != null)
    }
  }

  // ------------------------------------------------------------ expression

  /** Column-API partition key for a known-schema envelope DataFrame with
    * `before`/`after` map columns, `op`, and literal or column db/table:
    * `concat(db, ".", table, ".", pk1, ".", pk2…)` with the op=="d" →
    * `before` dispatch; `db.table.no_pk` when no PK configured.
    * Fully codegen'd — no UDF.
    */
  def partitionKeyExpr(
      db: Column, table: Column, op: Column,
      before: Column, after: Column,
      pkColumns: Seq[String]): Column =
    if (pkColumns.isEmpty) concat(db, lit("."), table, lit(".no_pk"))
    else {
      val image = when(op === "d", before).otherwise(after)
      val pkVals = pkColumns.map(c => image.getItem(c))
      concat_ws(".", (Seq(db, table) ++ pkVals): _*)
    }

  /** Column-API truncation of one map-typed row image: rewrites `col` to
    * `substring(0, max)` when its length >= max (null/empty-safe). A
    * column absent from the image is left untouched — no spurious
    * col→null entry — matching the reference's in-place mutation
    * (MySQLCDC2AWSMSK.scala:133: absent keys are never written). Returns
    * the new map. Used by the analytics path; the JSON-faithful path is
    * [[enrichMySql]].
    */
  def truncateExpr(image: Column, col: String, max: Int): Column = {
    val v = image.getItem(col)
    val truncated = when(
      v.isNotNull && length(v) >= max, v.substr(lit(1), lit(max))
    ).otherwise(v)
    when(map_contains_key(image, lit(col)),
      map_concat(
        map_filter(image, (k, _) => k =!= col),
        map(lit(col), truncated)))
      .otherwise(image)
  }
}
