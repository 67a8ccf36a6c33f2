package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDot, ClampedShingleHashes, JavaStringHash,
  MinHashBands, WordGramHashes, WordGramStrings}

/** SQL-surface registration of graft's native expressions.
  *
  * Two paths:
  *   - [[GraftExtensions]] for `spark.sql.extensions=graft.GraftExtensions`
  *     at session build time (spark-submit / cluster deployments)
  *   - [[GraftFunctions.register]] for an already-running session
  *     (notebooks, tests)
  *
  * After either, `SELECT java_string_hash(col)` works in plain SQL and
  * participates in whole-stage codegen like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(e.injectFunction)
}

object GraftFunctions {

  /** SQL callers pass codebook geometry as int literals; anything else
    * is a config error worth failing loudly at analysis time.
    */
  private def intLit(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Every graft SQL function, the one list both registration paths
    * iterate.
    */
  private[graft] val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("java_string_hash"),
      new ExpressionInfo(classOf[JavaStringHash].getName, "java_string_hash"),
      (children: Seq[Expression]) => JavaStringHash(children.head)),
    (FunctionIdentifier("word_gram_hashes"),
      new ExpressionInfo(classOf[WordGramHashes].getName, "word_gram_hashes"),
      (children: Seq[Expression]) =>
        WordGramHashes(children(0), children(1), children(2))),
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (children: Seq[Expression]) => ArrayDot(children(0), children(1))),
    (FunctionIdentifier("clamped_shingle_hashes"),
      new ExpressionInfo(
        classOf[ClampedShingleHashes].getName, "clamped_shingle_hashes"),
      (children: Seq[Expression]) =>
        ClampedShingleHashes(children(0), children(1))),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => MinHashBands(children(0),
        intLit(children(1), "numHashes"), intLit(children(2), "bandSize"))),
    (FunctionIdentifier("word_gram_strings"),
      new ExpressionInfo(classOf[WordGramStrings].getName, "word_gram_strings"),
      (children: Seq[Expression]) =>
        WordGramStrings(children(0), children(1), children(2))))

  /** Register graft functions on a live session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, build) =>
      reg.registerFunction(id, info, build)
    }
  }
}
