package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared math for the k-minimum-values distinct sketch — used by the
  * oracle-checked batch queries (`rel_kmv_distinct`, `rel_kmv_groups`)
  * and the durable per-group sketch
  * ([[graft.streaming.StreamingGroupedKmv]]), so the standing estimate
  * is BIT-EQUAL to the batch one on the same ids.
  *
  * Hash: universal family h(x) = (A·x + B) mod P with P = 2^61-1,
  * evaluated in decimal(38,0) so the 122-bit product is exact — the
  * same arithmetic DuckDB runs in HUGEINT, which is what makes the
  * sketch oracle-checkable (no engine-portable xxhash exists: Spark
  * Long multiplication wraps, DuckDB BIGINT multiplication raises).
  * Estimator: D-hat = (k-1) · P / h_(k) — classic unbiased KMV,
  * computed as a Column expression by each caller.
  */
object Kmv {
  /** 2^61 - 1, Mersenne prime. */
  val P: Long = 2305843009213693951L
  /** Random odd multiplier < P (shared with the oracle SQL). */
  val A: Long = 999999999999999989L
  /** The additive term of `rel_kmv_groups` and its durable twin
    * ([[graft.streaming.StreamingGroupedKmv]]); the oracle SQL spells
    * it out.
    */
  val GroupsSeed: Long = 987654321L

  /** The portable hash as a Column over a non-negative integral id. */
  def hashCol(c: Column, b: Long): Column =
    pmod(c.cast("decimal(38,0)") * lit(A) + lit(b),
      lit(P).cast("decimal(38,0)")).cast("long")
}
