package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k as a typed `Aggregator` — the scale path for per-group
  * top-k (kNN per probe, top documents per bucket, …).
  *
  * The window-function formulation (`row_number over (partition by g
  * order by score)` then `filter rank <= k`) SORTS every group in full:
  * at 100 TB that is a total sort of n·log(n) per group plus full
  * shuffle of all candidates. This aggregator keeps a k-bounded buffer,
  * so the partial (map-side) aggregation reduces each partition to at
  * most k candidates per group BEFORE the shuffle — shuffle volume drops
  * from O(n) to O(k · groups), and nothing is ever fully sorted.
  *
  * Returned list is sorted score-desc with id-asc tiebreak
  * (deterministic).
  */
case class ScoredId(id: Long, score: Double)

class TopKAggregator(k: Int)
    extends Aggregator[ScoredId, List[ScoredId], Seq[ScoredId]] {

  private val ord: Ordering[ScoredId] =
    Ordering.by((s: ScoredId) => (-s.score, s.id))

  override def zero: List[ScoredId] = Nil

  private def bound(xs: List[ScoredId]): List[ScoredId] =
    xs.sorted(ord).take(k)

  override def reduce(buf: List[ScoredId], a: ScoredId): List[ScoredId] =
    bound(a :: buf)

  override def merge(b1: List[ScoredId], b2: List[ScoredId]): List[ScoredId] =
    bound(b1 ::: b2)

  override def finish(r: List[ScoredId]): Seq[ScoredId] = r.sorted(ord)

  override def bufferEncoder: Encoder[List[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[ScoredId]]()

  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
}
