package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Partial top-k aggregate (SURVEY.md §2.H3).
  *
  * Replaces rank-then-filter for top-k-per-group: each partition
  * reduces its rows into a bounded k-item buffer (map-side partial
  * aggregation), so only n_groups × k scored ids ever cross the
  * shuffle — against a window that sorts and shuffles the entire
  * corpus. That asymmetry is the whole game at 100 TB: top-10 of a
  * billion candidates shuffles 10 rows per group, not 10⁹.
  *
  * Ordering is total (score desc, id/key asc) so results are
  * deterministic under any partitioning.
  */
object TopK {

  case class ScoredId(score: Double, id: Long)

  /** String-keyed twin of [[ScoredId]] for keys that aren't numeric
    * ids (event types, terms).
    */
  case class ScoredKey(score: Double, key: String)

  /** One bounded-top-k implementation for both element types; the
    * buffer stays sorted best-first and capped at k.
    */
  class BoundedTopK[T](k: Int, ord: Ordering[T],
      bufEnc: Encoder[List[T]], outEnc: Encoder[Seq[T]])
      extends Aggregator[T, List[T], Seq[T]] {

    require(k > 0, s"top-k needs k > 0, got $k")

    override def zero: List[T] = Nil

    private def insert(buf: List[T], x: T): List[T] = {
      if (buf.lengthCompare(k) >= 0 && ord.gteq(x, buf.last)) buf
      else {
        val (better, worse) = buf.span(b => ord.lt(b, x))
        (better ::: (x :: worse)).take(k)
      }
    }

    override def reduce(b: List[T], a: T): List[T] = insert(b, a)
    override def merge(b1: List[T], b2: List[T]): List[T] =
      b2.foldLeft(b1)(insert)
    override def finish(b: List[T]): Seq[T] = b

    override def bufferEncoder: Encoder[List[T]] = bufEnc
    override def outputEncoder: Encoder[Seq[T]] = outEnc
  }

  /** [[topk]]'s total order: score desc, id asc. */
  val bestFirst: Ordering[ScoredId] =
    Ordering.by((s: ScoredId) => (-s.score, s.id))

  /** Column form: `topk(k)(scoreCol, idCol)` → array<struct<score,id>>
    * ordered best-first.
    */
  def topk(k: Int)(score: Column, id: Column): Column =
    udaf(new BoundedTopK[ScoredId](k, bestFirst,
        ExpressionEncoder[List[ScoredId]](),
        ExpressionEncoder[Seq[ScoredId]]()),
      ExpressionEncoder[ScoredId]())
      .apply(score, id)

  /** [[topk]] keyed by string — total order (score desc, key asc). */
  def topkBy(k: Int)(score: Column, key: Column): Column =
    udaf(new BoundedTopK[ScoredKey](k,
        Ordering.by((s: ScoredKey) => (-s.score, s.key)),
        ExpressionEncoder[List[ScoredKey]](),
        ExpressionEncoder[Seq[ScoredKey]]()),
      ExpressionEncoder[ScoredKey]())
      .apply(score, key)
}
