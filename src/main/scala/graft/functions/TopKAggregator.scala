package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k as a typed Aggregator (SURVEY.md §2.9: the per-group top-k
  * heap alternative to window `row_number`).
  *
  * Scale trade-off vs the window form (Ops.topKPerGroup): the window sorts
  * every group member after the shuffle; this aggregator keeps a k-bounded
  * buffer that combines PARTIALLY (map-side), so only k rows per group per
  * partition cross the wire — the right shape when groups are huge and k is
  * small (hot-topics at 100 TB: billions of clicks, k=10). For small groups
  * the window wins on constant factors; both are exposed.
  *
  * Determinism: order (score desc, id asc) — identical to the window
  * contract, so results are interchangeable under the oracle.
  */
object TopKAggregator {

  case class ScoredId(score: Double, id: Long)

  class TopK(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[Long]] {
    private def cut(b: Seq[ScoredId]): Seq[ScoredId] =
      b.sortBy(s => (-s.score, s.id)).take(k)
    override def zero: Seq[ScoredId] = Nil
    override def reduce(b: Seq[ScoredId], a: ScoredId): Seq[ScoredId] =
      if (b.size < k) cut(b :+ a)
      else {
        val worst = b.last // b is kept sorted by cut()
        if (a.score > worst.score || (a.score == worst.score && a.id < worst.id))
          cut(b :+ a)
        else b
      }
    override def merge(x: Seq[ScoredId], y: Seq[ScoredId]): Seq[ScoredId] = cut(x ++ y)
    override def finish(b: Seq[ScoredId]): Seq[Long] = b.map(_.id)
    override def bufferEncoder: Encoder[Seq[ScoredId]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Untyped Column form: `topK(k)(struct(score, id))` inside a groupBy.agg. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopK(k), Encoders.product[ScoredId])
    (score, id) => fn(score, id)
  }

  case class KeyedId(key: String, id: Long)

  /** Bounded MIN-k by a STRING sort key, (key asc, id asc) — the
    * partial-combining twin of a `row_number().over(orderBy(key, id))
    * <= k` window for hash-ordered deterministic sampling (q152's md5
    * draw). Same scale rationale as [[TopK]]: only k rows per group per
    * partition cross the shuffle instead of the whole candidate space;
    * ordering is identical to the window contract, so results are
    * interchangeable under the oracle. finish() keeps ids in rank order
    * (posexplode position = rank − 1).
    */
  class MinKByKey(k: Int) extends Aggregator[KeyedId, Seq[KeyedId], Seq[Long]] {
    private def cut(b: Seq[KeyedId]): Seq[KeyedId] =
      b.sortBy(s => (s.key, s.id)).take(k)
    override def zero: Seq[KeyedId] = Nil
    override def reduce(b: Seq[KeyedId], a: KeyedId): Seq[KeyedId] =
      if (b.size < k) cut(b :+ a)
      else {
        val worst = b.last // b is kept sorted by cut()
        if (a.key < worst.key || (a.key == worst.key && a.id < worst.id))
          cut(b :+ a)
        else b
      }
    override def merge(x: Seq[KeyedId], y: Seq[KeyedId]): Seq[KeyedId] = cut(x ++ y)
    override def finish(b: Seq[KeyedId]): Seq[Long] = b.map(_.id)
    override def bufferEncoder: Encoder[Seq[KeyedId]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[KeyedId]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  def minKByKey(k: Int): (Column, Column) => Column = {
    val fn = udaf(new MinKByKey(k), Encoders.product[KeyedId])
    (key, id) => fn(key, id)
  }
}
