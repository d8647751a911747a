package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** Scored item for [[TopKAggregator]] — (score desc, id asc) ordering. */
case class Scored(score: Double, id: Long)

/** Typed bounded top-k aggregate (the `Aggregator` surface from SURVEY
  * §7.4): keeps only the k best (score desc, id asc) items in its
  * buffer, so per-group state is O(k) regardless of group size — the
  * mergeable-sketch shape that per-group top-k needs when a window
  * (sort the whole group) is too heavy. reduce/merge are commutative
  * and associative and the ordering is total, so results are
  * deterministic under any partitioning. */
class TopKAggregator(k: Int)
    extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

  private def best(xs: Seq[Scored]): Seq[Scored] =
    xs.sortBy(s => (-s.score, s.id)).take(k)

  private def beats(a: Scored, w: Scored): Boolean =
    a.score > w.score || (a.score == w.score && a.id < w.id)

  override def zero: Seq[Scored] = Seq.empty
  // the buffer is always sorted (zero/best are its only producers), so
  // a warm buffer rejects a non-qualifying row with ONE comparison
  // against its worst element — the KmvAggregator/BottomKSampleAggregator
  // fast-path discipline; without it every row of a million-row group
  // paid an O(k log k) re-sort + allocation
  override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
    if (b.length == k && !beats(a, b.last)) b else best(b :+ a)
  override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] = best(b1 ++ b2)
  override def finish(r: Seq[Scored]): Seq[Scored] = r
  override def bufferEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}
