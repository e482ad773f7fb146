package graft.sim

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed top-k aggregator — the `Aggregator[IN, BUF, OUT]` form of top-k
  * per group (SURVEY §7 phase 6). Keeps a bounded buffer of the k best
  * (score, id) pairs per group, so the shuffle carries at most k entries
  * per group per partition instead of every candidate row — the
  * map-side-combine property that makes grouped top-k scale: a Window +
  * row_number formulation shuffles ALL rows to sort them; this shuffles
  * only k per partition.
  *
  * Ordering matches the Window formulation exactly: score DESC, id ASC on
  * ties — so results are interchangeable with `row_number`-based top-k
  * (asserted against the same DuckDB oracle).
  *
  * NaN scores are ORDER-INCOMPARABLE under the strict `better` relation
  * and therefore rank worst here (they never displace a comparable
  * entry), whereas a Window sort would rank NaN largest — producers must
  * keep NaN out of the score column for window parity (the cosine paths
  * guard zero-norm vectors upstream; see Similarity's `n2 > 0` filters).
  */
object TopKAggregator {

  final case class Scored(id: Long, score: Double)

  /** Buffer is a sorted (desc) vector of at most k entries. */
  final case class TopK(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

    private def better(a: Scored, b: Scored): Boolean =
      a.score > b.score || (a.score == b.score && a.id < b.id)

    private def insert(buf: Seq[Scored], s: Scored): Seq[Scored] = {
      if (buf.size >= k && better(buf.last, s)) buf
      else {
        val i = buf.indexWhere(e => better(s, e)) match {
          case -1 => buf.size
          case x => x
        }
        // insert THEN truncate: an entry order-incomparable with the
        // current tail (NaN score, or an exact (id, score) duplicate)
        // falls through the fast path above with i = buf.size — the old
        // `buf.drop(i).take(k - i - 1)` arithmetic then appended past k
        // and the buffer grew without bound across reduce/merge. The
        // take(k) form is bounded for every input; incomparable entries
        // rank worst (they enter only while the buffer has room).
        ((buf.take(i) :+ s) ++ buf.drop(i)).take(k)
      }
    }

    override def zero: Seq[Scored] = Vector.empty
    override def reduce(buf: Seq[Scored], s: Scored): Seq[Scored] =
      insert(buf, s)
    override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
      b.foldLeft(a)(insert)
    override def finish(buf: Seq[Scored]): Seq[Scored] = buf
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
