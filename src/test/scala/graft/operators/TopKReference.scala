package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The typed-Aggregator formulations [[TopK.topK]] and
  * [[TopK.spaceSaving]] replaced, kept as the reference
  * implementations their equality specs compare against. */
object TopKReference {

  /** One scored candidate; ties in score break ascending on `id`. */
  case class Scored(id: Long, score: Double)

  /** One space-saving heavy hitter: estimated count plus the maximum
    * overestimation (`count - err` is a guaranteed lower bound on
    * the true count). */
  case class Hit(id: Long, count: Long, err: Long)

  /** `better(x, y)` ⇔ x precedes y in the top-k order. Uses
    * `java.lang.Double.compare` so NaN ordering matches Spark's and
    * DuckDB's sort semantics (NaN sorts as the largest double). */
  private def better(x: Scored, y: Scored): Boolean = {
    val c = java.lang.Double.compare(x.score, y.score)
    c > 0 || (c == 0 && x.id < y.id)
  }

  /** Keeps the k best `Scored` per group. The buffer is an unsorted
    * ArrayBuffer culled back to k whenever it doubles — amortized O(1)
    * per input row, no per-row allocation. */
  class TopKAgg(k: Int)
      extends Aggregator[Scored, ArrayBuffer[Scored], Seq[Scored]] {

    private def cull(b: ArrayBuffer[Scored]): ArrayBuffer[Scored] =
      if (b.length <= k) b
      else {
        val best = b.sortWith(better).take(k)
        b.clear(); b ++= best
      }

    override def zero: ArrayBuffer[Scored] = ArrayBuffer.empty

    override def reduce(b: ArrayBuffer[Scored], x: Scored): ArrayBuffer[Scored] = {
      b += x
      if (b.length >= 2 * k) cull(b) else b
    }

    override def merge(a: ArrayBuffer[Scored],
        b: ArrayBuffer[Scored]): ArrayBuffer[Scored] = cull(a ++= b)

    override def finish(b: ArrayBuffer[Scored]): Seq[Scored] =
      b.sortWith(better).take(k).toSeq

    // The buffer only serializes at the partial→final shuffle boundary
    // (≤k elements), so an opaque binary encoding is fine.
    override def bufferEncoder: Encoder[ArrayBuffer[Scored]] =
      Encoders.kryo[ArrayBuffer[Scored]]
    override def outputEncoder: Encoder[Seq[Scored]] =
      ExpressionEncoder[Seq[Scored]]()
  }

  /** The pre-r17 typed-Aggregator formulation — kept as the
    * spec-side reference implementation for the equality pin. */
  def topKUdaf(k: Int)(id: Column, score: Column): Column =
    udaf(new TopKAgg(k), Encoders.product[Scored])
      .apply(id.cast("long"), score.cast("double"))

  /** Space-saving heavy hitters over a `HashMap` buffer. */
  class SpaceSavingAgg(k: Int, capacity: Int) extends Aggregator[
      Long, scala.collection.mutable.HashMap[Long, (Long, Long)], Seq[Hit]] {
    require(0 < k && k <= capacity, s"need 0 < k <= capacity, got $k/$capacity")

    override def zero: scala.collection.mutable.HashMap[Long, (Long, Long)] =
      scala.collection.mutable.HashMap.empty

    override def reduce(m: scala.collection.mutable.HashMap[Long, (Long, Long)],
        id: Long): scala.collection.mutable.HashMap[Long, (Long, Long)] = {
      m.get(id) match {
        case Some((c, e)) => m(id) = (c + 1, e)
        case None if m.size < capacity => m(id) = (1L, 0L)
        case None =>
          val (vid, (vc, _)) = m.minBy { case (i, (c, _)) => (c, i) }
          m.remove(vid)
          m(id) = (vc + 1, vc)
      }
      m
    }

    override def merge(a: scala.collection.mutable.HashMap[Long, (Long, Long)],
        b: scala.collection.mutable.HashMap[Long, (Long, Long)])
        : scala.collection.mutable.HashMap[Long, (Long, Long)] = {
      // An id absent from a full summary may still have occurred up to
      // that summary's minimum counter times (it could have been
      // evicted at any point below the floor) — one-sided ids inherit
      // the other side's floor as extra count AND extra error, which
      // is what preserves `estimate >= true >= estimate - err` across
      // merges (Agarwal et al. 2012, Mergeable Summaries).
      def floor(m: scala.collection.mutable.HashMap[Long, (Long, Long)]): Long =
        if (m.size < capacity) 0L else m.valuesIterator.map(_._1).min
      val fa = floor(a)
      val fb = floor(b)
      val bOnly = b.filter { case (id, _) => !a.contains(id) }
      a.mapValuesInPlace { case (id, (c, e)) =>
        b.get(id) match {
          case Some((c2, e2)) => (c + c2, e + e2)
          case None => (c + fb, e + fb)
        }
      }
      bOnly.foreach { case (id, (c, e)) => a(id) = (c + fa, e + fa) }
      if (a.size > capacity) {
        val keep = a.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(capacity)
        a.clear(); a ++= keep
      }
      a
    }

    override def finish(m: scala.collection.mutable.HashMap[Long, (Long, Long)])
        : Seq[Hit] =
      m.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(k)
        .map { case (i, (c, e)) => Hit(i, c, e) }

    override def bufferEncoder
        : Encoder[scala.collection.mutable.HashMap[Long, (Long, Long)]] =
      Encoders.kryo[scala.collection.mutable.HashMap[Long, (Long, Long)]]
    override def outputEncoder: Encoder[Seq[Hit]] =
      ExpressionEncoder[Seq[Hit]]()
  }

  /** The pre-r18 typed-Aggregator formulation — kept as the
    * spec-side reference implementation for the equality pin. */
  def spaceSavingUdaf(k: Int, capacity: Int)(id: Column): Column =
    udaf(new SpaceSavingAgg(k, capacity), Encoders.scalaLong)
      .apply(id.cast("long"))
}
