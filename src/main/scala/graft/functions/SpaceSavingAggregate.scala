package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._

/** Space-saving summary buffer: id → (count, err) with at most
  * `capacity` counters, kept in a primitive-keyed LongMap with a
  * 2-slot long array per counter (count mutates in place — zero
  * allocation per repeat id). Eviction, merge floors, overflow trim
  * and (count desc, id asc) ranking replicate
  * the typed-Aggregator reference (`TopKReference.SpaceSavingAgg` in
  * the test sources) exactly — the spec pins
  * the two byte-equal on random streams and merge splits.
  */
final class SpaceSavingBuffer(val k: Int, val capacity: Int) {
  val m = new scala.collection.mutable.LongMap[Array[Long]](
    math.min(capacity, 64))

  def add(id: Long): Unit = {
    val v = m.getOrNull(id)
    if (v != null) v(0) += 1
    else if (m.size < capacity) m.update(id, Array(1L, 0L))
    else {
      // evict the minimum (count, id) counter; the newcomer inherits
      // its count as the error bound (Metwally et al. 2005)
      var vid = 0L
      var vc = Long.MaxValue
      m.foreachEntry { (i, cv) =>
        val c = cv(0)
        if (c < vc || (c == vc && i < vid)) { vid = i; vc = c }
      }
      m.subtractOne(vid)
      m.update(id, Array(vc + 1, vc))
    }
  }

  /** Minimum counter when full, 0 below capacity — the bound on how
    * often an absent id may have occurred (see SpaceSavingAgg.merge). */
  private def floor: Long =
    if (m.size < capacity) 0L
    else {
      var f = Long.MaxValue
      m.foreachEntry { (_, cv) => if (cv(0) < f) f = cv(0) }
      f
    }

  def mergeFrom(o: SpaceSavingBuffer): Unit = {
    val fa = floor
    val fb = o.floor
    // ids only in `o` inherit this side's floor; shared ids add
    val oOnly = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
    o.m.foreachEntry { (id, cv) =>
      val v = m.getOrNull(id)
      if (v != null) { v(0) += cv(0); v(1) += cv(1) }
      else oOnly += ((id, cv))
    }
    // ids only in this side inherit `o`'s floor
    if (fb != 0L) m.foreachEntry { (id, v) =>
      if (!o.m.contains(id)) { v(0) += fb; v(1) += fb }
    }
    oOnly.foreach { case (id, cv) =>
      m.update(id, Array(cv(0) + fa, cv(1) + fa))
    }
    if (m.size > capacity) {
      val keep = ranked.take(capacity)
      m.clear()
      keep.foreach { case (id, c, e) => m.update(id, Array(c, e)) }
    }
  }

  /** All counters ranked (count desc, id asc). */
  def ranked: Array[(Long, Long, Long)] = {
    val out = new Array[(Long, Long, Long)](m.size)
    var i = 0
    m.foreachEntry { (id, cv) => out(i) = (id, cv(0), cv(1)); i += 1 }
    scala.util.Sorting.stableSort(out,
      (a: (Long, Long, Long), b: (Long, Long, Long)) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    out
  }
}

/** Space-saving heavy hitters as a Catalyst TypedImperativeAggregate.
  *
  * The typed-Aggregator formulation (`udaf(SpaceSavingAgg)`) paid an
  * encoder round-trip per input row (the class the TopKAggregate swap
  * measured at ~3.7µs/row) plus a boxed tuple allocation per
  * increment. This aggregate reads the id primitively from the
  * InternalRow and mutates a long-keyed counter map in place; rows
  * never materialize as objects. Eviction order, merge floors,
  * overflow trim and the (count desc, id asc) ranked
  * `array<struct<id,count,err>>` result are identical to the old
  * aggregator (spec-pinned, including under overflow and random merge
  * splits). Null ids are skipped (no caller produces them). Buffer
  * serialization is bounded: ≤ capacity (id, count, err) triples.
  */
case class SpaceSavingAggregate(
    idExpr: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] {

  require(0 < k && k <= capacity, s"need 0 < k <= capacity, got $k/$capacity")

  override def children: Seq[Expression] = Seq(idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("count", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_space_saving"

  override def checkInputDataTypes(): TypeCheckResult =
    idExpr.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint argument, got $other")
    }

  override def createAggregationBuffer(): SpaceSavingBuffer =
    new SpaceSavingBuffer(k, capacity)

  override def update(b: SpaceSavingBuffer, input: InternalRow): SpaceSavingBuffer = {
    val id = idExpr.eval(input)
    if (id != null) b.add(id.asInstanceOf[Long])
    b
  }

  override def merge(b: SpaceSavingBuffer, o: SpaceSavingBuffer): SpaceSavingBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: SpaceSavingBuffer): Any = {
    val top = b.ranked.take(b.k)
    val out = new Array[Any](top.length)
    var i = 0
    while (i < top.length) {
      val (id, c, e) = top(i)
      out(i) = new GenericInternalRow(Array[Any](id, c, e))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: SpaceSavingBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + 24 * b.m.size)
    bb.putInt(b.k).putInt(b.capacity).putInt(b.m.size)
    b.m.foreachEntry { (id, cv) =>
      bb.putLong(id).putLong(cv(0)).putLong(cv(1))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new SpaceSavingBuffer(bb.getInt(), bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      b.m.update(bb.getLong(), Array(bb.getLong(), bb.getLong()))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingAggregate =
    copy(idExpr = newChildren(0))
}

object SpaceSavingAggregate {
  /** Aggregate column: the k heaviest ids as (id, count, err) structs,
    * ranked (count desc, id asc). */
  def apply(id: Column, k: Int, capacity: Int): Column =
    graftshim.column(SpaceSavingAggregate(
      graftshim.expression(id.cast("long")), k, capacity)
      .toAggregateExpression())
}
