package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd cosine similarity over two `array<double>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,(x,y)->x*y), 0d, (s,v)->s+v)`) allocates
  * a zipped array and makes two closure calls per element in the
  * interpreted expression path; this expression is one static call
  * over the raw ArrayData buffers inside whole-stage codegen. Same
  * left-to-right accumulation order, so results are bit-identical to
  * the HOF form (and to the DuckDB oracle formula).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.CosineSim.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** dot(a,b) / (|a| |b|), simple left-to-right loops. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def apply(a: Column, b: Column): Column =
    graftshim.column(CosineSim(graftshim.expression(a), graftshim.expression(b)))
}

/** Codegen'd PQ encoder: nearest codebook entry (1-based, first-min
  * tie-break) per subspace for an `array<double>` vector against an
  * `array<array<array<double>>>` codebook (m × codes × sub). The HOF
  * formulation materializes an m×codes distance matrix through
  * interpreted lambdas per row; this is one static call with tight
  * loops over the raw buffers — same left-to-right accumulation and
  * the same first-minimum argmin, so codes are bit-identical to the
  * HOF form and to the DuckDB oracle's list_position(list_min) replay.
  */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
        ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<array<array<double>>>), got $other")
    }

  override def nullSafeEval(v: Any, cb: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, cb) => s"graft.functions.PqEncode.compute($v, $cb)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {
  def compute(v: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    val out = new Array[Int](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val entries = cb.getArray(mi)
      val codes = entries.numElements()
      var bestJ = 0
      var best = Double.MaxValue
      var j = 0
      while (j < codes) {
        val e = entries.getArray(j)
        val sub = e.numElements()
        var d = 0d
        var dd = 0
        while (dd < sub) {
          val diff = v.getDouble(off + dd) - e.getDouble(dd)
          d += diff * diff
          dd += 1
        }
        // strict < keeps the FIRST minimal entry, matching
        // array_position(ds, array_min(ds))
        if (d < best) { best = d; bestJ = j }
        j += 1
      }
      out(mi) = bestJ + 1 // 1-based, like array_position
      off += entries.getArray(0).numElements()
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(v: Column, cb: Column): Column =
    graftshim.column(PqEncode(graftshim.expression(v), graftshim.expression(cb)))
}

/** Codegen'd ADC (asymmetric-distance) sum: given a query's m×codes
  * LUT (`array<array<double>>`) and a candidate's m codes (1-based
  * `array<int>`), returns Σ_mi lut[mi][code[mi]] with the same
  * left-to-right order as the HOF/list_reduce formulation. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _),
        ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<double>>, array<int>), got $other")
    }

  override def nullSafeEval(lut: Any, code: Any): Any =
    PqAdc.compute(lut.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (lut, code) => s"graft.functions.PqAdc.compute($lut, $code)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def compute(lut: ArrayData, code: ArrayData): Double = {
    val m = math.min(lut.numElements(), code.numElements())
    var s = 0d
    var mi = 0
    while (mi < m) {
      s += lut.getArray(mi).getDouble(code.getInt(mi) - 1)
      mi += 1
    }
    s
  }

  def apply(lut: Column, code: Column): Column =
    graftshim.column(PqAdc(graftshim.expression(lut), graftshim.expression(code)))
}

/** Codegen'd integer dot product over two `array<bigint>` columns —
  * the perceptron margin kernel. The HOF formulation
  * (`aggregate(zip_with(w,x,(a,b)->a*b), 0L, (acc,v)->acc+v)`)
  * allocates a zipped array and makes two interpreted closure calls
  * per element, per document, per training round; this is one static
  * call with a tight loop over the raw buffers. Same left-to-right
  * accumulation, exact Long arithmetic — bit-identical to the HOF
  * form and to the ANSI-SQL oracle replay.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_long_dot"

  // a length mismatch yields NULL, exactly like the HOF it replaces
  // (zip_with pads the shorter side with null and the fold
  // null-poisons) — never a silently truncated sum
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
        ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> arguments, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else LongDot.compute(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if ($a.numElements() != $b.numElements()) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = graft.functions.LongDot.compute($a, $b);
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

object LongDot {
  /** Exact Long dot product; caller guarantees equal lengths (the
    * expression returns NULL on mismatch before reaching here). */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  def apply(a: Column, b: Column): Column =
    graftshim.column(LongDot(graftshim.expression(a), graftshim.expression(b)))
}

/** Codegen'd float→double vector widening. `transform(v, x ->
  * CAST(x AS DOUBLE))` is an interpreted lambda per element per row —
  * the cast every similarity operator pays on every corpus vector
  * before any scoring. One static call builds the double array in a
  * tight loop. Accepts array<float> or array<double> (double passes
  * through element-by-element, same values). Null elements stay null.
  */
case class VecAsDouble(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType ==
      org.apache.spark.sql.types.FloatType

  override def dataType: DataType = ArrayType(DoubleType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_vec_as_double"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) |
         ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    VecAsDouble.compute(input.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecAsDouble.compute($c, $elemIsFloat)")

  override protected def withNewChildInternal(newChild: Expression): VecAsDouble =
    copy(child = newChild)
}

object VecAsDouble {
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        out(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(v: Column): Column =
    graftshim.column(VecAsDouble(graftshim.expression(v)))
}

/** Codegen'd L2 normalization of an `array<double>` vector. The HOF
  * spelling (`transform(v, x -> x / sqrt(aggregate(zip_with(v,v,*),
  * 0d, +)))`) re-evaluates the interpreted sum-of-squares lambda pair
  * PER ELEMENT; this computes the norm once (same left-to-right
  * accumulation — identical IEEE result) and divides in one loop.
  */
case class L2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // containsNull follows the input: a null element null-poisons the
  // HOF's sum-of-squares fold, making EVERY output element null — the
  // compute below replicates that instead of silently reading 0.0
  // (matched, not cast: a non-array child must reach
  // checkInputDataTypes' message, not a ClassCastException)
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(DoubleType, containsNull)
    case _ => ArrayType(DoubleType)
  }
  override def prettyName: String = "graft_l2_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    L2Normalize.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.L2Normalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

object L2Normalize {
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0d
    var i = 0
    while (i < n) {
      // HOF semantics: any null element null-poisons the norm fold,
      // so every output element of the transform becomes null
      if (a.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](n))
      val x = a.getDouble(i); ss += x * x; i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) / norm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def apply(v: Column): Column =
    graftshim.column(L2Normalize(graftshim.expression(v)))
}

/** Codegen'd random-hyperplane LSH bucket id over an `array<double>`
  * vector: `numBits` sign bits of LCG-derived plane dot products. The
  * HOF spelling ran numBits × dims interpreted multiply-adds per row
  * (an aggregate(zip_with(...)) per bit). Same plane components
  * ((A·(j·dims+d+1)+B) mod p)/p − 0.5, same left-to-right fold per
  * bit, same `>= 0` sign rule — bucket ids are bit-identical to the
  * HOF form and the DuckDB oracle replay.
  */
case class HyperplaneBucket(child: Expression, numBits: Int, dims: Int,
    planeA: Long, planeB: Long, planeP: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_hyperplane_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneBucket.compute(input.asInstanceOf[ArrayData],
      numBits, dims, planeA, planeB, planeP)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "graft.functions.HyperplaneBucket.compute(" +
      s"$c, $numBits, $dims, ${planeA}L, ${planeB}L, ${planeP}L)")

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBucket = copy(child = newChild)
}

object HyperplaneBucket {
  def compute(v: ArrayData, numBits: Int, dims: Int,
      pA: Long, pB: Long, pP: Long): Long = {
    // HOF semantics: zip_with pads the shorter side with null, a null
    // poisons the whole fold, and `CASE WHEN null THEN … ELSE 0`
    // contributes 0 for every bit — so any length mismatch is bucket 0
    if (v.numElements() != dims) return 0L
    var bucket = 0L
    var j = 0
    while (j < numBits) {
      var s = 0d
      var d = 0
      val base = j * dims
      while (d < dims) {
        val plane = ((pA * (base + d + 1) + pB) % pP).toDouble / pP - 0.5
        s += v.getDouble(d) * plane
        d += 1
      }
      if (s >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  def apply(v: Column, numBits: Int, dims: Int,
      planeA: Long, planeB: Long, planeP: Long): Column =
    graftshim.column(HyperplaneBucket(graftshim.expression(v),
      numBits, dims, planeA, planeB, planeP))
}

/** Codegen'd elementwise difference of two `array<double>` columns —
  * the mean-centering kernel. Exactly `zip_with(a, b, (x, y) ->
  * x - y)`: output length is max(|a|, |b|), positions past the
  * shorter side (and positions where either element is null) are
  * null.
  */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_vec_sub"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VecSub.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecSub.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSub =
    copy(left = newLeft, right = newRight)
}

object VecSub {
  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = a.getDouble(i) - b.getDouble(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(a: Column, b: Column): Column =
    graftshim.column(VecSub(graftshim.expression(a), graftshim.expression(b)))
}

/** Codegen'd dot product of two `array<double>` columns — exactly
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) ->
  * acc + v)`: same left-to-right accumulation (bit-identical
  * doubles), NULL on length mismatch or any null element (zip_with
  * pads with null and the fold null-poisons).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_dot"

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object r = graft.functions.VecDot.compute($a, $b);
      |if (r == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ((Double) r).doubleValue();
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Boxed result: null ⇔ the HOF spelling null-poisons. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  def apply(a: Column, b: Column): Column =
    graftshim.column(VecDot(graftshim.expression(a), graftshim.expression(b)))
}

/** Codegen'd elementwise scalar division of an `array<double>` by a
  * double — `transform(v, x -> x / s)` with null elements staying
  * null. Divergence from the HOF, documented rather than overclaimed:
  * a NULL divisor makes this expression NULL, where the HOF yields an
  * array of all-null elements — every caller guards the divisor with
  * `when(s > 0, …)`, which never lets a null reach either spelling.
  */
case class VecDivide(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_vec_divide"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double) arguments, got $other")
    }

  override def nullSafeEval(a: Any, s: Any): Any =
    VecDivide.compute(a.asInstanceOf[ArrayData],
      s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, s) => s"graft.functions.VecDivide.compute($a, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDivide =
    copy(left = newLeft, right = newRight)
}

object VecDivide {
  def compute(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = a.getDouble(i) / s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def apply(v: Column, s: Column): Column =
    graftshim.column(VecDivide(graftshim.expression(v), graftshim.expression(s)))
}

/** Codegen'd dense bag-of-words materialization: a (bucket → count)
  * map becomes the dense `array<bigint>` of length `buckets + 1` with
  * the trailing bias slot fixed at 1 — exactly
  * `concat(transform(sequence(0, buckets-1), bb ->
  * coalesce(element_at(m, bb), 0)), array(1))`, which ran `buckets`
  * interpreted map probes per document. One loop over the map's
  * entries scatters counts into a zeroed array instead.
  */
case class DenseCounts(child: Expression, buckets: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(buckets >= 1, s"buckets $buckets must be >= 1")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_dense_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires map<bigint,bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    DenseCounts.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DenseCounts.compute($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): DenseCounts =
    copy(child = newChild)
}

object DenseCounts {
  def compute(m: org.apache.spark.sql.catalyst.util.MapData,
      buckets: Int): ArrayData = {
    val out = new Array[Long](buckets + 1)
    out(buckets) = 1L // bias slot
    val ks = m.keyArray(); val vs = m.valueArray()
    val n = m.numElements()
    var i = 0
    while (i < n) {
      val k = ks.getLong(i)
      if (k >= 0 && k < buckets) out(k.toInt) = vs.getLong(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def apply(m: Column, buckets: Int): Column =
    graftshim.column(DenseCounts(graftshim.expression(m), buckets))
}
