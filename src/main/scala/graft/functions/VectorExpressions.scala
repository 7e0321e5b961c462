package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst kernels for embedding math.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) are interpreted —
  * a cosine via HOFs costs ~4 boxed lambda evaluations per element per
  * pair, which dominates ANN scoring (measured: the IVF assignment's
  * 675k-pair × 64-dim scoring spent seconds in `ArrayTransform.eval`).
  * These expressions generate a tight primitive loop inside whole-stage
  * codegen (with an equally tight interpreted fallback), reading float or
  * double arrays directly. The cosine and fixed-point kernels are one
  * scalar function each ([[cosine]], [[subL2SqFp6]]) that the generated
  * code, the interpreted path and driver-side scoring all call, so the
  * three cannot drift apart by a rounding step.
  *
  * Accumulation order is sequential left-to-right, matching both the HOF
  * formulation and DuckDB's `list_cosine_similarity` on DOUBLE[] — results
  * are bit-identical to the oracle's within one rounding step.
  */
object VectorExpressions {

  private def elemGetter(et: DataType, arr: String, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case _ => throw new IllegalArgumentException(s"unsupported element type $et")
  }

  private def elemAt(et: DataType, arr: ArrayData, i: Int): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _ => throw new IllegalArgumentException(s"unsupported element type $et")
  }

  private def isFloat(et: DataType): Boolean = et == FloatType

  @inline private def at(arr: ArrayData, float: Boolean, i: Int): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** cosine(x, y) = dot / (sqrt(Σx²)·sqrt(Σy²)) over min(len) elements,
    * fused into one pass; `xFloat`/`yFloat` say whether each array holds
    * floats or doubles. The one implementation behind `vec_cosine`'s eval
    * and generated code and every caller that scores outside a plan. */
  def cosine(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = at(x, xFloat, i); val yv = at(y, yFloat, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ over i ∈ [start, start+len) of (floor(x_i·10⁶) − floor(y_i·10⁶))²,
    * clamped to both arrays: the one implementation behind
    * `vec_subl2sq_fp6` ([[SubvectorL2SqFp6]]) and every caller that
    * scores outside a plan. */
  def subL2SqFp6(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean,
      start: Int, len: Int): Long = {
    val end = math.min(start + len, math.min(x.numElements(), y.numElements()))
    var acc = 0L
    var i = math.max(start, 0)
    while (i < end) {
      val d = math.floor(at(x, xFloat, i) * 1e6).toLong - math.floor(at(y, yFloat, i) * 1e6).toLong
      acc += d * d
      i += 1
    }
    acc
  }

  abstract class VectorBinary extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if Seq(l, r).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
    protected def leftElem: DataType =
      left.dataType.asInstanceOf[ArrayType].elementType
    protected def rightElem: DataType =
      right.dataType.asInstanceOf[ArrayType].elementType
  }

  /** dot(a, b): Σ a_i·b_i over min(len) elements. */
  case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += elemAt(leftElem, x, i) * elemAt(rightElem, y, i); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ${elemGetter(leftElem, a, i)} * ${elemGetter(rightElem, b, i)};
           |}
           |${ev.value} = $acc;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cosine(a, b) = dot / (sqrt(Σa²)·sqrt(Σb²)), fused single pass. */
  case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinary {
    override def prettyName: String = "vec_cosine"

    override def nullSafeEval(a: Any, b: Any): Any =
      cosine(a.asInstanceOf[ArrayData], isFloat(leftElem),
        b.asInstanceOf[ArrayData], isFloat(rightElem))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorExpressions.cosine(" +
          s"$a, ${isFloat(leftElem)}, $b, ${isFloat(rightElem)});")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Multi-table random-hyperplane LSH buckets, fused: `planes` is ONE
    * foldable 2-D literal (array<array<double>>, nTables·planesPerTable
    * rows) and the whole signature — every dot product, every sign bit,
    * every table's bucket — is computed in a single tight loop per input
    * vector. Output: array<long> of nPlanes/planesPerTable bucket values.
    *
    * Replaces building nTables·planesPerTable separate `vec_dot(vec,
    * array(lit...))` expressions: at 20×10×64 dims that was ~200 inline
    * literal arrays — a plan tree large enough that Spark truncated its
    * string form, and planning/codegen dominated the query cost. One
    * literal + one kernel keeps the plan O(1) in the table count. */
  case class HyperplaneBuckets(left: Expression, right: Expression, planesPerTable: Int)
      extends BinaryExpression {
    override def prettyName: String = "vec_lsh_buckets"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(ArrayType(DoubleType, _), _))
          if (l == FloatType || l == DoubleType) && planesPerTable > 0 && planesPerTable <= 64 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, array<array<double>>) and " +
          s"0 < planesPerTable <= 64, got ${left.dataType.simpleString}, " +
          s"${right.dataType.simpleString}, $planesPerTable")
    }

    private def leftElem: DataType = left.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val vec = a.asInstanceOf[ArrayData]
      val planes = b.asInstanceOf[ArrayData]
      val nPlanes = planes.numElements()
      val buckets = new Array[Long](nPlanes / planesPerTable)
      var p = 0
      while (p < buckets.length * planesPerTable) {
        val row = planes.getArray(p)
        val n = math.min(vec.numElements(), row.numElements())
        var d = 0.0
        var i = 0
        while (i < n) { d += row.getDouble(i) * elemAt(leftElem, vec, i); i += 1 }
        if (d > 0) buckets(p / planesPerTable) |= 1L << (p % planesPerTable)
        p += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val nP = ctx.freshName("nPlanes"); val bk = ctx.freshName("buckets")
        val p = ctx.freshName("p"); val row = ctx.freshName("row")
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val d = ctx.freshName("d")
        val r = planesPerTable
        s"""
           |int $nP = $b.numElements();
           |long[] $bk = new long[$nP / $r];
           |for (int $p = 0; $p < ($nP / $r) * $r; $p++) {
           |  org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($p);
           |  int $n = java.lang.Math.min($a.numElements(), $row.numElements());
           |  double $d = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $d += $row.getDouble($i) * ${elemGetter(leftElem, a, i)};
           |  }
           |  if ($d > 0.0) $bk[$p / $r] |= 1L << ($p % $r);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bk);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Fixed-point subvector squared-L2: Σ over i ∈ [start, start+len) of
    * (floor(a_i·10⁶) − floor(b_i·10⁶))², as a LONG.
    *
    * The PQ encode/ADC primitive: both product-quantization steps compare
    * the same subrange of two full vectors, so the kernel takes the parent
    * arrays plus a start column — no per-subspace `slice()` copies, one
    * tight loop in whole-stage codegen. Flooring into integer space BEFORE
    * the arithmetic makes distances exact, associative, and bit-identical
    * in any engine (a double accumulation's low bits depend on order).
    * Elements past either array's end contribute nothing (clamped). */
  case class SubvectorL2SqFp6(
      first: Expression, second: Expression, third: Expression, len: Int)
      extends TernaryExpression {
    override def prettyName: String = "vec_subl2sq_fp6"
    override def dataType: DataType = LongType

    override def checkInputDataTypes(): TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (ArrayType(l, _), ArrayType(r, _),
            ByteType | ShortType | IntegerType | LongType)
            if Seq(l, r).forall(t => t == FloatType || t == DoubleType) && len > 0 =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float|double>, array<float|double>, " +
            s"integral start) and len > 0, got ${first.dataType.simpleString}, " +
            s"${second.dataType.simpleString}, ${third.dataType.simpleString}, $len")
      }

    private def aElem: DataType = first.dataType.asInstanceOf[ArrayType].elementType
    private def bElem: DataType = second.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any, s: Any): Any =
      subL2SqFp6(a.asInstanceOf[ArrayData], isFloat(aElem),
        b.asInstanceOf[ArrayData], isFloat(bElem), s.asInstanceOf[Number].intValue(), len)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, s) =>
        s"${ev.value} = graft.functions.VectorExpressions.subL2SqFp6(" +
          s"$a, ${isFloat(aElem)}, $b, ${isFloat(bElem)}, (int) $s, $len);")

    override protected def withNewChildrenInternal(
        f: Expression, sec: Expression, t: Expression): Expression =
      copy(first = f, second = sec, third = t)
  }

  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def vec_cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
  def vec_lsh_buckets(vec: Column, planes: Column, planesPerTable: Int): Column =
    Bridge.column(HyperplaneBuckets(
      Bridge.expression(vec), Bridge.expression(planes), planesPerTable))
  def vec_subl2sq_fp6(a: Column, b: Column, start: Column, len: Int): Column =
    Bridge.column(SubvectorL2SqFp6(
      Bridge.expression(a), Bridge.expression(b), Bridge.expression(start), len))
}
