package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native integer vector kernels for the quantized similarity tier
  * (`array<bigint> × array<bigint> → bigint`): squared L2 distance and
  * dot product as ONE fused codegen'd loop per row.
  *
  * The declarative twins (`aggregate(zip_with(...))`) are interpreted —
  * HOF lambdas get no codegen and no CSE — which made the per-row kernel
  * the dominant cost of the PQ/int8 rows. Integer sums are associative,
  * so loop order cannot change the value and the DuckDB oracles
  * (list_sum over the same arrays) are unaffected. Null ELEMENTS are not
  * expected (quantized arrays are built null-free); null ARRAYS
  * propagate null like the HOF forms.
  */
abstract class LongVecKernel extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
}

case class LongSqDist(left: Expression, right: Expression) extends LongVecKernel {
  override def prettyName: String = "long_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class LongDot(left: Expression, right: Expression) extends LongVecKernel {
  override def prettyName: String = "long_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Left-to-right double-accumulating dot product over float OR double
  * arrays (`Σ a[i]·b[i]`, each element widened to double first) — the
  * native twin of the HOF `aggregate(zip_with(a, b, x·y), 0.0, +)`. The
  * accumulation ORDER is part of the value contract: the sim-tier DuckDB
  * oracles replay the same left-to-right fold, so this loop must add in
  * index order exactly like the interpreted form it replaces (it does —
  * one `s += ai*bi` per index, ascending).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (elemIsDouble(left), elemIsDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, isDouble: Boolean) =
        if (isDouble) s"$arr.getDouble($i)" else s"((double) $arr.getFloat($i))"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, elemIsDouble(left))} * ${get(b, elemIsDouble(right))};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused MaxSim (late-interaction) kernel: both arrays are read as
  * consecutive sub-vectors of `subDim` elements and the value is
  * Σᵢ maxⱼ ⟨aᵢ, bⱼ⟩ — the ColBERT scoring loop as ONE codegen'd triple
  * loop per row. Integer max-of-sums is order-free, so the DuckDB
  * oracle's nested list_sum/list_max replay is value-identical. The
  * interpreted HOF form allocated a lambda tree per sub-vector pair
  * (measured 8.8 s → sub-second at sf0.1 for the maxsim row).
  */
case class LongMaxSim(left: Expression, right: Expression, subDim: Int)
    extends LongVecKernel {
  override def prettyName: String = "long_maxsim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements() / subDim
    val nb = y.numElements() / subDim
    var total = 0L
    var i = 0
    while (i < na) {
      var best = Long.MinValue
      var j = 0
      while (j < nb) {
        var s = 0L
        var k = 0
        while (k < subDim) {
          s += x.getLong(i * subDim + k) * y.getLong(j * subDim + k)
          k += 1
        }
        if (s > best) best = s
        j += 1
      }
      if (best != Long.MinValue) total += best
      i += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val total = ctx.freshName("total")
      s"""
         |final int $na = $a.numElements() / $subDim;
         |final int $nb = $b.numElements() / $subDim;
         |long $total = 0L;
         |for (int $i = 0; $i < $na; $i++) {
         |  long $best = Long.MIN_VALUE;
         |  for (int $j = 0; $j < $nb; $j++) {
         |    long $s = 0L;
         |    for (int $k = 0; $k < $subDim; $k++) {
         |      $s += $a.getLong($i * $subDim + $k) * $b.getLong($j * $subDim + $k);
         |    }
         |    if ($s > $best) $best = $s;
         |  }
         |  if ($best != Long.MIN_VALUE) $total += $best;
         |}
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level helpers over the kernels above. */
object LongVectorOps {
  /** MaxSim with a fixed sub-vector width. */
  def maxsim(a: Column, b: Column, subDim: Int): Column =
    Bridge.column(LongMaxSim(Bridge.expressionOf(a), Bridge.expressionOf(b), subDim))

  def sqdist(a: Column, b: Column): Column =
    Bridge.column(LongSqDist(Bridge.expressionOf(a), Bridge.expressionOf(b)))

  def dot(a: Column, b: Column): Column =
    Bridge.column(LongDot(Bridge.expressionOf(a), Bridge.expressionOf(b)))
}
