package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression for a 64-bit SimHash over a pre-hashed token
  * array (`array<bigint>` → `bigint`): every token hash votes ±1 per bit
  * position, the sign of each bit-sum is one fingerprint bit.
  *
  * Versus the two declarative forms in [[graft.text.SimHash]] — 64
  * interpreted HOF passes per row, or an explode + lane-packed
  * HashAggregate (one shuffle, large cold codegen) — this generates ONE
  * fused Java loop inside WholeStageCodegen: per row, tokens × 64 bit
  * tests, no shuffle, no intermediate rows, compact generated code.
  * Null elements are skipped; an empty array fingerprints to 0L. Votes and
  * tie behavior (`ones·2 > n`) match the other forms bit-for-bit —
  * TextDedupSpec asserts three-way parity.
  */
case class SimHashFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // return type left inferred: AbstractDataType is private[sql]
  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_fp"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val ones = new Array[Int](64)
    var n = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          ones(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        n += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (ones(b) * 2 > n) fp |= 1L << b
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val ones = ctx.freshName("ones")
      val fp = ctx.freshName("fp")
      s"""
         |final int $m = $a.numElements();
         |final int[] $ones = new int[64];
         |int $n = 0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    final long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $ones[$b] += (int) (($h >>> $b) & 1L);
         |    }
         |    $n++;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($ones[$b] * 2 > $n) $fp |= 1L << $b;
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFingerprint {
  /** Column-level helper; SQL reaches the same kernel as `simhash_fp`
    * through [[graft.GraftExtensions]].
    */
  def apply(hashes: Column): Column =
    Bridge.column(SimHashFingerprint(Bridge.expressionOf(hashes)))
}
