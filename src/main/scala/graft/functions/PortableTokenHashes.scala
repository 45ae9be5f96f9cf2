package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the PORTABLE per-token 62-bit hash
  * family (`string` → `array<bigint>`): split on single spaces, then for
  * each token run both 31-bit character folds `acc·m + codepoint mod P`
  * (m = 137 high half, 131 low half) and pack `hi·2^31 + lo`.
  *
  * Value-identical to the declarative form
  * [[graft.text.SimHash.portableTokenHashes]] (TextDedupSpec asserts
  * parity) — but where the HOF form interprets a Column tree per
  * CHARACTER (split + transform + aggregate, no codegen for HOFs), this
  * is one fused Java loop per row: no per-char UTF8String allocation, no
  * interpreted dispatch. The DuckDB oracle replays the same fold in
  * integer SQL, so the hash certification is unaffected.
  */
case class PortableTokenHashes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "portable_token_hashes"

  override def nullSafeEval(input: Any): Any =
    PortableTokenHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PortableTokenHashes.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableTokenHashes {
  private val P = graft.text.MinHash.P

  /** One pass over the string: tokens are maximal runs between single
    * spaces (exactly `split(text, " ")` with limit −1 — trailing and
    * doubled spaces yield empty tokens, which fold to 0 like the HOF
    * form). Characters advance by CODEPOINT, matching `ascii()`'s
    * `codePointAt` semantics on the per-char split.
    */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var count = 1
    var k = 0
    while (k < n) { if (str.charAt(k) == ' ') count += 1; k += 1 }
    val out = new Array[Long](count)
    var t = 0
    var start = 0
    while (start <= n) {
      var end = str.indexOf(' ', start)
      if (end < 0) end = n
      var hi = 0L
      var lo = 0L
      var j = start
      while (j < end) {
        val cp = str.codePointAt(j)
        j += Character.charCount(cp)
        hi = (hi * 137 + cp) % P
        lo = (lo * 131 + cp) % P
      }
      out(t) = (hi << 31) + lo
      t += 1
      start = end + 1
    }
    ArrayData.toArrayData(out)
  }

  def apply(text: Column): Column =
    Bridge.column(PortableTokenHashes(Bridge.expressionOf(text)))
}
