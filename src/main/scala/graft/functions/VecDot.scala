package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product of two double arrays, summed strictly left-to-right —
  * the same IEEE sequence as `aggregate(zip_with(a, b, (x,y) -> x*y), 0D,
  * (acc,x) -> acc+x)` and the oracle's `list_reduce` fold, so results are
  * bit-identical to both, at a fraction of the per-element lambda cost.
  * Implements doGenCode so it participates in whole-stage codegen (the ANN
  * paths evaluate it millions of times per scan).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Can return null from non-null inputs (length mismatch).
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double ${ev.value}_acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${ev.value}_acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = ${ev.value}_acc;
         |}
       """.stripMargin
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    // Length mismatch -> null, matching zip_with's null padding (and the
    // oracle's out-of-bounds list indexing): a malformed vector surfaces
    // instead of yielding a plausible partial dot product.
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}
