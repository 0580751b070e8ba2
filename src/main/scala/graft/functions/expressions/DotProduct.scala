package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product over array<float|double> columns.
  *
  * Why a custom Expression (SURVEY.md §7.3's "optional custom codegen
  * Expression only if bench demands" — bench demanded): the builtin
  * formulation `aggregate(zip_with(a,b,*), 0D, +)` runs interpreted
  * (higher-order functions are excluded from whole-stage codegen), and a
  * Scala UDF pays a per-row serialization boundary (ArrayData → Seq).
  * This expression participates in whole-stage codegen and reads the
  * columnar ArrayData in place — preference order (b) of the build brief:
  * native Expression > UDF.
  *
  * Semantics: Σ (double)a[i] · (double)b[i], fold-left in index order —
  * float operands are widened BEFORE the multiply, so results are
  * bit-identical to the DuckDB oracle (`list_reduce(list_transform(...))`
  * over CAST(x AS DOUBLE)) and to the previous UDF/HOF forms.
  * Enforced (the function is SQL-registered, so end users hit these):
  * length mismatch → error (silent min-length truncation would hide a
  * data bug); null array → null; a null ELEMENT contributes 0 to the sum
  * (checked with isNullAt — never read-through) in both the interpreted
  * and codegen paths.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  // (No ExpectsInputTypes mixin: AbstractDataType is private[sql];
  // checkInputDataTypes below does the full validation instead.)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: array length mismatch (${x.numElements()} vs ${y.numElements()})")
    val lf = isFloat(left); val rf = isFloat(right)
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // freshName: two fused DotProducts in one whole-stage-codegen method
      // (e.g. norm + cosine in a single projection) must not collide on
      // local variable names, or Janino fails and Spark silently falls
      // back to the interpreted path.
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val xGet = if (isFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val yGet = if (isFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: array length mismatch (" + $x.numElements() + " vs " + $y.numElements() + ")");
         |}
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += ($xGet) * ($yGet);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The DuckDB twin of graft_dot over two `dim`-long DOUBLE lists, for
    * the oracles: the same index-order left fold. Its lambda parameters
    * are (x, y), or (u, t) when an operand comes from a table aliased x
    * or y, so they never shadow the operand. */
  def sql(a: String, b: String, dim: Int = 64): String = {
    val (x, y) =
      if (Seq(a, b).exists(o => o.startsWith("x.") || o.startsWith("y."))) ("u", "t") else ("x", "y")
    s"list_reduce(list_transform(range($dim), i -> $a[i + 1] * $b[i + 1]), ($x, $y) -> $x + $y)"
  }
}
