package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine similarity over two `array<float>` embedding
  * columns: one fused loop accumulating dot product and both squared norms,
  * compiled into whole-stage codegen via `doGenCode`.
  *
  * Replaces the equivalent `aggregate`/`zip_with` higher-order-function
  * composition (`VectorFunctions.cosine`'s original form), which Catalyst
  * evaluates interpreted — per-row lambda dispatch and three passes over the
  * array. Numeric contract is unchanged: elementwise float→double widening
  * and sequential left-to-right accumulation, bit-identical to the HOF fold
  * and to DuckDB's `list_cosine_similarity` on `DOUBLE[]` (the driver's
  * oracle hashes depend on this). Like DuckDB, the result is clamped to
  * [-1, 1]: rounding can carry cos(v, v) to 1.0000000000000002. A NaN
  * (zero-norm input) passes through unchanged.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    // full norms even if lengths differ (same-dim data in practice)
    var j = n
    while (j < x.numElements()) { val v = x.getFloat(j).toDouble; nx += v * v; j += 1 }
    j = n
    while (j < y.numElements()) { val v = y.getFloat(j).toDouble; ny += v * v; j += 1 }
    math.max(-1.0, math.min(dot / (math.sqrt(nx) * math.sqrt(ny)), 1.0))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = (double) $a.getFloat($i);
         |  final double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |for (int $i = $n; $i < $a.numElements(); $i++) {
         |  final double $xv = (double) $a.getFloat($i); $nx += $xv * $xv;
         |}
         |for (int $i = $n; $i < $b.numElements(); $i++) {
         |  final double $yv = (double) $b.getFloat($i); $ny += $yv * $yv;
         |}
         |${ev.value} = java.lang.Math.max(-1.0, java.lang.Math.min(
         |  $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny)), 1.0));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
