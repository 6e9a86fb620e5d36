package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over `array<float>`
  * columns, with whole-stage codegen.
  *
  * The composable alternative (`aggregate(zip_with(...))`) is a higher-order
  * function: Spark evaluates the lambda per element interpretively and the
  * surrounding operator falls out of whole-stage codegen. This expression
  * emits a tight fused Java loop instead — the difference is large on
  * billion-vector ANN sweeps. Accumulation order (sequential, ascending
  * index, double precision) matches the HOF formulation and the DuckDB
  * `list_reduce` oracle bit-for-bit.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  // Inputs must be array<float>; enforced by usage (ExpectsInputTypes /
  // AbstractDataType are private[sql] in Spark 4).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

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
    // zero-norm guard: 0/0 = NaN sorts GREATEST under Spark's total order,
    // which would rank a degenerate vector above every real neighbor in
    // descending top-k — define cosine against the zero vector as 0.0.
    // (No zero-norm vectors exist in the oracle-matched corpora —
    // dx_embedding_qc pins n_zero — so the DuckDB twins are unaffected.)
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // All locals via ctx.freshName: fixed names collide when the
      // expression is fused more than once into a single codegen function,
      // janino rejects the class, and Spark falls back to interpreted eval.
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
