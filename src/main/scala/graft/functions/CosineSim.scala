package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** Cosine similarity of two float-array embeddings as ONE native Catalyst
  * Expression with doGenCode — the hot inner loop of every similarity query
  * (brute-force top-k is THE exact-ANN baseline scan at 100 TB).
  *
  * The higher-order-function formulation (zip_with → aggregate, three times:
  * dot, ‖a‖, ‖b‖) allocates three lambda-evaluated arrays per row and breaks
  * out of WholeStageCodegen; this compiles to a single fused per-row loop
  * with no allocation. Semantics are IDENTICAL to the HOF version (pinned by
  * CosineSimSpec): elements widen to double before multiplying, accumulation
  * is left-to-right (bit-identical doubles, so the DuckDB oracles are
  * unaffected), null element or length mismatch → null — exactly what
  * zip_with's null-padding produced — and a zero-norm (or empty) vector is
  * null too (try_divide semantics: under ANSI mode the HOF Divide would
  * raise DIVIDE_BY_ZERO, and non-ANSI raw Java division would leak
  * NaN/Infinity; a single degenerate embedding must not kill or poison a
  * 100 TB scan).
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression with ArrayPairInputs {

  override protected def elementType: DataType = FloatType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    // zero-norm (incl. empty) → null, like Spark's Divide on a zero divisor
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
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
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $xv = (double) $a.getFloat($i);
            double $yv = (double) $b.getFloat($i);
            $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
          }
          if (!${ev.isNull}) {
            if ($nx == 0.0 || $ny == 0.0) {
              ${ev.isNull} = true;
            } else {
              ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
            }
          }
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column API. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
