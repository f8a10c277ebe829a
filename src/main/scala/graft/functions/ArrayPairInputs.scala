package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The input check of a kernel over two arrays of one element type
  * ([[CosineSim]]: float, [[SqDist]]: double): anything else fails
  * analysis with both argument types named. */
trait ArrayPairInputs extends BinaryExpression {
  protected def elementType: DataType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) => t == elementType
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<${elementType.simpleString}> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}
