package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** All within-bucket pairs of an id array as ONE expression:
  * `graft_bucket_pairs(ds)` = `flatten(transform(ds, (x, i) ->
  * transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))` —
  * every `(ds[i], ds[j])` with i < j, i-major, as `array<struct<a, b>>`
  * of the same type the lambda yields (null array → null, a null element
  * → a null field). This is the fan-out at the core of the inverted-index
  * pair family (`Dedup.bucketPairs`): the lambda ran interpreted, with a
  * `slice` allocation and a lambda-variable bind per element; here it is
  * one loop inside whole-stage codegen.
  */
case class BucketPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_bucket_pairs expects an array, got ${dt.simpleString}")
  }

  private def inputType: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def dataType: DataType = {
    val (et, nullable) = (inputType.elementType, inputType.containsNull)
    ArrayType(StructType(Seq(StructField("a", et, nullable),
      StructField("b", et, nullable))), containsNull = false)
  }
  override def prettyName: String = "graft_bucket_pairs"

  override def nullSafeEval(ds: Any): Any =
    BucketPairs.compute(ds.asInstanceOf[ArrayData], inputType.elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elementType", inputType.elementType,
      classOf[DataType].getName)
    defineCodeGen(ctx, ev, ds => s"graft.functions.BucketPairs.compute($ds, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(child = newChild)
}

object BucketPairs {
  def compute(ds: ArrayData, et: DataType): ArrayData = {
    val xs = ds.toObjectArray(et)
    val n = xs.length
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= Int.MaxValue - 15,
      s"graft_bucket_pairs: $n elements yield $pairs pairs, over the array limit")
    val out = new Array[Any](pairs.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](xs(i), xs(j))): InternalRow
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
