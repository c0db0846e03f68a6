package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit SimHash of a word array as ONE codegen'd expression.
  *
  * Bit-compatible with the declarative md5-hex formulation (and its DuckDB
  * oracle twin): bit j is decided by bit (3 - j%4) of hex digit j/4 of
  * md5(word), summed signed over words; a NULL word contributes -1 to every
  * bit (the CASE's ELSE branch, matching the SQL fold). 60 bits = 15 hex
  * digits, clear of the bigint sign bit.
  *
  * The declarative version (per-word transform over sequence(0,59) inside a
  * higher-order aggregate) runs interpreted with per-word array allocation —
  * measured ~60 ms/doc; this loop is MD5-bound (~0.1 ms/doc).
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash60 expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  val Bits = 60

  def compute(words: ArrayData): Long = {
    val n = words.numElements()
    val bs = new Array[Int](Bits)
    val md = Hash60.digest()
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) {
        // NULL word: the SQL CASE's ELSE branch → -1 on every bit
        var j = 0
        while (j < Bits) { bs(j) -= 1; j += 1 }
      } else {
        md.reset()
        val h = md.digest(words.getUTF8String(i).getBytes)
        var k = 0
        while (k < Bits / 4) { // hex digit k = nibble k of the digest
          val v = if (k % 2 == 0) (h(k / 2) >> 4) & 0xf else h(k / 2) & 0xf
          var b = 0
          while (b < 4) { // bit j = 4k + b uses bit (3 - b) of digit k
            if (((v >> (3 - b)) & 1) == 1) bs(4 * k + b) += 1 else bs(4 * k + b) -= 1
            b += 1
          }
          k += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < Bits) { if (bs(j) > 0) out |= 1L << j; j += 1 }
    out
  }
}
