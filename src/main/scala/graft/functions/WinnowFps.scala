package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Winnowing fingerprint selection of a word array as ONE codegen'd
  * expression (Schleimer/Wilkerson/Aiken — the MOSS algorithm, public
  * knowledge), returning `array<bigint>`: the distinct minima of a
  * WinnowW-wide sliding window over the word-3-gram hash sequence, in
  * first-occurrence order (or EMPTY for inputs under one full window —
  * the caller filters, mirroring `size(w) >= ShingleN + WinnowW - 1`).
  *
  * Gram hash = first 15 md5 hex digits as a 60-bit bigint — identical to
  * `conv(substr(md5(s), 1, 15), 16, 10)` and the oracle's hex-nibble fold
  * (Hash60.fold60, shared), so fingerprints are engine-portable.
  *
  * This replaced the declarative
  * `array_distinct(transform(sequence(...), i -> array_min(slice(hs, ...))))`
  * formulation: CollapseProject inlines the whole gram-hash `transform`
  * into the window lambda, and higher-order functions are interpreted with
  * no subexpression elimination inside lambdas — so every window
  * re-hashed EVERY gram, O(n²) md5 calls per document (measured 103 s to
  * index 5k docs; the Stress `winnow` row). Here: one md5 per gram and an
  * O(n) monotonic-deque window minimum — the textbook sliding-window
  * algorithm — inside whole-stage codegen.
  */
case class WinnowFps(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFps.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  val ShingleN = 3
  val WinnowW = 4

  def compute(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val nGrams = n - ShingleN + 1
    if (nGrams < WinnowW) return new GenericArrayData(Array.empty[Any])
    val md = Hash60.digest()
    // One md5 per gram (concat_ws ' ' with nulls skipped, like the
    // shingle pipeline).
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val sb = new java.lang.StringBuilder
      var first = true
      var t = 0
      while (t < ShingleN) {
        if (!words.isNullAt(i + t)) {
          if (!first) sb.append(' ')
          sb.append(words.getUTF8String(i + t).toString)
          first = false
        }
        t += 1
      }
      hs(i) = Hash60.fold60(md.digest(sb.toString.getBytes("UTF-8")))
      i += 1
    }
    // O(n) sliding-window minima: monotonic deque of candidate indices.
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    i = 0
    while (i < nGrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - WinnowW) head += 1
      if (i >= WinnowW - 1) seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }
}
