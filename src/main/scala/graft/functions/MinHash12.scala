package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 12-hash MinHash signature of a word array as ONE codegen'd expression,
  * returning `array<bigint>` of length 12 (or EMPTY for < 3 words — the
  * caller filters, mirroring the `size(w) >= 3` shingle filter).
  *
  * Hash family: each 3-word shingle `s` (words joined by ' ', nulls
  * skipped — concat_ws semantics) is hashed ONCE —
  * `H = int(md5(s)[0:15 hex], 16)`, a 60-bit value — and the 12 slot
  * candidates are the Carter-Wegman universal hashes
  * `c_i = (A_i * H + B_i) mod (2^61 - 1)`; slot i of the signature is the
  * minimum c_i over shingles. `A_i`/`B_i` are fixed 60-bit constants
  * derived from md5("mh-a|i") / md5("mh-b|i") (A forced odd, so never 0).
  *
  * This replaced the original family (12 INDEPENDENT md5s per shingle,
  * slot i = lexicographic-min md5("<i>|<s>")): the md5s were 90%+ of the
  * whole q23 pipeline at 10× corpus (Stress `lsh`: 13.1 s of which ~12 s
  * signature scan). One md5 + 12 multiply-mods per shingle is ~10× less
  * hashing work at identical collision behavior (pairwise-independent
  * family over a Mersenne prime — the textbook minhash construction).
  *
  * Engine-portable: the oracle reproduces `H` with a hex-nibble fold and
  * `c_i` with exact HUGEINT arithmetic (`(A*H + B) % M`); this loop uses a
  * branch-light 61-bit Mersenne reduction (`multiplyHigh` + limb folds) —
  * different computational paths, identical integers. Duplicate shingles
  * are harmless (min is duplicate-insensitive).
  */
case class MinHash12(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash12 expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash12"

  override def nullSafeEval(input: Any): Any =
    MinHash12.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash12.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHash12 =
    copy(child = newChild)
}

object MinHash12 {
  val NumHashes = 12
  val ShingleN = 3

  /** 2^61 - 1, the Mersenne prime of the hash family. */
  val M61: Long = (1L << 61) - 1

  /** Fixed per-slot multipliers/offsets: 60-bit values from md5("mh-a|i") /
    * md5("mh-b|i"), A forced odd (never 0). Interpolated as decimal
    * literals into the q23 oracle SQL, so both engines share them by
    * construction, not by accident. */
  val MulAdd: IndexedSeq[(Long, Long)] = {
    val md = Hash60.digest()
    IndexedSeq.tabulate(NumHashes) { i =>
      (Hash60.fold60(md.digest(s"mh-a|$i".getBytes("UTF-8"))) | 1L,
        Hash60.fold60(md.digest(s"mh-b|$i".getBytes("UTF-8"))))
    }
  }
  private val MulA: Array[Long] = MulAdd.map(_._1).toArray
  private val AddB: Array[Long] = MulAdd.map(_._2).toArray

  /** (a * b) mod (2^61 - 1) for 0 <= a, b < 2^61: 128-bit product via
    * multiplyHigh, then fold 61-bit limbs (2^61 ≡ 1 mod M61). */
  def mulmod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // x = hi*2^64 + lo(unsigned); x mod M61 = (x & M61) + (x >> 61), folded
    var r = (lo & M61) + ((hi << 3) | (lo >>> 61))
    r = (r & M61) + (r >>> 61)
    if (r >= M61) r - M61 else r
  }

  def compute(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val md = Hash60.digest()
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i + ShingleN - 1 < n) {
      // Shingle = words[i..i+2] joined by ' ' with nulls skipped, exactly
      // like the concat_ws in the exploded formulation.
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
      val h = Hash60.fold60(md.digest(sb.toString.getBytes("UTF-8")))
      any = true
      var k = 0
      while (k < NumHashes) {
        var c = mulmod61(MulA(k), h) + AddB(k)
        c = (c & M61) + (c >>> 61)
        if (c >= M61) c -= M61
        if (c < mins(k)) mins(k) = c
        k += 1
      }
      i += 1
    }
    if (!any) return new GenericArrayData(Array.empty[Any])
    new GenericArrayData(mins.map(x => x: Any))
  }
}
