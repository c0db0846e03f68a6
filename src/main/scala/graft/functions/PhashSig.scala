package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** q136's perceptual signature of a word array as ONE codegen'd
  * expression, returning the 16-char pixel string (or NULL for inputs
  * under ShingleN words — the caller filters, mirroring the shingle
  * pipeline's `size(w) >= n` gate): a one-permutation binned min-hash
  * (Li/König's one-permutation hashing, public knowledge) — each word
  * 3-gram hashes to a 60-bit h (first 15 md5 hex digits, identical to
  * `conv(substr(md5(s), 1, 15), 16, 10)` and the oracle's nibble fold),
  * bin k ∈ [0,16) takes min(h) over grams with h % 16 = k, and the bin's
  * next nibble ((min div 16) % 16) becomes one hex pixel, '-' for an
  * empty bin.
  *
  * This replaced the explode → 16-conditional-min groupBy(doc_id)
  * aggregation: the signature is a pure per-row reduction, so computing
  * it in-row makes the grid build a NARROW SCAN — the corpus-wide
  * doc_id hash shuffle (the only exchange in the old derivation)
  * disappears entirely, and the streaming twin shares this exact
  * derivation instead of mirroring it. One md5 per gram, one pass.
  *
  * `bins` (default 16; any positive multiple of 4 up to 64) and `depth`
  * (hex chars per bin, default 1) are both REAL and honored. The SCALE
  * lever is `depth`: deeper pixels keep min-per-bin edit robustness
  * while accidental cell agreement drops 16^(depth-1)× — the phash
  * Stress measures depth 2 collapsing band fan-in to the true-dup floor
  * at 10×, where the 32-bin widening attempt FAILED (short docs starve
  * extra bins into shared '-' runs; both measured, PERF.md).
  */
case class PhashSig(child: Expression, bins: Int = PhashSig.Bins,
    depth: Int = 1) extends UnaryExpression {
  require(bins > 0 && bins % 4 == 0 && bins <= 64,
    s"graft_phashsig bins must be a positive multiple of 4 <= 64, got $bins")
  require(depth >= 1 && depth <= 4,
    s"graft_phashsig depth must be in [1, 4] hex chars per bin, got $depth")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_phashsig expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_phashsig"

  override def nullSafeEval(input: Any): Any =
    PhashSig.compute(input.asInstanceOf[ArrayData], bins, depth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PhashSig.compute($c, $bins, $depth);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PhashSig =
    copy(child = newChild)
}

object PhashSig {
  val ShingleN = 3
  val Bins = 16

  private val hexd = "0123456789abcdef"

  def compute(words: ArrayData, bins: Int, depth: Int = 1): UTF8String = {
    val n = words.numElements()
    if (n < ShingleN) return null
    val strs = new Array[String](n)
    var w = 0
    while (w < n) {
      strs(w) = if (words.isNullAt(w)) null else words.getUTF8String(w).toString
      w += 1
    }
    UTF8String.fromString(computeWords(strs, bins, depth))
  }

  /** Shared core — also the streaming path's in-row derivation
    * (Multimodal.phashSignatureJvm). Null words are skipped inside a gram
    * like concat_ws does. */
  def computeWords(words: Array[String], bins: Int = Bins, depth: Int = 1): String = {
    val md = Hash60.digest()
    val mins = Array.fill(bins)(Long.MaxValue)
    val nGrams = words.length - ShingleN + 1
    var i = 0
    while (i < nGrams) {
      val sb = new java.lang.StringBuilder
      var first = true
      var t = 0
      while (t < ShingleN) {
        if (words(i + t) != null) {
          if (!first) sb.append(' ')
          sb.append(words(i + t))
          first = false
        }
        t += 1
      }
      val h = Hash60.fold60(md.digest(sb.toString.getBytes("UTF-8")))
      val b = (h % bins).toInt
      if (h < mins(b)) mins(b) = h
      i += 1
    }
    // Pixel = `depth` hex chars of (min div bins): the divisor must clear
    // EVERY bin-selector bit or bin and pixel correlate and band keys lose
    // entropy (measured: div 16 at bins = 32 shares bit 4 with the
    // selector — one bit less per pixel, 16× the band collisions, fan-in
    // 169 vs 23 on the same corpus). For the default (16, 1) this is
    // exactly the oracle-pinned (min // 16) % 16. depth > 1 is the SCALE
    // lever: each cell keeps min-per-bin edit robustness while accidental
    // cell agreement drops 16^(depth-1)× — adding bins instead starves
    // short docs into shared '-' runs (measured, PERF.md phash stress).
    val out = new java.lang.StringBuilder(bins * depth)
    var k = 0
    while (k < bins) {
      if (mins(k) == Long.MaxValue) { var d = 0; while (d < depth) { out.append('-'); d += 1 } }
      else {
        val v = (mins(k) / bins) % (1L << (4 * depth))
        var d = depth - 1
        while (d >= 0) { out.append(hexd.charAt(((v >> (4 * d)) & 0xf).toInt)); d -= 1 }
      }
      k += 1
    }
    out.toString
  }
}
