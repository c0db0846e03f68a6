package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `graft_levenshtein(a, b)`: exact Levenshtein distance as a bit-parallel
  * kernel — Myers' bit-vector algorithm (J. ACM 46(3), 1999) in Hyyrö's
  * global-distance form, blocked over 64-bit words for patterns longer
  * than 64 characters (Hyyrö, "A bit-vector algorithm for computing
  * Levenshtein and Damerau edit distances", Nordic J. Computing 2003).
  *
  * Returns exactly what Spark's `levenshtein` (UTF8String
  * .levenshteinDistance) returns: the distance over characters as Spark
  * delimits them (`UTF8String.numBytesForFirstByte`), two characters equal
  * iff their byte sequences are equal, IntegerType, null in → null out.
  * The shorter string is the pattern, so the cost is O(⌈m/64⌉·n) word
  * operations instead of the DP's O(m·n) cell updates — q91's ~420-char
  * gated pairs run 7 words per text character instead of ~420 cells.
  * The strings are read straight off their UTF-8 bytes (no String per
  * row); ASCII characters index their match masks directly, the
  * pattern's other characters go through a small open-addressing map
  * (absent for an all-ASCII pattern). A string whose last character is
  * truncated (a lead byte promising more bytes than remain) falls back to
  * Spark's own DP.
  */
case class EditDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_levenshtein expects (string, string), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    EditDistance.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.EditDistance.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDistance =
    copy(left = newLeft, right = newRight)
}

object EditDistance {

  /** Character keys of `s`, one Int per character: an ASCII byte is its
    * own key (0..127); any other character packs its 1–4 bytes big-endian
    * from bit 31, a lone non-lead byte is 128..255. The lead byte fixes the
    * sequence length, so equal keys ⇔ equal byte sequences. Returns null
    * for a truncated last character. */
  private def keys(s: UTF8String): Array[Int] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    val out = new Array[Int](nb)
    var i = 0
    var n = 0
    while (i < nb) {
      val b0 = Platform.getByte(base, off + i)
      if (b0 >= 0) { out(n) = b0; i += 1 }
      else {
        val w = UTF8String.numBytesForFirstByte(b0)
        if (w == 1) out(n) = b0 & 0xff
        else {
          if (i + w > nb) return null
          var k = (b0 & 0xff) << 24
          var t = 1
          while (t < w) {
            k |= (Platform.getByte(base, off + i + t) & 0xff) << (24 - 8 * t)
            t += 1
          }
          out(n) = k
        }
        i += w
      }
      n += 1
    }
    if (n == nb) out else java.util.Arrays.copyOf(out, n)
  }

  def compute(a: UTF8String, b: UTF8String): Int = {
    val ka = keys(a)
    val kb = keys(b)
    if (ka == null || kb == null) a.levenshteinDistance(b)
    else if (ka.length <= kb.length) distance(ka, kb)
    else distance(kb, ka)
  }

  /** Edit distance between pattern `p` and text `t` (|p| ≤ |t|). */
  private def distance(p: Array[Int], t: Array[Int]): Int = {
    val m = p.length
    val n = t.length
    if (m == 0) return n
    val w = (m + 63) >>> 6

    // Slots: ASCII keys index directly; the pattern's other distinct keys
    // get slots 128.. through a linear-probe table sized to a power of
    // two ≥ 2× the pattern length (null when the pattern is all ASCII).
    var tab: Array[Int] = null // (key, slot + 1) pairs; slot + 1 == 0: empty
    var extra = 0
    var i = 0
    while (i < m) {
      val c = p(i)
      if (c < 0 || c > 127) {
        if (tab == null) tab = new Array[Int](Integer.highestOneBit(m) << 3)
        val h = probe(tab, c)
        if (tab(h + 1) == 0) { tab(h) = c; extra += 1; tab(h + 1) = 128 + extra }
      }
      i += 1
    }

    // peq(slot * w + blk): bit j set ⇔ p(64·blk + j) has that slot's key.
    val peq = new Array[Long]((128 + extra) * w)
    i = 0
    while (i < m) {
      peq(slotOf(tab, p(i)) * w + (i >>> 6)) |= 1L << (i & 63)
      i += 1
    }

    // Vertical delta vectors of the DP column (row i vs i-1: +1 in pv,
    // -1 in mv), initially the first column D[i][0] = i.
    val pv = new Array[Long](w)
    val mv = new Array[Long](w)
    java.util.Arrays.fill(pv, -1L)
    val lastBit = 1L << ((m - 1) & 63)
    var score = m
    var j = 0
    while (j < n) {
      val slot = slotOf(tab, t(j))
      val row = if (slot < 0) -1 else slot * w
      // Horizontal delta entering the block from the row above: the top
      // row D[0][j] = j rises by 1 per text character.
      var hin = 1
      var blk = 0
      while (blk < w) {
        val eq0 = if (row < 0) 0L else peq(row + blk)
        val vp = pv(blk)
        val vn = mv(blk)
        val xv = eq0 | vn
        val eq = if (hin < 0) eq0 | 1L else eq0
        val xh = (((eq & vp) + vp) ^ vp) | eq
        var hp = vn | ~(xh | vp)
        var hn = vp & xh
        val top = if (blk == w - 1) lastBit else Long.MinValue
        val hout = if ((hp & top) != 0) 1 else if ((hn & top) != 0) -1 else 0
        hp <<= 1
        hn <<= 1
        if (hin < 0) hn |= 1L else if (hin > 0) hp |= 1L
        pv(blk) = hn | ~(xv | hp)
        mv(blk) = hp & xv
        hin = hout
        blk += 1
      }
      score += hin
      j += 1
    }
    score
  }

  /** Index of `c`'s (key, slot + 1) pair in `tab`, or of the empty pair
    * where it would go. */
  private def probe(tab: Array[Int], c: Int): Int = {
    val mask = (tab.length >>> 1) - 1
    var h = c * 0x9E3779B9
    h = (h ^ (h >>> 16)) & mask
    while (tab(2 * h + 1) != 0 && tab(2 * h) != c) h = (h + 1) & mask
    2 * h
  }

  /** Match-mask slot of character key `c`, -1 if the pattern lacks it. */
  @inline private def slotOf(tab: Array[Int], c: Int): Int =
    if (c >= 0 && c <= 127) c
    else if (tab == null) -1
    else tab(probe(tab, c) + 1) - 1
}
