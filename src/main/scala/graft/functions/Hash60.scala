package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The portable 60-bit md5 fold as ONE codegen'd expression —
  * bit-identical to `cast(conv(substr(md5(x), 1, 15), 16, 10) AS bigint)`
  * (the q79 idiom) and to the oracle's DuckDB hex-nibble fold, but
  * computed straight off the digest bytes: the first 15 hex digits of an
  * md5 are the first 7 bytes plus the high nibble of byte 8, so the SQL
  * form's hex-string materialization (32-char encode) and radix re-parse
  * (`conv`) are pure overhead — ~20 catalog sites paid it per GRAM or per
  * WORD on corpus-wide scans (r17 optimization round, guide §1.2 step 2:
  * per-task work after the job shape is right).
  *
  * Oracle unchanged: DuckDB keeps its nibble fold; equality is pinned by
  * EngineProperties (vs the SQL form in-engine) and by every oracle-hashed
  * family that consumes the fold.
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_hash60 expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override def nullSafeEval(input: Any): Any =
    Hash60.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60 {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Fold an md5 digest's first 60 bits — identical to
    * `conv(substr(md5(x), 1, 15), 16, 10)`. The one copy of the fold:
    * every md5 kernel in this package (MinHash12, PhashSig, WinnowFps,
    * Hrw, the gram/CMS kernels below) folds through it. */
  private[functions] def fold60(d: Array[Byte]): Long = {
    var h = 0L
    var k = 0
    while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    (h << 4) | ((d(7) >> 4) & 0xfL)
  }

  def compute(s: UTF8String): Long =
    fold60(digests.get().digest(s.getBytes))

  /** This thread's md5 instance, shared by every kernel in the package.
    * Each use must leave it reset: one complete `digest(bytes)`, or an
    * `update…digest()` run with no other kernel call in between. */
  private[functions] def digest(): MessageDigest = digests.get()
}

/** All n-gram 60-bit hashes of a word array as ONE expression:
  * `graft_gramhashes(w, n)` = `transform(sequence(0, size(w) - n), i ->
  * cast(conv(substr(md5(concat_ws(' ', slice(w, i + 1, n))), 1, 15), 16,
  * 10) AS bigint))` (EMPTY for size(w) < n). Position i is the array
  * index — callers posexplode. Besides the fold above, this removes the
  * per-gram interpreted-lambda walk (HOF lambdas run with no codegen and
  * no subexpr elimination), the per-gram `slice` array allocation, and
  * re-reads each word's UTF-8 bytes once per DOC instead of once per
  * gram. Nulls inside the window are skipped exactly like concat_ws.
  */
case class GramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_gramhashes expects (array<string>, int), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gramhashes"

  override def nullSafeEval(words: Any, n: Any): Any =
    GramHashes.compute(words.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, n) => s"graft.functions.GramHashes.compute($w, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHashes =
    copy(left = newLeft, right = newRight)
}

object GramHashes {
  def compute(words: ArrayData, n: Int): ArrayData = {
    val sz = words.numElements()
    if (n <= 0 || sz < n) return new GenericArrayData(Array.empty[Any])
    val md = Hash60.digest()
    // One bytes fetch per word (vs one per gram membership in the lambda
    // form); the digest consumes windows of these buffers directly.
    val bs = new Array[Array[Byte]](sz)
    var k = 0
    while (k < sz) {
      bs(k) = if (words.isNullAt(k)) null else words.getUTF8String(k).getBytes
      k += 1
    }
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      md.reset()
      var first = true
      var t = 0
      while (t < n) {
        val b = bs(i + t)
        if (b != null) { // concat_ws semantics: null words skipped entirely
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        t += 1
      }
      out(i) = Hash60.fold60(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All n-gram STRINGS of a word array as ONE expression:
  * `graft_gramstrings(w, n)` = `transform(sequence(0, size(w) - n), i ->
  * concat_ws(' ', slice(w, i + 1, n)))` (EMPTY for size(w) < n) — for the
  * consumers that need the gram text itself (exact distinct counts, the
  * q160/q165/q169 verify halves) rather than its hash. UTF-8 join is byte
  * concatenation, so each gram is assembled in one pre-sized byte buffer
  * instead of the lambda's per-gram slice allocation + interpreted
  * concat_ws walk. Nulls inside the window are skipped like concat_ws.
  */
case class GramStrings(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_gramstrings expects (array<string>, int), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_gramstrings"

  override def nullSafeEval(words: Any, n: Any): Any =
    GramStrings.compute(words.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, n) => s"graft.functions.GramStrings.compute($w, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramStrings =
    copy(left = newLeft, right = newRight)
}

object GramStrings {
  def compute(words: ArrayData, n: Int): ArrayData = {
    val sz = words.numElements()
    if (n <= 0 || sz < n) return new GenericArrayData(Array.empty[Any])
    val bs = new Array[Array[Byte]](sz)
    var k = 0
    while (k < sz) {
      bs(k) = if (words.isNullAt(k)) null else words.getUTF8String(k).getBytes
      k += 1
    }
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      var len = 0
      var cnt = 0
      var t = 0
      while (t < n) {
        val b = bs(i + t)
        if (b != null) { len += b.length; cnt += 1 }
        t += 1
      }
      val buf = new Array[Byte](len + math.max(cnt - 1, 0))
      var off = 0
      var first = true
      t = 0
      while (t < n) {
        val b = bs(i + t)
        if (b != null) { // concat_ws semantics: null words skipped entirely
          if (!first) { buf(off) = ' '.toByte; off += 1 }
          System.arraycopy(b, 0, buf, off, b.length)
          off += b.length
          first = false
        }
        t += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The D CMS bucket hashes of one value as ONE expression:
  * `graft_cmsbuckets(v, d, w)` = `transform(sequence(0, d - 1), j ->
  * cast(conv(substr(md5(concat('cms', cast(j AS string), ':', v)), 1, 15),
  * 16, 10) AS bigint) % w)` — the row-salted portable-hash idiom of the
  * CMS family (Audit.cmsBucketsSpark), minus the hex round trip, the
  * interpreted lambda, and the per-row concat allocations. d and w are
  * int literals at every call site (CmsD/CmsW).
  *
  * Null semantics (ADVICE r17, pinned by EngineProperties): a NULL value
  * yields NULL — the lambda form yielded an array of d NULL buckets
  * (d posexploded rows with null bucket). Every call site feeds non-null
  * exploded words/grams, so the divergence is unreachable today; a new
  * call site over a nullable column must filter nulls first (a null
  * bucket row was never meaningful — it joined nothing). */
case class CmsBuckets(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_cmsbuckets expects (string, int, int), got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cmsbuckets"

  override def nullSafeEval(v: Any, d: Any, w: Any): Any =
    CmsBuckets.compute(v.asInstanceOf[UTF8String],
      d.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, d, w) => s"graft.functions.CmsBuckets.compute($v, $d, $w)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): CmsBuckets =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object CmsBuckets {
  private val Cms: Array[Byte] = "cms".getBytes("UTF-8")

  def compute(v: UTF8String, d: Int, w: Int): ArrayData = {
    val md = Hash60.digest()
    val vb = v.getBytes
    val out = new Array[Any](d)
    var j = 0
    while (j < d) {
      md.reset()
      md.update(Cms)
      // j < 10 at every real call site (CmsD = 4), but render exactly like
      // cast(j AS string) for any d.
      md.update(String.valueOf(j).getBytes("UTF-8"))
      md.update(':'.toByte)
      md.update(vb)
      out(j) = Hash60.fold60(md.digest()) % w
      j += 1
    }
    new GenericArrayData(out)
  }
}
