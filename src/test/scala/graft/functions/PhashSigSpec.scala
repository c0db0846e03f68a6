package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** graft_phashsig contract: the bins parameter is REAL (every accepted
  * value changes the signature width and is honored end-to-end — the
  * r9 winnowFps lesson), short inputs yield NULL, and the interpreted
  * and codegen paths agree. Bit-parity of the default-width signature
  * against the DuckDB oracle is q136/q139/q141's business. */
class PhashSigSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("bins is honored: width follows the literal, empty bins marked") {
    import spark.implicits._
    val df = Seq("one two three four five", "one two", "").toDF("text")
      .select(call_function("graft_phashsig",
        split(trim(col("text")), " ")).as("p16"),
        call_function("graft_phashsig",
          split(trim(col("text")), " "), lit(32)).as("p32"))
    val rows = df.collect()
    assert(rows(0).getString(0).length === 16)
    assert(rows(0).getString(1).length === 32)
    // 3 grams -> at most 3 populated bins at either width
    assert(rows(0).getString(0).count(_ != '-') <= 3)
    assert(rows(0).getString(1).count(_ != '-') <= 3)
    // under ShingleN words -> NULL at any width
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("interpreted eval agrees with computeWords; bad bins rejected at construction") {
    val words = "a b c d e f g".split(" ")
    val viaCore16 = PhashSig.computeWords(words)
    val viaCore32 = PhashSig.computeWords(words, 32)
    assert(viaCore16.length === 16 && viaCore32.length === 32)
    assert(viaCore16 !== viaCore32.substring(0, 16),
      "different modulus must re-bin, not truncate")
    // depth widens each CELL, not the bin count: populated cells of the
    // depth-2 signature start with... their own independent nibbles, but
    // cell POSITIONS (bin structure, incl. which bins are empty) must
    // match the depth-1 signature exactly.
    val deep = PhashSig.computeWords(words, 16, 2)
    assert(deep.length === 32)
    (0 until 16).foreach { k =>
      assert((deep.charAt(2 * k) == '-') === (viaCore16.charAt(k) == '-'),
        s"bin $k emptiness diverges between depths")
    }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(words.map(UTF8String.fromString(_)).toArray[Any])
    val interp = PhashSig(Literal(arr,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
      .eval(null)
    assert(interp.toString === viaCore16)
    intercept[IllegalArgumentException] {
      PhashSig(Literal(arr,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)), 13)
    }
  }
}
