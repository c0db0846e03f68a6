package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** DotProduct must be bit-identical to the declarative fold it replaces
  * (same left-to-right accumulation), and null-correct. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def foldDot = expr(
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

  test("bit-identical to the aggregate(zip_with) fold on irrational values") {
    import spark.implicits._
    val df = (1 to 100).map { i =>
      (Array.tabulate(64)(j => math.sin(i * 64 + j) * math.sqrt(j + 1)),
        Array.tabulate(64)(j => math.cos(i * 64 + j) / (j + 1.0)))
    }.toDF("a", "b")
    val rows = df.select(
      call_function("graft_dot", col("a"), col("b")).as("fast"), foldDot.as("slow"))
      .collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("null array, null element, and length mismatch all yield null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq[java.lang.Double](1.0, 2.0)), None: Option[Seq[java.lang.Double]]),
      (Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](1.0, 2.0))),
      (Some(Seq[java.lang.Double](1.0)), Some(Seq[java.lang.Double](1.0, 2.0)))
    ).toDF("a", "b")
    val got = df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("interpreted eval path agrees with codegen") {
    import spark.implicits._
    val df = Seq((Array(1.5, -2.25, 3.0), Array(4.0, 0.5, -1.0))).toDF("a", "b")
    val expected = 1.5 * 4.0 + -2.25 * 0.5 + 3.0 * -1.0
    // codegen (whole-stage on)
    assert(df.select(call_function("graft_dot", col("a"), col("b")))
      .head().getDouble(0) === expected)
    // forced interpreted path
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(df.select(call_function("graft_dot", col("a"), col("b")))
      .head().getDouble(0) === expected)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    }
  }
}
