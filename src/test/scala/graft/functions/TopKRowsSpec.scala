package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** graft_topk (the native TypedImperativeAggregate) must select and order
  * EXACTLY like the window row_number formulation the oracles use: k best
  * under the total order (score DESC, id ASC), emitted in that order.
  * Pinned on data with heavy score ties and adversarial k. */
class TopKRowsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Deterministic pseudo-random rows with many score ties: (g, id, sc). */
  private def rows(n: Int): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val g = i % 7L
      val id = (i * 2654435761L) % 1000003L
      val sc = (id * 40503L + g) % 17L // 17 distinct scores => dense ties
      (g, id, sc)
    }.distinct

  private def nativeTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy("g")
      .agg(expr(s"graft_topk(sc, id, $k)").as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rk"),
        col("col.doc_id").as("id"), col("col.score").as("sc"))

  test("equals the window row_number formulation (the oracle shape)") {
    import spark.implicits._
    val df = rows(5000).toDF("g", "id", "sc")
    df.createOrReplaceTempView("topk_in")
    // k = 1, a mid k, and k bigger than every group (7 groups of ~700)
    for (k <- Seq(1, 5, 10000)) {
      val win = spark.sql(
        s"""SELECT g, rk, id, sc FROM (
          |  SELECT g, id, sc,
          |         CAST(row_number() OVER (PARTITION BY g
          |           ORDER BY sc DESC, id) AS BIGINT) AS rk
          |  FROM topk_in) WHERE rk <= $k""".stripMargin)
        .orderBy("g", "rk").collect().map(_.toSeq.toList).toList
      val native = nativeTopK(df, k)
        .orderBy("g", "rk").collect().map(_.toSeq.toList).toList
      assert(native === win, s"k=$k")
    }
  }

  test("null score or id rows are skipped; plan carries no typed boundary") {
    import spark.implicits._
    val df = Seq[(Long, Option[Long], Option[Long])](
      (0L, Some(1L), Some(10L)), (0L, None, Some(99L)), (0L, Some(3L), None),
      (0L, Some(2L), Some(10L)))
      .toDF("g", "id", "sc")
    val got = nativeTopK(df, 3).orderBy("rk")
      .collect().map(r => (r.getLong(2), r.getLong(3))).toList
    assert(got === List((1L, 10L), (2L, 10L)))
    val plan = nativeTopK(rows(100).toDF("g", "id", "sc"), 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("DeserializeToObject"))
    assert(plan.contains("ObjectHashAggregate"))
  }

  test("wrong arity: a clean error naming (score, id, k), not an index crash") {
    import spark.implicits._
    val df = rows(10).toDF("g", "id", "sc")
    for (args <- Seq("sc, id", "sc, id, 3, 4")) {
      val e = intercept[Exception](
        df.groupBy("g").agg(expr(s"graft_topk($args)")).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains("graft_topk expects 3 arguments (score, id, k)")),
        s"$args: ${msgs.mkString(" | ")}")
    }
  }
}
