package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make graft_dot resolvable in plain SQL with no
  * imperative registration. `spark.sql.extensions` is a STATIC conf read
  * from the SparkContext at its creation, so inside the shared-context test
  * JVM the spec exercises the equivalent builder.withExtensions path on a
  * fresh session (cleared default, reused context, restored afterwards). */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions(GraftExtensions) injects graft_dot into a fresh session") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = SparkSession.builder()
        .master("local[1]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val got = spark.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .head().getDouble(0)
      assert(got === (4.0 + 10.0 + 18.0))

      // The injected optimizer rule rewrites the declarative fold into the
      // codegen'd DotProduct — same values, and the optimized plan carries
      // graft_dot instead of an interpreted aggregate(zip_with(...)) tree.
      // (Non-foldable inputs: literal arrays would just constant-fold.)
      val base = spark.range(4).selectExpr(
        "id", "array(cast(id as double), 2.0d, 3.0d) AS a",
        "array(4.0d, cast(id as double), 6.0d) AS b")
      val fold = base.selectExpr("id",
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v) AS d")
      val optimized = fold.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_dot"), s"fold not rewritten:\n$optimized")
      assert(!optimized.contains("aggregate("), s"fold survived:\n$optimized")
      val direct = base.selectExpr("id", "graft_dot(a, b) AS d")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      fold.collect().foreach(r => assert(r.getDouble(1) === direct(r.getLong(0))))

      // A fold that is NOT a dot product (acc - v) must be left alone.
      val other = base.selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc - v) AS d")
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions and GraftFunctions.register install the same graft_* names") {
    // The two registration paths once kept separate lists and drifted
    // (graft_topk was missing from the extensions). Compare what each
    // path actually puts in a fresh session's function registry.
    graft.SharedSpark.spark // the shared context exists before any fresh session
    def graftNames(spark: SparkSession): Set[String] =
      spark.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    def fresh(b: SparkSession.Builder => SparkSession.Builder): SparkSession = {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      b(SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false"))
        .getOrCreate()
    }
    try {
      val injected = graftNames(fresh(_.withExtensions(new GraftExtensions)))
      val plain = fresh(identity)
      assert(graftNames(plain).isEmpty, "a session without either path has graft_* functions")
      GraftFunctions.register(plain)
      val registered = graftNames(plain)
      assert(injected === registered)
      assert(Set("graft_topk", "graft_levenshtein", "graft_bucket_pairs").subsetOf(injected))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("wrong arity of the pair kernels is a clean error naming the signature") {
    val spark = graft.SharedSpark.spark
    GraftFunctions.register(spark)
    for ((call, sig) <- Seq(
        "graft_levenshtein('a')" -> "graft_levenshtein expects 2 arguments (a, b), got 1",
        "graft_levenshtein('a', 'b', 'c')" -> "graft_levenshtein expects 2 arguments (a, b), got 3",
        "graft_bucket_pairs()" -> "graft_bucket_pairs expects 1 argument (ds), got 0",
        "graft_bucket_pairs(array(1L), array(2L))" -> "graft_bucket_pairs expects 1 argument (ds), got 2")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains(sig)), s"$call: ${msgs.mkString(" | ")}")
    }
  }
}
