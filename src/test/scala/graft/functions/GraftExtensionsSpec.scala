package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make every engine function resolvable in plain
  * SQL with no imperative registration, and `graft.Sessions.builder` must
  * install it. Extensions are applied when a SparkSession is created, so
  * inside the shared-context test JVM each test builds a fresh session on
  * the shared SparkContext (cleared default and active session, restored
  * afterwards). Every test touches `SharedSpark.spark` first, so the shared
  * session exists before any fresh one and never picks up a fresh session's
  * `local[1]` settings. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Builds a session with `b` as the JVM's only session, runs `f` on it,
    * then restores the previous default and active sessions. */
  private def withFreshSession[T](b: => SparkSession.Builder)(f: SparkSession => T): T = {
    graft.SharedSpark.spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try f(b.getOrCreate())
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("withExtensions(GraftExtensions) injects graft_dot into a fresh session") {
    withFreshSession(SparkSession.builder()
        .master("local[1]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")) { spark =>
      val got = spark.sql(
        "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .head().getDouble(0)
      assert(got === (4.0 + 10.0 + 18.0))
    }
  }

  test("a Sessions.builder session and its newSession() resolve every GraftFunctions.table name") {
    // No register call anywhere: the functions come from Sessions alone.
    val names = GraftFunctions.table.map(_._1)
    assert(Set("graft_topk", "graft_levenshtein", "graft_bucket_pairs").subsetOf(names.toSet))
    withFreshSession(graft.Sessions.builder("local[1]", 1)) { spark =>
      for (s <- Seq(spark, spark.newSession()); name <- names)
        assert(s.catalog.functionExists(name), s"$name does not resolve")
      assert(spark.newSession().sql("SELECT graft_hash60('a')").head().getLong(0) ===
        spark.sql("SELECT cast(conv(substr(md5('a'), 1, 15), 16, 10) AS bigint)")
          .head().getLong(0))
    }
  }

  test("wrong arity of the pair kernels is a clean error naming the signature") {
    val spark = graft.SharedSpark.spark
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
