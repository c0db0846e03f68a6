package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Contracts of the placement/layout decision tables (q186 rendezvous
  * re-sharding, q188 shuffle-order audit, q189 z-order prune census,
  * q190 pack-budget sweep): the hash/interleave math matches independent
  * scalar references, and the structural invariants each table's READER
  * relies on (minimal movement ≡ moves-to-the-new-shard, exposure
  * monotonicity, the √ prune tradeoff, budget-ladder monotonicity) hold
  * on the real corpus. */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def q(name: String, dir: String = sf) =
    SparkEntry.queries(name)(spark, dir).collect()

  // ── independent scalar references (plain JDK MD5, no Spark) ──

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def hrwRef(docId: Long, n: Int): Long =
    (0 until n).map(sh => (h60(s"hrw$sh:$docId"), sh.toLong)).max._2

  private def zRef(a: Long, b: Long): Long =
    (0 until Maintenance.ZqBits).map(i =>
      (((a >> i) & 1L) << (2 * i + 1)) + (((b >> i) & 1L) << (2 * i))).sum

  test("q186 HRW: codegen'd graft_hrw ≡ declarative twin ≡ scalar MD5 argmax (both fleet sizes)") {
    import spark.implicits._
    val got = (0L until 200L).toDF("doc_id")
      .withColumn("s8", call_function("graft_hrw", col("doc_id"), lit(Eval.RvOld)))
      .withColumn("s9", call_function("graft_hrw", col("doc_id"), lit(Eval.RvNew)))
      .withColumn("d8", expr(Eval.hrwSpark(Eval.RvOld)))
      .withColumn("d9", expr(Eval.hrwSpark(Eval.RvNew)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.foreach { case (id, s8, s9, d8, d9) =>
      assert(s8 == hrwRef(id, Eval.RvOld), s"doc $id old-fleet shard")
      assert(s9 == hrwRef(id, Eval.RvNew), s"doc $id new-fleet shard")
      assert(s8 == d8 && s9 == d9, s"doc $id: codegen'd and declarative HRW diverge")
    }
    // the elastic step's defining property, per doc: a moved doc moves
    // ONLY to the new shard (survivor argmaxes are unchanged)
    got.foreach { case (id, s8, s9, _, _) =>
      assert(s9 == s8 || s9 == Eval.RvOld.toLong, s"doc $id moved between survivors")
    }
  }

  test("graft_hrw builder: BIGINT literal accepted; arity vs type errors distinguished (ADVICE r15)") {
    // SQL long literal (the 8L form) folds to the same loop as the INT one
    val viaLong = spark.sql(
      "SELECT graft_hrw(CAST(7 AS BIGINT), 8L) AS s").head().getLong(0)
    assert(viaLong == hrwRef(7L, 8))
    // builder errors may arrive wrapped in an AnalysisException
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // wrong arity reports arity, not a type diagnosis
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_hrw(CAST(7 AS BIGINT))").collect()
    }
    assert(msgs(e1).contains("2 arguments"), msgs(e1))
    // a non-literal / non-integral count reports the literal contract
    val e2 = intercept[Exception] {
      spark.sql(
        "SELECT graft_hrw(CAST(7 AS BIGINT), CAST(8 AS STRING))").collect()
    }
    assert(msgs(e2).contains("INT or BIGINT literal"), msgs(e2))
  }

  test("q186 corpus: moved ≡ to-new per source; rendezvous ≪ mod movement") {
    val rows = q("q186_rendezvous_reshard")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("moved_hrw") == r.getAs[Long]("to_new_hrw"),
        s"${r.getAs[String]("source")}: a doc moved between surviving shards")
    }
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val moved = rows.map(_.getAs[Long]("moved_hrw")).sum
    val movedMod = rows.map(_.getAs[Long]("moved_mod")).sum
    // expectation 1/9 ≈ 111‰; band generous to per-source hash variance
    assert(moved * 1000 / n >= 50 && moved * 1000 / n <= 200,
      s"global HRW movement ${moved * 1000 / n}‰ far from 1/${Eval.RvNew}")
    // mod-hash relocates ~8/9 of everything
    assert(movedMod * 1000 / n >= 700,
      s"global mod movement ${movedMod * 1000 / n}‰ unexpectedly low")
    assert(rows.map(_.getAs[Long]("hrw_permille")).max <
      rows.map(_.getAs[Long]("mod_permille")).min,
      "some source moved more under rendezvous than under mod")
  }

  test("q188 corpus: equal pair counts per epoch; permutation tracks the random expectation") {
    val rows = q("q188_shuffle_quality")
    assert(rows.length == Eval.SqEpochs)
    assert(rows.map(_.getAs[Long]("n_pairs")).distinct.length == 1,
      "pair count must not depend on the epoch key")
    rows.foreach { r =>
      assert(r.getAs[Long]("rep_shuffled") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("rep_sequential") <= r.getAs[Long]("n_pairs"))
    }
    val exp = rows.head.getAs[Long]("expected_permille")
    val meanSh = rows.map(_.getAs[Long]("shuffled_permille")).sum / rows.length
    assert(math.abs(meanSh - exp) <= 25,
      s"hash permutation mean $meanSh‰ strays from random expectation $exp‰")
  }

  test("q188 single-source fixture: every adjacent pair repeats, expectation saturates") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-placement").toString
    (0L until 64L).map(i => (i, "x", "xx", "only", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = q("q188_shuffle_quality", tmp)
    rows.foreach { r =>
      assert(r.getAs[Long]("expected_permille") == 1000L)
      assert(r.getAs[Long]("shuffled_permille") == 1000L)
      assert(r.getAs[Long]("sequential_permille") == 1000L)
      assert(r.getAs[Long]("rep_shuffled") == r.getAs[Long]("n_pairs"))
    }
  }

  test("q189 interleave expression matches the scalar bit reference on the full coordinate grid") {
    import spark.implicits._
    val grid = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got = grid.toDF("a", "b")
      .withColumn("z", expr(Maintenance.zInterleave("a", "b", "div")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) => assert(z == zRef(a, b), s"z($a, $b)") }
    // bijective on the grid — no two coordinates share a z-value
    assert(got.map(_._3).distinct.length == grid.length)
  }

  test("q189 corpus: z-order bounds BOTH dimensions; the sorted layout prunes only its own") {
    val rows = q("q189_zorder_prune")
    val (lang, len) = rows.partition(_.getAs[String]("dim") == "lang_bucket")
    assert(lang.nonEmpty && len.nonEmpty)
    // top-2-bits argument: a fixed coordinate pins half the range bits
    rows.foreach(r => assert(r.getAs[Long]("z_ranges") <= 4,
      s"${r.getAs[String]("dim")}=${r.getAs[Long]("v")} hit >4 z-ranges"))
    // the length-sorted layout: 1 range for its own column...
    len.foreach(r => assert(r.getAs[Long]("lensort_ranges") == 1))
    // ...and no better than z-order on the other
    lang.foreach(r =>
      assert(r.getAs[Long]("lensort_ranges") >= r.getAs[Long]("z_ranges")))
    // each probe family partitions the corpus
    val n = lang.map(_.getAs[Long]("n_rows")).sum
    assert(n == len.map(_.getAs[Long]("n_rows")).sum)
  }

  test("q190 corpus: budget ladder is monotone and internally consistent") {
    val rows = q("q190_pack_sweep")
    assert(rows.map(_.getAs[Long]("budget")).toSeq == TextOps.PackSweep)
    assert(rows.map(_.getAs[Long]("total_tokens")).distinct.length == 1,
      "total tokens must not depend on the budget")
    val packs = rows.map(_.getAs[Long]("n_packs")).toSeq
    assert(packs == packs.sorted.reverse, "pack count must shrink as budgets grow")
    val over = rows.map(_.getAs[Long]("n_oversize")).toSeq
    assert(over == over.sorted.reverse, "oversize count must shrink as budgets grow")
    rows.foreach { r =>
      assert(r.getAs[Long]("fill_permille") ==
        r.getAs[Long]("total_tokens") * 1000 /
          (r.getAs[Long]("n_packs") * r.getAs[Long]("budget")))
    }
  }
}
