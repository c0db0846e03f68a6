package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}

/** Corpus-audit family (q160/q163/q164) + fusion/truncation (q161/q162)
  * semantics: sketch algebra, PII injection accounting, waterfill
  * feasibility, fused-rank provenance. */
class AuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q160: HLL register state is bounded at m rows/group, ρ in [1, RhoCap]") {
    val reg = Audit.hllRegisters(
      Audit.gram5(Tables.load(spark, dir, "documents")), "lang", "g")
    val perGroup = reg.groupBy("grp").count().collect()
    assert(perGroup.nonEmpty)
    perGroup.foreach(r =>
      assert(r.getLong(1) <= Audit.HllM, s"${r.getString(0)}: ${r.getLong(1)} > m"))
    val Row = reg.agg(min("r"), max("r")).head()
    assert(Row.getLong(0) >= 1L && Row.getLong(1) <= Audit.RhoCap.toLong)
  }

  test("q160: registers are duplication-insensitive (max over occurrences)") {
    val g = Audit.gram5(Tables.load(spark, dir, "documents"))
    val once = Audit.hllRegisters(g, "lang", "g")
      .orderBy("grp", "idx").collect().toSeq
    val twice = Audit.hllRegisters(g.unionAll(g), "lang", "g")
      .orderBy("grp", "idx").collect().toSeq
    assert(once === twice)
  }

  test("q160: MAX-merged per-lang registers estimate EXACTLY the pooled stream") {
    // Mergeability is the sketch's contract: estimating the '__all__'
    // row from max-merged per-lang registers must equal estimating from
    // one pooled pass — same registers, bit-identical estimate.
    val g = Audit.gram5(Tables.load(spark, dir, "documents"))
    val pooled = Audit.hllEstimate(
      Audit.hllRegisters(g.withColumn("lang", lit("__all__")), "lang", "g"))
      .filter(col("grp") === "__all__").head()
    val merged = SparkEntry.queries("q160_hll_distinct")(spark, dir)
      .filter(col("lang") === "__all__").head()
    assert(pooled.getLong(1) === merged.getLong(1)) // used
    assert(pooled.getDouble(2) === merged.getDouble(2)) // est, exact
  }

  test("q160: estimate within ±15% of exact for every group (m=512 ⇒ σ≈4.6%)") {
    SparkEntry.queries("q160_hll_distinct")(spark, dir).collect().foreach { r =>
      val relErr = r.getDouble(4)
      assert(math.abs(relErr) <= 0.15,
        s"${r.getString(0)}: rel_err $relErr out of band (n_exact=${r.getLong(3)})")
    }
  }

  test("regime column flags exactly the raw estimator's small-range band") {
    // VERDICT r13 #6: every estimate-bearing row carries `regime`; the
    // flag must be a pure function of the estimates already on the row.
    SparkEntry.queries("q160_hll_distinct")(spark, dir).collect().foreach { r =>
      val expect = if (r.getDouble(2) < Audit.HllSmallRange) "small_range" else "ok"
      assert(r.getString(5) === expect, s"q160 ${r.getString(0)}")
    }
    SparkEntry.queries("q165_source_overlap_sketch")(spark, dir).collect().foreach { r =>
      val least = Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)).min
      assert(r.getString(10) ===
        (if (least < Audit.HllSmallRange) "small_range" else "ok"),
        s"q165 ${r.getString(0)}/${r.getString(1)}")
    }
    val r9 = SparkEntry.queries("q169_snapshot_novelty")(spark, dir).head()
    val l9 = Seq(r9.getDouble(0), r9.getDouble(1), r9.getDouble(2)).min
    assert(r9.getString(9) === (if (l9 < Audit.HllSmallRange) "small_range" else "ok"))
  }

  test("hllEstimate raises the small_range flag on a genuinely tiny group") {
    // 10 distinct values against m = 512 registers is deep inside the
    // band — the estimator must SAY so, not just read high quietly.
    import spark.implicits._
    val tiny = Seq.tabulate(10)(i => ("g", s"value-$i")).toDF("grp", "v")
    val est = Audit.hllEstimate(Audit.hllRegisters(tiny, "grp", "v")).head()
    assert(est.getString(3) === "small_range")
    // and the corpus gram groups sit safely outside it (the q160
    // sizing rule: gram cardinality keeps every group ≥ 2.5·m)
    SparkEntry.queries("q160_hll_distinct")(spark, dir).collect()
      .foreach(r => assert(r.getString(5) === "ok", s"${r.getString(0)}"))
  }

  test("q163: counts reproduce the injection moduli per source") {
    val got = SparkEntry.queries("q163_pii_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val expect = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("em"),
        sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)).as("ip"),
        sum(when(col("doc_id") % 9 === 0, 1L).otherwise(0L)).as("num"),
        sum(when(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0 ||
          col("doc_id") % 9 === 0, 1L).otherwise(0L)).as("any"))
      .collect()
    assert(expect.nonEmpty)
    expect.foreach { e =>
      val r = got(e.getString(0))
      assert(r.getLong(1) === e.getLong(1), "n_docs")
      assert(r.getLong(3) === e.getLong(2), s"${e.getString(0)} n_email")
      assert(r.getLong(4) === e.getLong(3), s"${e.getString(0)} n_ip")
      assert(r.getLong(5) === e.getLong(4), s"${e.getString(0)} n_num")
      assert(r.getLong(6) === e.getLong(5), s"${e.getString(0)} docs_with_pii")
    }
  }

  test("q164: waterfill is feasible, tight, and min-share maximizing") {
    val rows = SparkEntry.queries("q164_budget_waterfill")(spark, dir).collect()
    assert(rows.nonEmpty)
    val budget = rows.head.getLong(2)
    val total = rows.map(_.getLong(4)).sum
    assert(total <= budget, "allocation exceeds budget")
    assert(budget - total < rows.length.toLong,
      "floored waterfill slack must be < |sources|")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), s"${r.getString(0)}: alloc > tokens")
      if (r.getLong(5) == 1L) assert(r.getLong(4) === r.getLong(3),
        s"${r.getString(0)}: capped row must allocate exactly the water line")
      else assert(r.getLong(4) === r.getLong(1),
        s"${r.getString(0)}: full row must allocate all its tokens")
    }
    // both regimes exercised on this corpus, and every capped source gets
    // the same (maximal-minimum) share
    val (full, capped) = rows.partition(_.getLong(5) == 0L)
    assert(full.nonEmpty && capped.nonEmpty)
    assert(capped.map(_.getLong(4)).distinct.length === 1)
    // full sources sit at or below the water line (the ascending-walk
    // candidate is non-decreasing across full rows, so T_full ≤ cap)
    val cap = capped.head.getLong(3)
    full.foreach(r =>
      assert(r.getLong(1) <= cap, s"${r.getString(0)} full above water line"))
  }

  test("q161: every fused hit comes from a source list, rrf recomputes, frk dense") {
    val sp = TextOps.sparseRanked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val dn = Vectors.denseRanked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val fused = SparkEntry.queries("q161_rrf_fusion")(spark, dir).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val rs = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val rd = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(rs.isDefined || rd.isDefined, s"$key in neither list")
      assert(sp.get(key) === rs, s"$key sparse rank provenance")
      assert(dn.get(key) === rd, s"$key dense rank provenance")
      val expect = rs.map(v => 1.0 / (Vectors.RrfK + v)).getOrElse(0.0) +
        rd.map(v => 1.0 / (Vectors.RrfK + v)).getOrElse(0.0)
      assert(r.getDouble(5) === expect, s"$key rrf")
    }
    // per query: frk is 1..k and rrf non-increasing in frk
    fused.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(5) >= b.getDouble(5), s"q$qid order")
        case _ => ()
      }
    }
  }

  test("q162: full grid of (prefix, query) rows, overlap within [0, MatK]") {
    val rows = SparkEntry.queries("q162_matryoshka_fidelity")(spark, dir).collect()
    val grid = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val qids = rows.map(_.getLong(1)).distinct
    assert(qids.length === TextOps.RetrQ)
    assert(grid.size === Vectors.MatPrefixes.size * TextOps.RetrQ)
    Vectors.MatPrefixes.foreach(p =>
      qids.foreach(q => assert(grid((p.toLong, q)), s"missing ($p, $q)")))
    rows.foreach(r => assert(r.getLong(2) >= 0L && r.getLong(2) <= Vectors.MatK.toLong))
  }

  test("q165: union dominance, jaccard in [0,1], sketch error bounded") {
    val rows = SparkEntry.queries("q165_source_overlap_sketch")(spark, dir).collect()
    val nSrc = Tables.load(spark, dir, "documents").select("source").distinct().count()
    assert(rows.length === (nSrc * (nSrc - 1) / 2), "one row per unordered source pair")
    rows.foreach { r =>
      val (ea, eb, eu) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // max-merge can only raise registers ⇒ the union estimate dominates
      assert(eu >= math.max(ea, eb) - 1e-9, s"${r.getString(0)}/${r.getString(1)} union < part")
      val jac = r.getDouble(5)
      assert(jac >= 0.0 && jac <= 1.0)
      assert(r.getDouble(9) <= 0.2,
        s"${r.getString(0)}/${r.getString(1)}: jac_err ${r.getDouble(9)} out of band")
    }
  }

  test("q166: novelty curve is monotone in width; n=8 totals match gramRows") {
    val rows = SparkEntry.queries("q166_novelty_curve")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Audit.NovWidths.map(_.toLong))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) > b.getLong(1), "total grams shrink with width")
        assert(a.getDouble(4) <= b.getDouble(4) + 1e-12, "type/token ratio grows with width")
        assert(a.getDouble(5) >= b.getDouble(5) - 1e-12, "cross-doc share shrinks with width")
      case _ => ()
    }
    val g8 = Dedup.gramRows(Tables.load(spark, dir, "documents")).count()
    assert(rows.last.getLong(1) === g8, "n=8 occurrences must equal the q148 gram stream")
    // r14 sketch twin: per-width est within the m=512 band whenever the
    // width is out of the small-range regime, rel_err self-consistent,
    // and register state bounded at |widths| × m.
    rows.foreach { r =>
      val (nd, est, relErr) = (r.getLong(2), r.getDouble(7), r.getDouble(8))
      assert(relErr === (est - nd.toDouble) / nd.toDouble, s"n=${r.getLong(0)} rel_err")
      assert(r.getLong(6) <= Audit.HllM.toLong, s"n=${r.getLong(0)} used > m")
      if (r.getString(9) == "ok")
        assert(math.abs(relErr) <= 0.15, s"n=${r.getLong(0)}: rel_err $relErr")
    }
    val state = Audit.hllRegistersFromHash(
      Audit.noveltyOcc(Tables.load(spark, dir, "documents")), "n", "gh").count()
    assert(state <= Audit.NovWidths.size.toLong * Audit.HllM)
  }

  test("q167: provenance cells tile exactly the q148 covered occurrences") {
    val docs = Tables.load(spark, dir, "documents")
    val gr = Dedup.gramRows(docs)
    val firstDoc = gr.groupBy("gh")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("gh", "first_doc")
    val covered = gr.join(firstDoc, Seq("gh"))
      .filter(col("doc_id") > col("first_doc")).count()
    val rows = SparkEntry.queries("q167_strip_provenance")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture must contain cross-doc spans")
    assert(rows.map(_.getLong(2)).sum === covered,
      "matrix cells must partition the covered-occurrence set")
    rows.foreach(r => assert(r.getLong(3) >= 1L && r.getLong(4) >= 1L))
  }

  test("q168: exactly the systematic point count, multiplicity bounded by length") {
    val rows = SparkEntry.queries("q168_weighted_sample")(spark, dir).collect()
    assert(rows.nonEmpty)
    val t = Tables.load(spark, dir, "documents")
      .select(size(split(trim(col("text")), " ")).cast("long").as("tk"))
      .agg(sum("tk")).head().getLong(0)
    val stride = math.max(t / Audit.SampleK, 1L)
    val off = stride / 2
    // points at off + j·stride inside (0, tot]: their count must equal
    // the total multiplicity the sample carries
    val expectPts = (t - off) / stride + 1
    assert(rows.map(_.getLong(3)).sum === expectPts)
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L)
      assert(r.getLong(3) <= r.getLong(1) / stride + 1L,
        s"doc ${r.getLong(0)}: multiplicity exceeds its token span")
    }
    // replay-identical (no RNG anywhere)
    val again = SparkEntry.queries("q168_weighted_sample")(spark, dir).collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("q169: union dominates parts; novelty estimate within the sketch band") {
    val r = SparkEntry.queries("q169_snapshot_novelty")(spark, dir).head()
    val (ea, eb, eu) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(eu >= math.max(ea, eb) - 1e-9)
    assert(r.getDouble(3) >= 0.0)
    assert(r.getDouble(8) <= 0.15,
      s"novelty sketch error ${r.getDouble(8)} vs union out of band")
  }

  test("q170: rank mass conserved within floor slack; authority follows in-links") {
    val rows = SparkEntry.queries("q170_source_authority")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    // every floor loses < 1 unit; per round that is < (nodes + edges + 2)
    // units of 1e-9 mass — far under 1% over 10 rounds
    assert(total <= Audit.RankScale)
    assert(total >= (Audit.RankScale * 0.99).toLong, s"mass leaked: $total")
    // the graph is non-trivial and authority discriminates
    val byAuth = rows.sortBy(-_.getLong(1))
    assert(byAuth.head.getLong(1) > byAuth.last.getLong(1))
    // the top-authority source is actually shadowed by someone
    assert(byAuth.head.getLong(2) > 0L, "top authority has no in-links")
    // an un-shadowed, non-shadowing source sits at the uniform baseline:
    // its authority can only come from the teleport + dangling terms
    val iso = rows.filter(r => r.getLong(2) == 0L)
    iso.foreach(r => assert(r.getLong(1) < byAuth.head.getLong(1)))
  }

  test("authority share build is overflow-safe at near-2^63 edge weights (VERDICT r14 #3)") {
    import spark.implicits._
    // One hot mirror pair whose weight sits where the old unguarded
    // w * ShareScale product would wrap (w ≈ 8.1e18 ≫ 9.2e12), plus a
    // small source whose shares exercise the exact branch. The reference
    // below replays the SAME integer recurrence in BigInt (which cannot
    // wrap): any silent long overflow in the plan would diverge.
    val big = 8100000000000000000L
    val edges = Seq(
      ("mirror", "origin", big),
      ("a", "origin", 3L), ("a", "b", 1L)).toDF("src", "dst", "w")
    val nodes = Seq("origin", "mirror", "a", "b").toDF("source")
    val got = Audit.authority(edges, nodes).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    val S = BigInt(Audit.ShareScale)
    def share(w: BigInt, ow: BigInt): BigInt =
      if (ow <= S * S) (w * S) / ow else w / (ow / S)
    val ew = Map(("mirror", "origin") -> BigInt(big),
      ("a", "origin") -> BigInt(3), ("a", "b") -> BigInt(1))
    val outw = ew.groupMapReduce(_._1._1)(_._2)(_ + _)
    val sh = ew.map { case ((s, d), w) => (s, d) -> share(w, outw(s)) }
    val ns = Seq("origin", "mirror", "a", "b")
    val n = BigInt(ns.size)
    var r = ns.map(_ -> BigInt(Audit.RankScale) / n).toMap
    for (_ <- 1 to Audit.RankRounds) {
      val dm = ns.filterNot(outw.contains).map(r).sum
      val contrib = sh.toSeq
        .map { case ((s, d), v) => d -> (r(s) * v) / S }
        .groupMapReduce(_._1)(_._2)(_ + _)
      r = ns.map(s => s -> (((BigInt(Audit.RankScale) / n) * 15) / 100 +
        (85 * (contrib.getOrElse(s, BigInt(0)) + dm / n)) / 100)).toMap
    }
    val inw = ew.groupMapReduce(_._1._2)(_._2)(_ + _)
    val want = ns.map(s => s -> (
      r(s).toLong, inw.getOrElse(s, BigInt(0)).toLong,
      outw.getOrElse(s, BigInt(0)).toLong)).toMap
    assert(got === want)
    // the hot-pair share survived on-scale: mirror endorses origin fully
    assert(sh(("mirror", "origin")) === S)
    assert(got("origin")._1 === got.values.map(_._1).max)
  }

  test("q162: a prefix covering the full dimension overlaps MatK everywhere") {
    // Self-consistency of the machinery: ranking by the re-normalized
    // 64-prefix (the whole vector) must reproduce the full ranking.
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"),
      call_function("graft_l2norm", col("e")).as("enf"),
      call_function("graft_l2norm", expr("slice(e, 1, 10000)")).as("enp"))
    val q = emb.filter(col("vec_id") < TextOps.RetrQ).select(
      col("vec_id").as("qid"), col("enf").as("qnf"), col("enp").as("qnp"))
    val both = emb.filter(col("vec_id") >= TextOps.RetrQ)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        expr("cast(floor(1.0e9 * graft_dot(enf, qnf)) AS bigint)").as("sf"),
        expr("cast(floor(1.0e9 * graft_dot(enp, qnp)) AS bigint)").as("sp"))
      .collect()
    both.foreach(r => assert(r.getLong(2) === r.getLong(3)))
  }

  test("q187: doubling widths nest — exposure is non-increasing; base rung ties out to q185") {
    val ladder = SparkEntry.queries("q187_kanon_generalize")(spark, dir).collect()
    assert(ladder.map(_.getAs[Long]("bin_w")).toSeq == Audit.KAnonWidths)
    // each 2w-cell is the union of two w-cells, so a merged cell is
    // exposed only if both halves were — docs and cells can only shrink
    val docs = ladder.map(_.getAs[Long]("n_exposed_docs")).toSeq
    assert(docs == docs.sorted.reverse, s"exposure grew up the ladder: $docs")
    val cells = ladder.map(_.getAs[Long]("n_cells")).toSeq
    assert(cells == cells.sorted.reverse)
    // rung KAnonBinW is exactly q185's audit, re-aggregated
    val base = SparkEntry.queries("q185_kanon_audit")(spark, dir).collect()
    val r64 = ladder.find(_.getAs[Long]("bin_w") == Audit.KAnonBinW).get
    assert(r64.getAs[Long]("n_cells") == base.length)
    assert(r64.getAs[Long]("n_exposed_docs") ==
      base.filter(_.getAs[Long]("exposed") == 1L).map(_.getAs[Long]("n_docs")).sum)
  }

  test("q191: noise matches a scalar tz reference per cell; suppression ≡ q185's exposed set") {
    def tzRef(msg: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(msg.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(d.take(15), 16)
      if (h == 0L) Audit.DpTzCap.toLong
      else math.min(java.lang.Long.numberOfTrailingZeros(h), Audit.DpTzCap).toLong
    }
    val rel = SparkEntry.queries("q191_dp_release")(spark, dir).collect()
    val exposed = SparkEntry.queries("q185_kanon_audit")(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("len_bucket")) ->
        (r.getAs[Long]("exposed") == 1L)).toMap
    assert(rel.length == exposed.size)
    rel.foreach { r =>
      val (lang, b, n) = (r.getAs[String]("lang"), r.getAs[Long]("len_bucket"),
        r.getAs[Long]("n_docs"))
      val want = tzRef(s"${Audit.DpSalt}1:$lang:$b") - tzRef(s"${Audit.DpSalt}2:$lang:$b")
      assert(r.getAs[Long]("noise") == want, s"cell ($lang, $b) noise")
      assert(math.abs(r.getAs[Long]("noise")) <= Audit.DpTzCap)
      val released = r.getAs[Long]("released")
      if (exposed((lang, b))) assert(released == -1L, s"cell ($lang, $b) must suppress")
      else assert(released == math.max(n + want, 0L), s"cell ($lang, $b) release")
    }
  }
}
