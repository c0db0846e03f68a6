package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}

/** The persisted-index contract: a batch deduped against the SAVED LSH
  * state must equal the in-query q80 result; an IVF probe over the SAVED
  * index must equal the in-query q34 result; and appending a batch to the
  * store must equal rebuilding the store over the union — so the one-time
  * corpus build really is one-time. */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-idx-$tag").toString

  test("incremental dedup over the persisted LSH index == in-query q80") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val path = tmp("lsh")
    IndexStore.saveLshIndex(standing, path)
    val got = IndexStore.incrementalDedup(batch,
        IndexStore.loadLshBands(spark, path),
        IndexStore.loadLshShingles(spark, path))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getInt(2)))

    val want = SparkEntry.queries("q80_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getInt(2)))

    assert(got.length === want.length)
    assert(got.sameElements(want))
  }

  test("appendLshBatch == rebuilding the index over the union") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val incr = tmp("lsh-incr")
    IndexStore.saveLshIndex(standing, incr)
    IndexStore.appendLshBatch(batch, incr)
    val full = tmp("lsh-full")
    IndexStore.saveLshIndex(docs, full)

    def bandSet(p: String) = IndexStore.loadLshBands(spark, p)
      .select("doc_id", "bi", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def shSet(p: String) = IndexStore.loadLshShingles(spark, p)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    assert(bandSet(incr) === bandSet(full))
    assert(shSet(incr) === shSet(full))
  }

  test("IVF search over the persisted index == in-query q34") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("ivf")
    IndexStore.saveIvfIndex(emb, path)

    val got = IndexStore.searchIvf(spark, path, queryVecId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = SparkEntry.queries("q34_ivf_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want))
  }

  test("familiarity against the self-built persisted LM == in-query q84") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("lm")
    IndexStore.saveUnigramLM(docs, path)
    val got = IndexStore.familiarity(docs, path).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = SparkEntry.queries("q84_unigram_familiarity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("familiarity over the persisted slice LM == q86's covered-word score") {
    // q86's reference slice (doc_id % 5 = 0) persisted via IndexStore, then
    // the whole corpus scored against the store: familiarity must equal
    // q86's for every doc the LM covers (q86's LEFT join additionally
    // keeps fully-OOV docs at familiarity 0 — exactly the rows the inner
    // join drops).
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("lm-slice")
    IndexStore.saveUnigramLM(docs.filter(col("doc_id") % 5 === 0), path)
    val got = IndexStore.familiarity(docs, path).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val q86 = SparkEntry.queries("q86_reference_familiarity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val want = q86.filter(_._2 > 0).map(t => (t._1, t._3))
    assert(got.sameElements(want))
    assert(q86.length >= got.length)
  }

  test("familiarity against a foreign LM scores only LM-covered words") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta delta")).toDF("doc_id", "text")
    val lmDocs = Seq((9L, "alpha alpha beta")).toDF("doc_id", "text")
    val path = tmp("lm-foreign")
    IndexStore.saveUnigramLM(lmDocs, path)
    val got = IndexStore.familiarity(docs, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // doc 1: alpha(2) + beta(1) seen, gamma unseen → sumc 3, nw 2, tot 3;
    // doc 2: no word in the LM → no row (inner-join semantics, like q84).
    assert(got === List((1L, 3L, 3.0 / 2 / 3)))
  }

  test("persisted pair-index buckets round-trip the in-query index exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("pairs")
    IndexStore.savePairIndex(docs, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getSeq[Long](1).toList)).toSet
    // ds order matters (bucketPairs emits a < b off the sorted array), so
    // compare the arrays verbatim, not as sets.
    assert(rows(IndexStore.loadPairBuckets(spark, path))
      === rows(Dedup.dfCappedBuckets(docs)))
  }

  test("appendPairBatch == rebuilding the pair index over the union") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val incr = tmp("pairs-incr")
    IndexStore.savePairIndex(standing, incr)
    IndexStore.appendPairBatch(batch, incr)
    val full = tmp("pairs-full")
    IndexStore.savePairIndex(docs, full)

    // Audit-visible buckets must be EXACTLY equal: under-cap lists union
    // completely; over-cap markers are dropped by the loader either way.
    def rows(p: String) = IndexStore.loadPairBuckets(spark, p)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toList)).toSet
    assert(rows(incr) === rows(full))

    // And so must every audit derived from them.
    def pairRows(p: String) =
      Dedup.jaccardPairsFrom(IndexStore.loadPairBuckets(spark, p))
        .orderBy("a", "b").collect().map(_.toSeq.toList).toList
    assert(pairRows(incr) === pairRows(full))
  }

  test("winnow pairs over the persisted index == in-query q118; append == rebuild") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("winnow")
    IndexStore.saveWinnowIndex(docs, path)
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").collect().map(_.toSeq.toList).toList
    assert(pairRows(Dedup.winnowPairsFrom(IndexStore.loadWinnowBuckets(spark, path)))
      === pairRows(Dedup.winnowPairs(docs)))
    // The store-served audit never touches corpus text.
    val plan = Dedup.winnowPairsFrom(IndexStore.loadWinnowBuckets(spark, path))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan)
    assert(!plan.contains("split(trim("), plan)

    // Incremental build lands on the identical audit-visible index.
    val incr = tmp("winnow-incr")
    IndexStore.saveWinnowIndex(docs.filter(col("doc_id") % 4 =!= 0), incr)
    IndexStore.appendWinnowBatch(docs.filter(col("doc_id") % 4 === 0), incr)
    def rows(p: String) = IndexStore.loadWinnowBuckets(spark, p)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    assert(rows(incr) === rows(path))
  }

  test("incremental winnow audit off the store == the direct standing-vs-batch twin") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val path = tmp("winnow-batch")
    IndexStore.saveWinnowIndex(standing, path)
    val audit = IndexStore.winnowAuditBatch(batch, path)
    val got = audit.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // In-memory reference with the same standing-df stop-fingerprint gate.
    val sFps = Dedup.winnowFps(standing)
      .select(col("doc_id").as("a"), explode(col("fps")).as("fp"))
    val good = sFps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= Dedup.MaxDf).select("fp")
    val bFps = Dedup.winnowFps(batch)
      .select(col("doc_id").as("b"), explode(col("fps")).as("fp"))
    val want = sFps.join(good, Seq("fp")).join(bFps, Seq("fp"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= Dedup.WinnowMinShared)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty, "no cross-partition planted dups — split choice broken")
    // The standing corpus's TEXT is never re-read: the only documents scan
    // in the audit plan is the batch's own.
    // (logical plan — the physical string prints AQE initial+final twins)
    val plan = audit.queryExecution.optimizedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans <= 1, s"standing text re-read: $docScans documents scans\n$plan")
  }

  test("store-backed audit plan reads ONLY the bucket table, never corpus text") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("pairs-plan")
    IndexStore.savePairIndex(docs, path)
    val plan = Dedup.jaccardPairsFrom(IndexStore.loadPairBuckets(spark, path))
      .queryExecution.executedPlan.toString
    // The floor-free claim: no documents scan, no shingle derivation —
    // every FileScan in the audit plan is the persisted bucket table.
    assert(!plan.contains("documents.parquet"), plan)
    assert(!plan.contains("split(trim("), plan)
    assert(plan.contains("buckets"), plan)
  }

  test("jaccard/containment pairs over the persisted bucket table == in-query") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("pairs-jac")
    IndexStore.savePairIndex(docs, path)
    val buckets = IndexStore.loadPairBuckets(spark, path)
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").collect().map(_.toSeq.toList).toList
    assert(pairRows(Dedup.jaccardPairsFrom(buckets))
      === pairRows(Dedup.jaccardPairs(docs)))
    assert(pairRows(Dedup.containmentPairsFrom(buckets))
      === pairRows(Dedup.containmentPairs(docs)))
    assert(pairRows(Dedup.interPairsFrom(buckets))
      === pairRows(Dedup.interPairs(docs)))
  }

  test("ADC search over the persisted PQ codes == in-query q88") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("pq")
    IndexStore.savePqIndex(emb, path)
    val got = IndexStore.searchPq(emb, path, queryVecId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = SparkEntry.queries("q88_pq_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want))
  }

  test("appendPqBatch codes against the frozen codebook == full-corpus codes") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val standing = emb.filter(col("vec_id") % 4 =!= 1)
    val batch = emb.filter(col("vec_id") % 4 === 1)
    val path = tmp("pq-incr")
    IndexStore.savePqIndex(standing, path)
    IndexStore.appendPqBatch(batch, path)
    // Codes of appended vectors must equal coding the same vectors against
    // the standing codebook directly (the frozen-codebook contract).
    val cb = spark.read.parquet(s"$path/pq/codebook")
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet
    val stored = codeSet(spark.read.parquet(s"$path/pq/codes"))
    val direct = codeSet(Vectors.pqAssign(emb, cb))
    assert(stored === direct)
  }

  test("ADC re-rank depth is honored and corpus-scaled (the 2M recall-0 fix)") {
    // The r11 2M certification found recall@5 = 0.0: duplicate clusters
    // saturate the ADC score into ties wider than a constant re-rank
    // depth. The fix scales depth with the code table (max(100, n/2000));
    // this pins the parameter's mechanics at unit scale: an explicit
    // depth of 1 feeds the exact re-rank exactly one candidate, while a
    // generous depth reproduces the default's answer.
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("pq-rerank")
    IndexStore.savePqIndex(emb, path)
    val starved = IndexStore.searchPq(emb, path, 0L, 5, rerank = 1).collect()
    assert(starved.length === 1, "rerank=1 must leave exactly one candidate")
    // Depth >= corpus means the "approx" stage passes EVERYTHING to the
    // exact re-rank — the result must be the brute-force exact top-5
    // (this is precisely the property that makes a too-shallow depth the
    // only possible recall leak, and what the 2M fix widens with n).
    val deep = IndexStore.searchPq(emb, path, 0L, 5, rerank = 1000000)
      .collect().map(_.getLong(0)).toSeq
    val qn = emb.filter(col("vec_id") === 0L).limit(1).select(col("en").as("qn"))
    val exact = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qn))
      .select(col("vec_id"), Vectors.dot(col("en"), col("qn")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(deep === exact, "full-depth re-rank must equal brute force")
  }

  test("multi-probe IVF search over the persisted index == in-query q77") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("ivf-mp")
    IndexStore.saveIvfIndex(emb, path)
    val got = IndexStore.searchIvfProbed(spark, path, queryVecId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = SparkEntry.queries("q77_ivf_multiprobe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want))
  }

  test("IVFPQ probing every coarse cell == the flat searchPq scan") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("ivfpq")
    IndexStore.saveIvfPqIndex(emb, path)
    IndexStore.savePqIndex(emb, path)
    val nCells = spark.read.parquet(s"$path/ivfpq/coarse")
      .selectExpr("size(cc)").collect()(0).getInt(0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // Same whole-corpus codebook, same codes: scanning all cells IS the
    // flat scan, bit for bit.
    assert(hits(IndexStore.searchIvfPq(emb, path, 0L, 5, nCells))
      .sameElements(hits(IndexStore.searchPq(emb, path, 0L, 5))))
    // A real (partial) probe still lands >= 3 of the exact top-5 here.
    val exact = hits(SparkEntry.queries("q25_knn_bruteforce")(spark, sf))
      .map(_._1).toSet
    val probed = hits(IndexStore.searchIvfPq(emb, path, 0L, 5, 2))
      .map(_._1).toSet
    assert((probed intersect exact).size >= 3,
      s"probe-2 recall too low: $probed vs $exact")
  }

  test("IVFPQ code table prunes to the probed coarse-cell partitions") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("ivfpq-prune")
    IndexStore.saveIvfPqIndex(emb, path)
    val codes = spark.read.parquet(s"$path/ivfpq/codes")
    val someCcid = codes.select(col("ccid").cast("long")).limit(1)
      .collect()(0).getLong(0)
    val plan = codes.filter(col("ccid") === someCcid)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ccid[^\\]]*\\].*"),
      s"expected a ccid partition filter in:\n$plan")
  }

  test("persisted IVF vector table prunes to the probed coarse-cell partition") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val path = tmp("ivf-prune")
    IndexStore.saveIvfIndex(emb, path)
    val (assigned, _, _) = IndexStore.loadIvfIndex(spark, path)
    // A literal ccid filter must reach the scan as a partition filter: the
    // pruned read is what makes per-probe IO N^(3/4)-ish, not O(N).
    val someCcid = assigned.select("ccid").limit(1).collect()(0).getLong(0)
    val plan = assigned.filter(col("ccid") === someCcid)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ccid[^\\]]*\\].*"),
      s"expected a ccid partition filter in:\n$plan")
  }

  test("phash batch dedup over the persisted index == the in-memory twin") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val path = tmp("phash")
    IndexStore.savePhashIndex(standing, path)
    val got = IndexStore.phashDedupBatch(batch, path)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getInt(2)))

    // Independent twin: same decision computed from in-memory band rows
    // (standing side never persisted).
    val sbx = Multimodal.phashBandRows(
      Multimodal.phashGrid(standing).localCheckpoint(true))
    val bbx = Multimodal.phashBandRows(
      Multimodal.phashGrid(batch).localCheckpoint(true))
    val candCorpus = sbx.as("x").join(bbx.as("y"),
        col("x.bi") === col("y.bi") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("a"), col("x.pixels").as("pa"),
        col("y.doc_id").as("b"), col("y.pixels").as("pb"))
    val candBatch = bbx.as("x").join(bbx.as("y"),
        col("x.bi") === col("y.bi") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.pixels").as("pa"),
        col("y.doc_id").as("b"), col("y.pixels").as("pb"))
    val dup = candCorpus.unionByName(candBatch).distinct()
      .filter(Multimodal.phashHamming("pa", "pb") <= Multimodal.PhashHamTau)
      .groupBy(col("b").as("doc_id")).agg(min("a").as("dup_of"))
    val want = batch.select("doc_id")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0).as("keep"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), r.getInt(2)))

    assert(got.length === want.length)
    assert(got.sameElements(want))
    // The audit must flag something at this sf (near-dups exist) or the
    // test is vacuous.
    assert(got.exists(_._3 == 0), "no batch doc flagged — vacuous fixture")
  }

  test("replayed batch docs never self-match (phash + LSH store dedup)") {
    // r10 ADVICE: a batch re-run against an index it was already folded
    // into (--append-kept then re-dedupe) found each doc at Hamming 0 /
    // Jaccard 1 against ITSELF and flagged it dup_of = own id. The a != b
    // guard must make replays behave exactly like the streaming twins'
    // mid != id rule: a replayed doc may be a dup of a DIFFERENT standing
    // doc, never of itself.
    val docs = Tables.load(spark, sf, "documents")
    val replay = docs.filter(col("doc_id") % 4 === 0)

    val pp = tmp("phash-replay")
    IndexStore.savePhashIndex(docs, pp) // the batch's ids ALREADY stand
    val pv = IndexStore.phashDedupBatch(replay, pp).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(pv.nonEmpty)
    pv.foreach { case (id, dupOf) =>
      assert(!dupOf.contains(id), s"phash: doc $id flagged dup of itself")
    }

    val lp = tmp("lsh-replay")
    IndexStore.saveLshIndex(docs, lp)
    val lv = IndexStore.incrementalDedup(replay,
        IndexStore.loadLshBands(spark, lp), IndexStore.loadLshShingles(spark, lp))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
    assert(lv.nonEmpty)
    lv.foreach { case (id, dupOf) =>
      assert(!dupOf.contains(id), s"lsh: doc $id flagged dup of itself")
    }
  }

  test("phash index saturation meter counts hot buckets and residual sub fan-in") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("phash-sat")
    IndexStore.savePhashIndex(docs, path)
    val r = IndexStore.phashIndexSaturation(spark, path).head()
    val bands = IndexStore.loadPhashBands(spark, path)
    val sizes = bands.groupBy("bi", "key").count()
    val wantTotal = sizes.count()
    val wantMax = sizes.agg(max("count")).head().getLong(0)
    assert(r.getLong(0) === wantTotal)
    assert(r.getLong(2) === wantMax)
    assert(r.getLong(3) === bands.count()) // total_rows
    // residual sub fan-in never exceeds the raw fan-in; saturation in [0,1]
    assert(r.getLong(5) <= wantMax)
    assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    // hot accounting is internally consistent
    assert((r.getLong(1) == 0L) === (r.getLong(4) == 0L))
  }

  test("appendPhashBatch == rebuilding the phash index over the union") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val incr = tmp("phash-incr")
    IndexStore.savePhashIndex(standing, incr)
    IndexStore.appendPhashBatch(batch, incr)
    val full = tmp("phash-full")
    IndexStore.savePhashIndex(docs, full)

    def bandSet(p: String) = IndexStore.loadPhashBands(spark, p)
      .select("doc_id", "bi", "key", "pixels").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    def gridSet(p: String) = IndexStore.loadPhashGrid(spark, p)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    assert(bandSet(incr) === bandSet(full))
    assert(gridSet(incr) === gridSet(full))
  }

  test("crossdocStripBatch over the persisted gram index == in-query q148 on the batch slice") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    val path = tmp("grams")
    IndexStore.saveGramIndex(standing, path)
    val got = IndexStore.crossdocStripBatch(batch,
        IndexStore.loadGramIndex(spark, path))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))

    val want = Dedup.crossdocStrip(docs)
      .filter(col("doc_id") % 4 === 0).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))

    assert(got.length === want.length && got.length > 0)
    assert(got.sameElements(want))
  }

  test("gram index: appends min-combine on read; replayed batch docs never self-cover") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"g$i").mkString(" ")
    val standing = Seq((2L, s"own prose one $span trailing words here padding"),
        (3L, "unrelated standing document with plenty of distinct words inside"))
      .toDF("doc_id", "text")
    val path = tmp("grams-replay")
    IndexStore.saveGramIndex(standing, path)
    // append a KEPT batch, then replay the same doc as a new batch
    val kept = Seq((8L, s"later copy embeds $span within different framing text"))
      .toDF("doc_id", "text")
    IndexStore.appendGramBatch(kept, path)
    val idx = IndexStore.loadGramIndex(spark, path)
    // duplicate gh rows exist for the span grams (standing + appended):
    val dupGh = idx.groupBy("gh").count().filter(col("count") > 1).count()
    assert(dupGh > 0, "expected append-duplicate gh rows")
    val replay = IndexStore.crossdocStripBatch(kept, idx)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    // doc 8's non-span grams min-combine to first_doc = 8 (its own append):
    // strict > means they never cover; the span grams still strip (first
    // occurrence is standing doc 2).
    assert(replay.toSeq === Seq((8L,
      Some("later copy embeds within different framing text"), 12L)))
  }

  test("shadowMatrixFrom over the persisted provenance store == in-query shadowMatrix") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("prov")
    IndexStore.saveProvenanceIndex(docs, path)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_later", "src_first").collect()
        .map(_.toSeq.toList).toList
    assert(cells(IndexStore.shadowMatrixFrom(spark, path))
      === cells(Audit.shadowMatrix(docs)))
    // and the store still serves the q151 strip contract (one build, two
    // consumers — the whole point of extending the gram store)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val got = IndexStore.crossdocStripBatch(batch,
        IndexStore.loadGramIndex(spark, path))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    assert(got.nonEmpty)
  }

  test("provenance/authority store plans read ONLY the store, never corpus text") {
    // VERDICT r13 #1's done-criterion: the executed plan of the
    // from-store matrix (and of the authority edge build on top of it)
    // contains no documents scan and no gram derivation — every FileScan
    // is a persisted store table.
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("prov-plan")
    IndexStore.saveProvenanceIndex(docs, path)
    val mPlan = IndexStore.shadowMatrixFrom(spark, path)
      .queryExecution.executedPlan.toString
    assert(!mPlan.contains("documents.parquet"), mPlan)
    assert(!mPlan.contains("split(trim("), mPlan)
    assert(mPlan.contains("postings") && mPlan.contains("index"), mPlan)
    val aPlan = Audit.authority(
        IndexStore.shadowMatrixFrom(spark, path)
          .select(col("src_later").as("src"), col("src_first").as("dst"),
            col("n_grams").as("w")),
        IndexStore.loadDocSources(spark, path).select("source").distinct())
      .queryExecution.executedPlan.toString
    assert(!aPlan.contains("documents.parquet"), aPlan)
  }

  test("appendProvenanceBatch == rebuilding the provenance store over the union") {
    val docs = Tables.load(spark, sf, "documents")
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val incr = tmp("prov-incr")
    IndexStore.saveProvenanceIndex(standing, incr)
    IndexStore.appendProvenanceBatch(batch, incr)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_later", "src_first").collect()
        .map(_.toSeq.toList).toList
    // the appended store's matrix equals the in-query matrix over the
    // full corpus — appends lose nothing (index rows min-combine on
    // read, postings are disjoint per (gh, doc))
    assert(cells(IndexStore.shadowMatrixFrom(spark, incr))
      === cells(Audit.shadowMatrix(docs)))
  }

  test("compactGramIndex: reports unchanged bit-for-bit, duplicate index rows gone, fewer files") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("prov-compact")
    // Standing build + three appends: re-seen grams now hold up to four
    // (gh, first_doc) rows and each touched pfx partition up to four files.
    IndexStore.saveProvenanceIndex(docs.filter(col("doc_id") % 4 === 1), path)
    (2 to 4).foreach { r =>
      IndexStore.appendProvenanceBatch(
        docs.filter(col("doc_id") % 4 === r % 4), path)
    }
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_later", "src_first").collect()
        .map(_.toSeq.toList).toList
    def files(sub: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$path/$sub"))
        .filter(p => p.toString.endsWith(".parquet")).count()
    val matrixBefore = cells(IndexStore.shadowMatrixFrom(spark, path))
    val rowsBefore = IndexStore.loadGramIndex(spark, path).count()
    val distinctGh = IndexStore.loadGramIndex(spark, path)
      .select("gh").distinct().count()
    val filesBefore = files("grams/index")
    assert(rowsBefore > distinctGh, "fixture must contain duplicate gh rows")

    IndexStore.compactGramIndex(spark, path)

    assert(cells(IndexStore.shadowMatrixFrom(spark, path)) === matrixBefore)
    assert(IndexStore.loadGramIndex(spark, path).count() === distinctGh)
    assert(files("grams/index") < filesBefore)
    // The q151 strip contract is still served off the compacted store.
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    assert(IndexStore.crossdocStripBatch(batch,
      IndexStore.loadGramIndex(spark, path)).count() === batch.count())
  }

  test("from-store authority == in-query q170 bit-for-bit") {
    val got = graft.SparkEntry.queries("q172_authority_from_store")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val want = graft.SparkEntry.queries("q170_source_authority")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(got === want && got.nonEmpty)
  }

  private def parquetFiles(path: String, sub: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$path/$sub"))
      .filter(p => p.toString.endsWith(".parquet")).count()

  test("store builds write at cluster parallelism, not |pfx| width (VERDICT r14 #1)") {
    // repartition(col("pfx")) capped every build at <= 64 writer tasks; the
    // widened build hashes on (pfx, gh) at spark.sql.shuffle.partitions —
    // a child session pins 96 here and a stage with 96 tasks must appear,
    // while the written store stays bit-identical to the direct derivation.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "96")
    val docs = Tables.load(s2, sf, "documents")
    val path = tmp("wide-build")
    val stages = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IndexStore.saveGramIndex(docs, path)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          !stages.values.exists(_ >= 96)) Thread.sleep(100)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stages.values.exists(_ >= 96),
      s"no build stage ran at >= 96 tasks: ${stages.values.toList.sorted}")
    def idx(df: org.apache.spark.sql.DataFrame) =
      df.select("gh", "first_doc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idx(IndexStore.loadGramIndex(spark, path))
      === idx(Dedup.gramRows(Tables.load(spark, sf, "documents"))
        .groupBy("gh").agg(min("doc_id").as("first_doc"))))
  }

  test("compactLshIndex: dedup verdicts bit-identical, fewer files") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("lsh-compact")
    IndexStore.saveLshIndex(docs.filter(col("doc_id") % 3 === 0), path)
    IndexStore.appendLshBatch(docs.filter(col("doc_id") % 3 === 1), path)
    IndexStore.appendLshBatch(docs.filter(col("doc_id") % 3 === 2), path)
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      .localCheckpoint(true)
    def verdicts() = IndexStore.incrementalDedup(batch,
        IndexStore.loadLshBands(spark, path),
        IndexStore.loadLshShingles(spark, path))
      .orderBy("doc_id").collect().map(_.toSeq.toList).toList
    def bandSet() = IndexStore.loadLshBands(spark, path)
      .collect().map(_.toSeq.toList).toSet
    val (vBefore, bBefore) = (verdicts(), bandSet())
    val filesBefore = parquetFiles(path, "lsh/bands")
    IndexStore.compactLshIndex(spark, path)
    assert(verdicts() === vBefore)
    assert(bandSet() === bBefore)
    assert(parquetFiles(path, "lsh/bands") < filesBefore)
  }

  test("compactPhashIndex: pair set bit-identical, fewer files") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("phash-compact")
    IndexStore.savePhashIndex(docs.filter(col("doc_id") % 3 === 0), path)
    IndexStore.appendPhashBatch(docs.filter(col("doc_id") % 3 === 1), path)
    IndexStore.appendPhashBatch(docs.filter(col("doc_id") % 3 === 2), path)
    def pairs() = IndexStore.phashPairsFrom(spark, path)
      .orderBy("a", "b").collect().map(_.toSeq.toList).toList
    val before = pairs()
    val filesBefore = parquetFiles(path, "phash/bands")
    IndexStore.compactPhashIndex(spark, path)
    assert(pairs() === before && before.nonEmpty)
    assert(parquetFiles(path, "phash/bands") < filesBefore)
  }

  test("compactPqIndex / compactIvfIndex: search bit-identical, fewer files") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val standing = emb.filter(col("vec_id") % 4 === 0)
    val pq = tmp("pq-compact")
    IndexStore.savePqIndex(standing, pq)
    (1 to 3).foreach(i =>
      IndexStore.appendPqBatch(emb.filter(col("vec_id") % 4 === i), pq))
    def pqHits() = IndexStore.searchPq(emb, pq, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val pqBefore = pqHits()
    val pqFiles = parquetFiles(pq, "pq/codes")
    IndexStore.compactPqIndex(spark, pq)
    assert(pqHits() === pqBefore)
    assert(parquetFiles(pq, "pq/codes") < pqFiles)

    val ivf = tmp("ivf-compact")
    IndexStore.saveIvfIndex(emb.filter(col("vec_id") % 4 =!= 1), ivf)
    IndexStore.appendIvfBatch(emb.filter(col("vec_id") % 4 === 1), ivf)
    def ivfHits() = IndexStore.searchIvfProbed(spark, ivf, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val ivfBefore = ivfHits()
    val ivfFiles = parquetFiles(ivf, "ivf/vectors")
    IndexStore.compactIvfIndex(spark, ivf)
    assert(ivfHits() === ivfBefore)
    assert(parquetFiles(ivf, "ivf/vectors") < ivfFiles)
  }

  test("compaction is idempotent: compacting a compact table keeps its file count") {
    val emb = Vectors.withNormalized(Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("en"))
    val pq = tmp("pq-recompact")
    IndexStore.savePqIndex(emb.filter(col("vec_id") % 4 === 0), pq)
    (1 to 3).foreach(i =>
      IndexStore.appendPqBatch(emb.filter(col("vec_id") % 4 === i), pq))
    def hits() = IndexStore.searchPq(emb, pq, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val before = hits()
    // A 1 KB fold target makes this small table "big": its compact layout
    // is several files, which a re-compaction used to shrink by one each.
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try {
      IndexStore.compactPqIndex(spark, pq)
      val compact = parquetFiles(pq, "pq/codes")
      assert(compact > 1, "fixture must compact to more than one file")
      (1 to 2).foreach { i =>
        IndexStore.compactPqIndex(spark, pq)
        assert(parquetFiles(pq, "pq/codes") === compact, s"after re-compaction $i")
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(hits() === before)
  }

  test("compaction swap repairs a crash window (restore from .old) — ADVICE r14") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("crash-repair")
    IndexStore.saveGramIndex(docs.filter(col("doc_id") % 2 === 0), path)
    IndexStore.appendGramBatch(docs.filter(col("doc_id") % 2 === 1), path)
    def idx() = IndexStore.loadGramIndex(spark, path)
      .groupBy("gh").agg(min("first_doc").as("first_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = idx()
    // Simulate a crash between the two swap renames: the only copy of the
    // table stranded at <table>.old, the live path absent.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/grams/index"),
      new org.apache.hadoop.fs.Path(s"$path/grams/index.old")))
    // Re-running the interrupted compaction must FIRST restore from .old,
    // then compact normally — the store heals without manual repair.
    IndexStore.compactGramIndex(spark, path)
    assert(idx() === want && want.nonEmpty)
    assert(IndexStore.loadGramIndex(spark, path).count() === want.size.toLong,
      "compaction after recovery must still min-combine duplicates")
  }

  test("mg-less sketch store (mg = false / pre-leg): append, mg read, and compact fail with the rebuild hint") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("sketch-nomg")
    IndexStore.saveSketchIndex(docs, path, mg = false)
    // Appending would write an mg leg covering ONLY the batch while
    // totals covers the corpus — q192's threshold would read full n over
    // partial candidate mass (ADVICE r15); all three consumers must fail
    // loudly and name the rebuild, never proceed.
    Seq(
      () => IndexStore.appendSketchBatch(
        docs.filter(col("doc_id") % 3 === 0), path),
      () => IndexStore.loadSketchMg(spark, path).collect(),
      () => IndexStore.compactSketchIndex(spark, path)
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("build-sketches"), e.getMessage)
    }
    // the non-mg legs are untouched by the refusals
    assert(IndexStore.loadSketchTotals(spark, path).count() > 0)
  }

  test("sketch store: append == rebuild (registers MAX-fold, cells/totals ADD-fold)") {
    val docs = Tables.load(spark, sf, "documents")
    val full = tmp("sketch-full")
    val incr = tmp("sketch-incr")
    IndexStore.saveSketchIndex(docs, full)
    IndexStore.saveSketchIndex(docs.filter(col("doc_id") % 3 =!= 0), incr)
    IndexStore.appendSketchBatch(docs.filter(col("doc_id") % 3 === 0), incr)
    def dump(p: String) = (
      IndexStore.loadSketchRegisters(spark, p)
        .orderBy("grp", "idx").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchCells(spark, p)
        .orderBy("source", "j", "c").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchTotals(spark, p)
        .orderBy("source").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchLens(spark, p)
        .orderBy("source", "bin").collect().map(_.toSeq.toList).toList)
    // Registers fold by MAX and cells/totals by ADDITION, so the two-write
    // store must load EXACTLY as the one-write store — the mergeability
    // the crawl loop relies on, bit-for-bit.
    assert(dump(incr) === dump(full))
  }

  test("leg-restricted sketch builds write only the named legs, bit-equal to the full build's (r17)") {
    val docs = Tables.load(spark, sf, "documents")
    val full = tmp("sketch-legs-full")
    IndexStore.saveSketchIndex(docs, full)
    def legDirs(p: String): Set[String] = {
      val d = new java.io.File(s"$p/sketch")
      if (!d.exists) Set.empty
      else d.listFiles.filter(_.isDirectory).map(_.getName).toSet
    }
    // Each leg is derived and persisted independently, so a restricted
    // build must produce exactly the asked-for tables, each loading
    // bit-equal to the full store's — the guarantee that lets the
    // from-store catalog queries build only what they serve.
    val cases = Seq(
      Set("registers") -> ((p: String) => IndexStore
        .loadSketchRegisters(spark, p).orderBy("grp", "idx")),
      Set("cells", "totals") -> ((p: String) => IndexStore
        .loadSketchCells(spark, p).orderBy("source", "j", "c")),
      Set("lens") -> ((p: String) => IndexStore
        .loadSketchLens(spark, p).orderBy("source", "bin")),
      Set("mg", "totals") -> ((p: String) => IndexStore
        .loadSketchMg(spark, p).orderBy("w")))
    cases.foreach { case (legs, load) =>
      val p = tmp(s"sketch-legs-${legs.mkString("-")}")
      IndexStore.saveSketchLegs(docs, p, legs)
      assert(legDirs(p) === legs, s"legs on disk for $legs")
      assert(load(p).collect().map(_.toSeq.toList).toList ===
        load(full).collect().map(_.toSeq.toList).toList, s"leg data for $legs")
    }
    intercept[IllegalArgumentException](
      IndexStore.saveSketchLegs(docs, tmp("sketch-legs-bad"), Set("nope")))
  }

  test("q178/q179 serve the q160/q176 sketch halves from the store; q178 plan is corpus-free") {
    // q178 == the in-query register derivation + estimate (bit-for-bit).
    val docs = Tables.load(spark, sf, "documents")
    val got178 = SparkEntry.queries("q178_hll_from_store")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val reg = Audit.hllRegisters(Audit.gram5(docs), "lang", "g")
    val all = reg.groupBy("idx").agg(max("r").as("r"))
      .select(lit("__all__").as("grp"), col("idx"), col("r"))
    val want178 = Audit.hllEstimate(reg.unionByName(all))
      .select(col("grp").as("lang"), col("used"), col("est"), col("regime"))
      .orderBy("lang").collect().map(_.toSeq.toList).toList
    assert(got178 === want178 && got178.nonEmpty)

    // q179's estimates == q176's (the persisted cells + totals reproduce
    // the text-derived grid through the ADD-fold).
    val got179 = SparkEntry.queries("q179_cms_from_store")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val want179 = SparkEntry.queries("q176_cms_freq")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(got179 === want179 && got179.nonEmpty)

    // The SERVE side of q178 reads only the store: no documents scan, no
    // gram derivation in the executed plan (the q171 pin).
    val path = tmp("sketch-plan")
    IndexStore.saveSketchIndex(docs, path)
    val reg2 = IndexStore.loadSketchRegisters(spark, path)
    val all2 = reg2.groupBy("idx").agg(max("r").as("r"))
      .select(lit("__all__").as("grp"), col("idx"), col("r"))
    val plan = Audit.hllEstimate(reg2.unionByName(all2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan)
    assert(!plan.contains("split(trim("), plan)
    assert(plan.contains("registers"), plan)
  }

  test("compactSketchIndex: folded reads identical, file and row counts reduced") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("sketch-compact")
    IndexStore.saveSketchIndex(docs.filter(col("doc_id") % 3 === 0), path)
    (1 to 2).foreach(r =>
      IndexStore.appendSketchBatch(docs.filter(col("doc_id") % 3 === r), path))
    def files(sub: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$path/$sub"))
        .filter(p => p.toString.endsWith(".parquet")).count()
    def folded() = (
      IndexStore.loadSketchRegisters(spark, path)
        .orderBy("grp", "idx").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchCells(spark, path)
        .orderBy("source", "j", "c").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchTotals(spark, path)
        .orderBy("source").collect().map(_.toSeq.toList).toList,
      IndexStore.loadSketchLens(spark, path)
        .orderBy("source", "bin").collect().map(_.toSeq.toList).toList)
    val before = folded()
    val rawBefore = spark.read.parquet(s"$path/sketch/registers").count()
    val filesBefore = files("sketch/registers")
    assert(rawBefore > before._1.size.toLong,
      "fixture must contain unfolded duplicate register rows")
    IndexStore.compactSketchIndex(spark, path)
    assert(folded() === before)
    assert(spark.read.parquet(s"$path/sketch/registers").count()
      === before._1.size.toLong)
    assert(files("sketch/registers") < filesBefore)
  }

  test("sketch mg leg: folded candidates ⊇ exact heavies through appends AND compaction; q192 ≡ q159") {
    // Exact heavies (the q159 output) — the set no fold step may lose.
    val exact = SparkEntry.queries("q159_heavy_hitters")(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(exact.nonEmpty)

    // Split-build store: the SUM-fold of two appended batch summaries is
    // the mergeable-summaries combine (truncation deferred), so the
    // candidate set must still cover every exact heavy hitter.
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("sketch-mg")
    IndexStore.saveSketchIndex(docs.filter(col("doc_id") % 3 === 0), path)
    (1 to 2).foreach(r =>
      IndexStore.appendSketchBatch(docs.filter(col("doc_id") % 3 === r), path))
    def cands() = IndexStore.loadSketchMg(spark, path)
      .collect().map(_.getString(0)).toSet
    assert(exact.subsetOf(cands()),
      s"appended-store candidates lost heavies: ${exact -- cands()}")

    // Compaction re-truncates to ≤ MgK rows; the PODS rule keeps the
    // guarantee (it only subtracts the (MgK+1)-th largest counter).
    IndexStore.compactSketchIndex(spark, path)
    assert(IndexStore.loadSketchMg(spark, path).count() <= Audit.MgK.toLong)
    assert(exact.subsetOf(cands()),
      s"compaction lost heavies: ${exact -- cands()}")

    // The served query (scratch one-shot store) is bit-equal to q159 —
    // the exact recount strips every sketch-side false positive.
    val got = SparkEntry.queries("q192_hh_from_store")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val want = SparkEntry.queries("q159_heavy_hitters")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(got === want && got.nonEmpty)
  }

  test("lmScore against the persisted train-slice LM == in-query q196") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("lm-score")
    IndexStore.saveBigramLM(
      docs.filter(col("doc_id") % TextOps.KnHold =!= 0), path)
    val got = IndexStore.lmScore(
        docs.filter(col("doc_id") % TextOps.KnHold === 0), path)
      .orderBy("doc_id").collect().map(_.toSeq.toList).toList
    val want = SparkEntry.queries("q196_lm_doc_score")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    assert(got === want && got.nonEmpty)
  }

  test("bigram LM store: build + appends == q195 on the union; compaction folds files, not values") {
    val docs = Tables.load(spark, sf, "documents")
    val path = tmp("lm-bigrams")
    // Build on one slice, append the other two — re-seen bigrams now
    // hold multiple grid rows that the read-side sum must fold.
    IndexStore.saveBigramLM(docs.filter(col("doc_id") % 3 === 0), path)
    (1 to 2).foreach { r =>
      IndexStore.appendBigramBatch(docs.filter(col("doc_id") % 3 === r), path)
    }
    def served() = IndexStore.knFromStore(spark, path)
      .orderBy("w1", "w2").collect().map(_.toSeq.toList).toList
    val want = SparkEntry.queries("q195_kn_bigram")(spark, sf)
      .collect().map(_.toSeq.toList).toList
    val before = served()
    assert(before === want && before.nonEmpty,
      "persist -> append -> fold -> serve drifted from the in-query learner")

    // Raw store rows exceed the folded type count until compaction.
    val raw = spark.read.parquet(s"$path/lm/bigrams").count()
    val types = IndexStore.loadBigramLM(spark, path).count()
    assert(raw > types, "fixture must contain unfolded duplicate grid rows")
    IndexStore.compactBigramLM(spark, path)
    assert(spark.read.parquet(s"$path/lm/bigrams").count() === types)
    assert(served() === want, "compaction changed served values")
  }
}
