package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Sessions, Tables}

/** Deduplication operators over `documents`: exact (hash-groupBy), word
  * n-gram Jaccard (inverted-index pair generation), MinHash+LSH
  * (shingle → signature → band → bucket-join), and SimHash.
  *
  * Scale posture: no all-pairs cross joins anywhere. Pair candidates come
  * from equi-joins on shingles (with a document-frequency cap that bounds
  * the per-key fan-out, the standard "stop-shingle" cutoff) or on LSH band
  * buckets, so the shuffle volume is O(total shingles), not O(docs²).
  * MinHash/SimHash use md5 as the hash family — engine-portable and
  * deterministic, so an independent SQL oracle reproduces results exactly.
  */
object Dedup {

  val ShingleN = 3
  /** Stop-shingle cutoff: shingles appearing in more docs than this are
    * dropped from pair generation (bounds join fan-out; at 100 TB this is
    * what keeps the inverted index join linear). */
  val MaxDf = 50
  /** Jaccard report threshold for q22. */
  val JaccardTau = 0.1
  /** Containment report threshold for q87: the smaller doc must be at
    * least this covered by the intersection. */
  val ContainTau = 0.5

  val NumHashes = 12
  val Bands = 4 // rows per band = NumHashes / Bands = 3

  // q62 decontamination: benchmark stand-in = doc_id < BenchDocs; a doc is
  // contaminated at >= ContamK distinct shared shingles.
  val BenchDocs = 10
  val ContamK = 5

  /** q114 fuzzy decontamination: report (corpus doc, eval item) pairs where
    * the corpus doc contains at least this fraction of the eval item's
    * distinct shingle set. */
  val FuzzyTau = 0.4
  /** q114 eval-set stand-in: doc_id % mod == 0 — samples the whole id
    * space, so the planted near-dup siblings (spread uniformly across
    * ids in the testdata) are exercised at EVERY sf; the q62-style
    * doc_id < 10 prefix has no planted dup partner at sf0.1. */
  val FuzzyBenchMod = 50

  /** q117/q118 winnowing: window size over the gram-hash sequence (the
    * guarantee: any shared run of ≥ WinnowW + ShingleN - 1 words is caught
    * by at least one shared fingerprint), and the minimum shared
    * fingerprints before a pair is reported. */
  val WinnowW = 4
  val WinnowMinShared = 2

  /** q80 incremental dedup: verified-Jaccard threshold for calling a new
    * batch doc a duplicate of the corpus (or of an earlier batch doc). */
  val IncTau = 0.5

  /** q82/q85 boilerplate: span length (words) and the document-frequency
    * threshold above which an n-gram counts as boilerplate. */
  val BoilerN = 8
  val BoilerDf = 3

  /** q148/q151 cross-document exact-substring dedup: span length (words)
    * above which a repeated run counts as a cross-doc duplicate. Published
    * systems use ~50 BPE tokens (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"); 8 words matches this corpus's
    * 10–99-word documents the way BoilerN does. */
  val CrossN = 8

  /** q91 edit-similarity threshold: 1 - lev/max(len) ≥ EditTau. */
  val EditTau = 0.5
  /** q91 candidate gate: ≥ this many shared informative shingles before
    * any Levenshtein runs. The inverted index emits every pair sharing
    * ONE rare shingle — 1.13M pairs at sf0.1; with the quadratic DP
    * Levenshtein that ran minutes, not seconds, and even the bit-parallel
    * `graft_levenshtein` (O(⌈len/64⌉·len) per pair, ~18 µs per gated pair
    * of ~420 chars, PERF.md) would pay ~20 s of CPU on them. inter ≥ 3
    * keeps every observed edit-dup at both test scales (min inter over
    * sim≥0.5 pairs is exactly 3) and cuts candidates 110× (10.3k at
    * sf0.1, ~2/doc — linear in corpus). */
  val EditMinInter = 3

  /** q96/q97 deterministic corpus split: CONTENT-hash bucket (md5 of the
    * text, not the doc_id) so byte-identical duplicates always land in the
    * same split — the standard guard that keeps exact dups from straddling
    * train/test. Buckets 0..89 train, 90..94 val, 95..99 test. */
  val SplitBuckets = 100
  val TrainBuckets = 90
  val ValBuckets = 95

  /** Split assignment off the portable 60-bit md5 fold of `text` (the q79
    * idiom — bit-identical in DuckDB, see splitCaseSql). */
  private def splitCol: Column =
    when(col("hb") < TrainBuckets, lit("train"))
      .when(col("hb") < ValBuckets, lit("val"))
      .otherwise(lit("test"))

  private def withSplitBucket(docs: DataFrame): DataFrame = {
    docs.withColumn("hb", expr(s"graft_hash60(text) % $SplitBuckets"))
  }

  /** DuckDB twin of withSplitBucket+splitCol as CTE `spl(doc_id, source,
    * text, hb, split)`. */
  private val splitCte =
    s"""spl AS (
       |  SELECT doc_id, source, text, hb,
       |         CASE WHEN hb < $TrainBuckets THEN 'train'
       |              WHEN hb < $ValBuckets THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT doc_id, source, text,
       |               list_reduce([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::BIGINT
       |                            for i in range(1, 16)], (a, b) -> a * 16 + b)
       |                 % $SplitBuckets AS hb
       |        FROM documents))""".stripMargin

  /** Word n-gram shingles per document, WITH duplicates — narrow, no
    * shuffle. Callers that need set semantics either `.distinct()` (one
    * shuffle) or dedupe inside their own aggregation (collect_set). */
  def shinglesRaw(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    docs
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(call_function("graft_gramstrings", col("w"), lit(n))).as("s"))
  }

  /** Distinct word n-gram shingles per document. */
  def shingles(docs: DataFrame, n: Int = ShingleN): DataFrame =
    shinglesRaw(docs, n).distinct()

  /** q85's core, reusable from the Curate pipeline: strip every occurrence
    * of a cross-document-frequent BoilerN-gram (df ≥ minDf) from each
    * document. Returns (doc_id, cleaned, n_removed); docs under BoilerN
    * words pass through untouched, a pure-boilerplate doc comes out with
    * cleaned = NULL. Shapes (pinned by the q85 oracle): one hash shuffle
    * builds the boilerplate set (small by nature — AQE broadcasts it into
    * the position join), cover-expansion is a ≤BoilerN× narrow explode of
    * start positions, re-assembly is one doc_id-keyed aggregation. */
  def boilerplateStrip(docs: DataFrame, minDf: Int = BoilerDf): DataFrame = {
    val n = BoilerN
    val w = docs.select(col("doc_id"), split(trim(col("text")), " ").as("w"))
    val pos = w.select(col("doc_id"),
      posexplode(col("w")).as(Seq("i", "wd")))
    val sh8 = w.filter(size(col("w")) >= n)
      .select(col("doc_id"),
        posexplode(call_function("graft_gramstrings", col("w"), lit(n)))
          .as(Seq("i", "s")))
    val bp = sh8.groupBy("s").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf).select("s")
    val cov = sh8.join(bp, Seq("s"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${n - 1})")).as("ci"))
      .distinct()
    val kept = pos.join(cov,
        pos("doc_id") === cov("doc_id") && pos("i") === cov("ci"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ", expr("transform(array_sort(collect_list(struct(i, wd))), x -> x.wd)")).as("cleaned"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(split(trim(col("text")), " ")).cast("long").as("n0"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cleaned"),
        (col("n0") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** q148's core: cross-document EXACT repeated-span removal — every
    * occurrence of a CrossN-word run whose FIRST corpus occurrence lives in
    * an earlier document (min doc_id over all docs containing the run) is
    * stripped; the earliest document keeps its copy intact. The exact-
    * substring counterpart of the fuzzy near-dup family (doc-granular
    * MinHash/Jaccard): after near-dup REMOVAL a corpus still carries long
    * verbatim quotes/templates embedded in otherwise-distinct documents,
    * and span-granular dedup is the published fix (Lee et al. 2022 use a
    * suffix array; re-expressed here as the distributed gram→min-doc-id
    * index, which needs no global sort). Returns (doc_id, cleaned,
    * n_removed); docs under CrossN words pass through, a doc that is
    * entirely earlier-seen text comes out NULL. Within-doc repeats of a
    * doc's OWN first-occurrence grams are q103's business, not this one's.
    *
    * 100 TB shape: grams travel as 60-bit md5-fold hashes (the winnow-
    * index discipline — ~6× narrower shuffle rows than CrossN-word
    * strings; the independent oracle applies the same fold, so a collision
    * cannot diverge the engines), the gram index is a plain min()
    * aggregation — O(1) state per key, partial/map-side combinable, no
    * capped-set machinery needed — and the decision join fans out exactly
    * one row per gram OCCURRENCE (the index side is one row per distinct
    * gram), so a viral 10^6-doc boilerplate gram costs 10^6 linear rows,
    * never 10^12 pairs. The gram scan is evaluated twice (once feeding the
    * index aggregation, once feeding the decision join) — two narrow
    * codegen'd md5 passes, the q85 trade; the single-pass alternative
    * (min over a gh-keyed window) buffers each gram's full occurrence list
    * per window group, which a hot boilerplate gram breaks at scale.
    * Cover-expansion and re-assembly mirror boilerplateStrip exactly. */
  /** (doc_id, i, gh) gram-occurrence rows — 0-based start positions, 60-bit
    * md5-fold hashes; narrow, zero shuffle. Shared by q148, the persisted
    * gram index (IndexStore.saveGramIndex / q151), and Stress crossdoc. */
  private[graft] def gramRows(docs: DataFrame, n: Int = CrossN,
      keep: Seq[String] = Nil): DataFrame = {
    val ks = keep.map(col)
    // graft_gramhashes = the old per-i transform lambda (slice + concat_ws
    // + md5 hex fold) as one codegen'd pass: array index = start position,
    // so posexplode yields the identical (i, gh) rows (r17: the lambda form
    // ran interpreted per gram and re-materialized word bytes per gram).
    docs.select(Seq(col("doc_id")) ++ ks :+ split(trim(col("text")), " ").as("w"): _*)
      .filter(size(col("w")) >= n)
      .select(Seq(col("doc_id")) ++ ks :+
        posexplode(call_function("graft_gramhashes", col("w"), lit(n)))
          .as(Seq("i", "gh")): _*)
  }

  /** Strip/re-assembly tail shared by q148/q151 and the streaming twin's
    * downstream fold: drop every position of `docs` covered by
    * `cov(doc_id, ci)`, re-join surviving words in order. Fully-covered
    * docs come out cleaned = NULL. */
  private[graft] def stripCovered(docs: DataFrame, cov: DataFrame): DataFrame = {
    val pos = docs.select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i", "wd")))
    val kept = pos.join(cov,
        pos("doc_id") === cov("doc_id") && pos("i") === cov("ci"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ", expr("transform(array_sort(collect_list(struct(i, wd))), x -> x.wd)")).as("cleaned"),
        count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(split(trim(col("text")), " ")).cast("long").as("n0"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cleaned"),
        (col("n0") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  def crossdocStrip(docs: DataFrame, n: Int = CrossN): DataFrame = {
    val gr = gramRows(docs, n)
    // Index only grams seen MORE THAN ONCE: a unique gram's min is its own
    // doc, so it can never cover anything — the filter drops the long tail
    // (most of the index) with zero semantic change (count(*), not
    // countDistinct: a same-doc double occurrence survives the filter but
    // still fails doc_id > first_doc — harmless, and the state stays two
    // counters per key). At this corpus the filtered index is small enough
    // that AQE broadcasts it into the decision join. NOTE this filter is
    // an IN-QUERY optimization only — the persisted index keeps every
    // gram, because a standing gram with one occurrence can still cover a
    // future batch's copy (IndexStore.saveGramIndex).
    val firstDoc = gr.groupBy("gh")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("gh", "first_doc")
    val cov = gr.join(firstDoc, Seq("gh"))
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${n - 1})")).as("ci"))
      .distinct()
    stripCovered(docs, cov)
  }

  /** DuckDB twin of crossdocStrip's gram scan + gram→min-doc index as CTEs
    * `wt(doc_id, w)` / `gr(doc_id, i, gh)` (0-based i, the q103 bridge) /
    * `fd(gh, first_doc)`; shared by q148 and q151. The gh fold is the q79
    * portable md5 nibble reduction — bit-identical to Spark's
    * conv(substr(md5(s),1,15),16,10). */
  private[operators] def crossdocCtes(n: Int = CrossN,
      materializedGr: Boolean = false): String =
    s"""wt AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |gr AS ${if (materializedGr) "MATERIALIZED " else ""}(
       |  SELECT doc_id, i - 1 AS i,
       |         list_reduce([(strpos('0123456789abcdef',
       |                              substr(md5(array_to_string(w[i : i + ${n - 1}], ' ')), j, 1)) - 1)::BIGINT
       |                      for j in range(1, 16)], (a, b) -> a * 16 + b) AS gh
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${n - 2})) AS i
       |        FROM wt WHERE len(w) >= $n)),
       |fd AS (SELECT gh, min(doc_id) AS first_doc FROM gr
       |       GROUP BY gh HAVING count(*) > 1)""".stripMargin

  /** DuckDB twin of the strip/re-assembly half over prior CTEs `wt`/`gr`/
    * `fd` and a doc filter: covered positions → anti-join → string_agg.
    * `docPred` restricts WHICH documents are emitted (q151's batch slice);
    * the gram index above it always spans the full corpus. */
  private[operators] def crossdocStripSql(n: Int = CrossN,
      docPred: String = "TRUE"): String =
    s"""cov AS (
       |  SELECT DISTINCT doc_id, unnest(range(i, i + $n)) AS ci
       |  FROM (SELECT g.doc_id, g.i FROM gr g JOIN fd USING (gh)
       |        WHERE g.doc_id > fd.first_doc)),
       |pos AS (
       |  SELECT doc_id, p.i AS i, p.wd AS wd FROM (
       |    SELECT doc_id, unnest([struct_pack(i := i - 1, wd := w[i])
       |                           for i in range(1, len(w) + 1)]) AS p
       |    FROM wt)),
       |kept AS (
       |  SELECT p.doc_id, string_agg(p.wd, ' ' ORDER BY p.i) AS cleaned,
       |         count(*) AS n_kept
       |  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.ci = p.i
       |  WHERE c.ci IS NULL GROUP BY p.doc_id)
       |SELECT d.doc_id, k.cleaned,
       |       len(string_split(trim(d.text), ' '))::BIGINT - coalesce(k.n_kept, 0)::BIGINT AS n_removed
       |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
       |WHERE $docPred
       |ORDER BY d.doc_id""".stripMargin

  /** q62's core, reusable from the Curate pipeline: doc_ids of `docs`
    * sharing ≥ k distinct shingles with ANY document of `bench` (the
    * held-out eval set — small by nature, its shingle set broadcasts; the
    * corpus side stays a raw narrow scan into the broadcast equi-join,
    * set-dedup on matched rows only). */
  def contaminatedDocs(docs: DataFrame, bench: DataFrame, k: Int = ContamK): DataFrame = {
    val benchSh = shinglesRaw(bench).select("s").distinct()
    shinglesRaw(docs)
      .join(broadcast(benchSh), Seq("s"))
      .select("doc_id", "s").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= k)
      .select("doc_id")
  }

  /** q114's core, reusable from the Curate pipeline: per (corpus doc, eval
    * item) containment |C∩B|/|B| ≥ tau pair rows — columns (doc_id,
    * bench_id, inter, bsz, containment). Eval-side shingle sets and sizes
    * broadcast; the corpus side is one raw narrow shingle scan into the
    * broadcast equi-join; only matched rows reach the (doc_id, bench_id)-
    * keyed exchange (PlanSpec pins the key set on q114). */
  def fuzzyContainmentPairs(corpus: DataFrame, bench: DataFrame,
      tau: Double = FuzzyTau): DataFrame = {
    val benchSh = shinglesRaw(bench)
      .select(col("doc_id").as("bench_id"), col("s")).distinct()
    val benchSz = benchSh.groupBy("bench_id").agg(count(lit(1)).as("bsz"))
    shinglesRaw(corpus)
      .join(broadcast(benchSh), Seq("s"))
      .select("doc_id", "bench_id", "s").distinct()
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("inter"))
      .join(broadcast(benchSz), Seq("bench_id"))
      .withColumn("containment", col("inter") / col("bsz"))
      .filter(col("containment") >= tau)
      .select("doc_id", "bench_id", "inter", "bsz", "containment")
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm — public knowledge): per document, the DISTINCT minima of a
    * WinnowW-wide sliding window over the word-ShingleN-gram hash
    * sequence. Guarantees any shared run of ≥ WinnowW + ShingleN − 1 words
    * yields a shared fingerprint while storing only ~2/(WinnowW+1) of the
    * grams — the index a plagiarism/copy detector ships at corpus scale.
    * Hash = first 15 md5 hex digits as a bigint (the q79 portable trick),
    * so an independent SQL engine reproduces every fingerprint bit-exactly.
    * Pure narrow per-row compute: hashing, windowing, and set-dedup all
    * happen inside the row's own arrays — zero shuffle. Docs with fewer
    * than WinnowW grams have no full window and are skipped (they are
    * below the detectable-run length by definition).
    *
    * Gram length and window width are the compile-time constants ShingleN /
    * WinnowW baked into the codegen'd `graft_winnow` expression — not
    * parameters: the r9 API took (n, w) arguments but a runtime `require`
    * rejected every non-default value, a misleading surface that failed only
    * at call time (ADVICE r9). Changing the winnow geometry means changing
    * the constants and re-deriving the oracle CTEs with them. */
  def winnowFps(docs: DataFrame): DataFrame = {
    // The declarative twin (array_distinct over transform/array_min/slice
    // of a gram-hash transform) re-hashed every gram PER WINDOW once
    // CollapseProject inlined the hash array into the window lambda —
    // higher-order functions are interpreted with no subexpression
    // elimination inside lambdas, so indexing 5k docs cost 103 s
    // (Stress `winnow`, r9). graft_winnow is the codegen'd form: one md5
    // per gram, O(n) monotonic-deque window minima, same fingerprints
    // bit-for-bit (the oracle's nibble fold pins it).
    docs
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= ShingleN + WinnowW - 1)
      .select(col("doc_id"),
        (size(col("w")) - (ShingleN - 1)).cast("long").as("n_grams"),
        call_function("graft_winnow", col("w")).as("fps"))
  }

  /** Winnowed inverted index (fp, ds) — the q118 family's at-rest form:
    * same CappedSetAggregator discipline as `allBuckets`, over ~2/(W+1)
    * the rows, for the same ≥6-word shared-run guarantee. */
  private[graft] def winnowAllBuckets(docs: DataFrame): DataFrame = {
    val cappedSet = udaf(new graft.functions.CappedSetAggregator(MaxDf + 1))
    winnowFps(docs)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .groupBy("fp").agg(cappedSet(col("doc_id")).as("ds"))
  }

  private[graft] def winnowCappedBuckets(docs: DataFrame): DataFrame =
    winnowAllBuckets(docs).filter(size(col("ds")).between(2, MaxDf))

  /** q118 over an already-built (possibly persisted) winnow bucket table:
    * pairs sharing ≥ minShared selected fingerprints. `ds` is stored
    * sorted, so store-served pairs are bit-identical to in-query ones
    * (IndexStoreSpec pins it). */
  def winnowPairsFrom(buckets: DataFrame,
      minShared: Int = WinnowMinShared): DataFrame =
    bucketPairs(buckets)
      .filter(col("inter") >= minShared)
      .select(col("a"), col("b"), col("inter").as("shared"))

  /** q118's core: winnowed copy-detection pair candidates. */
  def winnowPairs(docs: DataFrame, minShared: Int = WinnowMinShared): DataFrame =
    winnowPairsFrom(winnowCappedBuckets(docs), minShared)

  /** DuckDB twin of `winnowFps` as a CTE chain ending in
    * `wf(doc_id, n_grams, fps)`. */
  private val winnowCtes: String = {
    val md5int = (g: String) =>
      s"""list_reduce([(strpos('0123456789abcdef', substr(md5($g), k, 1)) - 1)::BIGINT
         |             for k in range(1, 16)], (a, b) -> a * 16 + b)""".stripMargin
    s"""wd AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
       |  WHERE len(w) >= 6),
       |wh AS (
       |  SELECT doc_id, len(w)::BIGINT - 2 AS n_grams,
       |         [${md5int("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}
       |          for i in range(1, len(w) - 1)] AS hs
       |  FROM wd),
       |wf AS (
       |  SELECT doc_id, n_grams,
       |         list_distinct([list_min(list_slice(hs, i, i + 3))
       |                        for i in range(1, len(hs) - 2)]) AS fps
       |  FROM wh)""".stripMargin
  }

  /** DuckDB twin of `shingles` as a CTE body (n = 3). `private[operators]`
    * so q146's cross-signal oracle can compose it with the phash chain. */
  private[operators] val shingleCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                           for i in range(1, len(w) - 1)]) AS s
      |    FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
      |    WHERE len(w) >= 3))""".stripMargin

  /** MinHash signatures straight off the document scan via the codegen'd
    * graft_minhash12 expression (graft.functions.MinHash12): each shingle
    * is hashed ONCE (H = first 15 md5 hex digits, a 60-bit value) and slot
    * i of the signature is the min over shingles of the Carter-Wegman
    * universal hash (A_i * H + B_i) mod (2^61 - 1) — NumHashes mins in one
    * pass per document, ZERO shuffle and no shingle explode (the
    * declarative explode→groupBy twin funneled O(words) rows per doc
    * through a hash aggregate to take 12 mins; the retired per-slot-md5
    * family did 12 md5s per shingle, ~10× the hashing work — see
    * MinHash12.scala). Documents with < ShingleN words have no shingles
    * and are dropped, like the shingle pipeline's size filter. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // The shingle filter is a CHEAP predicate on the word count — filtering
    // on the signature itself (size(sig)) would re-evaluate the full md5
    // loop once in the Filter and once in the Project. The 12 element_at
    // references share one evaluation via whole-stage codegen's
    // subexpression elimination (identical subtrees in one Project).
    val sig = call_function("graft_minhash12", split(trim(col("text")), " "))
    docs
      .filter(size(split(trim(col("text")), " ")) >= ShingleN)
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => element_at(sig, i + 1).as(s"h$i")): _*)
  }

  /** LSH bands: hash each run of (NumHashes/Bands) signature slots. Slots
    * are bigints — cast to decimal strings explicitly (DuckDB's BIGINT →
    * VARCHAR cast renders identically). */
  def lshBands(sigs: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"h${b * rows + r}").cast("string")): _*)).as(s"band$b")
    }
    sigs.select(col("doc_id") +: bandCols: _*)
  }

  /** (doc_id, bi, bh) band-bucket rows — the LSH index shape shared by
    * full-corpus pairing (q23) and incremental pairing (q80). */
  def bandExplode(banded: DataFrame): DataFrame =
    banded.select(
        col("doc_id"),
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("bi"), col(s"band$b").as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("e.bi").as("bi"), col("e.bh").as("bh"))

  /** Candidate pairs: docs sharing any band bucket (equi-join, a<b). */
  def lshCandidates(banded: DataFrame): DataFrame = {
    val bx = bandExplode(banded)
    bx.as("x").join(bx.as("y"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact Jaccard for given (a, b) candidate pairs over shingle sets.
    * Takes RAW (with-duplicates) shingles and restricts them to the docs
    * that actually appear in a candidate pair BEFORE the set-dedup: LSH
    * candidates touch ~pairs/doc · 2 docs, so the distinct (the only
    * corpus-wide shuffle this verification used to run) shrinks from
    * O(corpus shingles) to O(candidate-doc shingles) — at 10× sf0.1 that
    * is 1,278 of 50,000 docs. AQE broadcasts the tiny candidate-doc list
    * into the restriction join, so the corpus side stays a narrow scan. */
  def verifyJaccard(cand: DataFrame, shRaw: DataFrame): DataFrame = {
    val candDocs = cand
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val sh = shRaw.join(candDocs, Seq("doc_id")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .filter(col("sa") === col("sb"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .select("a", "b", "inter", "jaccard")
  }

  /** Inverted-index n-gram Jaccard pairs (the q22 formulation): ONE shuffle
    * builds shingle → sorted doc set with BOUNDED aggregation state (the
    * CappedSetAggregator stops accumulating past MaxDf + 1 distinct ids —
    * stop-shingles never hold more than 51 ids in a partial buffer, where
    * collect_set held their full document list before the df filter could
    * discard it; surviving buckets are bit-identical to
    * sort_array(collect_set)), pairs are emitted within each bounded
    * bucket, and doc sizes fall out of the same index. Returns (a, b,
    * inter, sza, szb) with a < b — the shared candidate core of q22's
    * Jaccard and q87's containment scoring. */
  /** UNFILTERED inverted index: one row per distinct shingle, `ds` its
    * sorted doc_id set capped at MaxDf + 1 ids. This is the persistable
    * form (IndexStore.savePairIndex): dfs only grow under appends, so a
    * batch merge needs the df-1 rows (they may become informative once a
    * batch doc shares the shingle) AND the over-cap marker rows (a
    * MaxDf+1-length ds says "already over the cap — must stay dropped no
    * matter what the merge adds"). */
  private[graft] def allBuckets(docs: DataFrame): DataFrame = {
    val cappedSet = udaf(new graft.functions.CappedSetAggregator(MaxDf + 1))
    shinglesRaw(docs).groupBy("s")
      .agg(cappedSet(col("doc_id")).as("ds"))
  }

  /** df-capped inverted index: one bucket row per informative shingle,
    * `ds` = its sorted doc_id set (2 ≤ |ds| ≤ MaxDf). Exposed to IndexStore
    * so the audit family can persist it once (`savePairIndex`) instead of
    * re-deriving the index per query. */
  private[graft] def dfCappedBuckets(docs: DataFrame): DataFrame =
    allBuckets(docs).filter(size(col("ds")).between(2, MaxDf))

  /** (a, b, inter): every within-bucket id pair with a < b (`ds` is
    * sorted) and the number of buckets it shares. The fan-out is the
    * codegen'd `graft_bucket_pairs` — the interpreted
    * `flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2,
    * size(ds)), y -> struct(x AS a, y AS b))))` lambda it replaced is
    * pinned equal by EngineProperties. */
  private def bucketPairs(buckets: DataFrame): DataFrame = {
    buckets.select(explode(call_function("graft_bucket_pairs", col("ds"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** (a, b, inter) with a < b, WITHOUT per-doc sizes: callers that only
    * gate on the intersection count (q91) stop here — `indexedPairs` adds
    * a sizes aggregation plus two joins that Catalyst cannot prune away
    * once they're in the plan. */
  private[graft] def interPairs(docs: DataFrame): DataFrame =
    bucketPairs(dfCappedBuckets(docs))

  /** interPairs over an already-built (possibly loaded) bucket table. */
  private[graft] def interPairsFrom(buckets: DataFrame): DataFrame =
    bucketPairs(buckets)

  private[graft] def indexedPairs(docs: DataFrame): DataFrame =
    indexedPairsFrom(dfCappedBuckets(docs))

  private[graft] def indexedPairsFrom(buckets: DataFrame): DataFrame = {
    val sizes = buckets.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    bucketPairs(buckets)
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
  }

  /** (a, b, inter, jaccard) with a < b, jaccard >= tau. */
  def jaccardPairs(docs: DataFrame, tau: Double = JaccardTau): DataFrame =
    jaccardPairsFrom(dfCappedBuckets(docs), tau)

  /** jaccardPairs over a persisted/loaded bucket table: `ds` is stored
    * sorted, so pairs are bit-identical to the in-query path. */
  def jaccardPairsFrom(buckets: DataFrame, tau: Double = JaccardTau): DataFrame =
    indexedPairsFrom(buckets)
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("a", "b", "inter", "jaccard")

  /** Asymmetric near-dup: containment = inter / min(|A|, |B|) over the
    * same df-capped inverted index. Catches a small doc embedded inside a
    * much larger one — a copied article wrapped in page chrome — where
    * symmetric Jaccard stays low because the size union dominates (inter/
    * min = 1.0 for a strict subset whose Jaccard is only |A|/|B|). Same
    * single-shuffle, bounded-fan-out scale shape as jaccardPairs. */
  def containmentPairs(docs: DataFrame, tau: Double = ContainTau): DataFrame =
    containmentPairsFrom(dfCappedBuckets(docs), tau)

  /** containmentPairs over a persisted/loaded bucket table. */
  def containmentPairsFrom(buckets: DataFrame, tau: Double = ContainTau): DataFrame =
    indexedPairsFrom(buckets)
      .withColumn("containment", col("inter") / least(col("sza"), col("szb")))
      .withColumn("jaccard", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("containment") >= tau)
      .select("a", "b", "inter", "jaccard", "containment")

  /** Shared DuckDB core of `indexedPairs`: CTE chain ending in
    * `pairs(a, b, inter)` + `sizes(doc_id, sz)`; prepend `$shingleCte`. */
  private val pairCoreCtes: String =
    s"""informative AS (
       |  SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s)
       |  WHERE df >= 2 AND df <= $MaxDf),
       |sh2 AS (SELECT sh.doc_id, sh.s FROM sh JOIN informative USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       |  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of `jaccardPairs` as a CTE chain ending in `jp(a, b, inter,
    * jaccard)`; prepend `$shingleCte`. */
  def jaccardPairsCtes(tau: Double = JaccardTau): String =
    s"""$pairCoreCtes,
       |jp AS (
       |  SELECT p.a, p.b, p.inter, p.inter / (za.sz + zb.sz - p.inter) AS jaccard
       |  FROM pairs p
       |  JOIN sizes za ON za.doc_id = p.a
       |  JOIN sizes zb ON zb.doc_id = p.b
       |  WHERE p.inter / (za.sz + zb.sz - p.inter) >= $tau)""".stripMargin

  /** DuckDB twin of `containmentPairs`, ending in `cp(a, b, inter, jaccard,
    * containment)`; prepend `$shingleCte`. */
  def containmentPairsCtes(tau: Double = ContainTau): String =
    s"""$pairCoreCtes,
       |cp AS (
       |  SELECT p.a, p.b, p.inter,
       |         p.inter / (za.sz + zb.sz - p.inter) AS jaccard,
       |         p.inter / least(za.sz, zb.sz) AS containment
       |  FROM pairs p
       |  JOIN sizes za ON za.doc_id = p.a
       |  JOIN sizes zb ON zb.doc_id = p.b
       |  WHERE p.inter / least(za.sz, zb.sz) >= $tau)""".stripMargin

  /** The connected-components edge barrier: the symmetric (a, b) edge
    * frame, built in ONE scan (an explode of both directions; the old
    * unionByName form read the edge lineage twice), hash-partitioned on
    * the propagation join key `b` and checkpointed once. Every round's
    * neighbor join then reuses the standing |E|-partitioning instead of
    * re-exchanging the edge frame per round (the |V|-sized label side is
    * what moves), and callers never cache the edge frame. At a 10⁹-edge
    * corpus this removes O(rounds) full edge shuffles and one
    * corpus-sized cache residency (r18, VERDICT r17 #5).
    *
    * The partition COUNT is explicit (the session's shuffle-partition
    * knob — cluster-configured, cpus locally) and the barrier goes
    * through Sessions.checkpointPartitioned: a plain checkpoint under AQE
    * captures UnknownPartitioning off the adaptive root, so the standing
    * layout was silently lost and every round re-exchanged the edges
    * anyway (caught in plans/r18/cc_round_*). PlanSpec's layout canary
    * pins `hashpartitioning(b)` on the result. */
  private[graft] def symmetricEdges(edges: DataFrame,
      reliable: Boolean = false): DataFrame =
    Sessions.checkpointPartitioned(edges
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col("b")), reliable)

  /** Connected components of an undirected edge list `(a, b)`: returns
    * `(v, lbl)` with lbl = min vertex id of v's component.
    *
    * Min-label propagation WITH pointer jumping: each round a vertex takes
    * the min of its own label, its neighbors' labels, and its label's label
    * (path halving), so convergence is O(log diameter) joins — `maxRounds`
    * = 30 covers any graph that fits an address space. Fails loudly if not
    * converged rather than returning silently-wrong components.
    *
    * Per round: ONE propagation job (the checkpoint materialization) plus a
    * cheap convergence scan over the just-materialized blocks — the old
    * label rides along as `old`, so no second join recomputes anything.
    *
    * `reliable = true` swaps localCheckpoint for reliable `checkpoint` into
    * `sc.getCheckpointDir`: localCheckpoint pins blocks to executors, so on
    * a real cluster an executor loss kills the lineage-truncated frame —
    * reliable checkpoints survive it at the cost of a distributed-FS write
    * per round. Local/bench runs keep the executor-memory default. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 30,
      reliable: Boolean = false): DataFrame = {
    if (reliable) require(
      edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true requires sparkContext.setCheckpointDir(...)")
    // Each round is barrier'd: materializes the (small) label frame AND
    // truncates lineage, so the plan stays constant-size across iterations
    // (an un-truncated loop compounds two joins per round into an
    // exponential analyzer/plan blowup). Superseded checkpoint blocks are
    // dropped by the ContextCleaner once unreferenced.
    def barrier(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val sym = symmetricEdges(edges, reliable)
    // Round-0 propagation folded into init: lbl = min(v, min neighbor),
    // computed by the same single shuffle the old `distinct()` init cost —
    // every graph converges one full barrier round earlier (the invariant
    // only needs lbl to start ≥ the component min, which min(v, nbrs)
    // satisfies).
    var labels = barrier(sym.groupBy(col("a").as("v"))
      .agg(min("b").as("nb"))
      .select(col("v"), least(col("v"), col("nb")).as("lbl")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      val nbrMin = sym.join(labels, sym("b") === labels("v"))
        .groupBy(sym("a").as("nv")).agg(min("lbl").as("nlbl"))
      val hop = labels.select(col("v").as("hv"), col("lbl").as("hlbl"))
      val next = barrier(labels
        .join(nbrMin, labels("v") === col("nv"), "left")
        .join(hop, labels("lbl") === col("hv"), "left")
        .select(labels("v"), least(col("lbl"),
          coalesce(col("nlbl"), col("lbl")),
          coalesce(col("hlbl"), col("lbl"))).as("lbl"),
          labels("lbl").as("old")))
      // Convergence read off the frame we just built (coalesce covers the
      // empty-graph case) — a scan of local blocks, not another join job.
      converged = next.agg(coalesce(
        max(when(col("lbl") < col("old"), lit(1)).otherwise(lit(0))),
        lit(0))).head().getInt(0) == 0
      labels = next.select("v", "lbl")
      iter += 1
    }
    require(converged, s"component labels not converged after $iter rounds")
    labels
  }

  // ── Corpus snapshot diff at rest (q101's production form) ──────────────

  /** Buckets per snapshot manifest. Tests override with a small count; at
    * 100 TB the bucket count is chosen so one bucket ≈ one task's worth of
    * manifest rows (the manifest is (doc_id, source, h) — tiny per doc). */
  val SnapBuckets = 32

  /** The digest projection a snapshot diff consumes: (doc_id, source, h)
    * with h = content hash of the text. One definition shared by the
    * catalog query (q101), the snapshot writer, and the stress harness so
    * the at-rest form can never drift from the oracle-checked one. */
  def snapshotDigest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))

  /** Writes a corpus snapshot manifest to `dir`, bucketed by doc_id, and
    * registers it under `name` (an EXTERNAL table — the catalog carries
    * only the bucket spec; the data lives at `dir`). Two manifests written
    * this way diff with ZERO shuffle exchanges on the join
    * (SnapshotDiffSpec pins the plan): each bucket pair joins locally,
    * which at 100 TB means the nightly refresh audit never moves the
    * corpus — it streams co-located bucket files. */
  def writeSnapshot(docs: DataFrame, name: String, dir: String,
      nBuckets: Int = SnapBuckets): Unit =
    writeDigest(snapshotDigest(docs), name, dir, nBuckets)

  /** Writes an ALREADY-digested (doc_id, source, h) frame as a bucketed
    * manifest — the layout half of `writeSnapshot`, reused by the
    * Snapshot CLI's `apply` (whose input is a digest, not documents). */
  def writeDigest(digest: DataFrame, name: String, dir: String,
      nBuckets: Int = SnapBuckets): Unit = {
    val spark = digest.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // Pre-shuffle by the bucket expression (same murmur3 hash bucketBy
    // uses) so each task writes exactly ONE bucket file — without it every
    // write task emits up to nBuckets files (tasks × buckets small files at
    // cluster scale). The write pays this one shuffle so that every later
    // diff pays none.
    digest
      .repartition(nBuckets, col("doc_id"))
      .write.bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .option("path", dir).mode("overwrite").saveAsTable(name)
  }

  /** Re-attaches an on-disk snapshot manifest directory (written by
    * `writeSnapshot`, possibly by an earlier session) as a bucketed
    * EXTERNAL table. The bucket spec must match the writer's — Spark
    * derives bucket ids from the file names `writeSnapshot` produced, so a
    * mismatched `nBuckets` would silently fall back to a shuffled join;
    * callers pass the same constant they wrote with. */
  def registerSnapshot(spark: SparkSession, name: String, dir: String,
      nBuckets: Int = SnapBuckets): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name (doc_id BIGINT, source STRING, h STRING)
         |USING parquet
         |CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $nBuckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
  }

  /** Per-doc diff classification of two snapshot digests. Presence is
    * decided by literal flags (pa/pb) carried through the full-outer join,
    * NEVER by hash nullness: md5(NULL text) = NULL, so an ha/hb-based test
    * would misread a present-but-null-text doc as added/removed — the
    * DuckDB oracle classifies on key presence (`a.doc_id IS NULL`), and
    * this matches it exactly. A null-vs-null hash comparison on two
    * PRESENT rows falls through to 'unchanged' in both engines (NULL != NULL
    * is not true), so the residual semantics agree too. */
  private[graft] def diffStatus(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("doc_id"), col("source").as("sa"), col("h").as("ha"),
        lit(1).as("pa"))
      .join(b.select(col("doc_id"), col("source").as("sb"), col("h").as("hb"),
          lit(1).as("pb")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("sa"), col("sb")).as("source"),
        when(col("pa").isNull, lit("added"))
          .when(col("pb").isNull, lit("removed"))
          .when(col("ha") =!= col("hb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** (source, status, n_docs) rollup of a per-doc diff — q101's output. */
  private[graft] def diffRollup(st: DataFrame): DataFrame =
    st.groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")

  /** The production entry point VERDICT r8 asked for: diff two on-disk
    * snapshot manifest directories. Both sides re-attach as bucketed
    * tables, so the doc_id full-outer join is exchange-free; the only
    * shuffle in the whole plan is the catalog-sized (source, status)
    * rollup. Table names derive from the dirs so repeated diffs of
    * different snapshot pairs coexist in one session. */
  def snapshotDiff(spark: SparkSession, dirA: String, dirB: String,
      nBuckets: Int = SnapBuckets): DataFrame = {
    def reg(dir: String, side: String): String = {
      val name = s"graft_snap_${side}_${(dir.hashCode.toLong & 0xffffffffL).toHexString}"
      registerSnapshot(spark, name, dir, nBuckets)
      name
    }
    diffRollup(diffStatus(spark.table(reg(dirA, "a")), spark.table(reg(dirB, "b"))))
  }

  /** q101's simulated snapshot B: the same corpus after a refresh —
    * docs %13==0 dropped, %7==0 revised, %11==0 re-ingested under new ids.
    * Shared with the stress harness so `Stress snapdiff` materializes the
    * exact arithmetic the oracle checks. */
  private[graft] def simulateRefresh(docs: DataFrame): DataFrame = {
    val bKept = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val bNew = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("source"),
        concat(col("text"), lit(" new")).as("text"))
    bKept.unionByName(bNew)
  }

  // ── CDC changeset apply (q104): MERGE a delta into a standing snapshot ──

  /** Applies a CDC changeset to a snapshot digest (the MERGE INTO shape).
    * `changes` rows are (doc_id, source, h, op) with op ∈ {upsert, delete},
    * keyed uniquely by doc_id: upsert inserts-or-replaces the keyed row,
    * delete drops it; delete-of-absent is a no-op (CdcApplySpec pins both
    * edge behaviors). Presence through the full-outer join is decided by
    * literal flags, never value nullness — the q101 lesson (a NULL h must
    * not read as absence).
    *
    * 100 TB shape: ONE doc_id-keyed full-outer join decides every row's
    * fate. With the snapshot side read from a `writeSnapshot` bucketed
    * manifest, the snapshot contributes NO exchange — the only shuffle
    * (or broadcast) is the delta-sized changeset (CdcApplySpec pins zero
    * exchanges under the snapshot scan), so a nightly apply moves the
    * DELTA, never the standing corpus. Chaining applies:
    * `writeSnapshot(applyChangeset(...), ...)` re-buckets the result once
    * on write, restoring the at-rest property for the next cycle. */
  def applyChangeset(snap: DataFrame, changes: DataFrame): DataFrame =
    snap.select(col("doc_id"), col("source").as("ss"), col("h").as("sh"),
        lit(1).as("ps"))
      .join(changes.select(col("doc_id"), col("source").as("cs"),
          col("h").as("ch"), col("op"), lit(1).as("pc")),
        Seq("doc_id"), "full_outer")
      .filter(col("pc").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        when(col("pc").isNotNull, col("cs")).otherwise(col("ss")).as("source"),
        when(col("pc").isNotNull, col("ch")).otherwise(col("sh")).as("h"))

  /** The changeset that turns snapshot A into `simulateRefresh(A)`:
    * deletes (%13), revisions (%7 of the %13-survivors), new-id inserts
    * (%11, matching simulateRefresh's unfiltered re-ingest) — shared by
    * q104 and CdcApplySpec so the oracle-checked apply and the q101 diff
    * arithmetic can never drift. */
  private[graft] def simulateChangeset(docs: DataFrame): DataFrame = {
    val dels = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), col("source"),
        lit(null).cast("string").as("h"), lit("delete").as("op"))
    val revs = docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source"),
        md5(concat(col("text"), lit(" rev2"))).as("h"), lit("upsert").as("op"))
    val ins = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("source"),
        md5(concat(col("text"), lit(" new"))).as("h"), lit("upsert").as("op"))
    dels.unionByName(revs).unionByName(ins)
  }

  // ── Bloom-prefiltered decontamination (q105): registry too big to bcast ──

  /** q105's core: EXACT decontamination of `corpus` against a shingle
    * REGISTRY too large for a broadcast join (a standing all-benchmarks
    * registry, not q62's single eval set). The registry's shingles feed
    * Spark's own BloomFilterAggregate once (a delta-sized driver sketch,
    * ~1.2 MB at est=2^20); the corpus side then drops every shingle the
    * bloom rejects BEFORE the registry join's exchange — the same
    * row-level runtime-filter move Catalyst injects for shuffle joins
    * (spark.sql.optimizer.runtime.bloomFilter.*), made explicit so the
    * registry build is a reusable artifact. False positives only cost
    * wasted join probes: the exact equi-join + distinct + count after the
    * prefilter decides membership, so the output is bit-identical to the
    * unfiltered plan (BloomDecontamSpec pins equivalence; the q105 oracle
    * is the plain exact SQL).
    *
    * 100 TB shape: shuffle volume on the corpus->registry join is cut to
    * the bloom's pass rate (broadcast was the 10 TB-registry
    * non-starter); everything downstream of the filter is the q62 shape —
    * distinct on matched rows only, one doc-keyed agg. In production the
    * registry distinct-shingle table and its bloom bytes persist with the
    * registry (IndexStore pattern); here both build in-query. */
  def bloomDecontam(corpus: DataFrame, registry: DataFrame,
      k: Int = ContamK, est: Long = 1L << 20): DataFrame = {
    val (reg, bf) = buildDecontamRegistry(registry, est)
    bloomDecontamFrom(corpus, reg, bf, k)
  }

  /** The registry ARTIFACT: distinct shingle table + its serialized bloom,
    * built once per registry version (and in production persisted alongside
    * it — the IndexStore pattern; `Stress bloom` measures scans against a
    * prebuilt artifact, the production steady state). localCheckpoint: the
    * registry frame feeds two consumers (the bloom build action and every
    * later verify join); without the barrier the distinct re-runs per
    * consumer. */
  def buildDecontamRegistry(registry: DataFrame,
      est: Long = 1L << 20): (DataFrame, Array[Byte]) = {
    val reg = shinglesRaw(registry).select("s").distinct().localCheckpoint(true)
    val bf = reg.agg(call_function("graft_bloom_agg", col("s"), lit(est)).as("bf"))
      .head().getAs[Array[Byte]](0)
    (reg, bf)
  }

  /** Decontaminate `corpus` against a prebuilt registry artifact. The bloom
    * literal rides into every task (codegen'd might_contain on the scan);
    * rows it rejects never reach the join exchange. */
  def bloomDecontamFrom(corpus: DataFrame, reg: DataFrame, bf: Array[Byte],
      k: Int = ContamK): DataFrame =
    shinglesRaw(corpus)
      .filter(call_function("graft_might_contain", lit(bf), col("s")))
      .join(reg, Seq("s"))
      .select("doc_id", "s").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= k)

  // ── Near-dup cluster consolidation (q102) + its from-store form ────────

  /** Consolidation over an explicit edge set: connected components on the
    * pair graph, then ONE doc_id-keyed join of the (small) component map
    * into the corpus and a per-component agg — q58's accepted scale shape.
    * The corpus is never windowed or re-shuffled by a derived key. */
  private[graft] def consolidateComponents(edges: DataFrame,
      docs: DataFrame): DataFrame = {
    val comp = connectedComponents(edges)
    comp.select(col("v").as("doc_id"), col("lbl").as("component"))
      .join(docs.select("doc_id", "source", "n_chars"), Seq("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"),
        concat_ws(",", sort_array(collect_set(col("source")))).as("sources"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("component")
  }

  /** q102 in-query form: mines the Jaccard pair graph then consolidates. */
  def consolidate(docs: DataFrame, tau: Double = JaccardTau): DataFrame =
    consolidateComponents(jaccardPairs(docs, tau).select("a", "b"), docs)

  /** q102 from-store form (VERDICT r8 #2): consolidation off the PERSISTED
    * df-capped pair index (`IndexStore.savePairIndex` →
    * `loadPairBuckets`), skipping the shingle/index mining that is ~95% of
    * the in-query cost. Stored buckets keep `ds` sorted, so the pair set —
    * and therefore every consolidated row — is bit-identical to
    * `consolidate` (IndexCliSpec pins the equivalence). */
  def consolidateFrom(buckets: DataFrame, docs: DataFrame,
      tau: Double = JaccardTau): DataFrame =
    consolidateComponents(jaccardPairsFrom(buckets, tau).select("a", "b"), docs)

  val SimBits = 60 // 15 hex digits of md5; stays clear of the bigint sign bit
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands // 15 → 32768 bucket keys per band
  val SimMaxHamming = 3 // must stay < SimBands for the pigeonhole guarantee

  /** 60-bit SimHash per document via the codegen'd graft_simhash60
    * expression (graft.functions.SimHash60): one MD5 per word in a tight
    * loop, no explode, no shuffle. The declarative higher-order-aggregate
    * formulation of the same math runs interpreted at ~60 ms/doc — scan
    * speed only comes from the custom expression here. */
  def simhashed(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("graft_simhash60", split(trim(col("text")), " ")).as("simhash"))
  }

  // def, not val: referenced from `defs` above, which would otherwise read
  // it before object-initialization reaches it (a null into the SQL).
  /** DuckDB twin of `simhashed` as a CTE ending in `sim(doc_id, simhash)`. */
  def simhashCte: String =
    s"""sim AS (
       |  SELECT doc_id,
       |         list_reduce([CASE WHEN bs[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END
       |                      for j in range(0, $SimBits)], (x, y) -> x + y) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |           [list_sum([CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(1 + j // 4 AS INT), 1)) - 1)
       |                                 >> CAST(3 - j % 4 AS INT)) & 1 = 1
       |                      THEN 1 ELSE -1 END for h in hs]) for j in range(0, $SimBits)] AS bs
       |    FROM (SELECT doc_id, list_transform(string_split(trim(text), ' '), x -> md5(x)) AS hs
       |          FROM documents)))""".stripMargin

  /** DuckDB twin of `minhashSignatures`→`lshBands`→`bandExplode` as a CTE
    * chain `shh`/`sigs`/`banded`/`bx` (prepend a `sh(doc_id, s)` CTE).
    * Same hash family as graft_minhash12, in exact HUGEINT arithmetic:
    * H = 15-hex-nibble fold of md5(s), slot i = min (A_i·H + B_i) mod
    * (2^61−1) with the SAME A/B constants interpolated as literals.
    * Shared by q23 (full-corpus pairs) and q80 (incremental pairs).
    * A def, not a val: referenced from `defs` (object-init order). */
  def lshCtes: String = {
    val rows = NumHashes / Bands
    val M = graft.functions.MinHash12.M61
    val sigCols = graft.functions.MinHash12.MulAdd.zipWithIndex
      .map { case ((a, b), i) =>
        s"min(CAST((${a}::HUGEINT * hh + ${b}) % $M AS BIGINT)) AS h$i"
      }.mkString(", ")
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until rows).map(r => s"h${b * rows + r}::VARCHAR").mkString(" || '|' || ")
      s"md5($parts) AS band$b"
    }.mkString(", ")
    val bx = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS bh FROM banded").mkString("\n  UNION ALL ")
    s"""shh AS (
       |  SELECT doc_id,
       |         list_reduce([(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1)::BIGINT
       |                      for i in range(1, 16)], (x, y) -> x * 16 + y) AS hh
       |  FROM sh),
       |sigs AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
       |banded AS (SELECT doc_id, $bandCols FROM sigs),
       |bx AS (
       |  $bx)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Exact dedup: canonical-content hash groupBy ──
    QueryDef(
      "q21_dedup_exact",
      (s, dir) => {
        // Canonical form = sorted word multiset, so reordered copies
        // collapse too. One shuffle on the 16-byte hash.
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(concat_ws(" ", sort_array(split(trim(col("text")), " ")))).as("h"))
          .groupBy("h")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
          .orderBy("h")
      },
      Some("""SELECT h, min(doc_id) AS keeper, count(*) AS n
             |FROM (SELECT doc_id,
             |             md5(array_to_string(list_sort(string_split(trim(text), ' ')), ' ')) AS h
             |      FROM documents)
             |GROUP BY h ORDER BY h""".stripMargin)),

    // ── Best-of-group dedup: keep the highest-quality copy, not the first ──
    QueryDef(
      "q72_dedup_best",
      (s, dir) => {
        // q21/q58 keep the min doc_id; real curation keeps the BEST copy.
        // The group key is the VOCABULARY hash (sorted distinct words) —
        // not q21's word-multiset hash, under which the quality score is
        // constant (it is permutation- and multiset-determined) and
        // "best" would degenerate to min-id. Same-vocabulary variants
        // (repetition, padding) score differently, so the rank genuinely
        // picks by quality, tie-broken by doc_id. The window is keyed by
        // the 16-byte hash — shuffled, never concentrated.
        val scored = Tables.load(s, dir, "documents")
          .withColumn("h",
            md5(concat_ws(" ", sort_array(array_distinct(split(trim(col("text")), " "))))))
          .withColumn("p", concat(lit(" "), lower(col("text")), lit(" ")))
          .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
          .withColumn("n_alpha",
            length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
          .withColumn("score", expr(
            """3.0e-1 * least(n_words / 1.0e2, 1.0e0)
              | + 4.0e-1 * (1.0e0 - ((length(p) - length(replace(p, ' the ', ''))) / 5
              |                       + (length(p) - length(replace(p, ' a ', ''))) / 3) / n_words)
              | + 3.0e-1 * least((n_alpha / n_words) / 8.0e0, 1.0e0)""".stripMargin))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("h").orderBy(col("score").desc, col("doc_id"))
        scored
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select("doc_id", "h", "score")
          .orderBy("doc_id")
      },
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |         md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS h,
             |         3.0e-1 * least(n_words / 1.0e2, 1.0e0)
             |           + 4.0e-1 * (1.0e0 - ((length(p) - length(replace(p, ' the ', ''))) / 5
             |                                 + (length(p) - length(replace(p, ' a ', ''))) / 3) / n_words)
             |           + 3.0e-1 * least((n_alpha / n_words) / 8.0e0, 1.0e0) AS score
             |  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
             |               len(string_split(trim(text), ' '))::BIGINT AS n_words,
             |               length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha
             |        FROM documents))
             |SELECT doc_id, h, score FROM (
             |  SELECT doc_id, h, score,
             |         row_number() OVER (PARTITION BY h ORDER BY score DESC, doc_id) AS rnk
             |  FROM scored)
             |WHERE rnk = 1 ORDER BY doc_id""".stripMargin)),

    // ── n-gram Jaccard near-dup via inverted-index pair generation ──
    QueryDef(
      "q22_ngram_jaccard",
      (s, dir) => jaccardPairs(Tables.load(s, dir, "documents")).orderBy("a", "b"),
      Some(s"""WITH $shingleCte,
              |${jaccardPairsCtes()}
              |SELECT a, b, inter, jaccard FROM jp ORDER BY a, b""".stripMargin)),

    // ── Asymmetric containment near-dup (subset-duplicate detection) ──
    QueryDef(
      "q87_containment",
      (s, dir) => containmentPairs(Tables.load(s, dir, "documents"))
        .orderBy("a", "b"),
      Some(s"""WITH $shingleCte,
              |${containmentPairsCtes()}
              |SELECT a, b, inter, jaccard, containment FROM cp
              |ORDER BY a, b""".stripMargin)),

    // ── Connected components over the near-dup graph (dedup clustering) ──
    QueryDef(
      "q47_dedup_components",
      (s, dir) => {
        // Edge mining runs ONCE into connectedComponents' own symmetric-
        // frame barrier (r18 — the barrier replaced the persist() every
        // call site used to need when the union read the lineage twice).
        val edges = jaccardPairs(Tables.load(s, dir, "documents"))
          .select("a", "b")
        val result = connectedComponents(edges)
        result.select(col("v").as("doc_id"), col("lbl").as("component"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |${jaccardPairsCtes()},
              |sym AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
              |reach(v, r) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b)
              |SELECT v AS doc_id, min(r) AS component
              |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)),

    // ── Dedup keep-set: one canonical representative per near-dup cluster ──
    QueryDef(
      "q58_dedup_keep",
      (s, dir) => {
        // The end product of the dedup pipeline: every document labeled
        // with its near-dup component (singleton docs are their own
        // component) and a keep flag = "is the min doc_id of the
        // component". Downstream training jobs filter keep = 1.
        //
        // 100 TB shape: the keep decision is computed ON THE COMPONENT MAP
        // (a per-component min over comp, which holds only docs that appear
        // in some near-dup pair), never as a corpus-wide window — a window
        // keyed by component would shuffle the whole corpus even though
        // singletons trivially keep themselves. The corpus sees exactly one
        // join, keyed on doc_id; no broadcast assumption on comp (AQE
        // broadcasts it when it is in fact small).
        val docs = Tables.load(s, dir, "documents")
        val comp = connectedComponents(jaccardPairs(docs).select("a", "b"))
        // lbl IS the component's min doc_id (min-label propagation), so
        // membership alone decides keep: a doc in comp keeps iff it is the
        // label; a doc not in comp is a singleton and keeps itself.
        docs.select(col("doc_id"))
          .join(comp.select(col("v").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lbl"), col("doc_id")).as("component"),
            when(col("lbl").isNull || col("lbl") === col("doc_id"), 1)
              .otherwise(0).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |${jaccardPairsCtes()},
              |sym AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
              |reach(v, r) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b),
              |comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v)
              |SELECT doc_id, component,
              |       CASE WHEN min(doc_id) OVER (PARTITION BY component) = doc_id
              |            THEN 1 ELSE 0 END AS keep
              |FROM (SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS component
              |      FROM documents d LEFT JOIN comp c ON c.v = d.doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ── Benchmark decontamination: shingle overlap vs a held-out set ──
    QueryDef(
      "q62_contamination",
      (s, dir) => {
        // The eval-set decontamination pass of a training pipeline: flag
        // corpus docs sharing >= ContamK distinct shingles with ANY
        // benchmark doc (here: doc_id < 10 stands in for the benchmark).
        // The benchmark shingle set is small BY NATURE (eval sets are
        // thousands of docs, not billions), so it broadcasts; the corpus
        // side stays RAW shingles — a narrow scan into the broadcast
        // equi-join — and the set-dedup (n_shared counts DISTINCT shared
        // shingles) runs on the matched rows only. The previous shape
        // dedup'd the whole corpus's shingles first: a full corpus
        // shuffle to serve a query whose output touches ~nothing. At
        // 100 TB the cost is the scan, as it should be.
        val docs = Tables.load(s, dir, "documents")
        val raw = shinglesRaw(docs)
        val bench = raw.filter(col("doc_id") < BenchDocs)
          .select("s").distinct()
        raw.filter(col("doc_id") >= BenchDocs)
          .join(broadcast(bench), Seq("s"))
          .select("doc_id", "s").distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= ContamK)
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < $BenchDocs)
              |SELECT doc_id, count(*) AS n_shared
              |FROM sh JOIN bench USING (s)
              |WHERE doc_id >= $BenchDocs
              |GROUP BY doc_id HAVING count(*) >= $ContamK
              |ORDER BY doc_id""".stripMargin)),

    // ── Fuzzy decontamination: per-eval-item containment audit ──
    QueryDef(
      "q114_fuzzy_decontam",
      (s, dir) => {
        // q62 flags docs sharing >= K shingles with the eval set POOLED —
        // it cannot say WHICH eval item leaked, and a doc grazing many
        // items can out-score a doc embedding one item verbatim. This is
        // the per-item form: containment |C ∩ B| / |B| of each eval item's
        // shingle set B in each corpus doc C, reported per (corpus doc,
        // eval item) pair at >= FuzzyTau — the audit list a decontam
        // review actually reads ("train doc X contains 80% of test item
        // Y"), robust to light edits that break exact-hash screens.
        //
        // 100 TB shape: the eval side is small BY NATURE — its distinct
        // shingle set and per-item sizes both BROADCAST; the corpus side
        // is a raw narrow shingle scan into the broadcast equi-join, and
        // the only corpus-wide exchange is keyed by (doc_id, bench_id)
        // over MATCHED rows only (set-dedup after the join, like q62).
        // Candidate volume scales with eval-set hits, never corpus².
        val docs = Tables.load(s, dir, "documents")
        fuzzyContainmentPairs(
          docs.filter(col("doc_id") % FuzzyBenchMod =!= 0),
          docs.filter(col("doc_id") % FuzzyBenchMod === 0))
          .orderBy("doc_id", "bench_id")
      },
      Some(s"""WITH $shingleCte,
              |shb AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % $FuzzyBenchMod = 0),
              |bsz AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bsz FROM shb GROUP BY 1),
              |inter AS (
              |  SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS inter
              |  FROM sh c JOIN shb b ON c.s = b.s
              |  WHERE c.doc_id % $FuzzyBenchMod <> 0
              |  GROUP BY 1, 2)
              |SELECT i.doc_id, i.bench_id, i.inter, z.bsz, i.inter / z.bsz AS containment
              |FROM inter i JOIN bsz z USING (bench_id)
              |WHERE i.inter / z.bsz >= 4.0e-1
              |ORDER BY doc_id, bench_id""".stripMargin)),

    // ── LSH candidate recall vs the exact pair truth (index QA) ──
    QueryDef(
      "q123_lsh_recall",
      (s, dir) => {
        // The index-quality scorecard behind every LSH deployment: of the
        // pairs the exact df-capped index reports at τ (q22 — the truth
        // the engine itself ships), what fraction does the banded MinHash
        // bucketing (q23's candidate generator) surface, per Jaccard
        // decile? The recall-vs-similarity curve is what calibrates
        // bands×rows before anyone trusts the cheap path — the S-curve's
        // knee must sit below τ, and a sagging high-similarity bucket
        // means broken signatures, not tuning.
        //
        // 100 TB shape: both sides are the library's bounded pair
        // machinery (df-capped inverted index; band-bucket equi-join) —
        // no new corpus-wide work; the eval joins two pair tables on
        // (a, b) and collapses to ≤ 10 decile rows.
        val docs = Tables.load(s, dir, "documents")
        val truth = jaccardPairs(docs)
        val cand = lshCandidates(lshBands(minhashSignatures(docs)))
          .withColumn("m", lit(1))
        truth.join(cand, Seq("a", "b"), "left")
          .groupBy(expr("cast(floor(jaccard * 10) as bigint)").as("j_bucket"))
          .agg(count(lit(1)).as("n_truth"), count(col("m")).as("n_hit"))
          .withColumn("recall", col("n_hit") / col("n_truth"))
          .orderBy("j_bucket")
      },
      Some(s"""WITH $shingleCte,
              |${jaccardPairsCtes()},
              |$lshCtes,
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id)
              |SELECT CAST(floor(j.jaccard * 10) AS BIGINT) AS j_bucket,
              |       CAST(count(*) AS BIGINT) AS n_truth,
              |       CAST(count(c.a) AS BIGINT) AS n_hit,
              |       count(c.a) / count(*) AS recall
              |FROM jp j LEFT JOIN cand c ON c.a = j.a AND c.b = j.b
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Winnowing fingerprints: per-doc selection stats ──
    QueryDef(
      "q117_winnow_fps",
      (s, dir) => {
        // The fingerprint-density report behind the winnowed copy-
        // detection index: how many grams each doc has, how many survive
        // window-min selection (~2/(W+1) of them — the whole point: the
        // index at rest is 2-3× smaller than the full shingle table), and
        // the per-doc density. Pure narrow in-row compute — hashing,
        // sliding-window minima, and the distinct-set all happen inside
        // the row's arrays; zero shuffle before the determinism sort
        // (PlanSpec pin).
        winnowFps(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), col("n_grams"),
            size(col("fps")).cast("long").as("n_fps"),
            expr("size(fps) / n_grams").as("density"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $winnowCtes
              |SELECT doc_id, n_grams, len(fps)::BIGINT AS n_fps,
              |       len(fps) / n_grams AS density
              |FROM wf ORDER BY doc_id""".stripMargin)),

    // ── Winnowed pair candidates: the sparse copy-detection index ──
    QueryDef(
      "q118_winnow_pairs",
      (s, dir) => {
        // q22's inverted-index pair generation run over the WINNOWED
        // fingerprint set instead of every shingle: pairs sharing ≥
        // WinnowMinShared selected fingerprints. Winnowing's guarantee
        // makes this the standard copy-detector trade: any shared run of
        // ≥ 6 words is still caught, while the inverted index holds
        // ~2/(W+1) of the rows q22 shuffles — at 100 TB THAT is the
        // difference between an index that fits and one that doesn't.
        // Same scale discipline as q22: df-capped buckets (2..MaxDf)
        // bound per-key fan-out, so candidate volume stays linear; the
        // bucket table is the persistable form (IndexStore.saveWinnowIndex
        // — store-served pairs bit-identical, spec-pinned).
        winnowPairs(Tables.load(s, dir, "documents")).orderBy("a", "b")
      },
      Some(s"""WITH $winnowCtes,
              |fpx AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
              |good AS (
              |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fpx GROUP BY fp)
              |  WHERE df >= 2 AND df <= $MaxDf),
              |f2 AS (SELECT doc_id, fp FROM fpx JOIN good USING (fp))
              |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
              |FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
              |ORDER BY a, b""".stripMargin)),

    // ── MinHash + LSH: banded signatures → bucket join → verified Jaccard ──
    QueryDef(
      "q23_minhash_lsh",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // Signature path: codegen'd per-doc minhash, no explode, no
        // shuffle; exact-Jaccard verification materializes shingle sets
        // for CANDIDATE docs only (verifyJaccard restricts before the
        // set-dedup — no corpus-wide distinct anywhere in this query).
        val cand = lshCandidates(lshBands(minhashSignatures(docs)))
        verifyJaccard(cand, shinglesRaw(docs)).orderBy("a", "b")
      },
      Some(s"""WITH $shingleCte,
              |$lshCtes,
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.a, c.b, count(*) AS inter
              |  FROM cand c
              |  JOIN sh sa ON sa.doc_id = c.a
              |  JOIN sh sb ON sb.doc_id = c.b AND sa.s = sb.s
              |  GROUP BY c.a, c.b)
              |SELECT i.a, i.b, i.inter, i.inter / (za.sz + zb.sz - i.inter) AS jaccard
              |FROM inter i
              |JOIN sizes za ON za.doc_id = i.a
              |JOIN sizes zb ON zb.doc_id = i.b
              |ORDER BY a, b""".stripMargin)),

    // ── Incremental dedup: a new crawl batch vs the standing corpus ──
    QueryDef(
      "q80_incremental_dedup",
      (s, dir) => {
        // The production shape of LSH dedup: a standing corpus already has
        // its band index (here derived in-query; in a pipeline it is the
        // persisted state), and each incoming crawl BATCH (stand-in:
        // doc_id % 4 = 0) is deduplicated against that index plus itself —
        // WITHOUT re-pairing the corpus. The bucket join keeps the batch
        // on one side, so candidate volume scales with the BATCH, not
        // corpus², and verification (exact Jaccard at IncTau) touches
        // candidate docs only. Decision is the standard greedy pass: a
        // batch doc is a dup if it verifies against ANY existing doc, or
        // against an earlier-id batch doc (whether or not that doc was
        // itself kept) — deterministic, no clustering needed.
        val docs = Tables.load(s, dir, "documents")
        val bx = bandExplode(lshBands(minhashSignatures(docs)))
        val bxBatch = bx.filter(col("doc_id") % 4 === 0)
        val cand = bx.as("x").join(bxBatch.as("y"),
            col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") =!= col("y.doc_id") &&
              (col("x.doc_id") % 4 =!= 0 || col("x.doc_id") < col("y.doc_id")))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        val dup = verifyJaccard(cand, shinglesRaw(docs))
          .filter(col("jaccard") >= IncTau)
          .groupBy(col("b").as("doc_id")).agg(min("a").as("dup_of"))
        docs.filter(col("doc_id") % 4 === 0).select("doc_id")
          .join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            when(col("dup_of").isNull, 1).otherwise(0).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |$lshCtes,
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bx x JOIN bx y
              |    ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id <> y.doc_id
              |   AND y.doc_id % 4 = 0
              |   AND (x.doc_id % 4 <> 0 OR x.doc_id < y.doc_id)),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.a, c.b, count(*) AS inter
              |  FROM cand c
              |  JOIN sh sa ON sa.doc_id = c.a
              |  JOIN sh sb ON sb.doc_id = c.b AND sa.s = sb.s
              |  GROUP BY c.a, c.b),
              |dup AS (
              |  SELECT b AS doc_id, min(a) AS dup_of FROM (
              |    SELECT i.a, i.b,
              |           i.inter / (za.sz + zb.sz - i.inter) AS jaccard
              |    FROM inter i
              |    JOIN sizes za ON za.doc_id = i.a
              |    JOIN sizes zb ON zb.doc_id = i.b)
              |  WHERE jaccard >= $IncTau GROUP BY b)
              |SELECT d.doc_id, dup.dup_of,
              |       CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep
              |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
              |WHERE d.doc_id % 4 = 0
              |ORDER BY d.doc_id""".stripMargin)),

    // ── Boilerplate mining: most frequent cross-document 8-grams ──
    QueryDef(
      "q82_boilerplate",
      (s, dir) => {
        // The corpus-level twin of q78's within-doc repetition: long
        // n-grams shared across MANY documents are boilerplate (headers,
        // license blocks, templates) — the standard signal for span
        // removal. One hash shuffle builds (8-gram → distinct-doc count)
        // with partial aggregation; the top-20 report is a
        // TakeOrderedAndProject, never a global sort. Document frequency
        // (distinct docs, not occurrences) is the boilerplate measure: a
        // doc repeating its own phrase is q78's business, not this one's.
        shinglesRaw(Tables.load(s, dir, "documents"), BoilerN)
          .groupBy("s").agg(countDistinct("doc_id").as("df"))
          .filter(col("df") >= BoilerDf)
          .orderBy(col("df").desc, col("s"))
          .limit(20)
      },
      Some(s"""WITH w AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
             |  WHERE len(string_split(trim(text), ' ')) >= 8),
             |sh8 AS (
             |  SELECT doc_id,
             |         unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS s
             |  FROM w)
             |SELECT s, count(DISTINCT doc_id) AS df FROM sh8
             |GROUP BY s HAVING df >= $BoilerDf
             |ORDER BY df DESC, s LIMIT 20""".stripMargin)),

    // ── Boilerplate span removal: strip frequent 8-gram spans from docs ──
    QueryDef(
      "q85_boilerplate_strip",
      (s, dir) => {
        // The transform half of q82's report: every occurrence of a
        // cross-document-frequent 8-gram (df ≥ 3) is removed from the text
        // — token positions covered by ANY boilerplate span are dropped
        // and the doc is re-assembled from the survivors. Shapes: one hash
        // shuffle builds the boilerplate set (small by nature — AQE
        // broadcasts it into the position join), cover-expansion is a ≤8×
        // narrow explode of START positions only, and re-assembly is one
        // doc_id-keyed aggregation. Docs under 8 words pass through
        // untouched; a doc that is pure boilerplate comes out NULL.
        boilerplateStrip(Tables.load(s, dir, "documents")).orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
             |pos AS (
             |  SELECT doc_id, p.i AS i, p.wd AS wd FROM (
             |    SELECT doc_id, unnest([struct_pack(i := i - 1, wd := w[i])
             |                           for i in range(1, len(w) + 1)]) AS p
             |    FROM w)),
             |sh8 AS (
             |  SELECT doc_id, p.i AS i, p.s AS s FROM (
             |    SELECT doc_id, unnest([struct_pack(i := i - 1, s := array_to_string(w[i:i+7], ' '))
             |                           for i in range(1, len(w) - 6)]) AS p
             |    FROM w WHERE len(w) >= 8)),
             |bp AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM sh8 GROUP BY s)
             |       WHERE df >= $BoilerDf),
             |cov AS (
             |  SELECT DISTINCT doc_id, ci FROM (
             |    SELECT doc_id, unnest([i + d for d in range(0, 8)]) AS ci
             |    FROM sh8 JOIN bp USING (s))),
             |kept AS (
             |  SELECT p.doc_id, string_agg(p.wd, ' ' ORDER BY p.i) AS cleaned,
             |         count(*) AS n_kept
             |  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.ci = p.i
             |  WHERE c.ci IS NULL GROUP BY p.doc_id)
             |SELECT d.doc_id, k.cleaned,
             |       len(string_split(trim(d.text), ' '))::BIGINT - coalesce(k.n_kept, 0)::BIGINT AS n_removed
             |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ── SimHash: 60-bit signed-bit-sum fingerprint, shuffle-free ──
    QueryDef(
      "q24_simhash",
      (s, dir) => simhashed(Tables.load(s, dir, "documents"))
        .select("doc_id", "simhash").orderBy("doc_id"),
      Some(s"WITH $simhashCte\nSELECT doc_id, simhash FROM sim ORDER BY doc_id")),

    // ── SimHash near-dup pairs: band-blocked Hamming search ──
    QueryDef(
      "q54_simhash_pairs",
      (s, dir) => {
        // The search half of SimHash dedup: block on the fingerprint's 4
        // 15-bit bands (a ≤3-bit-distant pair must agree on ≥1 band —
        // pigeonhole), equi-join bucket-mates, verify Hamming distance via
        // bit_count(xor). 2^15 values per band keeps buckets O(1)-ish at
        // corpus scale — widen the fingerprint to grow further.
        // Materialize the fingerprints ONCE: without the barrier the
        // optimizer inlines the whole simhash fold into every band-key
        // expression and the join's residual, re-evaluating it per
        // candidate pair (measured 300x slowdown).
        val sim = simhashed(Tables.load(s, dir, "documents"))
          .select("doc_id", "simhash").localCheckpoint(true)
        val bx = sim.select(col("doc_id"), col("simhash"), explode(array(
          (0 until SimBands).map(k => struct(lit(k).as("bi"),
            expr(s"(simhash >> ${k * SimBandBits}) & ${(1 << SimBandBits) - 1}").as("key"))): _*)).as("e"))
          .select(col("doc_id"), col("simhash"), col("e.bi").as("bi"), col("e.key").as("key"))
        bx.as("x").join(bx.as("y"),
            col("x.bi") === col("y.bi") && col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
          .distinct()
          .filter(col("hamming") <= SimMaxHamming)
          .orderBy("a", "b")
      },
      Some(s"""WITH $simhashCte,
              |bx AS (
              |  SELECT doc_id, simhash, k AS bi,
              |         (simhash >> (k * $SimBandBits)) & ${(1 << SimBandBits) - 1} AS key
              |  FROM sim, range(0, $SimBands) t(k))
              |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
              |       bit_count(xor(x.simhash, y.simhash)) AS hamming
              |FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
              |WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimMaxHamming
              |ORDER BY a, b""".stripMargin)),

    // ── Edit-distance-verified near-dup (character-level Levenshtein) ──
    QueryDef(
      "q91_edit_distance",
      (s, dir) => {
        // Set-based measures (Jaccard, containment) are order-blind: two
        // docs with the same vocabulary but scrambled sentences score as
        // duplicates. Edit similarity is the order-AWARE verifier — the
        // standard second opinion when near-dup removal must not collapse
        // legitimate remixes. Shape: Levenshtein costs O(⌈len/64⌉·len) per
        // pair even bit-parallel (graft_levenshtein: Myers/Hyyrö, exact
        // and equal to Spark's levenshtein), so it can never run
        // corpus-wide; candidates come from the same df-capped inverted
        // index as q22 (one shuffle, bounded fan-out),
        // TWICE gated before any text is compared: (1) inter ≥ EditMinInter
        // shared shingles — the intersection count the index already
        // aggregated, free to test, 110× fewer pairs (see EditMinInter);
        // (2) a char-length-ratio bound prunes pairs that could not reach
        // EditTau (lev ≥ |la-lb| ⇒ sim ≤ min/max). Similarity =
        // (max_len - lev) / max_len: one integer subtraction + one
        // division, hash-exact in both engines.
        val docs = Tables.load(s, dir, "documents")
        val t = docs.select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"))
        interPairs(docs)
          .filter(col("inter") >= EditMinInter).select("a", "b")
          .join(t.select(col("doc_id").as("a"), col("text").as("ta"),
            col("len").as("la")), Seq("a"))
          .join(t.select(col("doc_id").as("b"), col("text").as("tb"),
            col("len").as("lb")), Seq("b"))
          .filter(least(col("la"), col("lb")) / greatest(col("la"), col("lb"))
            >= EditTau)
          // The gated frame is rows-tiny but compute-heavy per row: AQE
          // coalesces it to ~10 skewed partitions, serializing the
          // levenshtein pass (measured 2.65 → 0.70 s after spreading, with
          // the DP kernel). The bit-parallel kernel took this job from
          // ~1.9 s to ~0.1 s at local[4] (PERF.md "Native pair kernels").
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("lev",
            call_function("graft_levenshtein", col("ta"), col("tb")).cast("long"))
          .select("a", "b", "la", "lb", "lev")
          // Barrier: the edit_sim filter below would otherwise be pushed
          // under this projection and re-run the levenshtein kernel in
          // the Filter AND the Project (CSE does not span operators).
          // The gated frame is tiny (~2 rows/doc), so materializing it
          // costs nothing next to a second levenshtein pass.
          .localCheckpoint(true)
          .withColumn("edit_sim",
            (greatest(col("la"), col("lb")) - col("lev"))
              / greatest(col("la"), col("lb")))
          .filter(col("edit_sim") >= EditTau)
          .select("a", "b", "lev", "edit_sim")
          .orderBy("a", "b")
      },
      Some(s"""WITH $shingleCte,
              |$pairCoreCtes,
              |t AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM documents),
              |c AS (
              |  SELECT p.a, p.b, ta.text AS ta, tb.text AS tb,
              |         ta.len AS la, tb.len AS lb
              |  FROM pairs p
              |  JOIN t ta ON ta.doc_id = p.a
              |  JOIN t tb ON tb.doc_id = p.b
              |  WHERE p.inter >= $EditMinInter
              |    AND least(ta.len, tb.len) / greatest(ta.len, tb.len) >= $EditTau),
              |v AS (
              |  SELECT a, b, levenshtein(ta, tb)::BIGINT AS lev,
              |         (greatest(la, lb) - levenshtein(ta, tb)::BIGINT) / greatest(la, lb) AS edit_sim
              |  FROM c)
              |SELECT a, b, lev, edit_sim FROM v
              |WHERE edit_sim >= $EditTau ORDER BY a, b""".stripMargin)),

    // ── Per-source duplication profile (curation dashboard) ──
    QueryDef(
      "q92_source_dup_profile",
      (s, dir) => {
        // The monitoring view of the q82/q85 boilerplate machinery: for
        // each ingest SOURCE, what fraction of its token volume is covered
        // by cross-document-frequent 8-grams? A template-heavy source
        // (mirror site, scraped forum chrome) shows up as a high dup_rate
        // slice long before per-pair dedup runs — the standard "which
        // feed is polluting the mix" dashboard. Shapes are q85's: one
        // shuffle for the boilerplate set (AQE-broadcast into the cover
        // join), ≤8× narrow cover explode, then the report collapses to
        // ONE tiny source-keyed aggregation (output rows = #sources).
        // Counts are integer sums; the only double is the final division.
        val n = BoilerN
        val docs = Tables.load(s, dir, "documents")
        val w = docs.select(col("doc_id"), split(trim(col("text")), " ").as("w"))
        val sh8 = w.filter(size(col("w")) >= n)
          .select(col("doc_id"),
            posexplode(call_function("graft_gramstrings", col("w"), lit(n)))
              .as(Seq("i", "s")))
        val bp = sh8.groupBy("s").agg(countDistinct("doc_id").as("df"))
          .filter(col("df") >= BoilerDf).select("s")
        val cnt = sh8.join(bp, Seq("s"))
          .select(col("doc_id"), explode(expr(s"sequence(i, i + ${n - 1})")).as("ci"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        docs.select(col("doc_id"), col("source"),
            size(split(trim(col("text")), " ")).cast("long").as("nw"))
          .join(cnt, Seq("doc_id"), "left")
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum("nw").as("n_words"),
            sum(coalesce(col("n_dup"), lit(0L))).as("n_dup"))
          .withColumn("dup_rate", col("n_dup") / col("n_words"))
          .orderBy("source")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
              |sh8 AS (
              |  SELECT doc_id, p.i AS i, p.s AS s FROM (
              |    SELECT doc_id, unnest([struct_pack(i := i - 1, s := array_to_string(w[i:i+7], ' '))
              |                           for i in range(1, len(w) - 6)]) AS p
              |    FROM w WHERE len(w) >= 8)),
              |bp AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df FROM sh8 GROUP BY s)
              |       WHERE df >= $BoilerDf),
              |cnt AS (
              |  SELECT doc_id, count(*) AS n_dup FROM (
              |    SELECT DISTINCT doc_id, ci FROM (
              |      SELECT doc_id, unnest([i + d for d in range(0, 8)]) AS ci
              |      FROM sh8 JOIN bp USING (s)))
              |  GROUP BY doc_id),
              |d AS (SELECT doc_id, source,
              |             len(string_split(trim(text), ' '))::BIGINT AS nw
              |      FROM documents)
              |SELECT source, count(*) AS n_docs,
              |       CAST(sum(nw) AS BIGINT) AS n_words,
              |       CAST(sum(coalesce(n_dup, 0)) AS BIGINT) AS n_dup,
              |       CAST(sum(coalesce(n_dup, 0)) AS BIGINT)
              |         / CAST(sum(nw) AS BIGINT) AS dup_rate
              |FROM d LEFT JOIN cnt USING (doc_id)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ── Cross-source near-dup overlap matrix ──
    QueryDef(
      "q93_source_overlap",
      (s, dir) => {
        // WHICH feeds copy each other: q22's verified near-dup pairs
        // rolled up by ingest-source pair — the mirror-detection view a
        // crawl operator reads before deciding which source to drop
        // (q92 profiles boilerplate WITHIN a source; this catches whole
        // documents duplicated ACROSS sources). Shapes add nothing to
        // q22: two doc_id-keyed joins of the small source map into the
        // pair frame, then one tiny source-pair aggregation (output rows
        // ≤ sources²). The pair key is orientation-normalized
        // (lexicographic least/greatest) so the matrix is one triangle.
        // max() is order-insensitive — safe on doubles where a sum or
        // avg across partitions would not be hash-stable.
        val docs = Tables.load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        jaccardPairs(docs)
          .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
          .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH $shingleCte,
              |${jaccardPairsCtes()},
              |src AS (SELECT doc_id, source FROM documents)
              |SELECT least(x.source, y.source) AS src_a,
              |       greatest(x.source, y.source) AS src_b,
              |       CAST(count(*) AS BIGINT) AS n_pairs,
              |       max(jaccard) AS max_jaccard
              |FROM jp JOIN src x ON x.doc_id = jp.a JOIN src y ON y.doc_id = jp.b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── Deterministic train/val/test split manifest ──
    QueryDef(
      "q96_split_manifest",
      (s, dir) => {
        // The split assignment every training run needs to be REPRODUCIBLE
        // and content-stable: hash the text (not the id) so re-crawled or
        // re-ingested copies of the same bytes can never land on opposite
        // sides of the train/test fence, and any worker can recompute the
        // assignment without a lookup table. The manifest is the artifact
        // a pipeline publishes per snapshot: docs / tokens / distinct
        // contents per (split, source). Shape: one narrow scan (md5 +
        // word count fuse into the projection) into a partial+final agg
        // keyed by splits·sources — output is catalog-sized, the shuffle
        // carries only partial rows.
        val d = withSplitBucket(Tables.load(s, dir, "documents"))
          .select(splitCol.as("split"), col("source"),
            expr("graft_hash60(text)").as("h"),
            size(split(trim(col("text")), " ")).cast("long").as("nw"))
        d.groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("n_tokens"),
            countDistinct(col("h")).as("n_contents"))
          .orderBy("split", "source")
      },
      Some(s"""WITH $splitCte,
              |d AS (
              |  SELECT split, source,
              |         list_reduce([(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::BIGINT
              |                      for i in range(1, 16)], (a, b) -> a * 16 + b) AS h,
              |         len(string_split(trim(text), ' '))::BIGINT AS nw
              |  FROM spl)
              |SELECT split, source,
              |       CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(nw) AS BIGINT) AS n_tokens,
              |       CAST(count(DISTINCT h) AS BIGINT) AS n_contents
              |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── Cross-split near-dup leakage audit ──
    QueryDef(
      "q97_split_leakage",
      (s, dir) => {
        // Content-hash splitting (q96) fences EXACT duplicates; near-dups
        // can still straddle the fence and leak eval data into training.
        // This is the audit run before a split ships: q22's verified
        // near-dup pairs rolled up by split pair — off-diagonal rows
        // (train,test / train,val / test,val) are leakage, the diagonal is
        // ordinary within-split duplication for context. Shapes add
        // nothing to q22: the split map rides as two doc_id-keyed joins
        // into the pair frame (AQE broadcasts the tiny pair side), then
        // one ≤9-row aggregation. max() not avg() on the double — order-
        // insensitive, hash-stable.
        val docs = Tables.load(s, dir, "documents")
        val sp = withSplitBucket(docs).select(col("doc_id"), splitCol.as("split"))
        jaccardPairs(docs)
          .join(sp.select(col("doc_id").as("a"), col("split").as("pa")), Seq("a"))
          .join(sp.select(col("doc_id").as("b"), col("split").as("pb")), Seq("b"))
          .select(least(col("pa"), col("pb")).as("split_a"),
            greatest(col("pa"), col("pb")).as("split_b"), col("jaccard"))
          .groupBy("split_a", "split_b")
          .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
          .orderBy("split_a", "split_b")
      },
      Some(s"""WITH $shingleCte,
              |${jaccardPairsCtes()},
              |$splitCte
              |SELECT least(x.split, y.split) AS split_a,
              |       greatest(x.split, y.split) AS split_b,
              |       CAST(count(*) AS BIGINT) AS n_pairs,
              |       max(jaccard) AS max_jaccard
              |FROM jp JOIN spl x ON x.doc_id = jp.a JOIN spl y ON y.doc_id = jp.b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── Corpus snapshot diff: the incremental-refresh audit ──
    QueryDef(
      "q101_corpus_diff",
      (s, dir) => {
        // A refreshed crawl replaces a corpus snapshot; before the new one
        // ships, the pipeline publishes WHAT changed: per (source, status)
        // counts of added / removed / changed / unchanged docs, where
        // "changed" is decided by CONTENT hash (md5 of text), not by
        // mtime or size. Snapshot B is simulated from the same table with
        // deterministic arithmetic (docs %13==0 dropped, %7==0 revised,
        // %11==0 re-ingested under new ids) — the OPERATOR is the diff.
        //
        // 100 TB shape: one narrow scan per snapshot (hash fuses into the
        // projection), one doc_id-keyed full-outer join — the id-keyed
        // hash shuffle IS the diff's cost — then a catalog-sized
        // partial+final agg. The production form is `snapshotDiff(spark,
        // dirA, dirB)` over manifests written by `writeSnapshot`: bucketed
        // by doc_id at rest, the join plans with ZERO shuffle exchanges
        // (SnapshotDiffSpec pins it; PERF.md `snapdiff` measures it).
        val docs = Tables.load(s, dir, "documents")
        diffRollup(diffStatus(
          snapshotDigest(docs), snapshotDigest(simulateRefresh(docs))))
      },
      Some("""WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
             |b AS (
             |  SELECT doc_id, source,
             |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h
             |  FROM documents WHERE doc_id % 13 != 0
             |  UNION ALL
             |  SELECT doc_id + 10000000 AS doc_id, source, md5(text || ' new') AS h
             |  FROM documents WHERE doc_id % 11 = 0)
             |SELECT coalesce(a.source, b.source) AS source,
             |       CASE WHEN a.doc_id IS NULL THEN 'added'
             |            WHEN b.doc_id IS NULL THEN 'removed'
             |            WHEN a.h != b.h THEN 'changed'
             |            ELSE 'unchanged' END AS status,
             |       CAST(count(*) AS BIGINT) AS n_docs
             |FROM a FULL OUTER JOIN b USING (doc_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── Near-dup cluster consolidation: provenance merge per component ──
    QueryDef(
      "q102_dup_consolidate",
      (s, dir) => {
        // After dedup picks a keeper (q58), the dropped copies' METADATA
        // must not vanish: a training pipeline keeps one text but the
        // union of its provenance (which sources carried it, how much
        // volume it represents) for mixture weighting and takedown
        // tracing. One row per multi-doc near-dup component: member
        // count, distinct sources, the merged source list, total chars.
        //
        // 100 TB shape: mirrors q58 — the component map holds only docs
        // that appear in some near-dup pair (small by construction), so
        // the consolidation joins THAT map to the corpus once on doc_id
        // (AQE broadcasts the map side) and aggregates per component;
        // the corpus is never windowed or re-shuffled by a derived key.
        consolidate(Tables.load(s, dir, "documents"))
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |${jaccardPairsCtes()},
              |sym AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
              |reach(v, r) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b),
              |comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v)
              |SELECT comp.lbl AS component,
              |       CAST(count(*) AS BIGINT) AS n_members,
              |       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
              |       array_to_string(list_sort(list(DISTINCT d.source)), ',') AS sources,
              |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
              |FROM comp JOIN documents d ON d.doc_id = comp.v
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── CDC changeset apply: MERGE a delta into a standing snapshot ──
    QueryDef(
      "q104_changeset_apply",
      (s, dir) => {
        // q101 diffs two snapshots AFTER the fact; this is the write-side
        // twin: apply a CDC changeset (upserts + deletes, the MERGE INTO
        // shape) to snapshot A and prove the result content-exact. The
        // output digests the applied snapshot per source: doc count + a
        // checksum over the md5 fold (mod 1e9+7 so bigint sums can't
        // overflow at any corpus size). The ORACLE derives the same rollup
        // from the refreshed corpus DIRECTLY — merge semantics on one
        // side, direct rematerialization on the other, so a hash match
        // proves apply(A, delta) == B row-for-row, not just count-for-
        // count. Scale notes on `applyChangeset`: the only moved data is
        // the delta when A is a bucketed at-rest manifest.
        val docs = Tables.load(s, dir, "documents")
        applyChangeset(snapshotDigest(docs), simulateChangeset(docs))
          .select(col("source"),
            expr("cast(conv(substr(h, 1, 15), 16, 10) AS bigint) % 1000000007")
              .as("hm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("hm")).as("h_sum"))
          .orderBy("source")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h
             |  FROM documents WHERE doc_id % 13 != 0
             |  UNION ALL
             |  SELECT doc_id + 10000000 AS doc_id, source, md5(text || ' new') AS h
             |  FROM documents WHERE doc_id % 11 = 0)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(list_reduce([(strpos('0123456789abcdef', substr(h, i, 1)) - 1)::BIGINT
             |                             for i in range(1, 16)], (x, y) -> x * 16 + y)
             |                % 1000000007) AS BIGINT) AS h_sum
             |FROM b GROUP BY source ORDER BY source""".stripMargin)),

    // ── Bloom-prefiltered decontamination vs a non-broadcastable registry ──
    QueryDef(
      "q105_bloom_decontam",
      (s, dir) => {
        // q62 decontaminates against ONE eval set (tiny -> broadcast);
        // this is the standing-registry form: every shingle ever published
        // in any benchmark (simulated here by the doc_id%4 quarter of the
        // corpus — a side too big for a broadcast join by policy). The
        // bloom prefilter cuts the corpus side before the join shuffle;
        // the exact join after it keeps the result bit-identical to the
        // plain SQL the oracle runs. PlanSpec pins the might_contain
        // filter BELOW the join on the corpus side.
        val docs = Tables.load(s, dir, "documents")
        bloomDecontam(docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |reg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 4 = 0)
              |SELECT doc_id, count(*) AS n_shared
              |FROM sh JOIN reg USING (s)
              |WHERE doc_id % 4 != 0
              |GROUP BY doc_id HAVING count(*) >= $ContamK
              |ORDER BY doc_id""".stripMargin)),

    // ── Persisted pair index, end-to-end: build → load → mine pairs ──
    QueryDef(
      "q127_pairs_from_store",
      (s, dir) => {
        // The PRODUCTION form of q22, oracle-graded end-to-end (VERDICT r9
        // #1): build the df-capped inverted index into a scratch store
        // (`IndexStore.savePairIndex` — the one corpus shuffle, paid at
        // index-build time), then answer the pair query from the PERSISTED
        // bucket table alone. Same oracle SQL as q22, so a green row here
        // proves store-served pairs equal freshly-mined pairs through the
        // independent engine — not just through the scalatest bit-identity
        // pin (IndexStoreSpec). At 100 TB this split is the whole point:
        // the index builds once per corpus version; every audit after
        // starts from the bucket scan and never re-shingles text.
        val scratch = graft.Scratch.dir("q127-store")
        IndexStore.savePairIndex(Tables.load(s, dir, "documents"), scratch)
        jaccardPairsFrom(IndexStore.loadPairBuckets(s, scratch))
          .orderBy("a", "b")
      },
      Some(s"""WITH $shingleCte,
              |${jaccardPairsCtes()}
              |SELECT a, b, inter, jaccard FROM jp ORDER BY a, b""".stripMargin)),

    // ── Persisted pair index → provenance consolidation (q102's twin) ──
    QueryDef(
      "q128_consolidate_from_store",
      (s, dir) => {
        // q102's production form, oracle-graded end-to-end: pair graph
        // read from the PERSISTED df-capped index (skipping the shingle
        // mining that is ~95% of the in-query cost — PERF.md
        // `consolidate`), components + provenance merge on top. Same
        // oracle SQL as q102: a green row proves the full
        // build→persist→load→consolidate path against the independent
        // engine. The corpus text is touched exactly twice ever: once by
        // the index build, once by the doc_id-keyed metadata join.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q128-store")
        IndexStore.savePairIndex(docs, scratch)
        consolidateFrom(IndexStore.loadPairBuckets(s, scratch), docs)
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |${jaccardPairsCtes()},
              |sym AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
              |reach(v, r) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b),
              |comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v)
              |SELECT comp.lbl AS component,
              |       CAST(count(*) AS BIGINT) AS n_members,
              |       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
              |       array_to_string(list_sort(list(DISTINCT d.source)), ',') AS sources,
              |       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
              |FROM comp JOIN documents d ON d.doc_id = comp.v
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Persisted winnow index, end-to-end: build → load → copy pairs ──
    QueryDef(
      "q129_winnow_pairs_from_store",
      (s, dir) => {
        // q118's production form, oracle-graded end-to-end: winnowed
        // fingerprint index built into a scratch store
        // (`IndexStore.saveWinnowIndex`), copy-pair candidates answered
        // from the persisted buckets. Same oracle SQL as q118 — the
        // independent engine re-derives every fingerprint from text, so a
        // hash match proves the store round-trip loses nothing.
        val scratch = graft.Scratch.dir("q129-store")
        IndexStore.saveWinnowIndex(Tables.load(s, dir, "documents"), scratch)
        winnowPairsFrom(IndexStore.loadWinnowBuckets(s, scratch))
          .orderBy("a", "b")
      },
      Some(s"""WITH $winnowCtes,
              |fpx AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
              |good AS (
              |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fpx GROUP BY fp)
              |  WHERE df >= 2 AND df <= $MaxDf),
              |f2 AS (SELECT doc_id, fp FROM fpx JOIN good USING (fp))
              |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
              |FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
              |ORDER BY a, b""".stripMargin)),

    // ── Persisted decontamination registry, end-to-end: build → scan ──
    QueryDef(
      "q134_decontam_from_store",
      (s, dir) => {
        // q105's production form, oracle-graded end-to-end: the registry
        // artifact (distinct shingle table + serialized bloom sketch)
        // persisted by `IndexStore.saveDecontamRegistry`, the corpus scan
        // answered by `IndexStore.decontaminate` — bloom literal loaded
        // from the store into the codegen'd prefilter, exact verify
        // against the stored shingle table, registry TEXT never touched.
        // Same oracle SQL as q105 (the bloom prefilter is exact-join-
        // verified, so it can't change the result set) — a green row
        // proves the persisted registry round-trip, bloom bytes included.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q134-store")
        IndexStore.saveDecontamRegistry(docs.filter(col("doc_id") % 4 === 0),
          scratch)
        IndexStore.decontaminate(docs.filter(col("doc_id") % 4 =!= 0), scratch)
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |reg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 4 = 0)
              |SELECT doc_id, count(*) AS n_shared
              |FROM sh JOIN reg USING (s)
              |WHERE doc_id % 4 != 0
              |GROUP BY doc_id HAVING count(*) >= $ContamK
              |ORDER BY doc_id""".stripMargin)),

    // ── Persisted LSH index, end-to-end: build → batch dedup against it ──
    QueryDef(
      "q135_incremental_dedup_from_store",
      (s, dir) => {
        // q80's production form, oracle-graded end-to-end: the standing
        // corpus's band index + shingle table persisted by
        // `IndexStore.saveLshIndex`, the incoming batch deduplicated
        // against the LOADED state by `IndexStore.incrementalDedup` —
        // candidate volume scales with the batch, the standing corpus's
        // text is never re-read. Same oracle SQL as q80 — the independent
        // engine re-derives every signature from text, so a hash match
        // proves the persisted band/shingle round-trip and the greedy
        // keep decision end-to-end.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q135-store")
        IndexStore.saveLshIndex(docs.filter(col("doc_id") % 4 =!= 0), scratch)
        IndexStore.incrementalDedup(docs.filter(col("doc_id") % 4 === 0),
            IndexStore.loadLshBands(s, scratch),
            IndexStore.loadLshShingles(s, scratch))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |$lshCtes,
              |cand AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              |  FROM bx x JOIN bx y
              |    ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id <> y.doc_id
              |   AND y.doc_id % 4 = 0
              |   AND (x.doc_id % 4 <> 0 OR x.doc_id < y.doc_id)),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT c.a, c.b, count(*) AS inter
              |  FROM cand c
              |  JOIN sh sa ON sa.doc_id = c.a
              |  JOIN sh sb ON sb.doc_id = c.b AND sa.s = sb.s
              |  GROUP BY c.a, c.b),
              |dup AS (
              |  SELECT b AS doc_id, min(a) AS dup_of FROM (
              |    SELECT i.a, i.b,
              |           i.inter / (za.sz + zb.sz - i.inter) AS jaccard
              |    FROM inter i
              |    JOIN sizes za ON za.doc_id = i.a
              |    JOIN sizes zb ON zb.doc_id = i.b)
              |  WHERE jaccard >= $IncTau GROUP BY b)
              |SELECT d.doc_id, dup.dup_of,
              |       CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep
              |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
              |WHERE d.doc_id % 4 = 0
              |ORDER BY d.doc_id""".stripMargin)),

    // ── Cross-document exact repeated-span removal (span-granular dedup) ──
    QueryDef(
      "q148_crossdoc_strip",
      (s, dir) => crossdocStrip(Tables.load(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH ${crossdocCtes()},
              |${crossdocStripSql()}""".stripMargin)),

    // ── Cluster-aware leakage-free train/val/test split ──
    QueryDef(
      "q149_cluster_split",
      (s, dir) => {
        // q96 fences EXACT duplicates by content-hashing the text; q97
        // then AUDITS the near-dup pairs that still straddle the fence.
        // This operator closes that loop: the split is assigned per
        // NEAR-DUP COMPONENT (q47's connected components over the verified
        // Jaccard pairs), so every doc of a cluster lands on the same side
        // and cross-split near-dup leakage is zero BY CONSTRUCTION
        // (ClusterSplitSpec asserts it against q22's pairs). Hash of the
        // component label (not the raw text) drives the bucket — the same
        // portable 60-bit md5 fold as q96, same 90/5/5 bucket fences —
        // so the assignment is reproducible from the component map alone.
        // Shapes add nothing to q58: the corpus sees ONE doc_id-keyed join
        // against the component map (AQE broadcasts it when small);
        // singletons fall through as their own component via coalesce.
        val docs = Tables.load(s, dir, "documents")
        val comp = connectedComponents(jaccardPairs(docs).select("a", "b"))
        docs.select(col("doc_id"))
          .join(comp.select(col("v").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component"))
          .withColumn("hb",
            expr(s"graft_hash60(cast(component AS string)) % $SplitBuckets"))
          .select(col("doc_id"), col("component"),
            when(col("hb") < TrainBuckets, lit("train"))
              .when(col("hb") < ValBuckets, lit("val"))
              .otherwise(lit("test")).as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |${jaccardPairsCtes()},
              |sym AS (SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
              |reach(v, r) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b),
              |comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v),
              |m AS (SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS component
              |      FROM documents d LEFT JOIN comp c ON c.v = d.doc_id)
              |SELECT doc_id, component,
              |       CASE WHEN hb < $TrainBuckets THEN 'train'
              |            WHEN hb < $ValBuckets THEN 'val'
              |            ELSE 'test' END AS split
              |FROM (SELECT doc_id, component,
              |             list_reduce([(strpos('0123456789abcdef',
              |                                  substr(md5(CAST(component AS VARCHAR)), i, 1)) - 1)::BIGINT
              |                          for i in range(1, 16)], (a, b) -> a * 16 + b)
              |               % $SplitBuckets AS hb
              |      FROM m)
              |ORDER BY doc_id""".stripMargin)),

    // ── q148 over the persisted gram index (exact-substring store) ──
    QueryDef(
      "q151_crossdoc_from_store",
      (s, dir) => {
        // q148's production form, oracle-graded end-to-end: the standing
        // corpus's gram→min-doc index persisted by saveGramIndex, the
        // incoming batch stripped against the LOADED state by
        // crossdocStripBatch — the standing corpus's text is never
        // re-read, work scales with the batch. Same gram CTEs as q148 in
        // the oracle (the independent engine re-derives every gram hash
        // from text, restricted to batch rows at the end), so a hash match
        // proves the persist→load→min-combine→strip round trip.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q151-store")
        IndexStore.saveGramIndex(docs.filter(col("doc_id") % 4 =!= 0), scratch)
        IndexStore.crossdocStripBatch(docs.filter(col("doc_id") % 4 === 0),
            IndexStore.loadGramIndex(s, scratch))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${crossdocCtes()},
              |${crossdocStripSql(docPred = "d.doc_id % 4 = 0")}""".stripMargin))
  )

}
