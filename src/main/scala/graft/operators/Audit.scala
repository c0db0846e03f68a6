package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Sessions, Tables}

/** Corpus-audit operators: mergeable-sketch cardinality (HLL), PII density,
  * and token-budget allocation — the bookkeeping layer a 100 TB curation
  * pipeline runs continuously, so every operator here collapses the corpus
  * in one (or, for a sketch-vs-exact audit, two) linear passes into a
  * catalog-sized frame and does ALL further math on that frame.
  *
  * Portability discipline (the repo-wide rules): md5 + integer arithmetic
  * only on anything hash-compared; doubles appear solely as single
  * final-division expressions written identically in both engines; no
  * libm (ln/pow) anywhere — the HLL fold is exact dyadic-integer
  * arithmetic, and the estimator constant is a literal product.
  */
object Audit {

  // ── q160 HyperLogLog parameters ──────────────────────────────────────
  /** Register-index bits: m = 2^HllP = 512 registers per group keeps the
    * standard error ~1.04/√m ≈ 4.6% with aggregation state bounded at
    * langs × 512 rows AT ANY corpus size (the q76/q159 bounded-state
    * discipline, here for COUNT DISTINCT — whose exact form is the
    * classic scale killer: a corpus-wide shuffle of every distinct
    * value). Flajolet et al. 2007's α_m correction applies from m ≥ 128. */
  val HllP = 9
  val HllM = 512

  /** The counted value is the HllN-gram, not the single token: the
    * operator sizes gram machinery (the q148/q151 gram index, df-cap
    * policy, dedup blocking fan-in), and gram cardinality keeps every
    * lang group ≥ 2.5·m distinct values at every test sf — the regime
    * where the RAW estimator (the operator's libm-free definition; see
    * hllEstSql) is unbiased. Token cardinality on this synthetic corpus
    * is ~31 — deep in the small-range regime where raw HLL reads high
    * by design and the standard fix (linear counting) needs ln(). */
  val HllN = 5

  /** ρ cap: the hash contributes 60 bits (15 md5 hex digits — the portable
    * md5→bigint fold), 9 go to the register index, so the suffix has 51
    * bits and ρ ∈ [1, 51]; 52 marks the (probability 2⁻⁵¹) all-zero
    * suffix. Terms 2^(RhoCap−ρ) then sum EXACTLY in bigint: at most
    * m·2^52 = 2^61 < 2^63. */
  val RhoCap = 52

  /** Small-range threshold: the raw estimator (no linear-counting
    * correction — it needs ln(), which the libm-free discipline forbids)
    * is unbiased only past ~2.5·m distinct values per group; below it the
    * estimate reads HIGH by design (the q160 scaladoc's regime note, now
    * a per-row `regime` column so a consumer can't silently trust a
    * small-range estimate). 2.5·512 = 1280 exactly in integers. */
  val HllSmallRange: Long = HllM.toLong * 5 / 2

  // ── q176/q177 Count-Min Sketch parameters ────────────────────────────
  /** Depth (independent hash rows) and width (buckets per row) of the CMS
    * grid (Cormode & Muthukrishnan 2005). State is D × W = 8192 counter
    * cells AT ANY corpus size — the point-frequency analogue of the HLL
    * grid above: Misra–Gries (q159) finds WHICH keys are heavy without
    * the vocabulary shuffle, HLL (q160) counts DISTINCT keys, and the CMS
    * answers "how often does key x occur" from bounded mergeable state.
    * Guarantee: est ≥ true always (counters only over-count), and
    * est ≤ true + e·n/W with probability 1 − e^(−D) per key; the audit
    * emits the standard ⌈2n/W⌉ bound and a within-bound flag per row so
    * the miss probability is visible data, not a silent assumption. */
  val CmsD = 4
  val CmsW = 2048

  /** Misra–Gries summary size, shared by q159 (in-query sketch), the
    * persisted `sketch/mg` ledger table, and q192 (heavy hitters FROM
    * the store): the no-false-negatives line is n/(MgK+1), so the two
    * query paths grade against the same exact-recount oracle. */
  val MgK = 256

  /** Heavy-hitter threshold divisor shared with q159 (K = 256): the CMS
    * audits exactly the keys whose true count exceeds n/(K+1) — the set
    * q159's Misra–Gries sketch is guaranteed to surface, which is how the
    * two sketches compose in production (MG proposes, CMS estimates,
    * neither shuffles the vocabulary). */
  val CmsK = 256

  /** q180 doc-length histogram bin width (tokens per bin). FIXED-width
    * bins over [0, ∞), unlike q76's per-group [min, max] equi-width grid:
    * a data-dependent range breaks MERGEABILITY (two batches disagree on
    * the edges), fixed edges make the persisted histogram add like the
    * CMS cells — which is the whole point of keeping it in the store. */
  val LenBinW = 16L

  // ── q163 PII patterns (the Java/RE2 ∩ DuckDB regex subset, like q61) ──
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** q166 novelty curve: gram widths audited (2 ≈ local word pairs …
    * 8 = CrossN, the exact-substring strip width). */
  val NovWidths = Seq(2, 3, 5, 8)

  /** q168 systematic sample: target sample size (points on the token
    * axis; heavy documents legitimately absorb several). */
  val SampleK = 25L

  // ── q170 source-authority (fixed-point PageRank over the q167 graph) ──
  /** Damping 0.85 as the integer pair (85, 100); rank mass lives on a
    * 10⁹ fixed-point scale and edge shares on a 10⁶ scale, so every
    * RANK-side product stays far under 2⁶³ at any corpus size (rank ≤
    * ~10⁹, share ≤ 10⁶). The share BUILD's product w·ShareScale would
    * overflow once a source pair's shadowed-gram count w passes ~9.2e12
    * (VERDICT r14 #3), so the share expression branches: the exact
    * (w·10⁶) div ow form while ow ≤ ShareScale² = 10¹² (w ≤ ow, so the
    * product ≤ 10¹⁸ < 2⁶³), else w div (ow div 10⁶) — same 10⁶-scaled
    * share, error ≤ 1 unit from the denominator's rounding, and the
    * divisor ≥ 10⁶ > 0 by the guard. IDENTICAL branch text in the oracle,
    * so the engines agree bit-for-bit in both regimes. Rounds fixed at
    * 10 — the operator's DEFINITION (like q153's binning), so the oracle
    * unrolls exactly the same arithmetic. */
  val RankRounds = 10
  val RankScale = 1000000000L
  val ShareScale = 1000000L

  /** q167's core, shared with q170: the (src_later, src_first, n_grams,
    * n_docs, n_first_docs) cross-source shadowing matrix. */
  def shadowMatrix(docs: DataFrame): DataFrame = {
    val gr = Dedup.gramRows(docs)
    val firstDoc = gr.groupBy("gh")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("gh", "first_doc")
    val cov = gr.join(firstDoc, Seq("gh"))
      .filter(col("doc_id") > col("first_doc"))
    val srcs = docs.select(col("doc_id"), col("source"))
    cov
      .join(srcs.select(col("doc_id"), col("source").as("src_later")),
        Seq("doc_id"))
      .join(srcs.select(col("doc_id").as("first_doc"),
        col("source").as("src_first")), Seq("first_doc"))
      .groupBy("src_later", "src_first")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct("doc_id").as("n_docs"),
        countDistinct("first_doc").as("n_first_docs"))
  }

  /** The authority loop's edge barrier: (src, dst, sh) with sh the
    * fixed-point share of src's out-weight `ow` (from `outw`), checkpointed
    * PRE-PARTITIONED on `src` — the key every round's contribution join
    * probes — so the standing |E|-layout is reused round after round (the
    * rank side, the small one, is what moves); without it each of the
    * RankRounds joins re-exchanged the edge-share frame (r18, VERDICT r17
    * #4). The partition COUNT is explicit (the session's shuffle-partition
    * knob) and the barrier goes through Sessions.checkpointPartitioned —
    * a plain checkpoint under AQE captures UnknownPartitioning off the
    * adaptive root and the layout was silently lost (caught in
    * plans/r18/auth_round_*), exactly like Dedup.symmetricEdges. PlanSpec's
    * layout canary pins `hashpartitioning(src)` on the result. */
  private[graft] def shareEdges(edges: DataFrame, outw: DataFrame): DataFrame =
    Sessions.checkpointPartitioned(edges.join(outw, Seq("src"))
      .select(col("src"), col("dst"),
        expr(s"CASE WHEN ow <= ${ShareScale * ShareScale}" +
          s" THEN (w * $ShareScale) div ow" +
          s" ELSE w div (ow div $ShareScale) END").as("sh"))
      .repartition(
        edges.sparkSession.sessionState.conf.numShufflePartitions, col("src")))

  /** q170's fixed-point PageRank iteration, factored over an arbitrary
    * (src, dst, w) edge frame and a (source) node list — shared by the
    * in-query q170 (edges from `shadowMatrix`) and the from-store q172
    * (edges from `IndexStore.shadowMatrixFrom`). Both inputs are
    * barrier'd once (edges is |sources|²-bounded, nodes |sources|-sized —
    * without the node barrier every round's materialization would re-run
    * the node frame's upstream scan); each round localCheckpoints the
    * rank frame (the connectedComponents lineage discipline). Integer
    * arithmetic throughout — see q170's scaladoc for the scale/overflow
    * analysis. Returns (source, authority, in_w, out_w), unordered.
    *
    * r17 round structure (guide §2.4 — remove repeated shuffles): the
    * per-node invariants (node count n, the damped seed term, and the
    * dangling flag) are computed ONCE and carried as columns of the
    * checkpointed rank frame, so each round is exactly (a) a filter+agg
    * of the rank frame for the dangling mass — no join, no shuffle —
    * (b) the contribution shuffle on the edge-share frame, (c) one
    * materialization. The pre-r17 form re-aggregated outw from the full
    * edge frame and re-counted/re-joined the node frame EVERY round:
    * 10 redundant |E|-shuffles and ~2 extra jobs per round, pure fixed
    * overhead locally and real shuffle volume at a 10⁷-source corpus.
    * Arithmetic is expression-for-expression identical. */
  def authority(edges0: DataFrame, nodes0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true)
    val nodes = nodes0.localCheckpoint(true)
    // outw feeds the share build, the dangling flag, and the final out_w
    // join; |sources|-bounded, so the barrier is catalog-sized.
    val outw = edges.groupBy("src").agg(sum("w").as("ow")).localCheckpoint(true)
    val esh = shareEdges(edges, outw)
    val ncnt = nodes.agg(count(lit(1)).as("n"))
    // Rank frame schema: (source, r, n, seed, haslinks). n and seed are
    // constant per node; haslinks=false marks the dangling nodes (no
    // outgoing edge), whose rank mass redistributes each round.
    var r = nodes.crossJoin(broadcast(ncnt))
      .join(outw.select(col("src").as("source"), lit(true).as("hl")),
        Seq("source"), "left")
      .select(col("source"), expr(s"$RankScale div n").as("r"), col("n"),
        expr(s"(($RankScale div n) * 15) div 100").as("seed"),
        coalesce(col("hl"), lit(false)).as("haslinks"))
      .localCheckpoint(true)
    for (_ <- 1 to RankRounds) {
      val dang = r.filter(!col("haslinks"))
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
      val contrib = esh
        .join(r.select(col("source").as("src"), col("r").as("pr")), Seq("src"))
        .select(col("dst"), expr(s"(pr * sh) div $ShareScale").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
      r = r.crossJoin(broadcast(dang))
        .join(contrib.select(col("dst").as("source"), col("contrib")),
          Seq("source"), "left")
        .select(col("source"), expr(
          s"seed + (85 * (coalesce(contrib, 0) + dm div n)) div 100").as("r"),
          col("n"), col("seed"), col("haslinks"))
        .localCheckpoint(true)
    }
    val inw = edges.groupBy("dst").agg(sum("w").as("in_w"))
    r.join(inw.select(col("dst").as("source"), col("in_w")),
        Seq("source"), "left")
      .join(outw.select(col("src").as("source"), col("ow").as("out_w")),
        Seq("source"), "left")
      .select(col("source"), col("r").as("authority"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("out_w"), lit(0L)).as("out_w"))
  }

  // ── q164 waterfilling: budget = floor(total_tokens · 19 / 20) — the
  // "rebalance by trimming the oversized tail" regime; on the near-uniform
  // test sources this still splits the frame into BOTH a fully-allocated
  // and a capped band at every sf (a tighter budget caps everything and
  // exercises only one branch). ──
  val WfNum = 19L
  val WfDen = 20L

  /** q185 k-anonymity release audit: a published metadata row is "exposed"
    * when fewer than KAnonK docs share its quasi-identifier combination
    * (Sweeney 2002's k threshold — the release-gating convention).
    * Quasi-identifiers here are the metadata a released manifest carries
    * without the text: lang and the KAnonBinW-char doc-length bucket
    * (the [48, 553]-char corpus spans ~9 buckets, so the grid holds a mix
    * of exposed and anonymous cells at every SF). */
  val KAnonK = 5L
  val KAnonBinW = 64L

  /** q187: the generalization ladder — candidate length-bucket widths,
    * DOUBLING from q185's base so each rung's cells are exact unions of
    * pairs of the previous rung's (the nesting that makes exposure
    * provably non-increasing up the ladder; AuditSpec pins it). */
  val KAnonWidths = Seq(KAnonBinW, KAnonBinW * 2, KAnonBinW * 4, KAnonBinW * 8)

  /** q191: cap on the trailing-zero fold (geometric tail past 40 is
    * < 2⁻⁴⁰ per draw — included so the fold is EXACT over the 60-bit
    * hash, not truncated at a probable bound). */
  val DpTzCap = 40

  /** q191: the release salt. Hash-derived noise makes the mechanism
    * REPRODUCIBLE (and oracle-gradeable); a production release keys the
    * draw with a secret salt — this constant is that parameter (the
    * `graft.Release` CLI draws a run secret instead; `dpRelease` is the
    * shared mechanism). */
  val DpSalt = "dp"

  /** The q191 geometric-mechanism release with a CALLER-SUPPLIED salt —
    * `graft.Release`'s production seam (VERDICT r15 #4): whoever holds
    * the salt can denoise exactly, so the published bundle draws a run
    * secret while q191 stays graded on the fixed `DpSalt` (the fixed
    * instance is what the DuckDB oracle can reproduce). Identical shape
    * to the graded query: per-(lang, len-bucket) counts, noise =
    * tz-fold difference of two per-(salt, cell) 60-bit md5 draws
    * (geometric(½) each → discrete Laplace at ε = ln 2), sub-KAnonK
    * cells suppressed to −1, released floored at 0. */
  def dpRelease(docs: DataFrame, salt: String): DataFrame = {
    require(!salt.contains("'"),
      "salt must not contain a single quote (it interpolates into SQL)")
    val cells = docs
      .groupBy(col("lang"),
        expr(s"n_chars div $KAnonBinW").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("h1", expr(h60Spark(
        s"concat('${salt}1:', lang, ':', cast(len_bucket AS string))")))
      .withColumn("h2", expr(h60Spark(
        s"concat('${salt}2:', lang, ':', cast(len_bucket AS string))")))
      .withColumn("noise", expr(s"${tzSql("h1")} - ${tzSql("h2")}"))
    cells.select(col("lang"), col("len_bucket"), col("n_docs"),
        col("noise").cast("long").as("noise"),
        when(col("n_docs") < KAnonK, lit(-1L))
          .otherwise(greatest(col("n_docs") + col("noise"), lit(0L)))
          .as("released"))
      .orderBy("lang", "len_bucket")
  }

  /** Trailing zeros of a non-negative bigint SQL expression, as a sum of
    * divisibility indicators: term k is 1 iff 2^k divides `h`, so the sum
    * IS tz(h) exactly (capped at DpTzCap). Pure %/CASE arithmetic —
    * identical text in both engines. tz of a uniform 60-bit hash is a
    * geometric(½) draw: P(tz = k) = 2^-(k+1), so the difference of two
    * independent draws is the two-sided geometric (discrete Laplace) of
    * the geometric mechanism (Ghosh, Roughgarden & Sundararajan 2009)
    * at α = ½, i.e. ε = ln 2 per unit of count sensitivity. */
  private def tzSql(h: String): String =
    (1 to DpTzCap).map(k => s"(CASE WHEN $h % ${1L << k} = 0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Portable md5-hex→bigint (15 hex digits = 60 bits) — Spark side is the
    * codegen'd graft_hash60 (bit-identical to
    * `cast(conv(substr(md5($c), 1, 15), 16, 10) AS bigint)`, minus the hex
    * round trip — r17); the DuckDB twin is the nibble fold below
    * (bit-identical, the q79 idiom). */
  private def h60Spark(c: String): String =
    s"graft_hash60($c)"
  private def h60Duck(c: String): String =
    s"list_reduce([(strpos('0123456789abcdef', substr(md5($c), i, 1)) - 1)::BIGINT for i in range(1, 16)], (a, b) -> a * 16 + b)"

  /** The raw-HLL estimator as a SQL expression over the exact integer
    * register fold `s` = Σ_j 2^(RhoCap − ρ_j) (empty registers ρ = 0):
    * E = α_m · m² · 2^RhoCap / s, with α_m = 0.7213/(1 + 1.079/m). The
    * m, m², and 2^RhoCap literals are DERIVED from the constants at
    * string-build time (ADVICE r13: hardcoded copies would silently
    * compute with stale values if HllP/RhoCap changed) — rendered as
    * exact decimal integers with an e0 exponent, which both engines parse
    * to the same doubles (all are < 2^53, so exactly representable). The
    * chain evaluates left-to-right in both engines, and the one inexact
    * step is the final division — deterministic IEEE. The operator's
    * DEFINITION is the raw estimator: no small-range linear counting (it
    * needs ln()); the audit emits `used` registers plus the `regime`
    * column so saturation and the small-range band are visible per row.
    * α's 0.7213/1.079 factors stay literal — they are Flajolet's m ≥ 128
    * fit constants, not derived quantities. */
  private def hllEstSql(s: String): String =
    s"7.213e-1 / (1.0e0 + 1.079e0 / $HllM.0e0) * ${HllM.toLong * HllM}.0e0" +
      s" * ${1L << RhoCap}.0e0 / CAST($s AS DOUBLE)"

  /** `regime` column over an estimate expression: flags estimates in the
    * raw estimator's small-range band (< 2.5·m) where the value reads
    * high by design — identical SQL text in both engines (VERDICT r13
    * #6). */
  private def regimeSql(e: String): String =
    s"CASE WHEN $e < $HllSmallRange.0e0 THEN 'small_range' ELSE 'ok' END"

  /** The CMS bucket array for one value: D independent 60-bit md5 folds
    * (row index salted into the message — the q79 portable-hash idiom,
    * one fold per row) each reduced mod W. Spark side is the codegen'd
    * graft_cmsbuckets (r17) — bit-identical to the old
    * `transform(sequence(0, D-1), j -> conv-fold(md5('cms'||j||':'||v)) % W)`
    * lambda, minus the hex round trip and the interpreted per-j walk; the
    * DuckDB twin below salts j per unnested row, and both render j with
    * the same decimal cast. */
  private def cmsBucketsSpark(v: String): String =
    s"graft_cmsbuckets($v, $CmsD, $CmsW)"

  /** DuckDB twin of one CMS bucket: row j is a literal per unnested row
    * there, so the fold takes the already-concatenated message. */
  private def cmsBucketDuck(msg: String): String =
    s"${h60Duck(msg)} % $CmsW"

  /** (source, w) word stream over a documents frame — the ONE
    * tokenization q176/q177 and the persisted sketch store share (the
    * q84 whitespace split, empty tokens dropped). */
  def wordRows(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(trim(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")

  /** (source, bin, cnt) per-doc token-length histogram — fixed LenBinW
    * bins, counts, so shards/batches merge by ADDITION (the store's
    * third grid). Token count is the q28 whitespace definition. */
  def lenBins(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        expr(s"CAST(size(split(trim(text), ' ')) AS bigint) div $LenBinW")
          .as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("cnt"))

  /** Per-source + '__all__' doc-length quantiles from a FOLDED
    * (source, bin, cnt) histogram — q180's selection (the q76 ceil-rank
    * lower-edge discipline, pure bigint), factored so the `Index
    * sketch-report` CLI serves the same numbers from the same store
    * read. Emits (source, n_docs, q25, q50, q75, q90, q99). */
  def lenQuantiles(lens: DataFrame): DataFrame = {
    val all = lens.groupBy("bin").agg(sum("cnt").as("cnt"))
      .select(lit("__all__").as("source"), col("bin"), col("cnt"))
    val h = lens.unionByName(all)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
      .rowsBetween(Long.MinValue, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
    val cum = h.select(col("source"), col("bin"),
      sum("cnt").over(wCum).as("cum"),
      sum("cnt").over(wTot).as("n"))
    def bSel(p: Int) =
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("bin")))
    cum.groupBy("source", "n")
      .agg(bSel(25).as("b25"), bSel(50).as("b50"), bSel(75).as("b75"),
        bSel(90).as("b90"), bSel(99).as("b99"))
      .select(col("source"), col("n").as("n_docs"),
        (col("b25") * LenBinW).as("q25"),
        (col("b50") * LenBinW).as("q50"),
        (col("b75") * LenBinW).as("q75"),
        (col("b90") * LenBinW).as("q90"),
        (col("b99") * LenBinW).as("q99"))
  }

  /** Per-occurrence (j, c) bucket rows — a pure narrow projection
    * (stream-safe, the hllRows split): the batch path aggregates it into
    * the grid below; the streaming twin folds it into cell state. */
  def cmsRows(items: DataFrame, v: String): DataFrame = {
    items
      .select(posexplode(expr(cmsBucketsSpark(v))))
      .select(col("pos").cast("long").as("j"), col("col").as("c"))
  }

  /** Global CMS cell frame (j, c, cc) over a value column: one linear
    * scan collapsing into ≤ D × W counter rows, map-side combined — the
    * whole sketch is 8192 bigints regardless of corpus size, and cells
    * from independent shards MERGE BY ADDITION (the linearity CmsSpec
    * pins: Σ_src cells_src ≡ global cells bit-for-bit). */
  def cmsCells(items: DataFrame, v: String): DataFrame =
    cmsRows(items, v)
      .groupBy("j", "c").agg(count(lit(1)).as("cc"))

  /** Per-group CMS cells (grp, j, c, cc) — state ≤ |groups| × D × W. */
  def cmsCellsBy(items: DataFrame, grp: String, v: String): DataFrame = {
    items
      .select(col(grp).as("grp"), posexplode(expr(cmsBucketsSpark(v))))
      .select(col("grp"), col("pos").cast("long").as("j"), col("col").as("c"))
      .groupBy("grp", "j", "c").agg(count(lit(1)).as("cc"))
  }

  /** (key, g) HllN-gram stream keyed by any doc column — the q103
    * gram-enumeration idiom. */
  def gramsBy(docs: DataFrame, key: String): DataFrame = {
    // graft_gramstrings = the old per-i transform lambda (slice +
    // interpreted concat_ws per gram) as one codegen'd pass over the word
    // array — identical strings (r17).
    docs
      .select(col(key), split(trim(col("text")), " ").as("w"))
      .filter(size(col("w")) >= HllN)
      .select(col(key),
        explode(call_function("graft_gramstrings", col("w"), lit(HllN)))
          .as("g"))
  }

  /** (lang, g) HllN-gram stream (q160/streaming-twin grouping). */
  def gram5(docs: DataFrame): DataFrame = gramsBy(docs, "lang")

  /** q166's per-width gram-occurrence stream (doc_id, n, gh): ONE
    * flattened per-row transform enumerates every NovWidths width — grams
    * never materialize as strings, they travel as 60-bit md5 folds (the
    * q148 discipline). Shared by the exact and the sketch halves of the
    * novelty curve; each half consumes its own narrow scan (the q160
    * sketch+verify trade — a barrier here would materialize the
    * corpus-sized occurrence frame instead). */
  def noveltyOcc(docs: DataFrame): DataFrame = {
    val widths = NovWidths.mkString(", ")
    // graft_gramhashes replaces the old per-i lambda (slice + concat_ws +
    // md5 hex fold, interpreted per gram — r17); it returns EMPTY below n
    // words, which subsumes the old size(w) >= n CASE guard. The outer
    // per-width transform stays a lambda but runs |widths| times per row,
    // not per gram.
    docs
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(array($widths), n ->
           |  transform(graft_gramhashes(w, n),
           |    gh -> struct(cast(n AS bigint) AS n, gh AS gh))))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.n").as("n"), col("p.gh").as("gh"))
  }

  /** HLL register frame from a PRECOMPUTED 60-bit hash column (no second
    * md5 — the occ stream's gram hashes are already uniform md5 folds):
    * (grp, idx, r), state ≤ |groups| × m rows, same algebra as
    * `hllRegisters`. */
  def hllRegistersFromHash(items: DataFrame, grp: String, h: String): DataFrame =
    items
      .withColumn("z", expr(s"$h div $HllM"))
      .select(col(grp).as("grp"), expr(s"$h % $HllM").as("idx"), expr(
        s"CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END")
        .cast("long").as("rho"))
      .groupBy("grp", "idx")
      .agg(max("rho").as("r"))

  /** q166's production half (VERDICT r13 #2): per-width distinct-gram
    * cardinality from HLL registers over the occ stream's own hashes —
    * ONE corpus scan collapsing into |NovWidths| × m register rows, vs
    * the exact per-width distinct whose wall grows with the gram
    * population. Returns (grp = width, used, est, regime). */
  def noveltySketch(docs: DataFrame): DataFrame =
    hllEstimate(hllRegistersFromHash(noveltyOcc(docs), "n", "gh"))

  /** (grp, v) → per-occurrence (grp, idx, rho) rows — ρ via the
    * least-significant-set-bit trick: `z & -z` keeps only the lowest set
    * bit, `length(bin(·))` reads its position (both engines print
    * minimal binary strings). Pure narrow projection (stream-safe): the
    * batch path aggregates it below, the streaming twin folds it into
    * grid-bounded register state instead. */
  def hllRows(items: DataFrame, grp: String, v: String): DataFrame = {
    items
      .withColumn("h", expr(h60Spark(v)))
      .withColumn("idx", expr(s"h % $HllM"))
      .withColumn("z", expr(s"h div $HllM"))
      .select(col(grp).as("grp"), col("idx"), expr(
        s"CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END")
        .cast("long").as("rho"))
  }

  /** (grp, v) → (grp, idx, r) HLL register frame. No distinct, no libm:
    * max(ρ) over raw occurrences equals max over distinct values by
    * construction. Public so AuditSpec and the streaming twin can pin
    * state bounds against it. */
  def hllRegisters(items: DataFrame, grp: String, v: String): DataFrame =
    hllRows(items, grp, v)
      .groupBy("grp", "idx")
      .agg(max("rho").as("r"))

  /** q165's sketch half, factored for the Stress `overlap` mode: ONE
    * corpus gram scan → per-source registers, then every pairwise union
    * estimated by MAX-merging register vectors on the dense |sources| × m
    * grid. Returns (src_a, src_b, est_a, est_b, est_union) — the matrix
    * at catalog cost, zero pairwise corpus work. */
  def overlapSketch(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val reg = hllRegisters(gramsBy(docs, "source"), "source", "g")
    val ps = hllEstimate(reg)
    val dense = reg.select("grp").distinct()
      .crossJoin(s.range(HllM).select(col("id").as("idx")))
      .join(reg, Seq("grp", "idx"), "left")
      .select(col("grp"), col("idx"), coalesce(col("r"), lit(0L)).as("r"))
    val da = dense.select(col("grp").as("src_a"), col("idx"), col("r").as("ra"))
    val db = dense.select(col("grp").as("src_b"), col("idx"), col("r").as("rb"))
    da.join(db, Seq("idx")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(expr(
        s"shiftleft(cast(1 AS bigint), cast($RhoCap - greatest(ra, rb) AS int))"))
        .as("su"))
      .select(col("src_a"), col("src_b"), expr(hllEstSql("su")).as("est_union"))
      .join(ps.select(col("grp").as("src_a"), col("est").as("est_a")), Seq("src_a"))
      .join(ps.select(col("grp").as("src_b"), col("est").as("est_b")), Seq("src_b"))
      .select("src_a", "src_b", "est_a", "est_b", "est_union")
  }

  /** q165's exact verify half: per-source distinct-gram counts + pairwise
    * exact intersections — the corpus-heavy pass the sketch replaces.
    * Returns the FULL pair grid (src_a, src_b, na, nb, inter_exact),
    * zero-filled for non-intersecting pairs. */
  def overlapExact(docs: DataFrame): DataFrame = {
    val dg = gramsBy(docs, "source").select("source", "g").distinct()
    val pc = dg.groupBy("source").agg(count(lit(1)).as("nx"))
    val ix = dg.select(col("source").as("src_a"), col("g"))
      .join(dg.select(col("source").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter_exact"))
    pc.select(col("source").as("src_a"), col("nx").as("na"))
      .crossJoin(pc.select(col("source").as("src_b"), col("nx").as("nb")))
      .filter(col("src_a") < col("src_b"))
      .join(ix, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        coalesce(col("inter_exact"), lit(0L)).as("inter_exact"))
  }

  /** (grp, idx, r) registers → (grp, used, est, regime): the exact dyadic
    * fold + estimator. Input may be any register frame (per-group, merged,
    * streaming state) — merge-then-estimate and estimate-per-group
    * commute with MAX, which is the whole point of the sketch. `regime`
    * flags estimates in the raw estimator's small-range band (< 2.5·m),
    * where the value reads high by design. */
  def hllEstimate(registers: DataFrame): DataFrame =
    registers.groupBy("grp")
      .agg(count(lit(1)).as("used"),
        sum(expr(s"shiftleft(cast(1 AS bigint), cast($RhoCap - r AS int))")).as("sp"))
      .withColumn("s",
        col("sp") + (lit(HllM.toLong) - col("used")) * lit(1L << RhoCap))
      .select(col("grp"), col("used"), expr(hllEstSql("s")).as("est"),
        expr(regimeSql(hllEstSql("s"))).as("regime"))

  /** q167's oracle — ALSO grades the from-store q171 (the q127–q135
    * discipline: the independent engine re-derives every gram hash from
    * text, so a hash match on the same SQL proves the postings/index/
    * source persist→load→join round trip loses nothing). Declared above
    * `defs` (object-init order: defs must never read vals below it). */
  private val provenanceOracle: String =
    s"""WITH ${Dedup.crossdocCtes()},
       |cv AS (
       |  SELECT g.doc_id, fd.first_doc
       |  FROM gr g JOIN fd USING (gh)
       |  WHERE g.doc_id > fd.first_doc)
       |SELECT dl.source AS src_later, df.source AS src_first,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(count(DISTINCT cv.doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT cv.first_doc) AS BIGINT) AS n_first_docs
       |FROM cv JOIN documents dl ON dl.doc_id = cv.doc_id
       |        JOIN documents df ON df.doc_id = cv.first_doc
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q170's oracle (ten unrolled MATERIALIZED rounds) — ALSO grades the
    * from-store q172. */
  private val authorityOracle: String = {
    val rounds = (1 to RankRounds).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS (
         |  SELECT CAST(coalesce(sum(p.r), 0) AS BIGINT) AS dm
         |  FROM $p p LEFT JOIN outw o ON o.src = p.source
         |  WHERE o.src IS NULL),
         |c$k AS (
         |  SELECT e.dst, CAST(sum((p.r * e.sh) // $ShareScale) AS BIGINT) AS contrib
         |  FROM esh e JOIN $p p ON p.source = e.src
         |  GROUP BY e.dst),
         |r$k AS MATERIALIZED (
         |  SELECT n.source,
         |         CAST((($RankScale // nn.n) * 15) // 100
         |           + (85 * (coalesce(c.contrib, 0) + d$k.dm // nn.n)) // 100 AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN nn CROSS JOIN d$k
         |  LEFT JOIN c$k c ON c.dst = n.source)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.crossdocCtes(materializedGr = true)},
       |cv AS (
       |  SELECT g.doc_id, fd.first_doc
       |  FROM gr g JOIN fd USING (gh)
       |  WHERE g.doc_id > fd.first_doc),
       |mx AS MATERIALIZED (
       |  SELECT dl.source AS src, df.source AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM cv JOIN documents dl ON dl.doc_id = cv.doc_id
       |          JOIN documents df ON df.doc_id = cv.first_doc
       |  GROUP BY 1, 2),
       |outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM mx GROUP BY src),
       |esh AS MATERIALIZED (
       |  SELECT m.src, m.dst,
       |         CASE WHEN o.ow <= ${ShareScale * ShareScale}
       |              THEN (m.w * $ShareScale) // o.ow
       |              ELSE m.w // (o.ow // $ShareScale) END AS sh
       |  FROM mx m JOIN outw o ON o.src = m.src),
       |nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT source, CAST($RankScale // nn.n AS BIGINT) AS r FROM nodes, nn),
       |$rounds,
       |inw AS (SELECT dst, CAST(sum(w) AS BIGINT) AS in_w FROM mx GROUP BY dst)
       |SELECT n.source, r$RankRounds.r AS authority,
       |       CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w,
       |       CAST(coalesce(o.ow, 0) AS BIGINT) AS out_w
       |FROM nodes n
       |JOIN r$RankRounds ON r$RankRounds.source = n.source
       |LEFT JOIN inw i ON i.dst = n.source
       |LEFT JOIN outw o ON o.src = n.source
       |ORDER BY n.source""".stripMargin
  }

  /** Shared CMS oracle plumbing: word stream, total, the q159-threshold
    * heavy-hitter set, its probe buckets, and the per-occurrence bucket
    * stream. `words`/`t`/`hh` are referenced by several successors —
    * MATERIALIZED per the CTE re-inlining rule. Declared above `defs`
    * (object-init order). */
  private val cmsCtes: String =
    s"""words AS MATERIALIZED (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |t AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
       |hh AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w
       |  HAVING count(*) >= (SELECT n // ${CmsK + 1} + 1 FROM t)),
       |hp AS MATERIALIZED (
       |  SELECT w, cnt, j, ${cmsBucketDuck("'cms' || CAST(j AS VARCHAR) || ':' || w")} AS c
       |  FROM (SELECT w, cnt, unnest(range(0, $CmsD)) AS j FROM hh)),
       |pr AS (
       |  SELECT source, w, j, ${cmsBucketDuck("'cms' || CAST(j AS VARCHAR) || ':' || w")} AS c
       |  FROM (SELECT source, w, unnest(range(0, $CmsD)) AS j FROM words))""".stripMargin

  private val cmsFreqOracle: String =
    s"""WITH $cmsCtes,
       |cells AS (SELECT j, c, CAST(count(*) AS BIGINT) AS cc FROM pr GROUP BY j, c),
       |es AS (
       |  SELECT hp.w, hp.cnt, min(ce.cc) AS est
       |  FROM hp JOIN cells ce USING (j, c)
       |  GROUP BY hp.w, hp.cnt)
       |SELECT w, cnt, CAST(est AS BIGINT) AS est,
       |       CAST(est - cnt AS BIGINT) AS overcount,
       |       (SELECT CAST((2 * n) // $CmsW AS BIGINT) FROM t) AS bound,
       |       CAST(CASE WHEN est - cnt <= (SELECT (2 * n) // $CmsW FROM t)
       |            THEN 1 ELSE 0 END AS BIGINT) AS within_bound
       |FROM es ORDER BY cnt DESC, w""".stripMargin

  private val cmsShareOracle: String =
    s"""WITH $cmsCtes,
       |cells AS (
       |  SELECT source, j, c, CAST(count(*) AS BIGINT) AS cc
       |  FROM pr GROUP BY source, j, c),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |es AS (
       |  SELECT s.source, hp.w, min(coalesce(ce.cc, 0)) AS est_src
       |  FROM srcs s CROSS JOIN hp
       |  LEFT JOIN cells ce ON ce.source = s.source AND ce.j = hp.j AND ce.c = hp.c
       |  GROUP BY s.source, hp.w),
       |ex AS (
       |  SELECT w, source, CAST(count(*) AS BIGINT) AS exact_src
       |  FROM words JOIN hh USING (w) GROUP BY w, source)
       |SELECT es.w, es.source,
       |       CAST(coalesce(ex.exact_src, 0) AS BIGINT) AS exact_src,
       |       CAST(es.est_src AS BIGINT) AS est_src,
       |       CAST(es.est_src - coalesce(ex.exact_src, 0) AS BIGINT) AS overcount
       |FROM es LEFT JOIN ex ON ex.w = es.w AND ex.source = es.source
       |ORDER BY es.w, es.source""".stripMargin

  /** q178's oracle: the q160 register derivation re-run from TEXT by the
    * independent engine, estimator and regime included — a hash match
    * proves the persisted registers (and their MAX-fold on load) are
    * exactly the text-derived grid, the q171 store-grading discipline.
    * No exact half: the from-store query serves only what the store
    * holds. Declared above `defs` (object-init order). */
  private val hllSketchOracle: String =
    s"""WITH wt AS (SELECT lang, string_split(trim(text), ' ') AS w FROM documents),
       |gr AS (
       |  SELECT lang, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
       |  FROM (SELECT lang, w, unnest(range(1, len(w) - ${HllN - 2})) AS i
       |        FROM wt WHERE len(w) >= $HllN)),
       |hh AS (
       |  SELECT lang, h % $HllM AS idx, h // $HllM AS z
       |  FROM (SELECT lang, ${h60Duck("g")} AS h FROM gr)),
       |rr AS (
       |  SELECT lang, idx,
       |         max(CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END)::BIGINT AS r
       |  FROM hh GROUP BY lang, idx),
       |ru AS (
       |  SELECT lang, idx, r FROM rr
       |  UNION ALL
       |  SELECT '__all__' AS lang, idx, max(r) AS r FROM rr GROUP BY idx),
       |ss AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS used,
       |         CAST(CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)
       |              + ($HllM - count(*)) * (1::BIGINT << $RhoCap) AS BIGINT) AS s
       |  FROM ru GROUP BY lang)
       |SELECT lang, used, ${hllEstSql("s")} AS est,
       |       ${regimeSql(hllEstSql("s"))} AS regime
       |FROM ss ORDER BY lang""".stripMargin

  /** q180's oracle: the fixed-bin length histogram re-derived from TEXT,
    * the same ceil-rank lower-edge selection as the q76 discipline —
    * pure bigint arithmetic, so the persisted-histogram round trip
    * grades hash-exact. Declared above `defs` (object-init order). */
  private val lenQuantOracle: String =
    s"""WITH lt AS (
       |  SELECT source,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) // $LenBinW AS bin
       |  FROM documents),
       |h0 AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt
       |       FROM lt GROUP BY source, bin),
       |h AS (SELECT source, bin, cnt FROM h0
       |      UNION ALL
       |      SELECT '__all__' AS source, bin, CAST(sum(cnt) AS BIGINT) AS cnt
       |      FROM h0 GROUP BY bin),
       |c AS (
       |  SELECT source, bin,
       |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bin
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM h),
       |sel AS (
       |  SELECT source, n,
       |         min(CASE WHEN cum >= (n * 25 + 99) // 100 THEN bin END) AS b25,
       |         min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50,
       |         min(CASE WHEN cum >= (n * 75 + 99) // 100 THEN bin END) AS b75,
       |         min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS b90,
       |         min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99
       |  FROM c GROUP BY source, n)
       |SELECT source, n AS n_docs,
       |       CAST(b25 * $LenBinW AS BIGINT) AS q25,
       |       CAST(b50 * $LenBinW AS BIGINT) AS q50,
       |       CAST(b75 * $LenBinW AS BIGINT) AS q75,
       |       CAST(b90 * $LenBinW AS BIGINT) AS q90,
       |       CAST(b99 * $LenBinW AS BIGINT) AS q99
       |FROM sel ORDER BY source""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ── Mergeable distinct-gram cardinality: HLL sketch + exact verify ──
    QueryDef(
      "q160_hll_distinct",
      (s, dir) => {
        // Per-language distinct 5-gram cardinality from a 512-register
        // HLL sketch, PLUS the merged corpus-wide row ('__all__')
        // computed by MAX-merging the per-lang registers — the
        // mergeability a 1000-executor deployment actually relies on
        // (per-partition partial registers combine associatively; here
        // the same algebra is exercised across groups). This is the
        // number that sizes gram machinery before building it: the
        // q148/q151 gram index row count, MaxDf policy, blocking fan-in.
        // The exact countDistinct runs beside it as the audit's verify
        // pass (the q159 sketch+verify discipline) with rel_err
        // materialized per row.
        //
        // 100 TB shape: the sketch side is ONE gram scan collapsing into
        // a (lang, idx) max-aggregate — state ≤ langs × 512 rows,
        // map-side combined; the '__all__' merge and the estimator fold
        // run on that bounded frame. The exact side (rollup
        // countDistinct) is the one corpus-sized shuffle — it exists to
        // GRADE the sketch and is what the sketch replaces in production.
        val g = gram5(Tables.load(s, dir, "documents"))
        val reg = hllRegisters(g, "lang", "g")
        val all = reg.groupBy("idx").agg(max("r").as("r"))
          .select(lit("__all__").as("grp"), col("idx"), col("r"))
        val est = hllEstimate(reg.unionByName(all))
        val exact = g
          .rollup("lang")
          .agg(countDistinct("g").as("n_exact"))
          .select(coalesce(col("lang"), lit("__all__")).as("grp"),
            col("n_exact"))
        est.join(exact, Seq("grp"))
          .select(col("grp").as("lang"), col("used"), col("est"),
            col("n_exact"),
            expr("(est - CAST(n_exact AS double)) / CAST(n_exact AS double)")
              .as("rel_err"),
            col("regime"))
          .orderBy("lang")
      },
      Some(s"""WITH wt AS (SELECT lang, string_split(trim(text), ' ') AS w FROM documents),
              |gr AS (
              |  SELECT lang, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
              |  FROM (SELECT lang, w, unnest(range(1, len(w) - ${HllN - 2})) AS i
              |        FROM wt WHERE len(w) >= $HllN)),
              |hh AS (
              |  SELECT lang, h % $HllM AS idx, h // $HllM AS z
              |  FROM (SELECT lang, ${h60Duck("g")} AS h FROM gr)),
              |rr AS (
              |  SELECT lang, idx,
              |         max(CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END)::BIGINT AS r
              |  FROM hh GROUP BY lang, idx),
              |ru AS (
              |  SELECT lang, idx, r FROM rr
              |  UNION ALL
              |  SELECT '__all__' AS lang, idx, max(r) AS r FROM rr GROUP BY idx),
              |ss AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS used,
              |         CAST(CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)
              |              + ($HllM - count(*)) * (1::BIGINT << $RhoCap) AS BIGINT) AS s
              |  FROM ru GROUP BY lang),
              |ex AS (
              |  SELECT coalesce(lang, '__all__') AS lang,
              |         CAST(count(DISTINCT g) AS BIGINT) AS n_exact
              |  FROM gr GROUP BY ROLLUP(lang))
              |SELECT lang, used, ${hllEstSql("s")} AS est, n_exact,
              |       (${hllEstSql("s")} - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err,
              |       ${regimeSql(hllEstSql("s"))} AS regime
              |FROM ss JOIN ex USING (lang)
              |ORDER BY lang""".stripMargin)),

    // ── Per-source PII density audit (detection counts, not redaction) ──
    QueryDef(
      "q163_pii_audit",
      (s, dir) => {
        // q61 redacts; this AUDITS — the per-source PII density table a
        // release review reads before any redaction decision: emails, IPv4
        // literals, long digit runs, the fraction of documents carrying
        // any of them, and hits per 1k words. The corpus text is synthetic
        // and PII-free, so the harness query deterministically injects a
        // varying mix (email on doc_id ≡ 0 mod 3, IP on ≡ 0 mod 7, a
        // numeric ref on ≡ 0 mod 9 — all coprime to the source stride, so
        // densities vary WITHIN every source) — the OPERATOR is the ordered count/redact
        // cascade: emails counted on raw text, then redacted; IPs counted
        // on the email-clean text, then redacted; digit runs counted last
        // (so an email's digits or an IP's octets are never double-counted
        // as a numeric ID). Same pass order as q61, extended by one stage.
        //
        // 100 TB shape: three codegen'd regexp passes in ONE narrow scan,
        // collapsed by a single partial+final source-keyed aggregate to
        // |sources| rows. Nothing else moves.
        val raw = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
              lit(".3."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            concat(lit(" ref "),
              (col("doc_id") * 7919 + 1000000).cast("string"))).otherwise(lit("")))
        val d = Tables.load(s, dir, "documents")
          .withColumn("raw", raw)
          .withColumn("n_words", size(split(trim(col("raw")), " ")).cast("long"))
          .withColumn("n_email",
            size(regexp_extract_all(col("raw"), lit(TextOps.EmailRe), lit(0))).cast("long"))
          .withColumn("r1", regexp_replace(col("raw"), TextOps.EmailRe, "<EMAIL>"))
          .withColumn("n_ip",
            size(regexp_extract_all(col("r1"), lit(IpRe), lit(0))).cast("long"))
          .withColumn("r2", regexp_replace(col("r1"), IpRe, "<IP>"))
          .withColumn("n_num",
            size(regexp_extract_all(col("r2"), lit(TextOps.NumRe), lit(0))).cast("long"))
        d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("n_words"),
            sum("n_email").as("n_email"),
            sum("n_ip").as("n_ip"),
            sum("n_num").as("n_num"),
            sum(when(col("n_email") + col("n_ip") + col("n_num") > 0, 1L)
              .otherwise(0L)).as("docs_with_pii"))
          .withColumn("pii_per_kword",
            expr("(n_email + n_ip + n_num) * 1.0e3 / n_words"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
              |  SELECT source,
              |         len(string_split(trim(raw), ' '))::BIGINT AS n_words,
              |         len(regexp_extract_all(raw, '${TextOps.EmailRe}'))::BIGINT AS n_email,
              |         len(regexp_extract_all(r1, '$IpRe'))::BIGINT AS n_ip,
              |         len(regexp_extract_all(regexp_replace(r1, '$IpRe', '<IP>', 'g'), '${TextOps.NumRe}'))::BIGINT AS n_num
              |  FROM (
              |    SELECT source, raw, regexp_replace(raw, '${TextOps.EmailRe}', '<EMAIL>', 'g') AS r1
              |    FROM (
              |      SELECT source,
              |             text
              |               || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
              |               || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 200) || '.3.' || (doc_id % 250) ELSE '' END
              |               || CASE WHEN doc_id % 9 = 0 THEN ' ref ' || (doc_id * 7919 + 1000000) ELSE '' END AS raw
              |      FROM documents)))
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n_words) AS BIGINT) AS n_words,
              |       CAST(sum(n_email) AS BIGINT) AS n_email,
              |       CAST(sum(n_ip) AS BIGINT) AS n_ip,
              |       CAST(sum(n_num) AS BIGINT) AS n_num,
              |       CAST(sum(CASE WHEN n_email + n_ip + n_num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
              |       (CAST(sum(n_email) AS BIGINT) + CAST(sum(n_ip) AS BIGINT) + CAST(sum(n_num) AS BIGINT)) * 1.0e3
              |         / CAST(sum(n_words) AS BIGINT) AS pii_per_kword
              |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    // ── Token-budget waterfilling across sources (closed form, no loop) ──
    QueryDef(
      "q164_budget_waterfill",
      (s, dir) => {
        // Balanced mixture under a global token budget B: give every
        // source min(T_s, c) tokens where the water line c is chosen so
        // the total just fits — the allocation that maximizes the minimum
        // source share (q150 cuts by QUALITY within a budget; this
        // allocates by SOURCE BALANCE; q63/q99 reweight without a hard
        // budget). The water line has a CLOSED FORM over the sources
        // sorted by size: walking ascending, a source fits fully iff
        // cum_before + T_i·(remaining) ≤ B, and the FIRST non-full row
        // fixes c = (B − cum_before) div remaining (later non-full rows'
        // candidates are strictly smaller, so max() over the column reads
        // exactly the first — no iteration, no driver loop). Allocations
        // are floored integers: Σ alloc ≤ B with slack < |sources|,
        // documented rather than remainder-distributed.
        //
        // 100 TB shape: ONE corpus aggregate to |sources| rows; every
        // window (rank, prefix sum, the max) runs over that catalog-sized
        // frame. Pure bigint arithmetic — hash-exact by construction.
        val t = Tables.load(s, dir, "documents")
          .withColumn("nw", size(split(trim(col("text")), " ")).cast("long"))
          .groupBy("source").agg(sum("nw").as("tokens"))
        val wAll = Window.partitionBy(lit(1))
        val wOrd = Window.partitionBy(lit(1)).orderBy("tokens", "source")
        val f = t
          .withColumn("tot", sum("tokens").over(wAll))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("budget", expr(s"tot * $WfNum div $WfDen"))
          .withColumn("i", row_number().over(wOrd).cast("long"))
          .withColumn("cum_before", coalesce(
            sum("tokens").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("rem", col("n") - col("i") + 1L)
          .withColumn("full",
            (col("cum_before") + col("tokens") * col("rem")) <= col("budget"))
          .withColumn("cand",
            when(!col("full"), expr("(budget - cum_before) div rem")))
        f.withColumn("cap", max("cand").over(wAll))
          .select(col("source"), col("tokens"), col("budget"), col("cap"),
            when(col("full"), col("tokens")).otherwise(col("cap")).as("alloc"),
            when(col("full"), 0L).otherwise(1L).as("capped"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (
              |  SELECT source, CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS tokens
              |  FROM documents GROUP BY source),
              |f AS (
              |  SELECT source, tokens,
              |         CAST(sum(tokens) OVER () AS BIGINT) AS tot,
              |         CAST(count(*) OVER () AS BIGINT) AS n,
              |         CAST(sum(tokens) OVER () AS BIGINT) * $WfNum // $WfDen AS budget,
              |         CAST(row_number() OVER (ORDER BY tokens, source) AS BIGINT) AS i,
              |         CAST(coalesce(sum(tokens) OVER (ORDER BY tokens, source
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
              |  FROM t),
              |g AS (
              |  SELECT source, tokens, budget,
              |         cum_before + tokens * (n - i + 1) <= budget AS is_full,
              |         CASE WHEN NOT (cum_before + tokens * (n - i + 1) <= budget)
              |              THEN (budget - cum_before) // (n - i + 1) END AS cand
              |  FROM f)
              |SELECT source, tokens, budget, CAST(max(cand) OVER () AS BIGINT) AS cap,
              |       CAST(CASE WHEN is_full THEN tokens ELSE max(cand) OVER () END AS BIGINT) AS alloc,
              |       CAST(CASE WHEN is_full THEN 0 ELSE 1 END AS BIGINT) AS capped
              |FROM g ORDER BY source""".stripMargin)),

    // ── Pairwise source-overlap matrix from sketches (HLL union algebra) ──
    QueryDef(
      "q165_source_overlap_sketch",
      (s, dir) => {
        // q93 computes cross-source overlap EXACTLY — a pairwise corpus
        // join that a 100 TB deployment cannot afford per source pair.
        // This is its sketch twin: per-source HLL registers (ONE corpus
        // scan), then every pairwise gram-set union estimated by
        // MAX-merging register vectors — |A∩B| ≈ E(A) + E(B) − E(A∪B),
        // Jaccard from the same three numbers. ALL pairwise work happens
        // on the |sources| × m register grid (catalog-sized), never on
        // the corpus: 20 sources → 190 pairs × 512 registers. The exact
        // intersection runs beside it as the verify pass with jac_err
        // materialized — at this corpus the truth is near-zero overlap,
        // and the column shows exactly how much inclusion–exclusion
        // noise the sketch adds on top (the audit's finding either way).
        //
        // 100 TB shape: sketch side = one gram scan → (source, idx) max
        // agg; dense expansion, pair join, and estimators all run on the
        // register grid. The exact side (distinct + pair join) is the
        // one corpus-heavy pass — it GRADES the sketch and is what the
        // sketch replaces in production.
        overlapSketch(Tables.load(s, dir, "documents"))
          .join(overlapExact(Tables.load(s, dir, "documents")),
            Seq("src_a", "src_b"))
          .withColumn("union_exact", col("na") + col("nb") - col("inter_exact"))
          .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
            col("est_union"),
            expr("greatest(est_a + est_b - est_union, 0.0e0) / est_union")
              .as("jac_est"),
            col("inter_exact"), col("union_exact"),
            expr("cast(inter_exact AS double) / union_exact").as("jac_exact"))
          .withColumn("jac_err", abs(col("jac_est") - col("jac_exact")))
          // The inclusion–exclusion difference is only trustworthy when
          // EVERY estimate feeding it is out of the small-range band.
          .withColumn("regime",
            expr(regimeSql("least(est_a, est_b, est_union)")))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH wt AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
              |gr AS (
              |  SELECT source, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
              |  FROM (SELECT source, w, unnest(range(1, len(w) - ${HllN - 2})) AS i
              |        FROM wt WHERE len(w) >= $HllN)),
              |hh AS (
              |  SELECT source, h % $HllM AS idx, h // $HllM AS z
              |  FROM (SELECT source, ${h60Duck("g")} AS h FROM gr)),
              |rr AS (
              |  SELECT source, idx,
              |         max(CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END)::BIGINT AS r
              |  FROM hh GROUP BY source, idx),
              |dn AS (
              |  SELECT s.source, i.idx, coalesce(rr.r, 0) AS r
              |  FROM (SELECT DISTINCT source FROM rr) s
              |  CROSS JOIN (SELECT unnest(range(0, $HllM)) AS idx) i
              |  LEFT JOIN rr ON rr.source = s.source AND rr.idx = i.idx),
              |ps AS (
              |  SELECT source, ${hllEstSql(s"CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)")} AS e
              |  FROM dn GROUP BY source),
              |pu AS (
              |  SELECT a.source AS sa, b.source AS sb,
              |         ${hllEstSql(s"CAST(sum(1::BIGINT << ($RhoCap - greatest(a.r, b.r))) AS BIGINT)")} AS eu
              |  FROM dn a JOIN dn b ON a.idx = b.idx AND a.source < b.source
              |  GROUP BY a.source, b.source),
              |dg AS (SELECT DISTINCT source, g FROM gr),
              |pc AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY source),
              |ix AS (
              |  SELECT a.source AS xa, b.source AS xb, CAST(count(*) AS BIGINT) AS inter_exact
              |  FROM dg a JOIN dg b ON a.g = b.g AND a.source < b.source
              |  GROUP BY 1, 2),
              |out AS (
              |  SELECT pu.sa AS src_a, pu.sb AS src_b,
              |         pa.e AS est_a, pb.e AS est_b, pu.eu AS est_union,
              |         greatest(pa.e + pb.e - pu.eu, 0.0e0) / pu.eu AS jac_est,
              |         coalesce(ix.inter_exact, 0) AS inter_exact,
              |         ca.n + cb.n - coalesce(ix.inter_exact, 0) AS union_exact,
              |         CAST(coalesce(ix.inter_exact, 0) AS DOUBLE)
              |           / (ca.n + cb.n - coalesce(ix.inter_exact, 0)) AS jac_exact
              |  FROM pu
              |  JOIN ps pa ON pa.source = pu.sa JOIN ps pb ON pb.source = pu.sb
              |  JOIN pc ca ON ca.source = pu.sa JOIN pc cb ON cb.source = pu.sb
              |  LEFT JOIN ix ON ix.xa = pu.sa AND ix.xb = pu.sb)
              |SELECT src_a, src_b, est_a, est_b, est_union, jac_est,
              |       CAST(inter_exact AS BIGINT) AS inter_exact,
              |       CAST(union_exact AS BIGINT) AS union_exact, jac_exact,
              |       abs(jac_est - jac_exact) AS jac_err,
              |       ${regimeSql("least(est_a, est_b, est_union)")} AS regime
              |FROM out ORDER BY src_a, src_b""".stripMargin)),

    // ── Corpus redundancy/novelty curve across gram widths ──
    QueryDef(
      "q166_novelty_curve",
      (s, dir) => {
        // How redundant is the corpus at each phrase width? Per n-gram
        // width: total occurrences, exact distinct grams, the type/token
        // ratio, and the share of occurrences whose gram recurs in MORE
        // THAN ONE document — the curve that justifies dedup design
        // choices (CrossN = 8 for exact-substring stripping, the shingle
        // widths, MaxDf policy): cross-doc repetition collapsing between
        // n = 5 and n = 8 is the empirical "natural language rarely
        // repeats 8-grams across documents" claim, measured on this
        // corpus instead of assumed.
        //
        // 100 TB shape: ONE scan per half. The EXACT half enumerates all
        // four widths in a flattened per-row transform (grams never
        // materialize as strings, they travel as 60-bit md5 folds, the
        // q148 discipline) into (n, gh)-keyed aggregation with map-side
        // partials; it is the audit's verify pass, and the only corpus-
        // sized shuffle here. The SKETCH half (VERDICT r13 #2) rides a
        // second narrow scan of the SAME occ stream into |widths| × m HLL
        // registers — reusing the occ hashes directly, no second md5 —
        // and is what production runs alone once the curve's error band
        // is certified: est/rel_err/regime sit beside the exact columns
        // (the q160/q165 pattern). Final frame: |widths| rows.
        val docs = Tables.load(s, dir, "documents")
        val occ = noveltyOcc(docs)
        val est = noveltySketch(docs)
          .select(col("grp").as("n"), col("used"), col("est"), col("regime"))
        occ.groupBy("n", "gh")
          .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("nd"))
          .groupBy("n")
          .agg(sum("cnt").as("total_occ"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("nd") > 1, col("cnt")).otherwise(0L)).as("crossdoc_occ"))
          .join(est, Seq("n"))
          .select(col("n"), col("total_occ"), col("n_distinct"),
            col("crossdoc_occ"),
            expr("cast(n_distinct AS double) / total_occ").as("type_token_ratio"),
            expr("cast(crossdoc_occ AS double) / total_occ").as("crossdoc_share"),
            col("used"), col("est"),
            expr("(est - CAST(n_distinct AS double)) / CAST(n_distinct AS double)")
              .as("rel_err"),
            col("regime"))
          .orderBy("n")
      },
      Some {
        val grams = NovWidths.map { n =>
          s"""o$n AS (
             |  SELECT doc_id, CAST($n AS BIGINT) AS n,
             |         list_reduce([(strpos('0123456789abcdef',
             |                              substr(md5(array_to_string(w[i : i + ${n - 1}], ' ')), j, 1)) - 1)::BIGINT
             |                      for j in range(1, 16)], (a, b) -> a * 16 + b) AS gh
             |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${n - 2})) AS i
             |        FROM wt WHERE len(w) >= $n))""".stripMargin
        }.mkString(",\n")
        val union = NovWidths.map(n => s"SELECT * FROM o$n").mkString(" UNION ALL ")
        s"""WITH wt AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
           |$grams,
           |occ AS ($union),
           |g1 AS (
           |  SELECT n, gh, CAST(count(*) AS BIGINT) AS cnt,
           |         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
           |  FROM occ GROUP BY n, gh),
           |ex AS (
           |  SELECT n, CAST(sum(cnt) AS BIGINT) AS total_occ,
           |         CAST(count(*) AS BIGINT) AS n_distinct,
           |         CAST(sum(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS BIGINT) AS crossdoc_occ
           |  FROM g1 GROUP BY n),
           |hh AS (SELECT n, gh % $HllM AS idx, gh // $HllM AS z FROM occ),
           |rr AS (
           |  SELECT n, idx,
           |         max(CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END)::BIGINT AS r
           |  FROM hh GROUP BY n, idx),
           |ss AS (
           |  SELECT n, CAST(count(*) AS BIGINT) AS used,
           |         CAST(CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)
           |              + ($HllM - count(*)) * (1::BIGINT << $RhoCap) AS BIGINT) AS s
           |  FROM rr GROUP BY n)
           |SELECT n, total_occ, n_distinct, crossdoc_occ,
           |       CAST(n_distinct AS DOUBLE) / total_occ AS type_token_ratio,
           |       CAST(crossdoc_occ AS DOUBLE) / total_occ AS crossdoc_share,
           |       used, ${hllEstSql("s")} AS est,
           |       (${hllEstSql("s")} - CAST(n_distinct AS DOUBLE)) / CAST(n_distinct AS DOUBLE) AS rel_err,
           |       ${regimeSql(hllEstSql("s"))} AS regime
           |FROM ex JOIN ss USING (n) ORDER BY n""".stripMargin
      }),

    // ── Cross-source shadowing matrix (strip-provenance forensics) ──
    QueryDef(
      "q167_strip_provenance",
      (s, dir) => {
        // q148 strips cross-document repeated spans; this reports WHO
        // shadows WHOM: for every stripped gram occurrence (a CrossN-run
        // whose first corpus occurrence lives in an earlier doc), the
        // (source-of-the-later-doc, source-of-the-first-doc) cell gets
        // the occurrence — the provenance matrix a licensing/contamination
        // review reads before deleting anything (a source whose content
        // is systematically shadowed BY one other source is a mirror; the
        // diagonal is within-source syndication).
        //
        // 100 TB shape: the gram→min-doc index is q148's O(1)-state min
        // aggregate; the decision join fans out one row per covered
        // occurrence (linear); the two provenance joins are doc_id-keyed
        // equi-joins against the slim (doc_id, source) map; output is
        // ≤ |sources|² rows.
        shadowMatrix(Tables.load(s, dir, "documents"))
          .orderBy("src_later", "src_first")
      },
      Some(provenanceOracle)),

    // ── Token-weighted systematic sample (RNG-free, exact integers) ──
    QueryDef(
      "q168_weighted_sample",
      (s, dir) => {
        // A token-WEIGHTED sample without RNG state or a sort-by-random:
        // lay the corpus on the token axis in doc_id order, drop SampleK
        // equally-spaced points (offset = stride/2), and select every
        // document whose token interval contains ≥ 1 point — selection
        // probability proportional to length, heavy documents legitimately
        // absorb several points (n_pts is the multiplicity an evaluator
        // weights by). Systematic sampling is the classic survey-statistics
        // answer to weighted sampling at scale: replayable forever, zero
        // RNG, and the q79/q65 md5 tricks don't extend to WEIGHTED
        // inclusion while this does.
        //
        // 100 TB shape: the cumulative position comes from the √N-blocked
        // two-stage prefix sum (q51's machinery — per-block windows see
        // ~√N rows, offsets broadcast); selection is then a pure narrow
        // integer projection. The +shift term keeps every div operand
        // positive (Spark div truncates, DuckDB // floors — they agree on
        // non-negatives only, the documented engine edge).
        val t = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long").as("tokens"))
        val ps = TextOps.prefixSum(t)
        val tot = ps.agg(max("cum").as("tot"))
        ps.crossJoin(broadcast(tot))
          .withColumn("stride", expr(s"greatest(tot div $SampleK, 1)"))
          .withColumn("n_pts", expr(
            s"(cum - stride div 2 + stride * $SampleK) div stride" +
              s" - (cum - tokens - stride div 2 + stride * $SampleK) div stride"))
          .filter(col("n_pts") >= 1)
          .select("doc_id", "tokens", "cum", "n_pts")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, len(string_split(trim(text), ' '))::BIGINT AS tokens
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, tokens,
              |         CAST(sum(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              |  FROM t),
              |tt AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM t),
              |g AS (
              |  SELECT doc_id, tokens, cum, greatest(tot // $SampleK, 1) AS stride
              |  FROM c, tt)
              |SELECT doc_id, tokens, cum,
              |       CAST((cum - stride // 2 + stride * $SampleK) // stride
              |            - (cum - tokens - stride // 2 + stride * $SampleK) // stride AS BIGINT) AS n_pts
              |FROM g
              |WHERE (cum - stride // 2 + stride * $SampleK) // stride
              |      - (cum - tokens - stride // 2 + stride * $SampleK) // stride >= 1
              |ORDER BY doc_id""".stripMargin)),

    // ── Snapshot novelty from sketches (content-level corpus diff) ──
    QueryDef(
      "q169_snapshot_novelty",
      (s, dir) => {
        // q101 diffs snapshots EXACTLY at the row level (CDC); this
        // answers the cheaper standing question — "how much genuinely new
        // CONTENT did the new slice bring?" — from sketches alone:
        // |B \ A| ≈ E(A∪B) − E(A), with the union estimated by
        // MAX-merging the two register vectors (the q165 algebra on the
        // snapshot axis; slices here = the deterministic doc_id parity
        // split, in production consecutive crawl snapshots). The exact
        // set difference runs beside it as the verify pass, with the
        // error normalized by the union (the scale on which HLL noise
        // lives).
        //
        // 100 TB shape: one gram scan → two register vectors (2 × 512
        // rows); union merge + all three estimators on that grid. The
        // exact side pays the distinct shuffles the sketch replaces.
        val d2 = Tables.load(s, dir, "documents")
          .withColumn("sl",
            when(col("doc_id") % 2 === 0, "a").otherwise("b"))
        val g = gramsBy(d2, "sl")
        val reg = hllRegisters(g, "sl", "g")
        val ps = hllEstimate(reg)
        val dense = reg.select("grp").distinct()
          .crossJoin(s.range(HllM).select(col("id").as("idx")))
          .join(reg, Seq("grp", "idx"), "left")
          .select(col("grp"), col("idx"), coalesce(col("r"), lit(0L)).as("r"))
        val eu = dense.groupBy("idx").agg(max("r").as("r"))
          .agg(sum(expr(
            s"shiftleft(cast(1 AS bigint), cast($RhoCap - r AS int))")).as("su"))
          .select(expr(hllEstSql("su")).as("est_union"))
        val dg = g.select("sl", "g").distinct()
        val exact = dg.groupBy("sl").agg(count(lit(1)).as("nx"))
        val exactU = dg.select("g").distinct().agg(count(lit(1)).as("union_exact"))
        ps.filter(col("grp") === "a")
          .select(col("est").as("est_a"))
          .crossJoin(ps.filter(col("grp") === "b").select(col("est").as("est_b")))
          .crossJoin(eu)
          .crossJoin(broadcast(
            exact.filter(col("sl") === "a").select(col("nx").as("na"))))
          .crossJoin(broadcast(
            exact.filter(col("sl") === "b").select(col("nx").as("nb"))))
          .crossJoin(broadcast(exactU))
          .select(col("est_a"), col("est_b"), col("est_union"),
            expr("greatest(est_union - est_a, 0.0e0)").as("new_in_b_est"),
            col("na"), col("nb"), col("union_exact"),
            expr("union_exact - na").as("new_in_b_exact"),
            expr("abs(greatest(est_union - est_a, 0.0e0) - cast(union_exact - na AS double)) / union_exact")
              .as("rel_err_vs_union"),
            expr(regimeSql("least(est_a, est_b, est_union)")).as("regime"))
          .orderBy("est_a")
      },
      Some(s"""WITH d2 AS (
              |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS sl, text
              |  FROM documents),
              |wt AS (SELECT sl, string_split(trim(text), ' ') AS w FROM d2),
              |gr AS (
              |  SELECT sl, concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
              |  FROM (SELECT sl, w, unnest(range(1, len(w) - ${HllN - 2})) AS i
              |        FROM wt WHERE len(w) >= $HllN)),
              |hh AS (
              |  SELECT sl, h % $HllM AS idx, h // $HllM AS z
              |  FROM (SELECT sl, ${h60Duck("g")} AS h FROM gr)),
              |rr AS (
              |  SELECT sl, idx,
              |         max(CASE WHEN z = 0 THEN $RhoCap ELSE length(bin(z & -z)) END)::BIGINT AS r
              |  FROM hh GROUP BY sl, idx),
              |dn AS (
              |  SELECT s.sl, i.idx, coalesce(rr.r, 0) AS r
              |  FROM (SELECT DISTINCT sl FROM rr) s
              |  CROSS JOIN (SELECT unnest(range(0, $HllM)) AS idx) i
              |  LEFT JOIN rr ON rr.sl = s.sl AND rr.idx = i.idx),
              |ps AS (
              |  SELECT sl, ${hllEstSql(s"CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)")} AS e
              |  FROM dn GROUP BY sl),
              |eu AS (
              |  SELECT ${hllEstSql(s"CAST(sum(1::BIGINT << ($RhoCap - r)) AS BIGINT)")} AS est_union
              |  FROM (SELECT idx, max(r) AS r FROM dn GROUP BY idx)),
              |dg AS (SELECT DISTINCT sl, g FROM gr),
              |ex AS (SELECT sl, CAST(count(*) AS BIGINT) AS nx FROM dg GROUP BY sl),
              |exu AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS union_exact FROM gr)
              |SELECT pa.e AS est_a, pb.e AS est_b, eu.est_union,
              |       greatest(eu.est_union - pa.e, 0.0e0) AS new_in_b_est,
              |       ea.nx AS na, eb.nx AS nb, exu.union_exact,
              |       exu.union_exact - ea.nx AS new_in_b_exact,
              |       abs(greatest(eu.est_union - pa.e, 0.0e0)
              |           - CAST(exu.union_exact - ea.nx AS DOUBLE)) / exu.union_exact AS rel_err_vs_union,
              |       ${regimeSql("least(pa.e, pb.e, eu.est_union)")} AS regime
              |FROM (SELECT e FROM ps WHERE sl = 'a') pa,
              |     (SELECT e FROM ps WHERE sl = 'b') pb,
              |     eu,
              |     (SELECT nx FROM ex WHERE sl = 'a') ea,
              |     (SELECT nx FROM ex WHERE sl = 'b') eb,
              |     exu
              |ORDER BY est_a""".stripMargin)),

    // ── Source authority: fixed-point PageRank over the shadowing graph ──
    QueryDef(
      "q170_source_authority",
      (s, dir) => {
        // Which sources ORIGINATE content and which merely mirror it?
        // PageRank (Brin & Page 1998; the CommonCrawl-domain-rank quality
        // prior, re-expressed on this engine's own evidence) over q167's
        // shadowing graph: an edge src_later → src_first is an
        // endorsement of the ORIGINAL, weighted by shadowed grams, so
        // authority accumulates on sources others copy FROM — the prior
        // a mixture planner feeds into per-source quality weights.
        //
        // Portability: the textbook algorithm is all doubles; here rank
        // mass lives on an integer 10⁹ scale, edge shares on an integer
        // 10⁶ scale (precomputed ONCE — also the overflow guard: rank ×
        // share ≤ 10¹⁵ at any corpus size, where rank × raw-gram-weight
        // would overflow at web scale), damping is the (85, 100) integer
        // pair, and exactly RankRounds = 10 rounds run — the oracle
        // unrolls the same arithmetic, so the result is bit-exact across
        // engines with zero float drift across iterations. Dangling mass
        // (sources that shadow nobody) redistributes uniformly, the
        // standard correction.
        //
        // The share BUILD is overflow-safe at any scale (VERDICT r14
        // #3): while a source's out-weight ow ≤ ShareScale² = 10¹² the
        // exact (w · 10⁶) div ow runs (w ≤ ow keeps the product ≤ 10¹⁸);
        // past it the branch flips to w div (ow div 10⁶) — the same
        // 10⁶-scaled share with ≤ 1 unit of rounding error, where the
        // old unguarded product would wrap at w ≈ 9.2·10¹² (a 100 TB
        // corpus holds ~2.5·10¹³ gram occurrences, so one hot mirror
        // pair could genuinely reach it). The oracle carries the same
        // CASE text, and AuditSpec pins the branch against exact
        // rational arithmetic at near-2⁶³ weights.
        //
        // 100 TB shape: the corpus is touched once (q167's matrix); the
        // iteration runs on the |sources|²-bounded edge frame with a
        // localCheckpoint barrier per round (the connectedComponents
        // lineage discipline — JobCountSpec lists q170 eager-by-design).
        // At web scale "sources" are domains (~10⁷) — still a keyed
        // frame, never the corpus.
        val docs = Tables.load(s, dir, "documents")
        // ONE corpus pass builds the edge list (the `authority` barriers
        // make every later consumer — out-weights, shares, in-weights,
        // the per-round joins — read catalog-sized frames instead of
        // re-running the gram matrix, keeping the executed plan
        // corpus-free).
        val edges = shadowMatrix(docs)
          .select(col("src_later").as("src"), col("src_first").as("dst"),
            col("n_grams").as("w"))
        authority(edges, docs.select("source").distinct())
          .orderBy("source")
      },
      Some(authorityOracle)),

    // ── Provenance matrix served from the persisted gram store ──
    QueryDef(
      "q171_provenance_from_store",
      (s, dir) => {
        // q167's production form, oracle-graded end-to-end (VERDICT r13
        // #1): the gram postings + min-doc index + source map persisted
        // by `IndexStore.saveProvenanceIndex` (the one corpus gram scan,
        // paid at build time), the matrix answered by `shadowMatrixFrom`
        // — the corpus text is never re-read; a standing crawl loop
        // appends batches (`appendProvenanceBatch`) and re-reads the
        // report from the store. Same oracle SQL as q167: the
        // independent engine re-derives every gram hash from text, so a
        // hash match proves the store round trip.
        val scratch = graft.Scratch.dir("q171-store")
        IndexStore.saveProvenanceIndex(Tables.load(s, dir, "documents"),
          scratch)
        IndexStore.shadowMatrixFrom(s, scratch)
          .orderBy("src_later", "src_first")
      },
      Some(provenanceOracle)),

    // ── Source authority served from the persisted gram store ──
    QueryDef(
      "q172_authority_from_store",
      (s, dir) => {
        // q170's production form, oracle-graded end-to-end: edge list
        // from `shadowMatrixFrom` (store scans only — no corpus text),
        // node list from the persisted source map, the same barrier'd
        // fixed-point iteration via `authority`. Same oracle SQL as
        // q170 — bit-exact integer arithmetic proves the full
        // build→persist→load→rank path through the independent engine.
        val scratch = graft.Scratch.dir("q172-store")
        IndexStore.saveProvenanceIndex(Tables.load(s, dir, "documents"),
          scratch)
        val edges = IndexStore.shadowMatrixFrom(s, scratch)
          .select(col("src_later").as("src"), col("src_first").as("dst"),
            col("n_grams").as("w"))
        authority(edges,
            IndexStore.loadDocSources(s, scratch).select("source").distinct())
          .orderBy("source")
      },
      Some(authorityOracle)),

    // ── Point-frequency sketch: Count-Min + exact verify ──
    QueryDef(
      "q176_cms_freq",
      (s, dir) => {
        // The sketch suite's missing third leg: q159's Misra–Gries finds
        // WHICH tokens are heavy and q160's HLL counts DISTINCT tokens;
        // the Count-Min sketch answers "how often does token x occur"
        // from D × W = 8192 counter cells of mergeable state — the
        // standing frequency service a tokenizer/df-cap/stop-word policy
        // queries continuously without ever re-scanning the corpus. The
        // audit estimates every token above the q159 threshold
        // (n/(K+1)) and emits the exact count beside the estimate, the
        // overcount (≥ 0 always — CMS never under-counts), the standard
        // ⌈2n/W⌉ error bound, and a within-bound flag (true w.p.
        // 1 − e^(−D) per key; misses are visible data, not silent).
        //
        // 100 TB shape: the sketch side is ONE linear scan collapsing
        // into the 8192-cell grid (map-side combined; shards merge by
        // cell-wise ADDITION — CmsSpec pins the linearity). The exact
        // vocabulary groupBy exists to GRADE the sketch (the q160
        // verify-half discipline) and is what the sketch replaces in
        // production, where probe keys come from q159's MG candidates
        // instead.
        val words = wordRows(Tables.load(s, dir, "documents"))
        val cells = cmsCells(words, "w")
        val tot = words.agg(count(lit(1)).as("n"))
        val hh = words.groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") >= expr(s"n div ${CmsK + 1} + 1"))
        val probes = hh
          .select(col("w"), col("cnt"), col("n"),
            posexplode(expr(cmsBucketsSpark("w"))))
          .select(col("w"), col("cnt"), col("n"),
            col("pos").cast("long").as("j"), col("col").as("c"))
        probes.join(cells, Seq("j", "c"))
          .groupBy("w", "cnt", "n")
          .agg(min("cc").as("est"))
          .select(col("w"), col("cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"),
            expr(s"(2 * n) div $CmsW").as("bound"),
            expr(s"CAST(CASE WHEN est - cnt <= (2 * n) div $CmsW" +
              s" THEN 1 ELSE 0 END AS bigint)").as("within_bound"))
          .orderBy(col("cnt").desc, col("w"))
      },
      Some(cmsFreqOracle)),

    // ── CMS linearity: per-source frequency attribution, no re-scan ──
    QueryDef(
      "q177_cms_source_share",
      (s, dir) => {
        // The register-algebra companion (q165's pattern, for counts
        // instead of cardinality): each source keeps its OWN 8192-cell
        // CMS — tiny standing state a crawl loop updates per batch — and
        // because the sketch is LINEAR (cells add), any per-source share
        // question about any token is a grid lookup, never a corpus
        // re-scan: est_src(x) = min_j cells_src[j][h_j(x)]. The audit
        // answers "which sources carry each globally-heavy token" for
        // the q159-threshold set and grades every estimate against the
        // exact per-source count (0-count sources included — absence is
        // attribution data). Σ_src cells_src ≡ the global grid
        // bit-for-bit (CmsSpec), so the per-source grids ARE q176's
        // sketch, sharded.
        val docs = Tables.load(s, dir, "documents")
        val words = wordRows(docs)
        val cellsBySrc = cmsCellsBy(words, "source", "w")
          .withColumnRenamed("grp", "source")
        val tot = words.agg(count(lit(1)).as("n"))
        val hh = words.groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") >= expr(s"n div ${CmsK + 1} + 1"))
          .select("w")
        val probes = hh
          .select(col("w"), posexplode(expr(cmsBucketsSpark("w"))))
          .select(col("w"), col("pos").cast("long").as("j"), col("col").as("c"))
        val srcs = docs.select("source").distinct()
        val estSrc = srcs.crossJoin(broadcast(probes))
          .join(cellsBySrc, Seq("source", "j", "c"), "left")
          .select(col("source"), col("w"), col("j"),
            coalesce(col("cc"), lit(0L)).as("cc"))
          .groupBy("source", "w")
          .agg(min("cc").as("est_src"))
        val exactSrc = words.join(broadcast(hh), Seq("w"))
          .groupBy("w", "source").agg(count(lit(1)).as("exact_src"))
        estSrc.join(exactSrc, Seq("w", "source"), "left")
          .select(col("w"), col("source"),
            coalesce(col("exact_src"), lit(0L)).as("exact_src"),
            col("est_src"),
            (col("est_src") - coalesce(col("exact_src"), lit(0L)))
              .as("overcount"))
          .orderBy("w", "source")
      },
      Some(cmsShareOracle)),

    // ── Distinct-gram cardinality served from the persisted sketch store ──
    QueryDef(
      "q178_hll_from_store",
      (s, dir) => {
        // q160's sketch half as a STANDING service (the q171 pattern for
        // statistics instead of provenance): per-lang HLL registers
        // persisted once by `IndexStore.saveSketchIndex` — the whole
        // store is grid-bounded kilobytes while the corpus is terabytes —
        // then every later cardinality read is store-only: registers
        // MAX-fold on load (the HLL merge IS the load), the '__all__'
        // row MAX-merges across langs, and the estimator runs on the
        // ≤ langs × 512 frame. A crawl loop `appendSketchBatch`es new
        // batches and re-reads the estimates forever without touching
        // corpus text (IndexStoreSpec pins append ≡ rebuild and the
        // served plan corpus-free). Graded by a DuckDB twin that
        // re-derives the registers FROM TEXT — the hash match proves the
        // persist→append-fold→estimate round trip loses nothing.
        val scratch = graft.Scratch.dir("q178-store")
        // This query serves the CARDINALITY leg; building the other
        // ledger tables here was work the query threw away (r17).
        IndexStore.saveSketchLegs(Tables.load(s, dir, "documents"),
          scratch, Set("registers"))
        val reg = IndexStore.loadSketchRegisters(s, scratch)
        val all = reg.groupBy("idx").agg(max("r").as("r"))
          .select(lit("__all__").as("grp"), col("idx"), col("r"))
        hllEstimate(reg.unionByName(all))
          .select(col("grp").as("lang"), col("used"), col("est"),
            col("regime"))
          .orderBy("lang")
      },
      Some(hllSketchOracle)),

    // ── Point-frequency estimates served from the persisted sketch store ──
    QueryDef(
      "q179_cms_from_store",
      (s, dir) => {
        // q176 with the SKETCH side read from the persisted store: the
        // per-source CMS grids and word totals land once
        // (`saveSketchIndex`), estimates are answered by summing the
        // per-source cells into the global grid (CMS linearity — the
        // fold IS the merge) and probing it; the corpus text contributes
        // only the exact verify half (the q160 discipline: the exact
        // vocabulary pass exists to GRADE the estimates and is what the
        // store replaces in production, where probe keys come from
        // q159's MG candidates). Graded by q176's own oracle — output
        // identical means the persisted cells + totals reproduce the
        // text-derived sketch bit-for-bit.
        val scratch = graft.Scratch.dir("q179-store")
        val docs = Tables.load(s, dir, "documents")
        // Serves the FREQUENCY legs only (cells + totals) — see q178.
        IndexStore.saveSketchLegs(docs, scratch, Set("cells", "totals"))
        val cells = IndexStore.loadSketchCells(s, scratch)
          .groupBy("j", "c").agg(sum("cc").as("cc"))
        val tot = IndexStore.loadSketchTotals(s, scratch)
          .agg(sum("n").as("n"))
        val words = wordRows(docs)
        val hh = words.groupBy("w").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .filter(col("cnt") >= expr(s"n div ${CmsK + 1} + 1"))
        val probes = hh
          .select(col("w"), col("cnt"), col("n"),
            posexplode(expr(cmsBucketsSpark("w"))))
          .select(col("w"), col("cnt"), col("n"),
            col("pos").cast("long").as("j"), col("col").as("c"))
        probes.join(cells, Seq("j", "c"))
          .groupBy("w", "cnt", "n")
          .agg(min("cc").as("est"))
          .select(col("w"), col("cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"),
            expr(s"(2 * n) div $CmsW").as("bound"),
            expr(s"CAST(CASE WHEN est - cnt <= (2 * n) div $CmsW" +
              s" THEN 1 ELSE 0 END AS bigint)").as("within_bound"))
          .orderBy(col("cnt").desc, col("w"))
      },
      Some(cmsFreqOracle)),

    // ── Length-distribution quantiles served from the persisted store ──
    QueryDef(
      "q180_len_quantiles_from_store",
      (s, dir) => {
        // The statistics ledger's DISTRIBUTION leg (q178 answers
        // cardinality, q179 frequency): per-source doc-length quantiles
        // from the persisted fixed-bin histogram — the numbers a
        // packing/chunking/budget stage (q51/q98/q150) reads before
        // touching the corpus. Fixed LenBinW bins make the histogram
        // MERGEABLE (counts add; q76's per-group [min, max] grid would
        // not merge across batches), so appends fold like the CMS cells
        // and the standing read is a ≤ sources × bins frame. Selection
        // is the q76 discipline — ceil-rank lower bucket edge, pure
        // bigint arithmetic — so the store round trip grades hash-exact
        // against the oracle's text-derived twin.
        val scratch = graft.Scratch.dir("q180-store")
        // Serves the DISTRIBUTION leg only (lens) — see q178.
        IndexStore.saveSketchLegs(Tables.load(s, dir, "documents"),
          scratch, Set("lens"))
        lenQuantiles(IndexStore.loadSketchLens(s, scratch))
          .orderBy("source")
      },
      Some(lenQuantOracle)),

    // ── k-anonymity audit over release-manifest quasi-identifiers ──
    QueryDef(
      "q185_kanon_audit",
      (s, dir) => {
        // q163 audits PII IN the text; this audits what the release
        // METADATA itself re-identifies: group docs by the
        // quasi-identifier combination a manifest publishes (lang +
        // doc-length bucket) and flag every cell with fewer than KAnonK
        // members — rows whose metadata alone narrows them to < k
        // candidates (Sweeney's k-anonymity, the release gate datasheets
        // cite). 100 TB shape: one narrow scan into a partial+final agg
        // on a grid bounded by langs × length-buckets — catalog-sized
        // output regardless of corpus size, no window, no second scan
        // (the per-cell source spread rides the same aggregate).
        Tables.load(s, dir, "documents")
          .groupBy(col("lang"),
            expr(s"n_chars div $KAnonBinW").as("len_bucket"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"))
          .select(col("lang"), col("len_bucket"), col("n_docs"),
            col("n_sources"),
            when(col("n_docs") < KAnonK, lit(1L)).otherwise(lit(0L))
              .as("exposed"))
          .orderBy("lang", "len_bucket")
      },
      Some(s"""SELECT lang, n_chars // $KAnonBinW AS len_bucket,
              |       CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              |       CAST(CASE WHEN count(*) < $KAnonK THEN 1 ELSE 0 END AS BIGINT) AS exposed
              |FROM documents
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── k-anonymity generalization ladder: pick the coarsening to publish ──
    QueryDef(
      "q187_kanon_generalize",
      (s, dir) => {
        // q185 flags the exposed cells at ONE bucket width; the release
        // decision is "how much must the manifest coarsen before every
        // cell clears k" (Sweeney's generalization step). This sweeps the
        // doubling ladder KAnonWidths in one pass: per width, the cell
        // count, the cells still below KAnonK, the docs those cells
        // expose, and an `anonymous` flag for rungs where nothing is
        // exposed. Doubling widths nest the cells (each 2w-cell is the
        // union of two w-cells), so n_exposed_docs is provably
        // non-increasing up the ladder — a merged cell is exposed only
        // if BOTH halves were (AuditSpec pins the monotonicity).
        //
        // 100 TB shape: the width fan-out is a 4× explode of a two-column
        // projection (never the text); everything then collapses on the
        // (width, lang, bucket) grid — catalog-sized at any corpus size,
        // no window, no second scan (the q113 sweep discipline).
        Tables.load(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            explode(array(KAnonWidths.map(lit): _*)).as("bin_w"))
          .groupBy(col("bin_w"), col("lang"),
            expr("n_chars div bin_w").as("b"))
          .agg(count(lit(1)).as("n"))
          .groupBy("bin_w")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(col("n") < KAnonK, lit(1L)).otherwise(lit(0L)))
              .as("n_exposed_cells"),
            sum(when(col("n") < KAnonK, col("n")).otherwise(lit(0L)))
              .as("n_exposed_docs"))
          .select(col("bin_w"), col("n_cells"), col("n_exposed_cells"),
            col("n_exposed_docs"),
            when(col("n_exposed_cells") === 0L, lit(1L)).otherwise(lit(0L))
              .as("anonymous"))
          .orderBy("bin_w")
      },
      Some(s"""WITH cells AS (
              |  SELECT bin_w, lang, n_chars // bin_w AS b, CAST(count(*) AS BIGINT) AS n
              |  FROM (SELECT lang, n_chars, unnest([${KAnonWidths.mkString(", ")}]) AS bin_w FROM documents)
              |  GROUP BY 1, 2, 3)
              |SELECT CAST(bin_w AS BIGINT) AS bin_w, CAST(count(*) AS BIGINT) AS n_cells,
              |       CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed_cells,
              |       CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT) AS n_exposed_docs,
              |       CAST(CASE WHEN sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT) AS anonymous
              |FROM cells GROUP BY bin_w ORDER BY bin_w""".stripMargin)),

    // ── Differentially-private release of the QI histogram ──
    QueryDef(
      "q191_dp_release",
      (s, dir) => {
        // The privacy family's PUBLISH leg: q185 flags what the exact
        // histogram exposes, q187 picks the coarsening — this releases
        // the counts themselves under the geometric mechanism (Ghosh,
        // Roughgarden & Sundararajan 2009): released = n + (g1 − g2)
        // with g1, g2 independent geometric(½) draws, the discrete
        // Laplace at ε = ln 2 for the ±1-sensitive cell counts, floored
        // at 0; cells already below KAnonK are suppressed to −1 (noise
        // on a 2-doc cell still identifies — suppression composes with
        // the mechanism, the standard release recipe). Draws are
        // trailing-zero folds of per-(salt, cell) 60-bit md5 hashes —
        // tz of a uniform word IS geometric(½) — so the release is
        // exact-reproducible and oracle-graded; production rotates
        // DpSalt as the secret.
        //
        // 100 TB shape: q185's one-scan grid aggregate; the noise is
        // per-CELL arithmetic on the catalog-sized frame (two md5s and
        // 2·DpTzCap divisibility tests per cell, zero corpus work).
        // `dpRelease` is the mechanism; this is its fixed-salt graded
        // instance (`graft.Release` draws a run secret instead).
        dpRelease(Tables.load(s, dir, "documents"), DpSalt)
      },
      Some(s"""WITH cells AS (
              |  SELECT lang, n_chars // $KAnonBinW AS len_bucket, CAST(count(*) AS BIGINT) AS n_docs
              |  FROM documents GROUP BY 1, 2),
              |keyed AS (
              |  SELECT lang, len_bucket, n_docs,
              |         ${h60Duck(s"'${DpSalt}1:' || lang || ':' || CAST(len_bucket AS VARCHAR)")} AS h1,
              |         ${h60Duck(s"'${DpSalt}2:' || lang || ':' || CAST(len_bucket AS VARCHAR)")} AS h2
              |  FROM cells)
              |SELECT lang, len_bucket, n_docs,
              |       CAST(${tzSql("h1")} - ${tzSql("h2")} AS BIGINT) AS noise,
              |       CAST(CASE WHEN n_docs < $KAnonK THEN -1
              |                 ELSE greatest(n_docs + ${tzSql("h1")} - ${tzSql("h2")}, 0) END AS BIGINT) AS released
              |FROM keyed ORDER BY lang, len_bucket""".stripMargin)))
}
