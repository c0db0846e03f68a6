package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Filter/score QA evaluation operators — the audit layer a curation
  * pipeline runs BEFORE it trusts a quality heuristic with a corpus:
  * discrimination (q153 per-language ROC-AUC of the score), calibration
  * (q154 reliability bins), inter-filter agreement (q155 Cohen's kappa
  * between the hard-rule and soft-score filters), and the dataloader
  * shard manifest with its mixture-parity audit (q156).
  *
  * Scale discipline shared by the family: every operator collapses the
  * corpus in ONE narrow scored scan into a bounded aggregate (≤ langs ×
  * `AucBins`, `CalBins`, 4, or `Shards` × sources rows respectively);
  * windows and joins run only over those bounded frames — the q113/q109
  * agg-under-window shape, pinned in PlanSpec. Doubles appear only as
  * final divisions / exact-half terms of integer counts, so every result
  * is partition-order-exact and hash-portable against the DuckDB oracle.
  */
object Eval {

  /** q153: score-quantization resolution. Scores live in [0, 1]; 4096
    * fixed bins bound the rank-sum state (and the cumulative window's
    * input) at 4096 rows per class AT ANY corpus size, vs an exact
    * Mann-Whitney whose rank window would globally sort N docs on one
    * partition. The quantized AUC is the operator's DEFINITION, not an
    * approximation of something else: ties inside a bin count ½ (the
    * standard tie-corrected U), and bin edges k/4096 are power-of-two
    * exact doubles in both engines. */
  val AucBins = 4096

  /** q154: reliability-diagram bins (score deciles). */
  val CalBins = 10

  /** q154/q153 positive class: the language the q27 heuristic's stop-word
    * list is built from — the AUC/calibration tables quantify exactly how
    * English-centric the score is (q124 reports the drop rates; these two
    * report the ranking/probability structure behind them). */
  val PosLang = "en"

  /** q156: dataloader shard count. Production uses O(1k) shards over O(10)
    * named sources — the manifest stays catalog-sized either way. */
  val Shards = 16

  /** q186: shard counts before/after the elastic step. 8 → 9 is the
    * smallest interesting growth step; the minimal-movement fraction
    * 1/RvNew and the mod-hash disaster fraction (RvOld·(RvNew−1))/(RvOld·
    * RvNew) read clearly at any corpus size. */
  val RvOld = 8
  val RvNew = 9

  /** q188: training epochs audited. Each epoch is an independent
    * hash-keyed permutation; 4 keeps the fan-out narrow while showing the
    * per-epoch spread around the random-order expectation. */
  val SqEpochs = 4

  /** Portable 60-bit md5 fold of a SQL string expression — Spark side is
    * the codegen'd graft_hash60 (bit-identical to
    * `cast(conv(substr(md5($msg), 1, 15), 16, 10) AS bigint)`, minus the
    * hex round trip — r17); DuckDB twin
    * inlined in the oracles below. */
  private[operators] def h60(msg: String): String =
    s"graft_hash60($msg)"

  /** DuckDB nibble-fold twin of `h60` — single-line (the stripMargin
    * leading-pipe hazard). */
  private[operators] def h60Duck(msg: String): String =
    s"list_reduce([(strpos('0123456789abcdef', substr(md5($msg), i, 1)) - 1)::BIGINT for i in range(1, 16)], (a, b) -> a * 16 + b)"

  /** Highest-random-weight (rendezvous) shard of `doc_id` among `n`
    * shards, as a Spark SQL expression: argmax over per-shard salted
    * hashes, ties (impossible in practice, pinned deterministic anyway)
    * to the larger shard id via the (h, s) struct order — the same
    * field-lexicographic comparison DuckDB's list_reverse_sort applies. */
  private[operators] def hrwSpark(n: Int): String =
    s"array_max(transform(sequence(0, ${n - 1}), s -> " +
      s"named_struct('h', ${h60("concat('hrw', cast(s AS string), ':', cast(doc_id AS string))")}, " +
      s"'s', cast(s AS bigint)))).s"

  private[operators] def hrwDuck(n: Int): String =
    s"list_reverse_sort([struct_pack(h := ${h60Duck("'hrw' || CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}, s := s::BIGINT) for s in range(0, $n)])[1].s"

  /** The q27 quality-score scan as a DuckDB CTE body: `(SELECT lang,
    * score FROM documents)` — shared verbatim by q153/q154/q155 so the
    * three oracles can never drift from each other. Single-line fragments
    * only (the stripMargin leading-pipe hazard). */
  private def scoredSql: String =
    s"""(SELECT doc_id, lang,
       |        3.0e-1 * least(n_words / 1.0e2, 1.0e0)
       |          + 4.0e-1 * (1.0e0 - (${TextOps.cntSql("p", " the ")} + ${TextOps.cntSql("p", " a ")}) / n_words)
       |          + 3.0e-1 * least((n_alpha / n_words) / 8.0e0, 1.0e0) AS score
       | FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p,
       |              len(string_split(trim(text), ' '))::BIGINT AS n_words,
       |              length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha
       |       FROM documents))""".stripMargin.replace("\n", " ")

  /** Tie-corrected one-vs-rest Mann-Whitney AUC per `lang` over a
    * `(lang, score)` frame, on `AucBins`-quantized scores → `(lang,
    * n_pos, n_neg, auc)`. Factored out of q153 so EvalSpec can check it
    * against a brute-force pairwise count on small frames. */
  def binnedAuc(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val binned = scored
      .withColumn("b",
        least(floor(col("score") * AucBins), lit(AucBins - 1L)).cast("long"))
      .groupBy("lang", "b").agg(count(lit(1)).as("c"))
    val allBin = binned.groupBy("b").agg(sum("c").as("ca"))
      .withColumn("cuma", sum("ca").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)))
    val langBin = binned
      .withColumn("cump", sum("c").over(
        Window.partitionBy("lang").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val terms = langBin.join(broadcast(allBin), Seq("b"))
      .withColumn("neg_b", col("ca") - col("c"))
      .withColumn("neg_below", (col("cuma") - col("ca")) - (col("cump") - col("c")))
      .withColumn("term", col("c") * (col("neg_below") + col("neg_b") / lit(2.0)))
    terms.groupBy("lang")
      .agg(sum("term").as("u"), sum("c").as("n_pos"))
      .crossJoin(broadcast(allBin.agg(sum("ca").as("n_all"))))
      .withColumn("n_neg", col("n_all") - col("n_pos"))
      .select(col("lang"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u") / (col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Per-language ROC-AUC of the quality score (discrimination audit) ──
    QueryDef(
      "q153_score_auc",
      (s, dir) => {
        // For each language L: AUC = P(score(doc∈L) > score(doc∉L)) +
        // ½·P(equal) — the tie-corrected Mann-Whitney rank-sum, the
        // standard scalar for "how strongly does this score separate L
        // from the rest of the corpus". An English-built heuristic with
        // AUC(en) ≫ 0.5 is quantified language bias (the ranking-level
        // companion to q124's drop-rate table); a trained quality
        // classifier evaluated against a weak label lands on this same
        // operator.
        //
        // 100 TB shape: ONE scored scan collapses to (lang, bin) counts
        // (≤ langs × AucBins rows, map-side combined — the only corpus
        // exchange). The U statistic needs, per bin, the count of
        // negatives in strictly-lower bins plus half the same-bin
        // negatives: both come from cumulative windows over the BOUNDED
        // binned frames (global ≤ AucBins rows, per-lang partitions),
        // never over docs. Terms are integer-times-exact-half doubles, so
        // the sum is order-exact and the oracle hash holds.
        binnedAuc(TextOps.qualityScored(Tables.load(s, dir, "documents")))
          .orderBy("lang")
      },
      Some(s"""WITH scored AS $scoredSql,
              |binned AS (
              |  SELECT lang, least(CAST(floor(score * $AucBins) AS BIGINT), ${AucBins - 1}) AS b,
              |         CAST(count(*) AS BIGINT) AS c
              |  FROM scored GROUP BY lang, b),
              |ab AS (
              |  SELECT b, ca,
              |         CAST(sum(ca) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma
              |  FROM (SELECT b, CAST(sum(c) AS BIGINT) AS ca FROM binned GROUP BY b)),
              |lb AS (
              |  SELECT lang, b, c,
              |         CAST(sum(c) OVER (PARTITION BY lang ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cump
              |  FROM binned),
              |t AS (
              |  SELECT lang,
              |         sum(c * (((cuma - ca) - (cump - c)) + (ca - c) / 2.0e0)) AS u,
              |         CAST(sum(c) AS BIGINT) AS n_pos
              |  FROM lb JOIN ab USING (b) GROUP BY lang),
              |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM binned)
              |SELECT lang, n_pos, n_all - n_pos AS n_neg,
              |       CASE WHEN n_pos > 0 AND n_all - n_pos > 0
              |            THEN u / (CAST(n_pos AS DOUBLE) * CAST(n_all - n_pos AS DOUBLE)) END AS auc
              |FROM t, tot ORDER BY lang""".stripMargin)),

    // ── Calibration / reliability bins for the quality score ──
    QueryDef(
      "q154_score_calibration",
      (s, dir) => {
        // The reliability diagram behind a threshold choice: bucket the
        // score into deciles and report, per bin, volume, positives
        // (PosLang docs — the weak label the heuristic implicitly
        // predicts), the empirical positive rate, and the FIXED-POINT
        // mean score (partition-order-exact, the q124 discipline). A
        // well-calibrated score has pos_rate rising monotonically with
        // mean_score; a flat tail is exactly the "score can't rank its
        // own top" failure q113's sweep cannot see.
        //
        // 100 TB shape: one scored scan → ≤ CalBins-row partial+final
        // aggregate. Nothing else moves.
        TextOps.qualityScored(Tables.load(s, dir, "documents"))
          .withColumn("bin",
            least(floor(col("score") * CalBins), lit(CalBins - 1L)).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang") === PosLang, 1L).otherwise(0L)).as("n_pos"),
            sum(expr("cast(floor(score * 1.0e6) AS bigint)")).as("qsum"))
          .select(col("bin"), col("n_docs"), col("n_pos"),
            (col("n_pos") / col("n_docs")).as("pos_rate"),
            expr("cast(qsum AS double) / 1.0e6 / cast(n_docs AS double)").as("mean_score"))
          .orderBy("bin")
      },
      Some(s"""WITH scored AS $scoredSql
              |SELECT least(CAST(floor(score * $CalBins) AS BIGINT), ${CalBins - 1}) AS bin,
              |       CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(CASE WHEN lang = '$PosLang' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              |       CAST(sum(CASE WHEN lang = '$PosLang' THEN 1 ELSE 0 END) AS BIGINT)
              |         / CAST(count(*) AS BIGINT) AS pos_rate,
              |       CAST(sum(CAST(floor(score * 1.0e6) AS BIGINT)) AS DOUBLE) / 1.0e6
              |         / CAST(count(*) AS DOUBLE) AS mean_score
              |FROM scored GROUP BY bin ORDER BY bin""".stripMargin)),

    // ── Inter-filter agreement: hard rules vs soft score (Cohen's κ) ──
    QueryDef(
      "q155_filter_agreement",
      (s, dir) => {
        // Two filters ship side by side in this engine: q90's hard Gopher
        // rules and the q60/q124 soft-score cut (score ≥ BiasCut). Before
        // replacing one with the other — or chaining them — the owner
        // needs to know whether they agree beyond chance: Cohen's
        // κ = (p_o − p_e) / (1 − p_e) over the 2×2 keep/drop table.
        // κ ≈ 1 means the cheap rule set is a drop-in for the score; κ
        // near 0 means they drop DIFFERENT documents and chaining them
        // compounds loss (the q124 lesson at the filter-pair level).
        //
        // 100 TB shape: both decisions are narrow codegen'd expressions
        // in ONE scan, collapsed by a single partial+final aggregate to
        // one row of four cell counts; κ is driver-free rational
        // arithmetic on that row. Zero joins, zero windows.
        val d = Tables.load(s, dir, "documents")
          .withColumn("p", concat(lit(" "), lower(col("text")), lit(" ")))
          .withColumn("w", split(trim(col("text")), " "))
          .withColumn("n_words", size(col("w")).cast("long"))
          .withColumn("n_wchars",
            length(regexp_replace(trim(col("text")), " ", "")).cast("long"))
          .withColumn("n_alpha",
            length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
          .withColumn("n_alpha_w",
            expr("size(filter(w, x -> x rlike '[a-z]'))").cast("long"))
          .withColumn("stop_hits", expr(
            s"size(array_intersect(w, array(${TextOps.StopWords.map("'" + _ + "'").mkString(", ")})))")
            .cast("long"))
          .withColumn("score", expr(
            s"3.0e-1 * least(n_words / 1.0e2, 1.0e0) + 4.0e-1 * (1.0e0 - (${TextOps.cntSql("p", " the ")} + ${TextOps.cntSql("p", " a ")}) / n_words) + 3.0e-1 * least((n_alpha / n_words) / 8.0e0, 1.0e0)"))
          .withColumn("rule_keep",
            when(col("n_words").between(TextOps.MinWords, TextOps.MaxWords) &&
              (col("n_wchars") / col("n_words")).between(TextOps.WlenLo, TextOps.WlenHi) &&
              col("n_alpha_w") / col("n_words") >= TextOps.AlphaTau &&
              col("stop_hits") >= TextOps.StopMin, 1L).otherwise(0L))
          .withColumn("score_keep",
            when(col("score") >= TextOps.BiasCut, 1L).otherwise(0L))
        d.agg(
          count(lit(1)).as("n"),
          sum(col("rule_keep") * col("score_keep")).as("n11"),
          sum(col("rule_keep") * (lit(1L) - col("score_keep"))).as("n10"),
          sum((lit(1L) - col("rule_keep")) * col("score_keep")).as("n01"),
          sum((lit(1L) - col("rule_keep")) * (lit(1L) - col("score_keep"))).as("n00"))
          .withColumn("p_o", (col("n11") + col("n00")) / col("n"))
          .withColumn("p_e",
            ((col("n11") + col("n10")) / col("n")) * ((col("n11") + col("n01")) / col("n"))
              + ((col("n01") + col("n00")) / col("n")) * ((col("n10") + col("n00")) / col("n")))
          .withColumn("kappa",
            when(col("p_e") =!= 1.0, (col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))))
          .select("n", "n11", "n10", "n01", "n00", "p_o", "kappa")
          .orderBy("n")
      },
      Some(s"""WITH d AS (
              |  SELECT CASE WHEN n_words BETWEEN ${TextOps.MinWords} AND ${TextOps.MaxWords} AND n_wchars / n_words >= ${TextOps.WlenLo} AND n_wchars / n_words <= ${TextOps.WlenHi} AND n_alpha_w / n_words >= ${TextOps.AlphaTau} AND stop_hits >= ${TextOps.StopMin} THEN 1 ELSE 0 END AS rule_keep,
              |         CASE WHEN 3.0e-1 * least(n_words / 1.0e2, 1.0e0) + 4.0e-1 * (1.0e0 - (${TextOps.cntSql("p", " the ")} + ${TextOps.cntSql("p", " a ")}) / n_words) + 3.0e-1 * least((n_alpha / n_words) / 8.0e0, 1.0e0) >= 7.0e-1 THEN 1 ELSE 0 END AS score_keep
              |  FROM (SELECT ' ' || lower(text) || ' ' AS p,
              |               string_split(trim(text), ' ') AS w,
              |               len(string_split(trim(text), ' '))::BIGINT AS n_words,
              |               length(replace(trim(text), ' ', ''))::BIGINT AS n_wchars,
              |               length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
              |               len(list_filter(string_split(trim(text), ' '), x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha_w,
              |               len(list_intersect(string_split(trim(text), ' '), [${TextOps.StopWords.map("'" + _ + "'").mkString(", ")}]))::BIGINT AS stop_hits
              |        FROM documents)),
              |cells AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(rule_keep * score_keep) AS BIGINT) AS n11,
              |         CAST(sum(rule_keep * (1 - score_keep)) AS BIGINT) AS n10,
              |         CAST(sum((1 - rule_keep) * score_keep) AS BIGINT) AS n01,
              |         CAST(sum((1 - rule_keep) * (1 - score_keep)) AS BIGINT) AS n00
              |  FROM d),
              |probs AS (
              |  SELECT n, n11, n10, n01, n00, (n11 + n00) / n AS p_o,
              |         ((n11 + n10) / n) * ((n11 + n01) / n) + ((n01 + n00) / n) * ((n10 + n00) / n) AS p_e
              |  FROM cells)
              |SELECT n, n11, n10, n01, n00, p_o,
              |       CASE WHEN p_e <> 1.0e0 THEN (p_o - p_e) / (1.0e0 - p_e) END AS kappa
              |FROM probs ORDER BY n""".stripMargin)),

    // ── Deterministic dataloader shard manifest + mixture-parity audit ──
    QueryDef(
      "q156_shard_manifest",
      (s, dir) => {
        // The last artifact before training: assign every document to one
        // of `Shards` dataloader shards by a PORTABLE content-free hash
        // of its id (md5-hex folded to a bigint — the q79 determinism
        // discipline, no RNG, replayable forever), and audit that hash
        // sharding preserved the source mixture inside every shard: per
        // (shard, source) — docs, tokens, the source's share of its shard
        // vs its global share, and the absolute deviation. Hash sharding
        // is the scale answer to "shuffle the corpus": no global sort, no
        // RNG state, and the audit proves each shard is a faithful
        // mixture sample (max |dev| is the number a dataloader owner
        // watches).
        //
        // 100 TB shape: one narrow scan (hash + token count are
        // codegen'd) into a (shard, source) partial+final aggregate —
        // Shards × sources rows (both catalog-sized: named sources, O(1k)
        // shards). The share/parity windows run over THAT frame only.
        val g = Tables.load(s, dir, "documents")
          .withColumn("shard",
            expr(s"graft_hash60(cast(doc_id AS string)) % $Shards"))
          .withColumn("n_words", size(split(trim(col("text")), " ")).cast("long"))
          .groupBy("shard", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
        g.withColumn("shard_docs",
            sum("n_docs").over(Window.partitionBy("shard")))
          .withColumn("source_docs",
            sum("n_docs").over(Window.partitionBy("source")))
          .withColumn("all_docs", sum("n_docs").over(Window.partitionBy()))
          .withColumn("shard_share", col("n_docs") / col("shard_docs"))
          .withColumn("global_share", col("source_docs") / col("all_docs"))
          .withColumn("abs_dev", abs(col("shard_share") - col("global_share")))
          .select("shard", "source", "n_docs", "n_tokens", "shard_share",
            "global_share", "abs_dev")
          .orderBy("shard", "source")
      },
      Some(s"""WITH g AS (
              |  SELECT list_reduce([(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT for i in range(1, 16)], (a, b) -> a * 16 + b) % $Shards AS shard,
              |         source, CAST(count(*) AS BIGINT) AS n_docs,
              |         CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY shard, source),
              |w AS (
              |  SELECT shard, source, n_docs, n_tokens,
              |         CAST(sum(n_docs) OVER (PARTITION BY shard) AS BIGINT) AS shard_docs,
              |         CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS source_docs,
              |         CAST(sum(n_docs) OVER () AS BIGINT) AS all_docs
              |  FROM g)
              |SELECT shard, source, n_docs, n_tokens,
              |       n_docs / shard_docs AS shard_share,
              |       source_docs / all_docs AS global_share,
              |       abs(n_docs / shard_docs - source_docs / all_docs) AS abs_dev
              |FROM w ORDER BY shard, source""".stripMargin)),

    // ── Score-distribution drift between two corpus slices (TV distance) ──
    QueryDef(
      "q157_score_drift",
      (s, dir) => {
        // Did the SCORE DISTRIBUTION move between two corpus slices (here
        // the deterministic doc_id parity split — in production,
        // consecutive crawl snapshots)? q89 answers this for vocabulary;
        // this is the same monitor at the quality-score level: per decile
        // bin, each slice's share and the |Δshare|, plus the scalar
        // total-variation distance ½·Σ|Δ| — the number a drift alarm
        // thresholds on. A moved score distribution silently re-tunes
        // every downstream cut (q60's median, q150's budget walk), so it
        // is the FIRST thing to check when kept-volume shifts.
        //
        // Portability: the TV sum runs over doubles whose ADDITION ORDER a
        // bare window does not fix — so the scalar is summed as exact
        // integer cross-products |n_a·tb − n_b·ta| (order-free) and
        // divided once at the end. Per-bin shares stay single-division
        // doubles. 100 TB shape: one scored scan → ≤ CalBins-row agg (both
        // slice counts as conditional sums in ONE aggregation); the window
        // runs over that bounded frame.
        val b = TextOps.qualityScored(Tables.load(s, dir, "documents"))
          .withColumn("bin",
            least(floor(col("score") * CalBins), lit(CalBins - 1L)).cast("long"))
          .withColumn("sl", (col("doc_id") % 2 === 0).cast("long"))
          .groupBy("bin")
          .agg(sum("sl").as("n_a"), sum(lit(1L) - col("sl")).as("n_b"))
        b.crossJoin(broadcast(
            b.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))))
          .withColumn("share_a", col("n_a") / col("ta"))
          .withColumn("share_b", col("n_b") / col("tb"))
          .withColumn("abs_diff", abs(col("share_a") - col("share_b")))
          .withColumn("tv",
            sum(abs(col("n_a") * col("tb") - col("n_b") * col("ta")))
              .over(Window.partitionBy()).cast("double")
              / (lit(2.0) * col("ta") * col("tb")))
          .select("bin", "n_a", "n_b", "share_a", "share_b", "abs_diff", "tv")
          .orderBy("bin")
      },
      Some(s"""WITH scored AS $scoredSql,
              |b AS (
              |  SELECT least(CAST(floor(score * $CalBins) AS BIGINT), ${CalBins - 1}) AS bin,
              |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
              |  FROM scored GROUP BY bin),
              |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM b)
              |SELECT bin, n_a, n_b,
              |       n_a / ta AS share_a, n_b / tb AS share_b,
              |       abs(n_a / ta - n_b / tb) AS abs_diff,
              |       CAST(CAST(sum(abs(n_a * tb - n_b * ta)) OVER () AS BIGINT) AS DOUBLE)
              |         / (2.0e0 * ta * tb) AS tv
              |FROM b, t ORDER BY bin""".stripMargin)),

    // ── Elastic re-sharding stability: rendezvous vs mod placement ──
    QueryDef(
      "q186_rendezvous_reshard",
      (s, dir) => {
        // What fraction of the corpus MOVES when the shard fleet grows
        // RvOld → RvNew? Placement stability is what keeps shard-local
        // state (the persisted index families, dataloader caches) valid
        // through elasticity: rendezvous hashing (highest-random-weight,
        // Thaler & Ravishankar 1996) relocates exactly the docs whose
        // RvNew-way argmax IS the new shard — expectation 1/RvNew — and
        // never shuffles a doc between surviving shards (moved ≡ to_new,
        // structurally; PlacementSpec pins the equality). The mod-hash
        // baseline (h % n) relocates (RvNew−1)/RvNew of everything — the
        // audit prices both from the SAME scan.
        //
        // 100 TB shape: one narrow doc_id scan; per row RvOld + RvNew +
        // 1 md5 folds in the codegen'd `graft_hrw` loop (the declarative
        // array_max-over-transform twin `hrwSpark` runs interpreted with
        // a per-row struct-array allocation — the SimHash60/winnow
        // lesson; PlacementSpec pins the two bit-identical); no state,
        // no join, nothing wider than (source) ever shuffles.
        Tables.load(s, dir, "documents")
          .withColumn("s8", call_function("graft_hrw", col("doc_id"), lit(RvOld)))
          .withColumn("s9", call_function("graft_hrw", col("doc_id"), lit(RvNew)))
          .withColumn("hm", expr(h60("concat('mod:', cast(doc_id AS string))")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s9") =!= col("s8"), lit(1L)).otherwise(lit(0L)))
              .as("moved_hrw"),
            sum(when(col("s9") === lit(RvOld.toLong), lit(1L))
              .otherwise(lit(0L))).as("to_new_hrw"),
            sum(when(col("hm") % RvNew =!= col("hm") % RvOld, lit(1L))
              .otherwise(lit(0L))).as("moved_mod"))
          .select(col("source"), col("n_docs"), col("moved_hrw"),
            col("to_new_hrw"), col("moved_mod"),
            expr("moved_hrw * 1000 div n_docs").as("hrw_permille"),
            expr("moved_mod * 1000 div n_docs").as("mod_permille"))
          .orderBy("source")
      },
      Some(s"""WITH pl AS (
              |  SELECT source, ${hrwDuck(RvOld)} AS s8, ${hrwDuck(RvNew)} AS s9,
              |         ${h60Duck("'mod:' || CAST(doc_id AS VARCHAR)")} AS hm
              |  FROM documents)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END) AS BIGINT) AS moved_hrw,
              |       CAST(sum(CASE WHEN s9 = $RvOld THEN 1 ELSE 0 END) AS BIGINT) AS to_new_hrw,
              |       CAST(sum(CASE WHEN hm % $RvNew <> hm % $RvOld THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
              |       CAST(sum(CASE WHEN s9 <> s8 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS hrw_permille,
              |       CAST(sum(CASE WHEN hm % $RvNew <> hm % $RvOld THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS mod_permille
              |FROM pl GROUP BY source ORDER BY source""".stripMargin)),

    // ── Training-order audit: source-run structure per epoch permutation ──
    QueryDef(
      "q188_shuffle_quality",
      (s, dir) => {
        // A dataloader consumes each shard in SOME total order; how
        // source-clustered that order is decides gradient diversity per
        // batch (long same-source runs = correlated steps). This audit
        // measures the adjacent-pair same-source rate inside every
        // (epoch, shard) stream under (a) the hash-keyed epoch
        // permutation md5(epoch:doc_id) and (b) raw doc_id order, beside
        // the random-permutation expectation Σ n_s(n_s−1) / (n(n−1))
        // (exact integers, scaled to permille). A crawl-ordered corpus
        // reads sequential ≫ expected (source runs survive); THIS
        // testdata's round-robin ids read sequential < expected
        // (anti-clustered) — either way the permutation lands ≈ expected,
        // which is the property a shuffle ships on.
        //
        // Scale shape: the per-(epoch, shard) sort is the operator's
        // OUTPUT CONTRACT (a dataloader stream IS a total order), so it
        // is irreducible; shard count grows with the fleet (q156's
        // posture), keeping each sorted partition executor-sized, and
        // both lag windows ride ONE (epoch, shard) exchange. The
        // expectation term is a broadcast 1-row aggregate (per-pair
        // products ≤ n² — overflow-safe below ~3e9 docs/source, the
        // q170-style documented bound).
        val docs = Tables.load(s, dir, "documents")
        val base = docs.select(col("doc_id"), col("source"),
          (expr(h60("concat('sh:', cast(doc_id AS string))")) % Shards)
            .as("shard"))
        val fan = base.select(col("doc_id"), col("source"), col("shard"),
            explode(array((0 until SqEpochs).map(e => lit(e.toLong)): _*))
              .as("epoch"))
          .withColumn("hk",
            expr(h60("concat('ep', cast(epoch AS string), ':', cast(doc_id AS string))")))
        val wSh = Window.partitionBy("epoch", "shard")
          .orderBy(col("hk"), col("doc_id"))
        val wSeq = Window.partitionBy("epoch", "shard").orderBy(col("doc_id"))
        val perEpoch = fan
          .withColumn("prev_sh", lag("source", 1).over(wSh))
          .withColumn("prev_seq", lag("source", 1).over(wSeq))
          .groupBy("epoch")
          .agg(
            sum(when(col("prev_sh").isNotNull, lit(1L)).otherwise(lit(0L)))
              .as("n_pairs"),
            sum(when(col("prev_sh") === col("source"), lit(1L))
              .otherwise(lit(0L))).as("rep_shuffled"),
            sum(when(col("prev_seq") === col("source"), lit(1L))
              .otherwise(lit(0L))).as("rep_sequential"))
        val expected = docs.groupBy("source").agg(count(lit(1)).as("ns"))
          .agg((sum(col("ns") * (col("ns") - 1)) * 1000).as("num"),
            (sum("ns") * (sum("ns") - 1)).as("den"))
          .select(expr("num div den").as("expected_permille"))
        perEpoch.crossJoin(broadcast(expected))
          .select(col("epoch"), col("n_pairs"), col("rep_shuffled"),
            col("rep_sequential"),
            expr("rep_shuffled * 1000 div n_pairs").as("shuffled_permille"),
            expr("rep_sequential * 1000 div n_pairs").as("sequential_permille"),
            col("expected_permille"))
          .orderBy("epoch")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, source,
              |         ${h60Duck("'sh:' || CAST(doc_id AS VARCHAR)")} % $Shards AS shard
              |  FROM documents),
              |fan AS (
              |  SELECT doc_id, source, shard, unnest([${(0 until SqEpochs).mkString(", ")}]) AS epoch
              |  FROM base),
              |keyed AS (
              |  SELECT doc_id, source, shard, CAST(epoch AS BIGINT) AS epoch,
              |         ${h60Duck("'ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS hk
              |  FROM fan),
              |lagged AS (
              |  SELECT epoch, source,
              |         lag(source) OVER (PARTITION BY epoch, shard ORDER BY hk, doc_id) AS prev_sh,
              |         lag(source) OVER (PARTITION BY epoch, shard ORDER BY doc_id) AS prev_seq
              |  FROM keyed),
              |e AS (
              |  SELECT epoch, CAST(sum(CASE WHEN prev_sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
              |         CAST(sum(CASE WHEN prev_sh = source THEN 1 ELSE 0 END) AS BIGINT) AS rep_shuffled,
              |         CAST(sum(CASE WHEN prev_seq = source THEN 1 ELSE 0 END) AS BIGINT) AS rep_sequential
              |  FROM lagged GROUP BY epoch),
              |x AS (
              |  SELECT CAST(sum(ns * (ns - 1)) * 1000 // (sum(ns) * (sum(ns) - 1)) AS BIGINT) AS expected_permille
              |  FROM (SELECT count(*)::BIGINT AS ns FROM documents GROUP BY source))
              |SELECT epoch, n_pairs, rep_shuffled, rep_sequential,
              |       CAST(rep_shuffled * 1000 // n_pairs AS BIGINT) AS shuffled_permille,
              |       CAST(rep_sequential * 1000 // n_pairs AS BIGINT) AS sequential_permille,
              |       expected_permille
              |FROM e, x ORDER BY epoch""".stripMargin)))
}
