package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Similarity search over the `embeddings` table (`Array[Float]` vectors):
  * brute-force cosine top-k as the exact baseline, SRP-LSH-blocked cosine
  * near-dup, and an IVF-style bucketed ANN as the scale path.
  *
  * Float math discipline: vectors are cast to array<double> once at load
  * (exact promotion), dot products are a sequential left fold
  * (`functions.aggregate`), so an oracle computing the same left fold in
  * doubles reproduces results bit-for-bit — no tolerance windows needed.
  *
  * Perf: every vector is L2-normalized ONCE, after which cosine = a single
  * dot fold per pair. The folds run interpreted (higher-order functions are
  * not codegen'd); a custom Catalyst Expression with doGenCode is the next
  * rung if they ever dominate a profile.
  *
  * Scale posture — every blocking key's cardinality GROWS with the corpus:
  *   - q25 brute-force kNN: broadcast of 1 query row + scan +
  *     TakeOrderedAndProject (exact baseline, no full sort);
  *   - q33 near-dup: random-hyperplane (SRP) LSH — 8 bands of
  *     r = clamp(4, 32, ceil(log2 N) - 1) sign bits, so buckets number
  *     ~2^r ≈ N/2 per band and expected bucket size stays O(1): candidate
  *     volume is ~10 pairs/doc at every tested sf (linear), never O(N²).
  *     The 32-bit cap covers corpora to ~10^10 vectors (the r6 cap of 16
  *     was a measured cliff: past ~130k vectors 2^16 buckets/band fill up
  *     and occupancy — hence pair volume — grows linearly, 10 → 34
  *     pairs/vec at 200k). Only the first r of the 32 rows per band are
  *     COMPUTED (lazy CASE on the broadcast r), so small corpora don't
  *     pay 256 dot products for keys they truncate anyway;
  *   - q34 IVF: ceil(sqrt(N)) data-derived centroids; assignment is a
  *     NARROW projection (argmax over a broadcast centroid array — no
  *     Exchange on the corpus side), probe touches one cell.
  */
object Vectors {

  /** Sequential left-fold dot product ((0 + a0*b0) + a1*b1) + ... via the
    * codegen'd DotProduct expression — bit-identical to the declarative
    * `aggregate(zip_with(...))` fold it replaces, but it runs as a primitive
    * loop inside whole-stage codegen (graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Adds `en` = e / ||e||2 via the codegen'd L2Normalize expression —
    * bit-identical to the `transform(e, x -> x / sqrt(dot(e, e)))` pair it
    * replaces (same fold-order norm, same per-element double division),
    * but a primitive loop instead of an interpreted HigherOrderFunction. */
  def withNormalized(df: DataFrame): DataFrame = {
    df.withColumn("en", call_function("graft_l2norm", col("e")))
  }

  /** DuckDB twin of `dot` (same left fold ⇒ same doubles). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce([$a[i] * $b[i] for i in range(1, len($a) + 1)], (x, y) -> x + y)"

  /** DuckDB twin of `withNormalized`: vn(vec_id, label, en). */
  private val normCte =
    s"""vn AS (
       |  SELECT vec_id, label, [x / nrm for x in e] AS en
       |  FROM (SELECT vec_id, label, e, sqrt(${dotSql("e", "e")}) AS nrm
       |        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)))""".stripMargin

  /** DuckDB twin of `denseRanked` as a CTE chain ending in
    * `den(qid, doc_id, score, rk)` (rk ≤ RetrK) — shared structure with
    * the q110 sparse chain so the q161 fusion oracle composes the two. */
  private val denseRankedCtes: String =
    s"""$normCte,
       |qv AS (SELECT vec_id AS qid, en AS qn FROM vn WHERE vec_id < ${TextOps.RetrQ}),
       |dsc AS (
       |  SELECT qid, vec_id AS doc_id,
       |         CAST(floor(1.0e9 * ${dotSql("en", "qn")}) AS BIGINT) AS sc
       |  FROM vn, qv WHERE vec_id >= ${TextOps.RetrQ}),
       |den AS (
       |  SELECT qid, doc_id, sc AS score, rk FROM (
       |    SELECT qid, doc_id, sc,
       |           CAST(row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id) AS BIGINT) AS rk
       |    FROM dsc)
       |  WHERE rk <= ${TextOps.RetrK})""".stripMargin

  /** Cosine near-dup report threshold for q33. */
  val NearDupTau = 0.45

  /** q116 random projection: output dimensionality. Weights are md5-seeded
    * ints in [-8, 7] (Achlioptas-style sparse/integer projections preserve
    * inner products in expectation just like Gaussians), so the projected
    * coordinates are EXACT bigint sums — hash-comparable across engines. */
  val ProjD = 4

  /** q108 outlier threshold on cosine-to-own-centroid, as an e-notation
    * SQL literal (a plain -0.05 parses as DECIMAL in DuckDB — the
    * portability gotcha). Measured at sf0.01: p5 ≈ -0.049, median 0.15,
    * so this flags roughly the farthest ~5%. */
  val OutlierTau = "-5.0e-2"

  /** q81 semantic-dedup: prune threshold and per-cell representative cap.
    * Each vector is compared only against the SemCap lowest-id vectors of
    * its IVF cell, so pair volume is ≤ N·SemCap — linear at any corpus
    * size (an UNCAPPED within-cell all-pairs over √N-sized cells would be
    * O(N^1.5)). */
  val SemTau = 0.25
  val SemCap = 8

  /** q161 reciprocal-rank fusion: the standard RRF dampening constant
    * (Cormack et al. 2009's k = 60) — rank r contributes 1/(k + r). */
  val RrfK = 60

  /** The RRF combiner shared by q161 and the from-store q173: full-outer
    * join of a sparse and a dense (qid, rk, doc_id, …) ranking, two-term
    * reciprocal-rank score, top-RetrK re-ranked per query. Both inputs
    * are already bounded (≤ Q·RetrK rows), so everything here is
    * catalog-sized. Returns (qid, frk, doc_id, rs, rd, rrf), unordered. */
  def rrfFused(sp0: DataFrame, dn0: DataFrame): DataFrame = {
    val sp = sp0.select(col("qid"), col("doc_id"), col("rk").as("rs"))
    val dn = dn0.select(col("qid"), col("doc_id"), col("rk").as("rd"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    sp.join(dn, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", expr(
        s"coalesce(1.0e0 / ($RrfK + rs), 0.0e0) + coalesce(1.0e0 / ($RrfK + rd), 0.0e0)"))
      .withColumn("frk", row_number().over(w).cast("long"))
      .filter(col("frk") <= TextOps.RetrK)
      .select("qid", "frk", "doc_id", "rs", "rd", "rrf")
  }

  /** The fusion oracle tail, parameterized on the dense CTE chain (must
    * end in `den(qid, doc_id, score, rk)`): q161 composes the flat dense
    * chain, q173 the ADC-from-store chain — the SAME sparse chain and
    * fusion arithmetic either way. */
  private def rrfOracleWith(denseCtes: String): String =
    s"""WITH ${TextOps.sparseRankedCtes},
       |$denseCtes,
       |f AS (
       |  SELECT coalesce(s.qid, d.qid) AS qid,
       |         coalesce(s.doc_id, d.doc_id) AS doc_id,
       |         s.rk AS rs, d.rk AS rd
       |  FROM spr s FULL OUTER JOIN den d
       |    ON s.qid = d.qid AND s.doc_id = d.doc_id),
       |r AS (
       |  SELECT qid, doc_id, rs, rd,
       |         coalesce(1.0e0 / ($RrfK + rs), 0.0e0)
       |           + coalesce(1.0e0 / ($RrfK + rd), 0.0e0) AS rrf
       |  FROM f)
       |SELECT qid, frk, doc_id, rs, rd, rrf FROM (
       |  SELECT qid, doc_id, rs, rd, rrf,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS frk
       |  FROM r)
       |WHERE frk <= ${TextOps.RetrK}
       |ORDER BY qid, frk""".stripMargin

  /** q161's oracle: sparse chain + FLAT dense chain + fusion. Declared
    * above `defs` (object-init order). */
  private val rrfOracle: String = rrfOracleWith(denseRankedCtes)

  /** q162 matryoshka-style truncation audit: prefix dims graded against
    * the full-dim ranking (Kusupati et al. 2022 — prefix slices of an
    * embedding as cheaper search representations), and the top-k depth
    * whose overlap is reported. p = 0 encodes the FULL vector internally. */
  val MatPrefixes = Seq(8, 16)
  val MatK = 5

  /** q88 product quantization: M subspaces × ~K stride-seeded codewords. */
  val PqM = 8
  val PqK = 16
  /** ADC re-rank depth: candidates scored exactly after the coded scan. */
  val PqRerank = 100

  /** DuckDB twin of the PQ codebook + ADC reconstruction (`pqCodebook` +
    * `pqAssign` + `pqDecode`): CTEs par/cbl/coded ending in
    * `coded(vec_id, rx)`. Expects `vn` in scope (prepend `normCte`).
    * Shared verbatim by the q132 oracle and the q173 ADC dense chain. */
  private val pqCodedCtes: String =
    s"""par AS (SELECT greatest(CAST(1 AS BIGINT), count(*) // $PqK) AS step FROM vn),
       |cbl AS (
       |  SELECT list_sort(list(struct_pack(s := s, cid := cid, cn := cn))) AS cb FROM (
       |    SELECT s, vec_id AS cid,
       |           en[CAST(s * sub + 1 AS INT) : CAST(s * sub + sub AS INT)] AS cn
       |    FROM (SELECT vec_id, en, len(en) // $PqM AS sub, unnest(range(0, $PqM)) AS s
       |          FROM vn, par WHERE vec_id % step = 0))),
       |coded AS (
       |  SELECT vec_id,
       |         flatten([(list_sort([struct_pack(
       |             d := ${dotSql("c.cn", "c.cn")}
       |                  - 2.0e0 * list_reduce(
       |                      [en[CAST(s * (len(en) // $PqM) + i AS INT)] * c.cn[i]
       |                       for i in range(1, len(c.cn) + 1)], (x, y) -> x + y),
       |             cid := c.cid, cn := c.cn)
       |           for c in cb if c.s = s])[1]).cn
       |          for s in range(0, $PqM)]) AS rx
       |  FROM vn, cbl)""".stripMargin

  /** DuckDB twin of `IndexStore.denseRankedFrom` at probe-all + the
    * default re-rank depth (autoRerank = PqRerank at every catalog SF —
    * corpus/2000 < 100 there): ADC approx scan with the SAME fixed-point
    * floor(1e9·dot) as the Spark side, top-PqRerank per query by
    * (ascore DESC, doc_id), exact re-rank of those candidates. Ends in
    * `den(qid, doc_id, score, rk)` — the same interface as
    * `denseRankedCtes`, so the fusion tail composes either. */
  private val adcDenseCtes: String =
    s"""$normCte,
       |$pqCodedCtes,
       |qv AS (SELECT vec_id AS qid, en AS qn FROM vn WHERE vec_id < ${TextOps.RetrQ}),
       |adc AS (
       |  SELECT qid, vec_id AS doc_id,
       |         CAST(floor(1.0e9 * ${dotSql("rx", "qn")}) AS BIGINT) AS ascore
       |  FROM coded, qv WHERE vec_id >= ${TextOps.RetrQ}),
       |acand AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY ascore DESC, doc_id) AS ar
       |    FROM adc) WHERE ar <= $PqRerank),
       |den AS (
       |  SELECT qid, doc_id, score, rk FROM (
       |    SELECT e.qid, e.doc_id, e.score,
       |           CAST(row_number() OVER (PARTITION BY e.qid ORDER BY e.score DESC, e.doc_id) AS BIGINT) AS rk
       |    FROM (SELECT a.qid, a.doc_id,
       |                 CAST(floor(1.0e9 * ${dotSql("x.en", "q.qn")}) AS BIGINT) AS score
       |          FROM acand a JOIN vn x ON x.vec_id = a.doc_id
       |                       JOIN qv q ON q.qid = a.qid) e)
       |  WHERE rk <= ${TextOps.RetrK})""".stripMargin

  /** q173's oracle: sparse chain + ADC-from-store dense chain + fusion. */
  private val rrfStoreOracle: String = rrfOracleWith(adcDenseCtes)

  // ── SRP-LSH (q33) parameters (single source of truth: functions.SrpKeys,
  // whose codegen'd loop must agree with these) ──
  val SrpBands: Int = graft.functions.SrpKeys.Bands
  /** Sign bits per band cap: 2^32 buckets/band keeps expected bucket
    * occupancy O(1) to ~10^10 vectors. Plane set size is
    * SrpBands * SrpMaxRows = 256, but only r ≤ 32 rows per band are ever
    * evaluated per vector (the SrpKeys loop runs k < r). */
  val SrpMaxRows: Int = graft.functions.SrpKeys.MaxRows
  val SrpMinRows = 4

  /** Rows 0-15 of every band keep the original 16-aligned plane layout —
    * band keys are BIT-IDENTICAL to the pre-lift engine for any corpus
    * where r ≤ 16 (≈130k vectors), so lifting the cap re-rolled no plane
    * luck at tested scales; rows 16-31 extend each band from the fresh
    * 128..255 plane block. A FIXED (band, row) → plane indexing
    * independent of the data-derived r, so the whole plane set is a
    * compile-time-shaped structure the plan can carry. */
  def srpPlaneIdx(band: Int, row: Int): Int =
    graft.functions.SrpKeys.planeIdx(band, row)

  /** Deterministic ±1 hyperplane components from MD5 — engine-portable:
    * component i of plane j is +1 iff the first hex nibble of
    * md5("srp:j:i") is >= 8. The oracle derives the SAME planes with its
    * own md5(), so no literals need to match across engines by accident.
    * (Kept as the reference derivation for specs; the query path builds
    * the same planes in-plan, see `srpParams`.) */
  def srpPlane(j: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = md.digest(s"srp:$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
    }
  }

  /** SRP parameters as a BROADCAST 1-ROW FRAME, not a driver probe: r (sign
    * bits per band, ⌈log₂N⌉-clamped so buckets number ~N/2 per band) from a
    * count aggregate, dim from a LIMIT-1 scan (no full-column read), and the
    * full 8×32 plane set materialized ONCE in this row via the same
    * md5-derived ±1 construction as `srpPlane`. Folding the probe into the
    * plan removes the per-query driver `agg().head()` job flagged in
    * VERDICT r3 #4 — one plan, one run (JobCountSpec pins plan construction
    * at zero jobs). */
  def srpParams(raw: DataFrame): DataFrame = {
    val r = raw.agg(count(lit(1)).as("n"))
      .select(expr(s"least($SrpMaxRows, greatest($SrpMinRows, cast(ceil(log2(n)) as int) - 1))").as("r"))
    val dim = raw.limit(1).select(size(col("e")).as("dim"))
    r.crossJoin(broadcast(dim))
      .withColumn("planes", expr(
        s"""transform(sequence(0, ${SrpBands * SrpMaxRows - 1}), j ->
           |  transform(sequence(0, dim - 1), i ->
           |    CASE WHEN locate(substr(md5(concat('srp:', j, ':', i)), 1, 1), '89abcdef') > 0
           |         THEN cast(1.0 AS double) ELSE cast(-1.0 AS double) END))""".stripMargin))
      .select(col("r"), col("planes"))
  }

  /** SRP-LSH candidate pairs `(a, b)` with a < b over a normalized corpus
    * `(vec_id, en)`: SrpBands band keys of r sign bits each, computed by
    * the codegen'd graft_srpkeys expression (functions/SrpKeys) — one
    * primitive loop of exactly SrpBands·r dot products per vector, with r
    * riding in on the 1-ROW broadcast params frame (the only non-equi join
    * anywhere on this path, and PlanSpec pins that every such product's
    * build side is a provably-1-row subplan; the BLOCKING join below stays
    * a bucket equi-join). The wide-Project formulation this replaced
    * (SrpBands·SrpMaxRows = 256 CASE-guarded bit columns + per-band
    * concat) measured ~+0.5 s per evaluation at sf0.1 once the row cap was
    * lifted to 32 — generated-code bulk, not algorithm. Shared by q33
    * (near-dup) and q59 (kNN join) — the blocking structure is the same;
    * only the verification differs. */
  def srpCandidates(emb: DataFrame, params: DataFrame): DataFrame = {
    val bx = emb.crossJoin(broadcast(params))
      .select(col("vec_id"),
        posexplode(call_function("graft_srpkeys",
          col("en"), col("planes"), col("r"))).as(Seq("bi", "key")))
    bx.as("x").join(bx.as("y"),
        col("x.bi") === col("y.bi") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
  }

  /** DuckDB twin of `srpParams` + `srpCandidates` as a CTE chain ending in
    * `cand(a, b)`; prepend `$normCte`. The (band, row) → plane map mirrors
    * `srpPlaneIdx`: planes < 128 serve band j // 16 row j % 16 (the
    * original 16-aligned layout), planes ≥ 128 serve band (j-128) // 16
    * row 16 + (j-128) % 16; a band's key is its rows < r, in row order. */
  private def srpCandCtes: String = {
    val legacy = 16 * SrpBands // 128: boundary between the two plane blocks
    s"""par AS (SELECT least($SrpMaxRows, greatest($SrpMinRows,
       |               CAST(ceil(log2(count(*))) AS INT) - 1)) AS r FROM vn),
       |dimp AS (SELECT len(en) AS dim FROM vn LIMIT 1),
       |pl AS (
       |  SELECT j,
       |         CASE WHEN j < $legacy THEN j // 16 ELSE (j - $legacy) // 16 END AS bi,
       |         CASE WHEN j < $legacy THEN j % 16 ELSE 16 + (j - $legacy) % 16 END AS rw,
       |         [CASE WHEN strpos('89abcdef', substr(md5('srp:' || j || ':' || i), 1, 1)) > 0
       |          THEN 1.0 ELSE -1.0 END for i in range(0, dim)] AS p
       |  FROM range(0, ${SrpBands * SrpMaxRows}) t(j), dimp),
       |bits AS (
       |  SELECT vec_id, bi, rw,
       |         CASE WHEN ${dotSql("en", "p")} >= 0 THEN '1' ELSE '0' END AS bit
       |  FROM vn, pl, par WHERE rw < par.r),
       |bx AS (
       |  SELECT vec_id, bi, string_agg(bit, '' ORDER BY rw) AS key
       |  FROM bits GROUP BY vec_id, bi),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.vec_id < y.vec_id)""".stripMargin
  }

  /** Neighbors reported per vector by the q59 kNN join. */
  val KnnK = 3

  // ── Multi-probe IVF (q77) parameters ──
  /** Coarse cells probed by the query (nprobe at the coarse level). */
  val ProbeCoarse = 2
  /** Fine cells probed across the probed coarse cells' centroid lists. */
  val ProbeFine = 3

  /** DuckDB twin of `ivfIndex`: CTE chain `par → cents → coarse → fassign →
    * fcells → cassign → assigned` (prepend `$normCte`). Shared by q34
    * (single-probe) and q77 (multi-probe) so the index construction is
    * oracle-identical across both. */
  private def ivfCtes: String =
    s"""par AS (
       |  SELECT n, k, greatest(1, n // k) AS step,
       |         greatest(2, CAST(ceil(sqrt(k)) AS BIGINT)) AS k1,
       |         greatest(1, k // greatest(2, CAST(ceil(sqrt(k)) AS BIGINT))) AS step1
       |  FROM (SELECT count(*) AS n,
       |               greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |        FROM vn)),
       |cents AS (
       |  SELECT vec_id AS cid, en AS cn FROM vn, par WHERE vec_id % par.step = 0),
       |coarse AS (
       |  SELECT list_sort(list(struct_pack(ccid := cid, cn := cn))) AS cc
       |  FROM cents, par WHERE (cid // par.step) % par.step1 = 0),
       |fassign AS (
       |  SELECT -(list_sort([struct_pack(csim := ${dotSql("cn", "c.cn")},
       |                                  negccid := -c.ccid) for c in cc])[-1].negccid) AS ccid,
       |         cid, cn
       |  FROM cents, coarse),
       |fcells AS (
       |  SELECT ccid, list_sort(list(struct_pack(cid := cid, cn := cn))) AS fc
       |  FROM fassign GROUP BY ccid),
       |cassign AS (
       |  SELECT vec_id, en,
       |         -(list_sort([struct_pack(csim := ${dotSql("en", "c.cn")},
       |                                  negccid := -c.ccid) for c in cc])[-1].negccid) AS ccid
       |  FROM vn, coarse),
       |assigned AS (
       |  SELECT vec_id, en,
       |         -(list_sort([struct_pack(csim := ${dotSql("en", "f.cn")},
       |                                  negcid := -f.cid) for f in fc])[-1].negcid) AS cid
       |  FROM cassign JOIN fcells USING (ccid))""".stripMargin

  /** q94 embedding-quality eval: every KnnEvalMod-th vector is a probe;
    * purity = fraction of its KnnEvalK exact nearest neighbors sharing its
    * label. The panel is FIXED-SIZE in production (a held-out eval set);
    * the modulo stand-in keeps the oracle self-contained. */
  val KnnEvalMod = 50L
  val KnnEvalK = 5

  val defs: Seq[QueryDef] = Seq(

    // ── Brute-force cosine top-k (exact ANN baseline) ──
    QueryDef(
      "q25_knn_bruteforce",
      (s, dir) => {
        val emb = withNormalized(Tables.embeddings(s, dir))
        val q = emb.filter(col("vec_id") === 0).select(col("en").as("qn"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), dot(col("en"), col("qn")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH $normCte,
              |q AS (SELECT en AS qn FROM vn WHERE vec_id = 0)
              |SELECT vec_id, ${dotSql("en", "qn")} AS sim
              |FROM vn, q WHERE vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ── Embedding-cosine near-dup, SRP-LSH blocked ──
    QueryDef(
      "q33_cosine_neardup",
      (s, dir) => {
        val raw = Tables.embeddings(s, dir)
        // (n, dim) → r and the plane set ride in as a broadcast params row
        // (srpParams) — no driver-side probe job; the count/limit-1
        // subplans run on the raw scan so no normalization work is spent
        // on them.
        val emb = withNormalized(raw).select(col("vec_id"), col("en"))
        srpCandidates(emb, srpParams(raw))
          .join(emb.select(col("vec_id").as("a"), col("en").as("na")), Seq("a"))
          .join(emb.select(col("vec_id").as("b"), col("en").as("nb")), Seq("b"))
          .withColumn("sim", dot(col("na"), col("nb")))
          .filter(col("sim") >= NearDupTau)
          .select("a", "b", "sim")
          .orderBy("a", "b")
      },
      Some(s"""WITH $normCte,
              |$srpCandCtes
              |SELECT a, b, sim FROM (
              |  SELECT c.a, c.b, ${dotSql("x.en", "y.en")} AS sim
              |  FROM cand c JOIN vn x ON x.vec_id = c.a JOIN vn y ON y.vec_id = c.b)
              |WHERE sim >= $NearDupTau
              |ORDER BY a, b""".stripMargin)),

    // ── ANN kNN JOIN: top-k neighbors for EVERY vector, SRP-LSH blocked ──
    QueryDef(
      "q59_ann_knn_join",
      (s, dir) => {
        // The all-vectors variant of q33: same linear blocking structure
        // (bucket equi-join, candidate volume O(N)), then a per-vector
        // window top-k — keyed by vec_id, so the window shuffles but never
        // concentrates (no global sort, no all-pairs). This is the "find
        // near-duplicate neighbors for every document" pipeline shape.
        val raw = Tables.embeddings(s, dir)
        val emb = withNormalized(raw).select(col("vec_id"), col("en"))
        // Score each a<b pair ONCE, then mirror the scored rows — sim is
        // exactly symmetric (element products commute, same fold order), so
        // this halves the dot products and one join pass vs scoring the
        // symmetrized candidate set. The mirror references `scored` twice;
        // without a barrier the union's two branches each re-run the whole
        // candidates+verify subtree (partial ReusedExchange doesn't cover
        // it — measured 1.25 vs 0.75 s at sf0.1, and at corpus scale it is
        // a strict 2× of the query's real work). localCheckpoint is the
        // q54/q73 fan-out pattern; JobCountSpec lists q59 eager-by-design.
        val scored = srpCandidates(emb, srpParams(raw))
          .join(emb.select(col("vec_id").as("a"), col("en").as("na")), Seq("a"))
          .join(emb.select(col("vec_id").as("b"), col("en").as("nb")), Seq("b"))
          .withColumn("sim", dot(col("na"), col("nb")))
          .select("a", "b", "sim")
          .localCheckpoint(true)
        val sym = scored.unionByName(scored.select(
          col("b").as("a"), col("a").as("b"), col("sim")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("a").orderBy(col("sim").desc, col("b"))
        sym
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= KnnK)
          .select("a", "rnk", "b", "sim")
          .orderBy("a", "rnk")
      },
      Some(s"""WITH $normCte,
              |$srpCandCtes,
              |sym AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
              |scored AS (
              |  SELECT s.a, s.b, ${dotSql("x.en", "y.en")} AS sim
              |  FROM sym s JOIN vn x ON x.vec_id = s.a JOIN vn y ON y.vec_id = s.b)
              |SELECT a, rnk, b, sim FROM (
              |  SELECT a, b, sim,
              |         CAST(row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS INTEGER) AS rnk
              |  FROM scored)
              |WHERE rnk <= $KnnK
              |ORDER BY a, rnk""".stripMargin)),

    // ── IVF ANN: two-level (coarse/fine) centroids, narrow argmax assignment ──
    QueryDef(
      "q34_ivf_ann",
      (s, dir) => {
        val (assigned, _) = ivfAssigned(withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en")))
        val qrow = assigned.filter(col("vec_id") === 0)
          .select(col("cid").as("qcid"), col("en").as("qn"))
        assigned.join(broadcast(qrow), col("cid") === col("qcid"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), dot(col("en"), col("qn")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH $normCte,
              |$ivfCtes,
              |q AS (SELECT cid AS qcid, en AS qn FROM assigned WHERE vec_id = 0)
              |SELECT a.vec_id, ${dotSql("a.en", "q.qn")} AS sim
              |FROM assigned a, q WHERE a.cid = q.qcid AND a.vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // ── Multi-probe IVF ANN: nprobe=2 coarse cells, 3 fine cells probed ──
    QueryDef(
      "q77_ivf_multiprobe",
      (s, dir) => {
        // q34 probes exactly the query's own cell (nprobe=1) — recall-limited
        // when the true neighbors sit just across a Voronoi boundary. Here
        // the query ranks ALL coarse centroids (broadcast array — the same
        // N^(1/4)-bounded structure assignment uses), keeps the top
        // ProbeCoarse cells, ranks the fine centroids of just those cells,
        // keeps the top ProbeFine, and scans only those cells' vectors.
        // Every probe frame is ≤3 rows; the corpus-side work is one
        // broadcast hash join on cid — identical scale posture to q34, with
        // recall growing in nprobe instead of fixed at one cell.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val (assigned, fineCells, coarseArr) = ivfIndex(emb)
        val qrow = emb.filter(col("vec_id") === 0).select(col("en").as("qn"))
        val topc = qrow.crossJoin(broadcast(coarseArr))
          .select(col("qn"), explode(col("cc")).as("c"))
          .select(col("c.ccid").as("ccid"), dot(col("qn"), col("c.cn")).as("csim"))
          .orderBy(col("csim").desc, col("ccid"))
          .limit(ProbeCoarse)
          .select("ccid")
        val topf = broadcast(topc).join(fineCells, Seq("ccid"))
          .crossJoin(broadcast(qrow))
          .select(col("qn"), explode(col("fc")).as("f"))
          .select(col("f.cid").as("cid"), dot(col("qn"), col("f.cn")).as("fsim"))
          .orderBy(col("fsim").desc, col("cid"))
          .limit(ProbeFine)
          .select("cid")
        assigned.join(broadcast(topf), Seq("cid"))
          .crossJoin(broadcast(qrow))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), dot(col("en"), col("qn")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(s"""WITH $normCte,
              |$ivfCtes,
              |q AS (SELECT en AS qn FROM vn WHERE vec_id = 0),
              |cprobe AS (
              |  SELECT c.ccid AS ccid, ${dotSql("qn", "c.cn")} AS csim
              |  FROM (SELECT unnest(cc) AS c, qn FROM coarse, q)),
              |topc AS (SELECT ccid FROM cprobe ORDER BY csim DESC, ccid LIMIT $ProbeCoarse),
              |fprobe AS (
              |  SELECT f.cid AS cid, ${dotSql("qn", "f.cn")} AS fsim
              |  FROM (SELECT unnest(fc) AS f, qn FROM fcells JOIN topc USING (ccid), q)),
              |topf AS (SELECT cid FROM fprobe ORDER BY fsim DESC, cid LIMIT $ProbeFine)
              |SELECT a.vec_id, ${dotSql("a.en", "q.qn")} AS sim
              |FROM assigned a JOIN topf USING (cid), q
              |WHERE a.vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // ── Semantic dedup: within-IVF-cell cosine pruning (SemDeDup-style) ──
    QueryDef(
      "q81_semdedup",
      (s, dir) => {
        // Embedding-level dedup the way the SemDeDup recipe does it:
        // cluster, then prune vectors too close to a cluster-mate, keeping
        // the lowest id. Clustering reuses the q34 two-level IVF
        // assignment (corpus side stays narrow); pruning compares each
        // vector only against the SemCap lowest-id REPRESENTATIVES of its
        // cell — a documented approximation that caps pair volume at
        // N·SemCap (uncapped within-cell all-pairs over √N-sized cells is
        // O(N^1.5), a scale cliff). The rank window is keyed by cid, so it
        // shuffles but never concentrates; cos ≥ SemTau against an
        // earlier-id representative marks a drop.
        val (assigned, _) = ivfAssigned(
          withNormalized(Tables.embeddings(s, dir)).select(col("vec_id"), col("en")))
        val wCell = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy("vec_id")
        val cells = assigned.withColumn("rk", row_number().over(wCell))
        val reps = cells.filter(col("rk") <= SemCap)
          .select(col("cid"), col("vec_id").as("rid"), col("en").as("ren"))
        val dup = cells.join(reps, Seq("cid"))
          .filter(col("rid") < col("vec_id") && dot(col("ren"), col("en")) >= SemTau)
          .select("vec_id").distinct()
        assigned.select("vec_id", "cid")
          .join(dup.withColumn("d", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"),
            when(col("d").isNull, 1).otherwise(0).as("keep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $normCte,
              |$ivfCtes,
              |cells AS (
              |  SELECT vec_id, en, cid,
              |         row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rk
              |  FROM assigned),
              |reps AS (SELECT cid, vec_id AS rid, en AS ren FROM cells WHERE rk <= $SemCap),
              |dup AS (
              |  SELECT DISTINCT c.vec_id
              |  FROM cells c JOIN reps r ON r.cid = c.cid AND r.rid < c.vec_id
              |  WHERE ${dotSql("r.ren", "c.en")} >= $SemTau)
              |SELECT a.vec_id, a.cid, CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
              |FROM assigned a LEFT JOIN dup d ON d.vec_id = a.vec_id
              |ORDER BY a.vec_id""".stripMargin)),

    // ── SQ8 quantized ANN: int8 scan + exact re-rank ──
    QueryDef(
      "q83_sq8_ann",
      (s, dir) => {
        // The memory-bound scale technique for vector search: store each
        // normalized vector as per-dim uint8 codes (4× smaller than f32,
        // 8× than f64 — at 10¹¹×768 the difference between a corpus that
        // fits executor memory and one that doesn't), scan the QUANTIZED
        // corpus for a top-20 candidate set, then re-rank only those 20
        // against the exact vectors. Quantization is the repo's
        // floor-bucket map (exact-double arithmetic, engine-portable —
        // round() would diverge at half-way points); scoring uses the
        // DEQUANTIZED values so the approx scan is a plain graft_dot and
        // the oracle reproduces every double bit-for-bit. The per-dim
        // [mn,mx] range table is a broadcast 1-row frame (in-plan, no
        // driver probe), dim-bounded at any corpus size.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val rng = emb.select(posexplode(col("en")).as(Seq("i", "x")))
          .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
          .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))).as("rg"))
        val dq = emb.crossJoin(broadcast(rng))
          .withColumn("dq", expr(
            """transform(en, (x, i) ->
              |  CASE WHEN rg[i].mx = rg[i].mn THEN rg[i].mn
              |       ELSE rg[i].mn
              |            + least(floor((x - rg[i].mn) * 2.55e2 / (rg[i].mx - rg[i].mn)), 2.54e2)
              |              * (rg[i].mx - rg[i].mn) / 2.55e2
              |  END)""".stripMargin))
          .select("vec_id", "dq")
        // limit(1) after the unique-key filter: semantically a no-op, but
        // it makes the broadcast build side PROVABLY 1-row in the physical
        // plan (GlobalLimit), which the no-unbounded-product pin checks.
        val qdq = dq.filter(col("vec_id") === 0).limit(1).select(col("dq").as("qdq"))
        val top20 = dq.filter(col("vec_id") =!= 0).crossJoin(broadcast(qdq))
          .select(col("vec_id"), dot(col("dq"), col("qdq")).as("asim"))
          .orderBy(col("asim").desc, col("vec_id")).limit(20)
        val qn = emb.filter(col("vec_id") === 0).limit(1).select(col("en").as("qn"))
        top20.join(emb, Seq("vec_id")).crossJoin(broadcast(qn))
          .select(col("vec_id"), dot(col("en"), col("qn")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(5)
      },
      Some(s"""WITH $normCte,
              |rng AS (
              |  SELECT s.i AS i, min(s.v) AS mn, max(s.v) AS mx FROM (
              |    SELECT unnest([struct_pack(i := i, v := en[i])
              |                   for i in range(1, len(en) + 1)]) AS s
              |    FROM vn)
              |  GROUP BY s.i),
              |rgl AS (SELECT list_sort(list(struct_pack(i := i, mn := mn, mx := mx))) AS rg FROM rng),
              |dq AS (
              |  SELECT vec_id,
              |         [CASE WHEN rg[i].mx = rg[i].mn THEN rg[i].mn
              |               ELSE rg[i].mn
              |                    + least(floor((en[i] - rg[i].mn) * 2.55e2 / (rg[i].mx - rg[i].mn)), 2.54e2)
              |                      * (rg[i].mx - rg[i].mn) / 2.55e2
              |          END for i in range(1, len(en) + 1)] AS dq
              |  FROM vn, rgl),
              |qd AS (SELECT dq AS qdq FROM dq WHERE vec_id = 0),
              |top20 AS (
              |  SELECT vec_id, ${dotSql("dq", "qdq")} AS asim
              |  FROM dq, qd WHERE vec_id <> 0
              |  ORDER BY asim DESC, vec_id LIMIT 20),
              |q AS (SELECT en AS qn FROM vn WHERE vec_id = 0)
              |SELECT t.vec_id, ${dotSql("x.en", "qn")} AS sim
              |FROM top20 t JOIN vn x ON x.vec_id = t.vec_id, q
              |ORDER BY sim DESC, t.vec_id LIMIT 5""".stripMargin)),

    // ── PQ-ADC quantized ANN: product-quantized scan + exact re-rank ──
    QueryDef(
      "q88_pq_ann",
      (s, dir) => {
        // Product quantization, the rung below SQ8 on the memory ladder:
        // each vector stored as PqM 4-bit codebook ids (PqM·log2(PqK) =
        // 4 bytes/vector vs SQ8's dim bytes — at 10¹¹×768 that is ~400 GB
        // of codes vs ~77 TB). Codebooks are per-subspace stride-seeded
        // sub-vectors (the IVF seeding discipline: the seeding is the
        // parameter, the plan is the structure); codes are L2 argmins
        // computed as ||c||² − 2·x·c (the ||x||² term is constant per
        // subspace — dropped, so every double is a codegen'd graft_dot
        // and the oracle reproduces it bit-for-bit; ties break to the
        // lowest codeword id via struct array_min). The ADC scan scores
        // dot(query_exact, reconstruction) — the reconstruction IS the
        // decode, so the approx scan is one graft_dot like q83's — then
        // the top-PqRerank re-rank against exact vectors (a CONSTANT
        // number of exact dots per query at any corpus size — the
        // standard PQ accuracy knob; VectorsPqSpec pins recall@5 ≥ 0.8
        // on the fixtures, measured 1.0 at sf0.1). The codebook is a
        // broadcast 1-row frame of PqK·dim doubles (dim-bounded at any
        // corpus size); the corpus side is a pure narrow scan.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val cb = pqCodebook(emb)
        // Assign-then-decode — exactly the persisted-index path
        // (IndexStore.savePqIndex stores pqAssign's codes; searchPq
        // decodes them), so the catalog query exercises the same code the
        // store replays. cid is unique per subspace ⇒ the decode's lookup
        // returns the argmin's own cn: bit-identical to a fused
        // argmin-keeps-cn formulation, and the oracle's.
        val coded = pqDecode(pqAssign(emb, cb), cb)
        val qn = emb.filter(col("vec_id") === 0).limit(1).select(col("en").as("qn"))
        val cand = coded.filter(col("vec_id") =!= 0).crossJoin(broadcast(qn))
          .select(col("vec_id"), dot(col("rx"), col("qn")).as("asim"))
          .orderBy(col("asim").desc, col("vec_id")).limit(PqRerank)
        cand.join(emb, Seq("vec_id")).crossJoin(broadcast(qn))
          .select(col("vec_id"), dot(col("en"), col("qn")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(5)
      },
      Some(s"""WITH $normCte,
              |$pqCodedCtes,
              |qd AS (SELECT en AS qn FROM vn WHERE vec_id = 0),
              |cand AS (
              |  SELECT vec_id, ${dotSql("rx", "qn")} AS asim
              |  FROM coded, qd WHERE vec_id <> 0
              |  ORDER BY asim DESC, vec_id LIMIT $PqRerank)
              |SELECT t.vec_id, ${dotSql("x.en", "qn")} AS sim
              |FROM cand t JOIN vn x ON x.vec_id = t.vec_id, qd
              |ORDER BY sim DESC, t.vec_id LIMIT 5""".stripMargin)),

    // ── kNN label purity (embedding-quality eval panel) ──
    QueryDef(
      "q94_knn_label_purity",
      (s, dir) => {
        // Does the embedding space cluster by label? For each probe vector
        // (a small eval panel), take its exact top-K cosine neighbors and
        // measure the fraction sharing the probe's label — the standard
        // embedding-quality scorecard run before trusting semantic dedup
        // (q81) or ANN retrieval on a new embedding model. Shape: the
        // panel rides as ONE broadcast frame into a narrow corpus scan
        // (per-corpus-row cost = |panel| codegen'd dots — linear in N for
        // a fixed panel, never N²); top-K is a window keyed by probe id,
        // so it shuffles only panel·K candidate rows, and the verdict is
        // one tiny panel-keyed aggregation. Integer counts; the only
        // double emitted is sim-free purity = n_match / K.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("label"), col("en"))
        val panel = emb.filter(col("vec_id") % KnnEvalMod === 0)
          .select(col("vec_id").as("qid"), col("label").as("ql"),
            col("en").as("qn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        emb.crossJoin(broadcast(panel))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("ql"), col("vec_id"), col("label"),
            dot(col("en"), col("qn")).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= KnnEvalK)
          .groupBy("qid")
          .agg(sum(when(col("label") === col("ql"), 1L).otherwise(0L))
            .as("n_match"))
          .withColumn("purity", col("n_match") / lit(KnnEvalK))
          .orderBy("qid")
      },
      Some(s"""WITH $normCte,
              |panel AS (
              |  SELECT vec_id AS qid, label AS ql, en AS qn
              |  FROM vn WHERE vec_id % $KnnEvalMod = 0),
              |scored AS (
              |  SELECT qid, ql, vec_id, label, ${dotSql("en", "qn")} AS sim
              |  FROM vn, panel WHERE vec_id <> qid),
              |ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
              |  FROM scored)
              |SELECT qid,
              |       CAST(sum(CASE WHEN label = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
              |       CAST(sum(CASE WHEN label = ql THEN 1 ELSE 0 END) AS BIGINT) / $KnnEvalK AS purity
              |FROM ranked WHERE rn <= $KnnEvalK
              |GROUP BY qid ORDER BY qid""".stripMargin)),

    // ── Per-label centroid cosine matrix (embedding drift monitor) ──
    QueryDef(
      "q95_centroid_drift",
      (s, dir) => {
        // How far apart do the label (or source/snapshot) populations sit
        // in embedding space? The pairwise cosine between slice centroids
        // is the drift scorecard a pipeline runs when a new embedding
        // model or a new crawl slice lands: collapsing centroids mean the
        // space no longer separates the slices. Scale shape: ONE narrow
        // per-dim explode (N·dim rows) into a (label, dim)-keyed integer
        // sum — partial aggregation bounds the shuffle at labels·dim rows
        // — then an all-pairs join on the ≤|labels|-row centroid frame
        // (broadcast; labels² is tiny by construction). Doubles are summed
        // as FIXED-POINT bigints (floor(v·1e6)): integer sums are
        // partition-order-exact where a double sum's low bits drift with
        // scheduling, and cosine is scale-invariant so the raw integer sum
        // vector (never divided by n) feeds the sequential-fold dot
        // directly.
        val comp = Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("e")).as(Seq("i", "v")))
          .groupBy("label", "i")
          .agg(sum(expr("cast(floor(v * 1.0e6) AS bigint)")).as("c"))
        val cent = comp.groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> cast(x.c AS double))").as("cv"))
        val a = cent.select(col("label").as("la"), col("cv").as("ca"))
        val b = cent.select(col("label").as("lb"), col("cv").as("cb"))
        a.join(broadcast(b), col("la") < col("lb"))
          .select(col("la"), col("lb"),
            (dot(col("ca"), col("cb")) /
              (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))))
              .as("cos_sim"))
          .orderBy("la", "lb")
      },
      Some(s"""WITH comp AS (
              |  SELECT label, u.i AS i,
              |         CAST(sum(CAST(floor(u.v * 1.0e6) AS BIGINT)) AS BIGINT) AS c
              |  FROM (SELECT label,
              |               unnest([struct_pack(i := i, v := CAST(embedding[i] AS DOUBLE))
              |                       for i in range(1, len(embedding) + 1)]) AS u
              |        FROM embeddings)
              |  GROUP BY 1, 2),
              |cent AS (
              |  SELECT label,
              |         [CAST(x.c AS DOUBLE) for x in list_sort(list(struct_pack(i := i, c := c)))] AS cv
              |  FROM comp GROUP BY label)
              |SELECT a.label AS la, b.label AS lb,
              |       ${dotSql("a.cv", "b.cv")}
              |         / (sqrt(${dotSql("a.cv", "a.cv")}) * sqrt(${dotSql("b.cv", "b.cv")})) AS cos_sim
              |FROM cent a JOIN cent b ON a.label < b.label
              |ORDER BY la, lb""".stripMargin)),

    // ── Per-dimension embedding audit (dead/collapsed-dim detector) ──
    QueryDef(
      "q100_dim_audit",
      (s, dir) => {
        // The embedding-HEALTH scorecard a pipeline runs when a new model
        // version lands: per coordinate, the mean, the observed range,
        // and the fraction of near-zero values. A dimension whose range
        // collapses (or that is ~always zero) carries no information —
        // wasted index bytes and a symptom of a broken projection head.
        // Scale shape: one narrow per-dim explode into a dim-keyed
        // partial+final aggregation — state and shuffle are both bounded
        // at `dim` rows. Portability: the mean is a FIXED-POINT bigint
        // sum (floor(v·1e6), exact up to N ~ 1e11 at |v| ≤ 1) divided
        // once at the end; min/max are order-insensitive exacts; the
        // near-zero count is integral. No cross-row double sum anywhere.
        val comp = Tables.embeddings(s, dir)
          .select(posexplode(col("e")).as(Seq("i", "v")))
          .select((col("i") + 1).cast("long").as("dim"), col("v"))
        comp.groupBy("dim")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(floor(v * 1.0e6) AS bigint)")).as("sm"),
            min(col("v")).as("min_v"),
            max(col("v")).as("max_v"),
            sum(when(abs(col("v")) < 1.0e-3, 1L).otherwise(0L)).as("n_small"))
          .select(col("dim"), col("n"),
            expr("cast(sm AS double) / 1.0e6 / cast(n AS double)").as("mean_v"),
            col("min_v"), col("max_v"),
            (col("max_v") - col("min_v")).as("rng"),
            expr("cast(n_small AS double) / cast(n AS double)").as("small_frac"))
          .orderBy("dim")
      },
      Some("""WITH comp AS (
             |  SELECT u.i AS dim, CAST(u.v AS DOUBLE) AS v
             |  FROM (SELECT unnest([struct_pack(i := i, v := CAST(embedding[i] AS DOUBLE))
             |                       for i in range(1, len(embedding) + 1)]) AS u
             |        FROM embeddings)),
             |a AS (
             |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CAST(floor(v * 1.0e6) AS BIGINT)) AS BIGINT) AS sm,
             |         min(v) AS min_v, max(v) AS max_v,
             |         CAST(sum(CASE WHEN abs(v) < 1.0e-3 THEN 1 ELSE 0 END) AS BIGINT) AS n_small
             |  FROM comp GROUP BY dim)
             |SELECT dim, n,
             |       CAST(sm AS DOUBLE) / 1.0e6 / CAST(n AS DOUBLE) AS mean_v,
             |       min_v, max_v, max_v - min_v AS rng,
             |       CAST(n_small AS DOUBLE) / CAST(n AS DOUBLE) AS small_frac
             |FROM a ORDER BY dim""".stripMargin)),

    // ── Centroid-distance outliers (mislabel / contamination monitor) ──
    QueryDef(
      "q108_centroid_outliers",
      (s, dir) => {
        // The per-VECTOR half of q95's scorecard: every embedding scored
        // by cosine against its OWN label's centroid, with the farthest
        // tail flagged — the mislabel/garbage detector an embedding-QA
        // pass runs per batch (a vector far from its population is a
        // labeling error, a decode failure, or genuine novelty; all three
        // deserve eyes). Centroids use q95's FIXED-POINT bigint dim sums
        // (partition-order-exact; cosine is scale-invariant so the raw
        // sum vector feeds the dot directly, never divided by n).
        //
        // 100 TB shape: one narrow per-dim explode into a (label, dim)-
        // keyed partial+final integer agg (shuffle bounded at labels·dim
        // rows), centroid frame ≤|labels| rows BROADCAST back, then a
        // pure narrow scan scores every vector — the corpus is never
        // shuffled, there is no per-label window (the threshold form
        // keeps the flag a projection; a rank-based tail would window
        // the corpus by label — the q79 anti-shape).
        val emb = Tables.embeddings(s, dir)
        val comp = emb
          .select(col("label"), posexplode(col("e")).as(Seq("i", "v")))
          .groupBy("label", "i")
          .agg(sum(expr("cast(floor(v * 1.0e6) AS bigint)")).as("c"))
        val cent = comp.groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> cast(x.c AS double))")
            .as("cv"))
        emb.join(broadcast(cent), Seq("label"))
          .select(col("vec_id"), col("label"),
            (dot(col("e"), col("cv")) /
              (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("cv"), col("cv")))))
              .as("cos_sim"))
          .select(col("vec_id"), col("label"), col("cos_sim"),
            expr(s"CASE WHEN cos_sim < $OutlierTau THEN 1 ELSE 0 END")
              .as("is_outlier"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |comp AS (
              |  SELECT label, u.i AS i,
              |         CAST(sum(CAST(floor(u.v * 1.0e6) AS BIGINT)) AS BIGINT) AS c
              |  FROM (SELECT label,
              |               unnest([struct_pack(i := i, v := e[i])
              |                       for i in range(1, len(e) + 1)]) AS u
              |        FROM ev)
              |  GROUP BY 1, 2),
              |cent AS (
              |  SELECT label,
              |         [CAST(x.c AS DOUBLE) for x in list_sort(list(struct_pack(i := i, c := c)))] AS cv
              |  FROM comp GROUP BY label),
              |scored AS (
              |  SELECT vec_id, label,
              |         ${dotSql("e", "cv")}
              |           / (sqrt(${dotSql("e", "e")}) * sqrt(${dotSql("cv", "cv")})) AS cos_sim
              |  FROM ev JOIN cent USING (label))
              |SELECT vec_id, label, cos_sim,
              |       CASE WHEN cos_sim < $OutlierTau THEN 1 ELSE 0 END AS is_outlier
              |FROM scored ORDER BY vec_id""".stripMargin)),

    // ── Random projection: integer dimensionality reduction ──
    QueryDef(
      "q116_random_projection",
      (s, dir) => {
        // The cheap-ANN preprocessing step: project dim-d embeddings onto
        // ProjD md5-seeded integer directions (Johnson-Lindenstrauss via
        // Achlioptas-style integer weights). The projected table is what a
        // coarse prefilter or a disk-resident sketch indexes — 4 bigints
        // per vector instead of d floats. Values are EXACT: inputs are
        // fixed-pointed (floor(x·2^20)) and weights are ints, so each
        // coordinate is an order-free integer sum, hash-identical in any
        // engine.
        //
        // 100 TB shape: the weight matrix is derived ONCE on a 1-row
        // frame (limit(1) — no shuffle, no driver action) and BROADCAST
        // into the scan; the per-row hot path is ProjD·d integer
        // multiply-adds inside whole-stage codegen — a pure narrow scan,
        // zero corpus shuffle before the determinism sort (PlanSpec pin).
        // Deriving weights per row would md5 ProjD·d times per vector;
        // deriving them at plan time would freeze the dimensionality into
        // the plan — the broadcast form is dim-agnostic AND hoists the
        // hashing to once per job.
        val emb = Tables.embeddings(s, dir)
        val wrow = emb.limit(1).select(expr(
          s"""flatten(transform(sequence(0, ${ProjD - 1}), j ->
             |  transform(sequence(0, size(e) - 1), d ->
             |    cast(conv(substr(md5(concat(cast(j as string), '_', cast(d as string))), 1, 1), 16, 10) as int) - 8)))""".stripMargin
        ).as("wf"))
        emb.crossJoin(broadcast(wrow))
          .select(col("vec_id") +: col("label") +:
            (0 until ProjD).map(j => expr(
              s"""cast(aggregate(sequence(0, size(e) - 1), cast(0 as bigint),
                 |  (acc, d) -> acc + floor(e[d] * 1048576.0e0)
                 |    * element_at(wf, $j * size(e) + d + 1)) as bigint)""".stripMargin
            ).as(s"p$j")): _*)
          .orderBy("vec_id")
      },
      Some {
        def proj(j: Int) =
          s"""CAST(list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0e0) AS BIGINT)
             |      * ((strpos('0123456789abcdef', substr(md5('${j}_' || (i-1)::VARCHAR), 1, 1)) - 1) - 8)
             |    for i in range(1, len(embedding) + 1)]) AS BIGINT) AS p$j""".stripMargin
        s"""SELECT vec_id, label,
           |  ${(0 until ProjD).map(proj).mkString(",\n  ")}
           |FROM embeddings ORDER BY vec_id""".stripMargin
      }),

    // ── Persisted PQ index, end-to-end: build → load → ADC search ──
    QueryDef(
      "q130_pq_ann_from_store",
      (s, dir) => {
        // q88's production form, oracle-graded end-to-end (VERDICT r9 #1):
        // codebook + 4-bit codes persisted into a scratch store
        // (`IndexStore.savePqIndex`), the ADC scan + exact re-rank answered
        // by `searchPq` from the persisted codes alone. Same oracle SQL as
        // q88 — the independent engine re-derives codebook, codes, and
        // reconstructions from the raw vectors, so a hash match proves the
        // store round-trip (including the positions-array decode) is exact.
        // At 100 TB the split is the memory ladder's point: ~4 B/vector of
        // codes at rest; only PqRerank exact vectors ever re-read.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val scratch = graft.Scratch.dir("q130-store")
        IndexStore.savePqIndex(emb, scratch)
        IndexStore.searchPq(emb, scratch, queryVecId = 0L, k = 5)
      },
      Some(s"""WITH $normCte,
              |$pqCodedCtes,
              |qd AS (SELECT en AS qn FROM vn WHERE vec_id = 0),
              |cand AS (
              |  SELECT vec_id, ${dotSql("rx", "qn")} AS asim
              |  FROM coded, qd WHERE vec_id <> 0
              |  ORDER BY asim DESC, vec_id LIMIT $PqRerank)
              |SELECT t.vec_id, ${dotSql("x.en", "qn")} AS sim
              |FROM cand t JOIN vn x ON x.vec_id = t.vec_id, qd
              |ORDER BY sim DESC, t.vec_id LIMIT 5""".stripMargin)),

    // ── Persisted IVF index, end-to-end: build → load → probe search ──
    QueryDef(
      "q131_ivf_ann_from_store",
      (s, dir) => {
        // q34's production form, oracle-graded end-to-end: the two-level
        // IVF layout persisted (`IndexStore.saveIvfIndex` — coarse array,
        // fine cells, vectors partitioned by coarse cell, cid-sorted
        // within), the single-probe search answered by `searchIvf` from
        // the store: partition-pruned ccid read, cid row-group select,
        // exact cosine top-k. Same oracle SQL as q34 — the independent
        // engine re-derives the whole assignment from raw vectors, so a
        // hash match proves the partitioned store round-trip (including
        // the parquet PARTITION-column type round-trip, the r8 sharp
        // edge) loses nothing.
        val scratch = graft.Scratch.dir("q131-store")
        IndexStore.saveIvfIndex(withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en")), scratch)
        IndexStore.searchIvf(s, scratch, queryVecId = 0L, k = 5)
      },
      Some(s"""WITH $normCte,
              |$ivfCtes,
              |q AS (SELECT cid AS qcid, en AS qn FROM assigned WHERE vec_id = 0)
              |SELECT a.vec_id, ${dotSql("a.en", "q.qn")} AS sim
              |FROM assigned a, q WHERE a.cid = q.qcid AND a.vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)),

    // ── Persisted IVFPQ (IVFADC) index, end-to-end: build → probe → ADC ──
    QueryDef(
      "q132_ivfpq_ann_from_store",
      (s, dir) => {
        // The production ANN layout (coarse routing over position codes),
        // oracle-graded end-to-end: `IndexStore.saveIvfPqIndex` persists
        // the coarse array + codebook + ccid-partitioned codes; the search
        // probes coarse cells, decodes only their codes, ADC-scores, and
        // exact-re-ranks. Probed with every cell (probeCoarse ≥ cell
        // count), the result is bit-identical to the flat PQ scan — so
        // q88's oracle grades the full store round-trip through the
        // independent engine; the recall-vs-read trade at small
        // probeCoarse is IndexStoreSpec's business.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val scratch = graft.Scratch.dir("q132-store")
        IndexStore.saveIvfPqIndex(emb, scratch)
        IndexStore.searchIvfPq(emb, scratch, queryVecId = 0L, k = 5,
          probeCoarse = 1000000)
      },
      Some(s"""WITH $normCte,
              |$pqCodedCtes,
              |qd AS (SELECT en AS qn FROM vn WHERE vec_id = 0),
              |cand AS (
              |  SELECT vec_id, ${dotSql("rx", "qn")} AS asim
              |  FROM coded, qd WHERE vec_id <> 0
              |  ORDER BY asim DESC, vec_id LIMIT $PqRerank)
              |SELECT t.vec_id, ${dotSql("x.en", "qn")} AS sim
              |FROM cand t JOIN vn x ON x.vec_id = t.vec_id, qd
              |ORDER BY sim DESC, t.vec_id LIMIT 5""".stripMargin)),

    // ── Contrastive hard-negative mining (embedding-training curation) ──
    QueryDef(
      "q140_hard_negatives",
      (s, dir) => {
        // Curation for contrastive/embedding training: for every anchor,
        // the closest DIFFERENT-label vector (the hard negative — the
        // example a triplet/InfoNCE batch needs) next to its closest
        // SAME-label vector; margin = same_sim − neg_sim, and is_hard
        // flags anchors whose nearest neighbor in the blocked
        // neighborhood is already a negative (margin < 0) — label-noise
        // and boundary cases, the rows a mining pass ships. Anchors with
        // no same-label candidate report the sentinels same_b = −1 /
        // same_sim = −2.0 (below any cosine — itself a mining signal);
        // anchors with no negative candidate are out of scope by
        // definition.
        //
        // 100 TB shape: q59's machinery verbatim — SRP-LSH bucket
        // blocking, O(N) candidates, each a<b pair scored ONCE behind the
        // localCheckpoint barrier (the symmetric mirror would otherwise
        // re-run the whole candidates+verify subtree), then a vec_id-keyed
        // window (never concentrates) and a per-anchor pivot. Labels join
        // back by key; nothing all-pairs anywhere.
        val raw = Tables.embeddings(s, dir)
        val emb = withNormalized(raw).select(col("vec_id"), col("en"))
        val lbl = raw.select(col("vec_id"), col("label").cast("long").as("lab"))
        val scored = srpCandidates(emb, srpParams(raw))
          .join(emb.select(col("vec_id").as("a"), col("en").as("na")), Seq("a"))
          .join(emb.select(col("vec_id").as("b"), col("en").as("nb")), Seq("b"))
          .withColumn("sim", dot(col("na"), col("nb")))
          .select("a", "b", "sim")
          .localCheckpoint(true)
        val sym = scored.unionByName(scored.select(
          col("b").as("a"), col("a").as("b"), col("sim")))
        val withLbl = sym
          .join(lbl.select(col("vec_id").as("a"), col("lab").as("la")), Seq("a"))
          .join(lbl.select(col("vec_id").as("b"), col("lab").as("lb")), Seq("b"))
          .withColumn("same", (col("la") === col("lb")).cast("int"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("a", "same").orderBy(col("sim").desc, col("b"))
        withLbl
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
          .groupBy(col("a"), col("la").as("label"))
          .agg(
            max(when(col("same") === 0, col("b"))).as("neg_b"),
            max(when(col("same") === 0, col("sim"))).as("neg_sim"),
            max(when(col("same") === 1, col("b"))).as("same_b0"),
            max(when(col("same") === 1, col("sim"))).as("same_sim0"))
          .filter(col("neg_b").isNotNull)
          .select(col("a"), col("label"), col("neg_b"), col("neg_sim"),
            coalesce(col("same_b0"), lit(-1L)).as("same_b"),
            coalesce(col("same_sim0"), expr("-2.0e0")).as("same_sim"))
          .withColumn("margin", col("same_sim") - col("neg_sim"))
          .withColumn("is_hard",
            when(col("margin") < 0, 1L).otherwise(0L))
          .orderBy("a")
      },
      Some(s"""WITH $normCte,
              |$srpCandCtes,
              |sym AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
              |scored AS (
              |  SELECT s.a, s.b, ${dotSql("x.en", "y.en")} AS sim,
              |         CAST(x.label AS BIGINT) AS la, CAST(y.label AS BIGINT) AS lb
              |  FROM sym s JOIN vn x ON x.vec_id = s.a JOIN vn y ON y.vec_id = s.b),
              |best AS (
              |  SELECT a, la, b, sim, same FROM (
              |    SELECT a, la, b, sim,
              |           CASE WHEN la = lb THEN 1 ELSE 0 END AS same,
              |           row_number() OVER (PARTITION BY a, CASE WHEN la = lb THEN 1 ELSE 0 END
              |                              ORDER BY sim DESC, b) AS rnk
              |    FROM scored)
              |  WHERE rnk = 1),
              |piv AS (
              |  SELECT a, la AS label,
              |         max(CASE WHEN same = 0 THEN b END) AS neg_b,
              |         max(CASE WHEN same = 0 THEN sim END) AS neg_sim,
              |         max(CASE WHEN same = 1 THEN b END) AS same_b0,
              |         max(CASE WHEN same = 1 THEN sim END) AS same_sim0
              |  FROM best GROUP BY a, la)
              |SELECT a, label, neg_b, neg_sim,
              |       coalesce(same_b0, -1) AS same_b,
              |       coalesce(same_sim0, -2.0e0) AS same_sim,
              |       coalesce(same_sim0, -2.0e0) - neg_sim AS margin,
              |       CAST(CASE WHEN coalesce(same_sim0, -2.0e0) - neg_sim < 0
              |            THEN 1 ELSE 0 END AS BIGINT) AS is_hard
              |FROM piv WHERE neg_b IS NOT NULL
              |ORDER BY a""".stripMargin)),

    // ── Hybrid retrieval: reciprocal-rank fusion of sparse + dense ──
    QueryDef(
      "q161_rrf_fusion",
      (s, dir) => {
        // Production retrieval is hybrid: a lexical ranker (q110's BM25
        // shape) catches exact-term matches, a dense ranker (cosine over
        // embeddings) catches paraphrase — and reciprocal-rank fusion is
        // the standard zero-tuning combiner: each list contributes
        // 1/(RrfK + rank) for docs it ranked, docs in both lists add both
        // terms. RANKS, not scores, so the two incomparable score scales
        // never need calibration — which is also what makes the operator
        // hash-portable: the fused score is a fixed two-term expression
        // of small integers, identical IEEE in both engines.
        //
        // 100 TB shape: both inputs are the already-bounded top-RetrK
        // lists (graft_topk state, never a corpus rank window) — the
        // fusion itself joins two ≤ Q·RetrK frames and ranks within
        // ≤ 2·RetrK candidates per query. The corpus is touched exactly
        // twice: once by the sparse postings pipeline, once by the dense
        // scan; everything downstream is catalog-sized.
        rrfFused(TextOps.sparseRanked(s, dir), denseRanked(s, dir))
          .orderBy("qid", "frk")
      },
      Some(rrfOracle)),

    // ── Hybrid fusion served from the persisted ANN store ──
    QueryDef(
      "q173_fusion_from_store",
      (s, dir) => {
        // q161's production form (VERDICT r13 #4): the dense leg reads
        // the persisted IVFPQ store — coarse routing + codebook + probed
        // code partitions — instead of flat-scanning the vector table.
        // Graded at the PRODUCTION re-rank depth against a DuckDB twin of
        // the ADC path itself (the q132 discipline: the oracle re-derives
        // codebook, codes, fixed-point approx scores, the top-PqRerank
        // cut, and the exact re-rank from raw vectors — so a hash match
        // on the fused list proves the store round trip AND the bounded
        // candidate selection, not just a lucky top-k). The exact
        // equivalence the depth converges to — probe-all + rerank ≥
        // corpus ⇒ fused list ≡ q161 bit-for-bit — is VectorsPqSpec's
        // pin, as is the recall-vs-read trade at small probeCoarse.
        val emb = withNormalized(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("en"))
        val scratch = graft.Scratch.dir("q173-store")
        IndexStore.saveIvfPqIndex(emb, scratch)
        rrfFused(TextOps.sparseRanked(s, dir),
            IndexStore.denseRankedFrom(emb, scratch, probeCoarse = 1000000))
          .orderBy("qid", "frk")
      },
      Some(rrfStoreOracle)),

    // ── Matryoshka truncation audit: prefix-dim top-k fidelity ──
    QueryDef(
      "q162_matryoshka_fidelity",
      (s, dir) => {
        import s.implicits._
        // Can the first p dimensions stand in for the full embedding in
        // retrieval? For each query, rank the corpus by cosine over the
        // RE-NORMALIZED p-prefix (the matryoshka deployment: store/scan
        // only the prefix, cutting ANN memory dim/p-fold) and report
        // |top-MatK(prefix) ∩ top-MatK(full)| per (prefix, query) — the
        // overlap table that decides which truncation a cheaper index
        // tier gets. On embeddings NOT trained matryoshka-style the
        // overlap is expected to be poor at small p — that is the
        // finding the audit exists to surface before anyone ships a
        // truncated index.
        //
        // 100 TB shape: norms (full + both prefixes) are codegen'd
        // primitive loops computed ONCE per corpus row below the join;
        // the broadcast query row fan-out then costs only the dots. All
        // three variant rankings ride one scan (3-struct explode into the
        // (p, qid)-keyed bounded graft_topk — never a corpus rank
        // window); the overlap join runs on ≤ 3·Q·MatK rows. The tiny
        // top frame fans out into the full/prefix split, so it is
        // localCheckpoint-barrier'd (the q59 pattern; JobCountSpec lists
        // q162 eager-by-design).
        val emb = Tables.embeddings(s, dir).select(col("vec_id"),
          call_function("graft_l2norm", col("e")).as("enf"),
          call_function("graft_l2norm", expr(s"slice(e, 1, ${MatPrefixes(0)})")).as("en8"),
          call_function("graft_l2norm", expr(s"slice(e, 1, ${MatPrefixes(1)})")).as("en16"))
        val q = emb.filter(col("vec_id") < TextOps.RetrQ).select(
          col("vec_id").as("qid"), col("enf").as("qnf"),
          col("en8").as("qn8"), col("en16").as("qn16"))
        val top = emb.filter(col("vec_id") >= TextOps.RetrQ)
          .crossJoin(broadcast(q))
          .select(col("qid"), col("vec_id"), expr(
            s"""explode(array(
               |  named_struct('p', 0, 'sc', cast(floor(1.0e9 * graft_dot(enf, qnf)) AS bigint)),
               |  named_struct('p', ${MatPrefixes(0)}, 'sc', cast(floor(1.0e9 * graft_dot(en8, qn8)) AS bigint)),
               |  named_struct('p', ${MatPrefixes(1)}, 'sc', cast(floor(1.0e9 * graft_dot(en16, qn16)) AS bigint))))"""
              .stripMargin).as("v"))
          .select(col("qid"), col("vec_id"), col("v.p").as("p"), col("v.sc").as("sc"))
          // Bounded (sc DESC, vec_id ASC) selection per (p, qid), no
          // object boundary (see sparseRanked).
          .groupBy("p", "qid")
          .agg(expr(s"graft_topk(sc, vec_id, $MatK)").as("top"))
          .select(col("p"), col("qid"),
            explode(expr("transform(top, t -> t.doc_id)")).as("doc_id"))
          .localCheckpoint(true)
        val full = top.filter(col("p") === 0).select(col("qid"), col("doc_id"))
        val pre = top.filter(col("p") =!= 0)
        val ov = pre.join(full, Seq("qid", "doc_id"))
          .groupBy("p", "qid").agg(count(lit(1)).as("overlap"))
        pre.select("p", "qid").distinct()
          .join(ov, Seq("p", "qid"), "left")
          .select(col("p").cast("long").as("prefix_dim"), col("qid"),
            coalesce(col("overlap"), lit(0L)).as("overlap"))
          .orderBy("prefix_dim", "qid")
      },
      Some {
        val variants = Seq(
          ("rf", "e"),
          ("r8", s"e[1:${MatPrefixes(0)}]"),
          ("r16", s"e[1:${MatPrefixes(1)}]"))
        val rankCtes = variants.map { case (nm, sl) =>
          s"""n$nm AS (
             |  SELECT vec_id, [x / nrm for x in ep] AS en
             |  FROM (SELECT vec_id, $sl AS ep, sqrt(${dotSql(s"($sl)", s"($sl)")}) AS nrm FROM ve)),
             |$nm AS (
             |  SELECT qid, doc_id FROM (
             |    SELECT q.vec_id AS qid, c.vec_id AS doc_id,
             |           row_number() OVER (PARTITION BY q.vec_id
             |             ORDER BY CAST(floor(1.0e9 * ${dotSql("c.en", "q.en")}) AS BIGINT) DESC, c.vec_id) AS rk
             |    FROM n$nm c, n$nm q WHERE q.vec_id < ${TextOps.RetrQ} AND c.vec_id >= ${TextOps.RetrQ})
             |  WHERE rk <= $MatK)""".stripMargin
        }.mkString(",\n")
        val ovCtes = Seq(("o8", "r8", MatPrefixes(0)), ("o16", "r16", MatPrefixes(1))).map {
          case (onm, rnm, _) =>
            s"""$onm AS (
               |  SELECT $rnm.qid, CAST(count(rf.doc_id) AS BIGINT) AS overlap
               |  FROM $rnm LEFT JOIN rf ON rf.qid = $rnm.qid AND rf.doc_id = $rnm.doc_id
               |  GROUP BY $rnm.qid)""".stripMargin
        }.mkString(",\n")
        s"""WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |$rankCtes,
           |$ovCtes
           |SELECT CAST(${MatPrefixes(0)} AS BIGINT) AS prefix_dim, qid, overlap FROM o8
           |UNION ALL
           |SELECT CAST(${MatPrefixes(1)} AS BIGINT) AS prefix_dim, qid, overlap FROM o16
           |ORDER BY prefix_dim, qid""".stripMargin
      })
  )

  /** Dense top-RetrK cosine retrieval per query (qid, rk, doc_id, score):
    * query rows broadcast over ONE normalized corpus scan, per-document
    * scores fixed-point floored to bigints (floor(1e9·cos) — the q110
    * discipline, so ranking and hash compare are integer-exact), top-k via
    * the bounded graft_topk aggregate, never a corpus-wide rank window. The
    * dense half of the q161 fusion. */
  def denseRanked(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val emb = withNormalized(Tables.embeddings(s, dir)).select(col("vec_id"), col("en"))
    val q = emb.filter(col("vec_id") < TextOps.RetrQ)
      .select(col("vec_id").as("qid"), col("en").as("qn"))
    // Bounded (score DESC, vec_id ASC) top-k via graft_topk, no object
    // boundary around the aggregation (see TextOps.sparseRanked).
    emb.filter(col("vec_id") >= TextOps.RetrQ)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        expr("cast(floor(1.0e9 * graft_dot(en, qn)) AS bigint)").as("sc"))
      .groupBy("qid")
      .agg(expr(s"graft_topk(sc, vec_id, ${TextOps.RetrK})").as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rk"),
        col("col.doc_id").as("doc_id"), col("col.score").as("score"))
  }

  /** q88's PQ codebook as a broadcast 1-row frame `cb`: for each of the
    * PqM subspaces, the ~PqK stride-seeded sub-vectors (cid = the seed's
    * vec_id), sorted by (s, cid). PqK·dim doubles total — dim-bounded at
    * any corpus size.
    *
    * `refine` > 0 runs that many Lloyd rounds per subspace (mean of the
    * assigned sub-vectors per codeword, then reassign — the IVF `refine`
    * discipline applied to PQ, where codebook quality IS the recall
    * lever). Each round is one dim-exploded linear shuffle over the
    * corpus + a localCheckpoint barrier; codewords keep their seed cid
    * (stable sort identity), and a codeword left empty by reassignment
    * drops out — standard Lloyd. refine = 0 (the catalog default) leaves
    * q88's oracle-pinned plan untouched; Lloyd's objective guarantees
    * reconstruction MSE is non-increasing per round (VectorsPqSpec pins
    * it on clustered data). */
  def pqCodebook(emb: DataFrame, refine: Int = 0): DataFrame = {
    val par = emb.agg(count(lit(1)).as("n"))
      .withColumn("step", expr(s"greatest(CAST(1 AS BIGINT), n div $PqK)"))
      .select("step")
    val cb0 = emb.crossJoin(broadcast(par))
      .filter(col("vec_id") % col("step") === 0)
      .select(explode(expr(
        s"""transform(sequence(0, ${PqM - 1}), s ->
           |  struct(s AS s, vec_id AS cid,
           |         slice(en, s * (size(en) div $PqM) + 1, size(en) div $PqM) AS cn))""".stripMargin)).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cb"))
    (1 to refine).foldLeft(cb0) { (cb, _) =>
      // Sub-vectors keyed by their assigned (s, pos) codeword.
      val sub = emb.join(pqAssign(emb, cb), Seq("vec_id"))
        .select(explode(expr(
          s"""transform(sequence(0, ${PqM - 1}), s ->
             |  struct(s AS s, codes[s] AS pos,
             |         slice(en, s * (size(en) div $PqM) + 1, size(en) div $PqM) AS sv))""".stripMargin)).as("e"))
        .select(col("e.s").as("s"), col("e.pos").as("pos"), col("e.sv").as("sv"))
      // Per-(s, pos, dim) mean — one linear shuffle with partial agg.
      val means = sub
        .select(col("s"), col("pos"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy("s", "pos", "i").agg(sum("x").as("sx"), count(lit(1)).as("c"))
        .groupBy("s", "pos")
        .agg(array_sort(collect_list(struct(col("i"),
          (col("sx") / col("c")).as("m")))).as("ms"))
        .select(col("s"), col("pos"), expr("transform(ms, t -> t.m)").as("cn"))
      // Positions index the PREVIOUS round's (s, cid)-sorted order — carry
      // each codeword's seed cid forward as its stable identity.
      val posCid = cb.select(explode(expr(
          s"""flatten(transform(sequence(0, ${PqM - 1}), s ->
             |  transform(filter(cb, c -> c.s = s),
             |    (c, i) -> struct(s AS s, i AS pos, c.cid AS cid))))""".stripMargin)).as("p"))
        .select(col("p.s").as("s"), col("p.pos").as("pos"), col("p.cid").as("cid"))
      means.join(posCid, Seq("s", "pos"))
        .select(struct(col("s"), col("cid"), col("cn")).as("c"))
        .agg(array_sort(collect_list(col("c"))).as("cb"))
        .localCheckpoint(true)
    }
  }

  /** PQ codes (vec_id, codes): codes[s] = the POSITION (within subspace
    * s's cid-sorted codeword list) of the L2-argmin codeword (||c||² −
    * 2·x·c form — every double a codegen'd graft_dot; ties to the lowest
    * cid, whose position they are). PqM small ints per vector — the ENTIRE
    * stored footprint of the coded corpus. Positions, not cids: the decode
    * side turns into O(1) element_at lookups instead of a per-vector
    * codebook filter.
    *
    * r18 (VERDICT r17 #3, the r14 pqDecode fix applied to assign): the
    * per-row expression used to re-run `filter(cb, c -> c.s = s)` — a scan
    * of the FULL flat codebook (PqM·PqK struct reads) per subspace per
    * vector, PqM·PqM·PqK total. The codebook is now pre-nested ONCE on the
    * broadcast side (`cbs[s]` = subspace s's cid-sorted codeword list, the
    * exact list the filter produced — filter preserves the (s, cid) sort),
    * so each subspace costs one O(1) element_at plus its own PqK argmin
    * fold. The argmin struct and the `graft_dot` distance expression are
    * byte-for-byte unchanged (oracle-pinned double fold). */
  def pqAssign(emb: DataFrame, cb: DataFrame): DataFrame = {
    val nested = cb.select(expr(
      s"""transform(sequence(0, ${PqM - 1}), s ->
         |  filter(cb, c -> c.s = s))""".stripMargin).as("cbs"))
    emb.crossJoin(broadcast(nested))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${PqM - 1}), s ->
           |  array_min(transform(
           |    cbs[s],
           |    (c, i) -> struct(
           |      graft_dot(c.cn, c.cn)
           |        - 2.0e0 * graft_dot(slice(en, s * (size(en) div $PqM) + 1, size(en) div $PqM), c.cn) AS d,
           |      c.cid AS cid, i AS i))).i)""".stripMargin).as("codes"))
  }

  /** The codebook re-shaped for decode: a 1-row frame `cbn` of per-subspace
    * cn lists (cid-sorted — the positions `pqAssign` emits index into
    * exactly this order). Derived ONCE per plan from the flat `cb`. */
  private[operators] def pqNested(cb: DataFrame): DataFrame =
    cb.select(expr(
      s"""transform(sequence(0, ${PqM - 1}), s ->
         |  transform(filter(cb, c -> c.s = s), c -> c.cn))""".stripMargin).as("cbn"))

  /** ADC decode: (vec_id, rx) with rx = the concatenation of each coded
    * sub-centroid — the reconstruction the approx scan dots against the
    * exact query. Per vector: PqM element_at lookups into the broadcast
    * nested codebook + one flatten; never touches raw vectors. */
  def pqDecode(codes: DataFrame, cb: DataFrame): DataFrame =
    codes.crossJoin(broadcast(pqNested(cb)))
      .select(col("vec_id"), expr(
        s"""flatten(transform(sequence(0, ${PqM - 1}), s ->
           |  cbn[s][codes[s]]))""".stripMargin).as("rx"))

  /** Two-level IVF assignment over a normalized corpus `(vec_id, en)`:
    * returns (assigned = (vec_id, en, cid), fineCells).
    *
    * k = ⌈√N⌉ fine cells as usual, but — unlike a single-level IVF — no
    * single row ever holds them all (at 10¹¹ vectors × 768 dims that row is
    * ~2 GB, over Spark's array limits and resident on every executor).
    * Instead:
    *   - the ONLY broadcast-as-one-row array is the k1 = ⌈√k⌉ ≈ N^(1/4)
    *     COARSE centroids (≈ 560 entries at 10¹¹ vectors — a few MB);
    *   - the fine level is a KEYED FRAME of k1 rows, one per coarse cell,
    *     each holding its ≈ k/k1 ≈ N^(1/4) fine centroids — broadcast hash
    *     joined to the corpus on the coarse cell id, so every per-row array
    *     is N^(1/4)-bounded and the corpus still sees no Exchange.
    * Assignment stays a narrow two-hop argmax: coarse cell via the broadcast
    * array, fine cell via the joined cell's centroid list. Seeds are
    * deterministic strides (k-means|| would refine them; the seeding is the
    * parameter, the plan is the structure).
    *
    * Memory envelope: the fine-cell frame totals ~√N·dim doubles across its
    * k1 rows (≈2.4 GB at 10¹¹ × 768) — within broadcast limits with no
    * single row anywhere near the array cap. The next rung, if centroids
    * outgrow broadcast entirely (10¹²+), is the same plan with the
    * fine-cell join left to AQE (one linear corpus shuffle on ccid replaces
    * the broadcast); the code path is identical minus the hint. */
  def ivfAssigned(emb: DataFrame): (DataFrame, DataFrame) = {
    val (assigned, fineCells, _) = ivfIndex(emb)
    (assigned, fineCells)
  }

  /** Argmax over a centroid list via array_max of struct(csim, -id): ties
    * pick the smallest id. */
  private def argmaxNeg(v: Column, cells: Column, id: String): Column =
    -array_max(transform(cells,
      c => struct(dot(v, c("cn")).as("csim"), (-c(id)).as("neg"))))("neg")

  /** Public seam for IndexStore.appendIvfBatch: assign vectors against an
    * ALREADY-BUILT (loaded) centroid structure. */
  def assignWithIndex(emb: DataFrame, coarseArr: DataFrame,
      fineCells: DataFrame): DataFrame = {
    assignCells(emb, coarseArr, fineCells)
  }

  /** The narrow two-hop assignment: coarse cell via the broadcast array,
    * fine cell via the joined cell's centroid list — no Exchange on the
    * corpus side. */
  private def assignCells(emb: DataFrame, coarseArr: DataFrame,
      fineCells: DataFrame): DataFrame =
    emb.crossJoin(broadcast(coarseArr))
      .select(col("vec_id"), col("en"),
        argmaxNeg(col("en"), col("cc"), "ccid").as("ccid"))
      .join(broadcast(fineCells), Seq("ccid"))
      .select(col("vec_id"), col("en"), col("ccid"),
        argmaxNeg(col("en"), col("fc"), "cid").as("cid"))

  /** `ivfAssigned` plus the broadcast coarse-centroid array (1-row frame
    * `cc`) — q77's multi-probe needs to rank the coarse cells the same way
    * assignment does.
    *
    * `refine` > 0 runs that many Lloyd rounds over the FINE centroids
    * (per-cell normalized mean of the assigned vectors, then reassign —
    * spherical k-means, barrier'd per round like connectedComponents): the
    * deterministic stride seeding is a structural placeholder, and on
    * clustered real-world embeddings one or two rounds move the centroids
    * onto the actual cluster structure (VectorsRefineSpec pins recall@5
    * non-decreasing). Each round is one dim-exploded shuffle (the
    * per-(cid, dim) mean) over the corpus — the same linear cost as one
    * assignment pass — plus a localCheckpoint barrier so the loop's plan
    * doesn't nest. refine = 0 (the catalog default) is exactly the
    * zero-job plan construction the JobCountSpec pin covers; centroid ids
    * keep their seed vec_ids across rounds, and a cell left empty by
    * reassignment drops out (k shrinks — standard Lloyd behavior). The
    * COARSE routing level stays fixed: it only partitions the fine
    * centroids, and keeping it frozen preserves the broadcast structure
    * (refined fine centroids are re-routed to their nearest coarse cell
    * each round). */
  def ivfIndex(emb: DataFrame, refine: Int = 0): (DataFrame, DataFrame, DataFrame) = {
    // (n → k, step, k1, step1) folded into the plan as a broadcast 1-row
    // aggregate — exactly the oracle's `par` CTE shape — instead of a
    // driver-side emb.count() job (VERDICT r3 #4). count(1) prunes every
    // column, so the params subplan is a metadata-speed scan.
    val par = emb.agg(count(lit(1)).as("n"))
      .withColumn("k", expr("greatest(CAST(2 AS BIGINT), cast(ceil(sqrt(n)) as bigint))"))
      .withColumn("step", expr("greatest(CAST(1 AS BIGINT), n div k)"))
      .withColumn("k1", expr("greatest(CAST(2 AS BIGINT), cast(ceil(sqrt(k)) as bigint))"))
      .withColumn("step1", expr("greatest(CAST(1 AS BIGINT), k div k1)"))
      .select("step", "step1")
    val cents = emb.crossJoin(broadcast(par))
      .filter(col("vec_id") % col("step") === 0)
      .select(col("vec_id").as("cid"), col("en").as("cn"), col("step"), col("step1"))
    val coarseArr = cents.filter(expr("(cid div step) % step1 = 0"))
      .agg(array_sort(collect_list(struct(col("cid").as("ccid"), col("cn")))).as("cc"))
    val fineCells0 = cents.crossJoin(broadcast(coarseArr))
      .select(argmaxNeg(col("cn"), col("cc"), "ccid").as("ccid"), col("cid"), col("cn"))
      .groupBy("ccid")
      .agg(array_sort(collect_list(struct(col("cid"), col("cn")))).as("fc"))
    val fineCells = (1 to refine).foldLeft(fineCells0) { (fc, _) =>
      // Lloyd round: normalized per-cell mean (dim-exploded — one linear
      // shuffle keyed by (cid, dim), partial aggregation applies), then
      // re-route the moved centroids to their nearest coarse cell.
      val means = assignCells(emb, coarseArr, fc)
        .select(col("cid"), posexplode(col("en")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(sum("x").as("sx"), count(lit(1)).as("c"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("i"), (col("sx") / col("c")).as("m")))).as("ms"))
        .select(col("cid"),
          call_function("graft_l2norm", expr("transform(ms, s -> s.m)")).as("cn"))
      means.crossJoin(broadcast(coarseArr))
        .select(argmaxNeg(col("cn"), col("cc"), "ccid").as("ccid"), col("cid"), col("cn"))
        .groupBy("ccid")
        .agg(array_sort(collect_list(struct(col("cid"), col("cn")))).as("fc"))
        .localCheckpoint(true)
    }
    // ccid stays on the assigned frame: queries ignore it, but the index
    // store (IndexStore.saveIvfIndex) partitions the persisted corpus by
    // it so probes prune to one coarse cell.
    val assigned = assignCells(emb, coarseArr, fineCells)
    (assigned, fineCells, coarseArr)
  }
}
