package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** A multimodal record: opaque media payload + typed metadata, the column
  * layout a 100 TB image/audio corpus would use (payload as parquet binary,
  * metadata queryable without touching bytes). */
final case class MediaRecord(
    doc_id: Long, payload: Array[Byte], mime: String, n_bytes: Long)

/** Stub "decoded" features: fixed-width vector + dims. */
final case class MediaFeatures(
    doc_id: Long, n_bytes: Long, width: Int, height: Int, features: Array[Float])

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, and a batched decode/feature-extract pass.
  *
  * The real decode (JPEG/audio codecs) is STUBBED — the image/audio libs are
  * not in this container — with a deterministic fake derived from the bytes.
  * The Spark-side plumbing is real: binary column schema, partition-local
  * batched iteration (`mapPartitions` + `grouped`, the JVM analog of a
  * batch-at-a-time pandas UDF), and a typed Dataset output schema. Swapping
  * `decodeStub` for a real codec changes no plan shape.
  */
object Multimodal {

  val BatchSize = 64

  /** q136 perceptual-hash parameters: 16 pixel bins, 4 bands of 4 hex
    * chars, Hamming verify threshold (measured bimodal at sf0.01: true
    * near-dups land at 0–1, band collisions at 9–12). */
  val PhashBins = 16
  val PhashBands = 4
  val PhashBandW = 4
  val PhashHamTau = 3

  /** Band-bucket fan-in cap for the self-pair search (r10 VERDICT #1):
    * buckets at or under the cap pair directly; hotter buckets are
    * re-blocked on complement sub-bands (`subBandRows`) before pairing —
    * an EXACT refinement (pigeonhole, see subBandRows), so the cap is a
    * cost lever, never a recall knob. 64 is ~3× the base-corpus max
    * fan-in: normal buckets never pay the 4× sub-band explode, while the
    * measured hot mass (the '----' empty-band buckets, whose members
    * share nothing but signal starvation — fan-in 235 → 2,148 → linear
    * in corpus at 10×/100× growth, hence quadratic candidates) always
    * does. */
  val PhashFanInCap = 64
  val PhashSubBands = 4
  val PhashSubBandW: Int = (PhashBins - PhashBandW) / PhashSubBands // 12/4 = 3

  /** q136's perceptual signature: one-permutation binned min-hash over
    * content-defined patches (stub: word 3-grams — a production media
    * build swaps in rolling-hash CDC over decoded bytes). Bin k of 16
    * takes min(h) over the doc's patch hashes with h % 16 = k; the bin's
    * next nibble becomes one hex pixel, '-' marks an empty bin. Returns
    * (doc_id, pixels).
    *
    * The signature is a pure per-row reduction, computed by the codegen'd
    * `graft_phashsig` expression (functions/PhashSig) — a NARROW SCAN
    * with zero exchanges (PlanSpec pin). The first formulation (shingle
    * explode → 16-conditional-min groupBy(doc_id)) paid a corpus-wide
    * doc_id hash shuffle for what is row-local arithmetic; the oracle's
    * nibble fold pins the expression's bit-parity through DuckDB at all
    * three SFs, and the streaming twin shares the same compute core. */
  def phashGrid(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        call_function("graft_phashsig", split(trim(col("text")), " ")).as("pixels"))
      .filter(col("pixels").isNotNull)
  }

  /** Band rows of a signature grid: (doc_id, pixels, bi, key). */
  def phashBandRows(grid: DataFrame): DataFrame =
    grid.select(col("doc_id"), col("pixels"), explode(array(
      (0 until PhashBands).map(k => struct(lit(k).as("bi"),
        expr(s"substring(pixels, ${k * PhashBandW + 1}, $PhashBandW)").as("key"))): _*)).as("e"))
      .select(col("doc_id"), col("pixels"), col("e.bi").as("bi"), col("e.key").as("key"))

  /** Pixel-wise Hamming distance between two 16-char signatures. */
  def phashHamming(pa: String, pb: String): org.apache.spark.sql.Column =
    expr(
      s"""cast(aggregate(sequence(1, $PhashBins), 0, (acc, i) ->
         |  acc + if(substring($pa, i, 1) = substring($pb, i, 1), 0, 1)) AS bigint)""".stripMargin)

  /** Complement sub-band rows of a band-row frame: each (doc_id, pixels,
    * bi, key) row explodes into `PhashSubBands` rows carrying (sj, skey),
    * where skey is the j-th 3-pixel group of the 12 pixels OUTSIDE band
    * bi, in pixel order.
    *
    * This is the EXACT second blocking level (the r10 verdict's phash
    * bucket-cap ask, solved without a recall knob): a pair at Hamming ≤
    * PhashHamTau (= 3) that agrees on band bi has ≤ 3 mismatching pixels
    * total, hence ≤ 3 among the 12 complement pixels — so by pigeonhole
    * it agrees EXACTLY on ≥ 1 of the 4 complement groups. Re-blocking a
    * hot bucket's members on (sj, skey) therefore loses no pair at the
    * verify threshold; it only stops the bucket's quadratic all-pairs.
    * (The r10 alternative — SemCap-style min-id representatives — was
    * rejected by measurement: the hot buckets are the '----' EMPTY-BAND
    * buckets, 230 distinct signatures among 235 members at 10× growth,
    * so id-capped pairing would silently drop genuine matches whose ids
    * rank past the cap. Sub-band refinement caps the same cost exactly.)
    * Extra columns on `b` (pfx, bsz) ride through untouched. */
  private[graft] def subBandRows(b: DataFrame): DataFrame =
    b.withColumn("comp", expr(
        s"concat(substring(pixels, 1, bi * $PhashBandW), " +
          s"substring(pixels, bi * $PhashBandW + ${PhashBandW + 1}, $PhashBins))"))
      .withColumn("e", explode(array((0 until PhashSubBands).map(j =>
        struct(lit(j).as("sj"),
          expr(s"substring(comp, ${j * PhashSubBandW + 1}, $PhashSubBandW)")
            .as("skey"))): _*)))
      .withColumn("sj", col("e.sj")).withColumn("skey", col("e.skey"))
      .drop("e", "comp")

  /** Exact band-blocked candidate pairs (a, pa, b, pb) of one band-row
    * frame, with RECURSIVE refinement of hot buckets. Per level: bucket
    * sizes are computed on the small keyed frame and joined back (the q58
    * discipline — never a corpus window); buckets at or under `cap`
    * self-join whole; hotter buckets re-block on 4 near-equal groups of
    * their REMAINING (so-far-unkeyed) pixels and recurse — the level-1
    * pigeonhole argument (≤ 3 total mismatches, ≥ 4 nonempty groups ⇒ one
    * group agrees exactly) holds verbatim at EVERY level, so refinement
    * depth is a cost lever, never a recall knob. Once ≤ 3 pixels remain
    * unkeyed, the bucket's members already agree on ≥ 13 pixels, so every
    * member pair is a true Hamming ≤ 3 pair — pairing there is
    * OUTPUT-BOUND by construction. Depth is ≤ 7 (12 → 9 → 7 → 6 → 5 → 4 →
    * 3 remaining pixels in the worst path); each level materializes its
    * still-hot residue behind a localCheckpoint and exits as soon as the
    * residue is empty (1–2 levels on the measured corpora — callers are
    * eager-by-design queries, so the per-level driver check is the
    * already-accepted pattern).
    *
    * Why recursion, measured: one-level refinement cut the 100× growth
    * corpus's 21.0M raw candidates to 7.0M — still superlinear, because
    * at 500k docs the sub-buckets themselves go hot (max sub fan-in 154)
    * and bucket heat keeps growing linearly with the corpus. Recursion
    * re-applies the same exact split wherever heat survives, so candidate
    * volume converges to Σ_cold m² (cold ≤ cap by definition) plus the
    * true-pair mass. */
  private[graft] def phashCandidates(bx: DataFrame,
      cap: Int = PhashFanInCap): DataFrame = {
    def pairAll(x: DataFrame): DataFrame = {
      val xa = x.select(col("gk"), col("doc_id").as("a"), col("pixels").as("pa"))
      val yb = x.select(col("gk"), col("doc_id").as("b"), col("pixels").as("pb"))
      xa.join(yb, Seq("gk")).filter(col("a") < col("b"))
        .select("a", "pa", "b", "pb")
    }
    // Running state: gk = the accumulated agreement key (band + chosen
    // groups, ':'/'|'-delimited so distinct paths can't collide), comp =
    // the pixels not yet folded into gk.
    var pend = bx
      .withColumn("gk", concat(col("bi").cast("string"), lit(":"), col("key")))
      .withColumn("comp", expr(
        s"concat(substring(pixels, 1, bi * $PhashBandW), " +
          s"substring(pixels, bi * $PhashBandW + ${PhashBandW + 1}, $PhashBins))"))
      .select("doc_id", "pixels", "gk", "comp")
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = 0
    while (level < 8 && pend != null) {
      // The per-bucket size frame is SMALL (one row per occupied key) —
      // checkpoint it so the hot-existence probe and the pair join both
      // read it materialized instead of re-aggregating `pend`. `cl` rides
      // along so the probe can see that ≤3-pixel leaves never count as
      // hot without touching the member rows.
      // mono = every member agrees on ALL remaining pixels (min = max —
      // partial-aggregatable, no distinct): splitting such a bucket can
      // never separate it, and every member pair already agrees on ≥ 13
      // pixels' worth... on the whole signature — pair-all is exact AND
      // output-bound. This is the viral-clone guard: a 10^6-copy cluster
      // goes straight to the leaf instead of riding all levels at 4^l
      // rows per member.
      val sizes = pend.groupBy("gk")
        .agg(count(lit(1)).as("bsz"), max(length(col("comp"))).as("cl"),
          (min(col("comp")) === max(col("comp"))).as("mono"))
        .localCheckpoint(true)
      val sized = pend.join(sizes.select("gk", "bsz", "mono"), Seq("gk"))
      // Leaves: under the cap, OR ≤ 3 unkeyed pixels, OR signature-
      // monomorphic (pair-all is exact and output-bound in all three).
      acc += pairAll(sized.filter(
        col("bsz") <= cap || length(col("comp")) <= 3 || col("mono")))
      pend =
        if (sizes.filter(col("bsz") > cap && col("cl") > 3 && !col("mono")).isEmpty) null
        else sized.filter(col("bsz") > cap && length(col("comp")) > 3 && !col("mono"))
          .withColumn("e", explode(array((0 until PhashSubBands).map { j =>
            val st = s"cast($j * length(comp) div 4 AS int)"
            val en = s"cast((${j + 1}) * length(comp) div 4 AS int)"
            struct(lit(j).as("j"),
              expr(s"substring(comp, $st + 1, $en - $st)").as("sk"),
              expr(s"concat(substring(comp, 1, $st), substring(comp, $en + 1, $PhashBins))")
                .as("rest"))
          }: _*)))
          .select(col("doc_id"), col("pixels"),
            concat(col("gk"), lit("|"), col("e.j"), lit(":"), col("e.sk")).as("gk"),
            col("e.rest").as("comp"))
          .localCheckpoint(true)
      level += 1
    }
    require(pend == null, "phash refinement failed to terminate (bug)")
    acc.reduce(_ unionByName _).distinct()
  }

  /** The search half of q136 over a (doc_id, pixels) grid: band-bucket
    * equi-join (pigeonhole: a ≤3-distant pair agrees on ≥1 of the 4
    * bands) with hot buckets exactly re-blocked on complement sub-bands
    * (`phashCandidates`), Hamming verify on bucket-mates only. The caller
    * supplies a lineage-barriered grid (localCheckpoint or a parquet
    * store scan) — without the barrier the 16-pixel construction inlines
    * into every band key and the join residual. */
  def phashPairs(grid: DataFrame): DataFrame =
    phashCandidates(phashBandRows(grid))
      .select(col("a"), col("b"), phashHamming("pa", "pb").as("hamming"))
      .filter(col("hamming") <= PhashHamTau)

  /** JVM twin of `phashGrid` for the streaming path (state-keyed streams
    * need the signature computed in-row, not via a streaming aggregation):
    * same word split (single-space, space-trim only — Spark's `trim`
    * strips ' ' alone, so String.trim with its ≤U+0020 sweep would
    * diverge), same 3-gram patches, same md5 15-hex fold, same min-per-bin
    * nibble. MultimodalSpec pins bit-parity against phashGrid for every
    * corpus doc. None for docs under ShingleN words (no grid row in the
    * batch derivation either). */
  def phashSignatureJvm(text: String): Option[String] = {
    val n = Dedup.ShingleN
    var s = 0; var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val words = text.substring(s, e).split(" ", -1)
    if (words.length < n) None
    else Some(graft.functions.PhashSig.computeWords(words))
  }

  /** JVM twin of `phashHamming` (16-char pixel strings). */
  def phashHammingJvm(a: String, b: String): Int = {
    var d = 0; var i = 0
    while (i < PhashBins) { if (a.charAt(i) != b.charAt(i)) d += 1; i += 1 }
    d
  }

  /** Media-cluster consolidation (q144 — the q102 twin for the phash
    * family): connected components over the phash near-dup pair graph,
    * then per-cluster provenance (member count, distinct sources, merged
    * source list, total bytes-as-chars) via ONE doc_id-keyed join of the
    * small component map into the corpus — `Dedup.consolidateComponents`,
    * q58's accepted scale shape. This is how a 10^6-copy viral media
    * cluster is handled at 100 TB: the capped pair search finds its edges
    * band-locally, components collapse it to ONE row, and nothing ever
    * enumerates the cluster's quadratic pair closure. */
  def phashConsolidate(docs: DataFrame): DataFrame =
    Dedup.consolidateComponents(
      phashPairs(phashGrid(docs).localCheckpoint(true)).select("a", "b"), docs)

  /** Documents → media records (payload = utf8 bytes standing in for a real
    * media blob). Narrow projection; binary stays columnar in parquet. */
  def toMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Deterministic fake decode — NOT a codec: dims + 8 "feature" floats
    * derived from the MD5 of the payload bytes. MD5 keeps the stub
    * oracle-checkable (DuckDB recomputes the same digest from the same
    * bytes); byte k maps to feature (byte-128)/128, exact in float32
    * (numerator ≤ 8 bits, power-of-2 denominator). Replace with a real
    * codec in production — the surrounding plumbing doesn't change. */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(r.payload)
    def u(i: Int) = h(i) & 0xff
    val feats = Array.tabulate(8)(k => (u(k) - 128) / 128f)
    MediaFeatures(r.doc_id, r.n_bytes, u(0) % 64 + 1, u(1) % 64 + 1, feats)
  }

  /** Batched decode pass: partition-local, `BatchSize` records at a time
    * (the batch boundary is where a vectorized/native decoder would run). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch => batch.map(decodeStub) }
    }
  }

  /** Shared q136/q139 oracle: the signature grid + band-blocked Hamming
    * search in portable DuckDB SQL (def, not val — safe from object-init
    * order). */
  /** DuckDB CTE chain `wt → sh → pw → g0 → grid(doc_id, pixels)` — the
    * signature-grid derivation shared by the q136/q139/q141 oracles. A
    * non-empty `prefix` renames every CTE (`<p>wt … <p>grid`) so the
    * chain can compose with oracles that define their own `sh` (q146
    * joins it with the text-shingle chain). */
  private def phashGridCtes(prefix: String = ""): String = {
    val p = prefix
    val minCols = (0 until PhashBins).map(k =>
      s"coalesce(substr('0123456789abcdef', CAST((min(CASE WHEN h % 16 = $k THEN h END) // 16) % 16 AS INT) + 1, 1), '-') AS c$k")
      .mkString(",\n       ")
    val pix = (0 until PhashBins).map(k => s"c$k").mkString(" || ")
    s"""${p}wt AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
       |${p}sh AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM ${p}wt)),
       |${p}pw AS (
       |  SELECT doc_id, list_reduce([(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1)::BIGINT
       |                 for i in range(1, 16)], (a, b) -> a * 16 + b) AS h
       |  FROM ${p}sh),
       |${p}g0 AS (
       |  SELECT doc_id, $minCols
       |  FROM ${p}pw GROUP BY doc_id),
       |${p}grid AS (SELECT doc_id, $pix AS pixels FROM ${p}g0)""".stripMargin
  }

  /** Pixel-wise Hamming between the aliased `x`/`y` grid rows, DuckDB. */
  private def phashHamSql: String =
    """CAST(list_sum([CASE WHEN substr(x.pixels, i, 1) = substr(y.pixels, i, 1) THEN 0 ELSE 1 END
      |                      for i in range(1, 17)]) AS BIGINT)""".stripMargin

  private def phashOracleSql: String = {
    val ham = phashHamSql
    s"""WITH ${phashGridCtes()},
       |bx AS (
       |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
       |  FROM grid, range(0, 4) t(k))
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
       |FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
       |WHERE $ham <= 3
       |ORDER BY a, b""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // ── Binary-column metadata path (SQL-expressible slice, with oracle) ──
    QueryDef(
      "q32_multimodal_meta",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("payload", col("text").cast("binary"))
          .select(
            col("doc_id"),
            octet_length(col("payload")).cast("long").as("byte_len"),
            (col("n_chars") % 64 + 1).cast("long").as("width"),
            substring(md5(col("text")), 1, 16).as("sig"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
             |       n_chars % 64 + 1 AS width, substr(md5(text), 1, 16) AS sig
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── Batched decode plumbing (mapPartitions), fully oracle-checked:
    //    DuckDB recomputes the stub's md5-derived dims/features from the
    //    same payload bytes (payload = utf8(text), md5(text) hashes utf8).
    QueryDef(
      "q35_multimodal_decode",
      (s, dir) => {
        val feats = decodeFeatures(toMedia(s, dir)).toDF()
        feats.select(
            col("doc_id") +: col("n_bytes") +: col("width") +: col("height") +:
              (0 until 4).map(k =>
                element_at(col("features"), k + 1).cast("double").as(s"f$k")): _*)
          .orderBy("doc_id")
      },
      Some {
        // hex-pair k of md5(text) as an int in [0, 255]
        def hx(p: Int) = s"(strpos('0123456789abcdef', substr(h, $p, 1)) - 1)"
        def pair(k: Int) = s"(${hx(2 * k + 1)} * 16 + ${hx(2 * k + 2)})"
        val fcols = (0 until 4).map(k => s"(${pair(k)} - 128) / 128.0 AS f$k").mkString(", ")
        s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           |       ${pair(0)} % 64 + 1 AS width, ${pair(1)} % 64 + 1 AS height,
           |       $fcols
           |FROM (SELECT doc_id, text, md5(text) AS h FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // ── Frame sampling: chunk the payload into fixed frames, keep every
    //    k-th, fingerprint each — the video-frame-sample plumbing shape
    //    (chunk → stride-sample → per-frame feature), all codegen'd
    //    built-ins, no decode dependency. ──
    QueryDef(
      "q53_frame_sample",
      (s, dir) => {
        val Frame = 32
        val Stride = 4
        // Empty payload must emit zero frames: Spark's sequence(0, -1)
        // defaults to step -1 and yields [0, -1] (DuckDB's range(0, 0) is
        // empty), so the bound is clamped to >= 0 and a `i < n_frames`
        // predicate drops the phantom row.
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(expr(
            s"""transform(
               |  filter(sequence(0, greatest(int(ceil(length(text) / $Frame.0)), 1) - 1),
               |         i -> i % $Stride = 0 AND i < int(ceil(length(text) / $Frame.0))),
               |  i -> struct(i AS frame_idx,
               |              md5(substring(text, i * $Frame + 1, $Frame)) AS sig))""".stripMargin
          )).as("f"))
          .select(col("doc_id"), col("f.frame_idx"), col("f.sig"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT doc_id, i AS frame_idx, md5(substr(text, i * 32 + 1, 32)) AS sig
             |FROM (SELECT doc_id, text,
             |             unnest(range(0, CAST(ceil(length(text) / 32.0) AS INT))) AS i
             |      FROM documents)
             |WHERE i % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin)),

    // ── Resize: variable-length payload resampled onto a FIXED 16-cell
    //    grid (the thumbnail/resize plumbing shape) — each cell covers an
    //    equal fraction of the payload, fingerprinted to one hex "pixel". ──
    QueryDef(
      "q56_resize_grid",
      (s, dir) => {
        val G = 16
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), expr(
            s"""array_join(transform(sequence(0, ${G - 1}), i ->
               |  substring(md5(substring(text,
               |    CAST(i * length(text) div $G AS INT) + 1,
               |    CAST((i + 1) * length(text) div $G AS INT) - CAST(i * length(text) div $G AS INT))), 1, 1)), '')""".stripMargin
          ).as("pixels"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  array_to_string([substr(md5(substr(text,
             |      CAST((i * length(text)) // 16 AS INT) + 1,
             |      CAST(((i + 1) * length(text)) // 16 AS INT) - CAST((i * length(text)) // 16 AS INT))), 1, 1)
             |    for i in range(0, 16)], '') AS pixels
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── Cross-video boilerplate frames (multimodal dedup signal) ──
    QueryDef(
      "q111_frame_boiler",
      (s, dir) => {
        // The video-side twin of q82's text boilerplate: frame signatures
        // (q53's exact stride-sampled fingerprint derivation — at scale
        // the perceptual hash of a decoded frame) that recur across
        // DISTINCT media items are intros, watermarks, test cards; per
        // item, the fraction of its sampled frames that are such
        // boilerplate is the trim/drop signal a video-curation pass cuts
        // on. Shapes: one sig-keyed partial+final agg builds the
        // boilerplate set (small by construction — recurring frames are
        // the exception), which BROADCASTS back into a frame-keyed left
        // join + one doc-keyed agg; the frame table is never shuffled
        // twice.
        val Frame = 32; val Stride = 4; val FrameDf = 2
        val frames = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(expr(
            s"""transform(
               |  filter(sequence(0, greatest(int(ceil(length(text) / $Frame.0)), 1) - 1),
               |         i -> i % $Stride = 0 AND i < int(ceil(length(text) / $Frame.0))),
               |  i -> md5(substring(text, i * $Frame + 1, $Frame)))""".stripMargin
          )).as("sig"))
        val bf = frames.groupBy("sig")
          .agg(countDistinct("doc_id").as("dfd"))
          .filter(col("dfd") >= FrameDf)
          .select(col("sig"), lit(1).as("m"))
        frames.join(broadcast(bf), Seq("sig"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"), count(col("m")).as("n_boiler"))
          .select(col("doc_id"), col("n_frames"), col("n_boiler"),
            expr("n_boiler / n_frames").as("boiler_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH fr AS (
             |  SELECT doc_id, md5(substr(text, i * 32 + 1, 32)) AS sig
             |  FROM (SELECT doc_id, text,
             |               unnest(range(0, CAST(ceil(length(text) / 32.0) AS INT))) AS i
             |        FROM documents)
             |  WHERE i % 4 = 0),
             |bf AS (
             |  SELECT sig, 1 AS m FROM (
             |    SELECT sig, count(DISTINCT doc_id) AS dfd FROM fr GROUP BY sig)
             |  WHERE dfd >= 2)
             |SELECT f.doc_id, count(*) AS n_frames,
             |       CAST(count(b.m) AS BIGINT) AS n_boiler,
             |       count(b.m) / count(*) AS boiler_frac
             |FROM fr f LEFT JOIN bf b ON b.sig = f.sig
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Perceptual-hash near-dup (media fingerprint LSH) ──
    QueryDef(
      "q136_phash_neardup",
      (s, dir) => {
        // Image/audio near-dup detection by perceptual hash — the
        // multimodal twin of q23/q54: byte-exact dedup (q21) misses
        // re-encoded or lightly-edited media, so each payload reduces to a
        // compact perceptual signature and near-dups are low-Hamming
        // signature pairs. The signature is a one-permutation binned
        // min-hash (Li et al., one-permutation hashing): each
        // content-defined patch of the payload hashes to a 60-bit h, bin
        // k ∈ [0,16) takes min(h) over its patches (h % 16 = k), and the
        // bin's next nibble ((min div 16) % 16) becomes one hex "pixel" —
        // 16 pixels, '-' for an empty bin. Min-per-bin is edit-robust
        // (inserting or dropping a non-minimal patch leaves the bin's
        // pixel unchanged), unlike q56's positional grid, which shifts
        // every cell boundary on a one-byte edit. Patches are
        // content-defined chunks — stubbed here as the corpus's word
        // 3-grams (Dedup.shinglesRaw, the q22 derivation); a production
        // media build swaps in rolling-hash CDC over decoded bytes with no
        // plan change. Measured at sf0.01: candidate Hamming is cleanly
        // bimodal (0-1 for true near-dups vs 9-12 for band collisions), so
        // HamTau = 3 separates exactly.
        //
        // 100 TB shape: signature build is ONE doc_id-keyed partial+final
        // agg with FIXED 16-long state per doc (never a per-doc patch
        // list); search blocks on the 4 4-hex bands (pigeonhole: a ≤3-
        // distant pair agrees on ≥1 band; 16^4 values per band keeps
        // buckets O(1)-ish — widen the grid to grow), verifies Hamming
        // only on bucket-mates. localCheckpoint = the q54 barrier: without
        // it the 16-pixel construction inlines into every band key and
        // the join residual.
        phashPairs(phashGrid(Tables.load(s, dir, "documents"))
          .localCheckpoint(true))
          .orderBy("a", "b")
      },
      Some(phashOracleSql)),

    // ── Persisted phash index, end-to-end: build → persist → search ──
    QueryDef(
      "q139_phash_from_store",
      (s, dir) => {
        // q136's production form, oracle-graded end-to-end (the q127-q135
        // discipline applied to the media index): the signature/band state
        // persisted by `IndexStore.savePhashIndex`, pairs answered by
        // `IndexStore.phashPairsFrom` reading ONLY the store. Same corpus
        // ⇒ bit-identical to q136, so q136's oracle grades the persisted
        // path through the independent engine. The standing-index batch
        // workflow (`appendPhashBatch` / `phashDedupBatch`) is pinned
        // store≡in-query by IndexStoreSpec.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q139-store")
        IndexStore.savePhashIndex(docs, scratch)
        IndexStore.phashPairsFrom(s, scratch).orderBy("a", "b")
      },
      Some(phashOracleSql)),

    // ── Deep-pixel phash near-dup (the measured scale variant) ──
    QueryDef(
      "q142_phash_deep",
      (s, dir) => {
        // q136 at depth 2 — the signature the NEXT corpus decade deploys
        // (PERF.md phash stress: identical bin structure and edit
        // robustness, accidental band collisions ÷65536, every surviving
        // 10× candidate a genuine full-band sharer). 16 bins × 2 hex
        // chars; bands are 4 × 8 chars; Hamming counts 2-char CELLS. The
        // oracle re-derives the deep pixels independently, so the depth
        // parameter (and the div-by-bins entropy fix it depends on) is
        // graded through DuckDB, not just spec-pinned.
        val CellW = 2; val BandW = 4 * CellW; val HamTau = 3
        val grid = Tables.load(s, dir, "documents")
          .select(col("doc_id"), call_function("graft_phashsig",
            split(trim(col("text")), " "), lit(PhashBins), lit(2)).as("pixels"))
          .filter(col("pixels").isNotNull)
          .localCheckpoint(true)
        val bx = grid.select(col("doc_id"), col("pixels"), explode(array(
          (0 until PhashBands).map(k => struct(lit(k).as("bi"),
            expr(s"substring(pixels, ${k * BandW + 1}, $BandW)").as("key"))): _*)).as("e"))
          .select(col("doc_id"), col("pixels"), col("e.bi").as("bi"), col("e.key").as("key"))
        val xa = bx.toDF("a", "pa", "bi", "key")
        val yb = bx.toDF("b", "pb", "bi", "key")
        xa.join(yb, Seq("bi", "key")).filter(col("a") < col("b"))
          .select(col("a"), col("b"), expr(
            s"""cast(aggregate(sequence(0, ${PhashBins - 1}), 0, (acc, i) ->
               |  acc + if(substring(pa, i * $CellW + 1, $CellW) = substring(pb, i * $CellW + 1, $CellW), 0, 1)) AS bigint)""".stripMargin)
            .as("hamming"))
          .distinct()
          .filter(col("hamming") <= HamTau)
          .orderBy("a", "b")
      },
      Some {
        // single-line per column: interpolated newlines would collide with
        // the outer stripMargin (a leading '||' loses its first char)
        val deepCols = (0 until PhashBins).map { k =>
          val m = s"min(CASE WHEN h % 16 = $k THEN h END)"
          s"CASE WHEN $m IS NULL THEN '--' ELSE substr('0123456789abcdef', CAST((($m // 16) % 256) // 16 AS INT) + 1, 1) || substr('0123456789abcdef', CAST((($m // 16) % 256) % 16 AS INT) + 1, 1) END AS c$k"
        }.mkString(",\n       ")
        val pix = (0 until PhashBins).map(k => s"c$k").mkString(" || ")
        val ham =
          """CAST(list_sum([CASE WHEN substr(x.pixels, i * 2 + 1, 2) = substr(y.pixels, i * 2 + 1, 2) THEN 0 ELSE 1 END
            |                      for i in range(0, 16)]) AS BIGINT)""".stripMargin
        s"""WITH wt AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
           |sh AS (
           |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
           |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM wt)),
           |pw AS (
           |  SELECT doc_id, list_reduce([(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1)::BIGINT
           |                 for i in range(1, 16)], (a, b) -> a * 16 + b) AS h
           |  FROM sh),
           |g0 AS (
           |  SELECT doc_id, $deepCols
           |  FROM pw GROUP BY doc_id),
           |grid AS (SELECT doc_id, $pix AS pixels FROM g0),
           |bx AS (
           |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 8 + 1 AS INT), 8) AS key
           |  FROM grid, range(0, 4) t(k))
           |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
           |FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
           |WHERE $ham <= 3
           |ORDER BY a, b""".stripMargin
      }),

    // ── Incremental media dedup over the persisted phash index ──
    QueryDef(
      "q143_phash_incremental",
      (s, dir) => {
        // The q80/q135 discipline completed for the media index: a
        // standing corpus (doc_id % 4 ≠ 0) persisted by savePhashIndex,
        // an incoming media batch (doc_id % 4 = 0) audited against it by
        // `IndexStore.phashDedupBatch` — (doc_id, dup_of, keep), dup_of =
        // the smallest matching id at Hamming ≤ PhashHamTau (standing
        // docs match regardless of id, batch docs by the earlier-id
        // greedy rule). The oracle needs NO blocking simulation: the
        // 4-band scheme is provably LOSSLESS at Hamming ≤ 3 (pigeonhole —
        // the guarantee q141 pins at exactly 1.0), so all-pairs Hamming
        // over the re-derived grids is the same answer through the
        // independent engine.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q143-store")
        IndexStore.savePhashIndex(docs.filter(col("doc_id") % 4 =!= 0), scratch)
        IndexStore.phashDedupBatch(docs.filter(col("doc_id") % 4 === 0), scratch)
          .orderBy("doc_id")
      },
      Some {
        val ham =
          """CAST(list_sum([CASE WHEN substr(x.pixels, i, 1) = substr(y.pixels, i, 1) THEN 0 ELSE 1 END
            |                      for i in range(1, 17)]) AS BIGINT)""".stripMargin
        s"""WITH ${phashGridCtes()},
           |cand AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
           |  FROM grid x JOIN grid y
           |    ON y.doc_id % 4 = 0 AND x.doc_id <> y.doc_id
           |   AND (x.doc_id % 4 <> 0 OR x.doc_id < y.doc_id)),
           |dup AS (
           |  SELECT b AS doc_id, min(a) AS dup_of FROM cand
           |  WHERE hamming <= 3 GROUP BY b)
           |SELECT d.doc_id, dup.dup_of,
           |       CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep
           |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
           |WHERE d.doc_id % 4 = 0
           |ORDER BY d.doc_id""".stripMargin
      }),

    // ── Media-cluster consolidation (q102's twin for the phash family) ──
    QueryDef(
      "q144_phash_consolidate",
      (s, dir) => {
        // The r10 verdict's #2 ask: once band buckets are capped, a large
        // media cluster must be COLLAPSED via components, never
        // enumerated. Pair graph = the capped q136 search; components +
        // provenance merge = the q102/q128 machinery verbatim (component
        // map is small — only docs in some near-dup pair — and joins the
        // corpus exactly once on doc_id). The oracle re-derives the pair
        // graph all-pairs in DuckDB and walks reachability recursively,
        // so both the capped blocking's losslessness AND the component
        // labels are graded through the independent engine.
        phashConsolidate(Tables.load(s, dir, "documents"))
      },
      Some {
        val ham = phashHamSql
        s"""WITH RECURSIVE ${phashGridCtes()},
           |bx AS (
           |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
           |  FROM grid, range(0, 4) t(k)),
           |jp AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
           |  WHERE $ham <= 3),
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
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ── Media consolidation FROM the persisted phash index (q128 twin) ──
    QueryDef(
      "q145_phash_consolidate_from_store",
      (s, dir) => {
        // q144's production form, oracle-graded end-to-end (the q128
        // discipline for the media index): the signature/band state
        // persisted by savePhashIndex, the pair graph answered FROM the
        // store, components + provenance on top. Same oracle as q144 — a
        // green row proves the full build→persist→pairs→consolidate path
        // against the independent engine.
        val docs = Tables.load(s, dir, "documents")
        val scratch = graft.Scratch.dir("q145-store")
        IndexStore.savePhashIndex(docs, scratch)
        IndexStore.phashConsolidateFrom(s, scratch, docs)
      },
      Some {
        val ham = phashHamSql
        s"""WITH RECURSIVE ${phashGridCtes()},
           |bx AS (
           |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
           |  FROM grid, range(0, 4) t(k)),
           |jp AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
           |  WHERE $ham <= 3),
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
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ── Cross-signal dedup consensus: textual ⊗ perceptual evidence ──
    QueryDef(
      "q146_dedup_consensus",
      (s, dir) => {
        // A curation pass rarely trusts ONE dedup signal: exact-text
        // Jaccard (q22) misses re-encoded/reformatted media, the
        // perceptual hash (q136) misses text rewrites that change every
        // patch. This operator consolidates both pair sets into one
        // evidence table — FULL OUTER on (a, b), each row carrying the
        // signal values it has and a consensus tally. Pairs found by BOTH
        // are highest-confidence dups (delete-safe); phash-only pairs are
        // the re-encodings text dedup can't see; jaccard-only pairs are
        // patch-starved docs. Downstream, n_signals feeds the keep/drop
        // policy exactly like q58's keep-set.
        //
        // 100 TB shape: both inputs are the already-capped blocked
        // machineries (df-capped inverted index; recursive-refined phash
        // buckets); the consensus itself is ONE pair-keyed equi-join of
        // two pair tables — no corpus re-scan, no window, nothing wider
        // than the pair frames.
        val docs = Tables.load(s, dir, "documents")
        val jp = Dedup.jaccardPairs(docs).select("a", "b", "jaccard")
        val pp = phashPairs(phashGrid(docs).localCheckpoint(true))
          .select("a", "b", "hamming")
        jp.join(pp, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"), col("jaccard"), col("hamming"),
            (when(col("jaccard").isNotNull, 1L).otherwise(0L) +
              when(col("hamming").isNotNull, 1L).otherwise(0L)).as("n_signals"),
            concat_ws(",",
              when(col("jaccard").isNotNull, lit("jaccard")),
              when(col("hamming").isNotNull, lit("phash"))).as("signals"))
          .orderBy("a", "b")
      },
      Some {
        val p = "ph_"
        val ham = phashHamSql
        s"""WITH ${Dedup.shingleCte},
           |${Dedup.jaccardPairsCtes()},
           |${phashGridCtes(p)},
           |bx AS (
           |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
           |  FROM ${p}grid, range(0, 4) t(k)),
           |pp AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
           |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
           |  WHERE $ham <= 3)
           |SELECT coalesce(j.a, p.a) AS a, coalesce(j.b, p.b) AS b,
           |       j.jaccard, p.hamming,
           |       CAST(CASE WHEN j.a IS NOT NULL THEN 1 ELSE 0 END +
           |            CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_signals,
           |       concat_ws(',', CASE WHEN j.a IS NOT NULL THEN 'jaccard' END,
           |                      CASE WHEN p.a IS NOT NULL THEN 'phash' END) AS signals
           |FROM jp j FULL OUTER JOIN pp p ON p.a = j.a AND p.b = j.b
           |ORDER BY a, b""".stripMargin
      }),

    // ── Per-doc media kNN at the verify threshold (retrieval seed lists) ──
    QueryDef(
      "q147_phash_knn",
      (s, dir) => {
        // Each media doc's ≤ 5 nearest neighbors at Hamming ≤ PhashHamTau
        // — the neighbor lists a retrieval/cluster-seeding pass consumes
        // (q59's kNN-join shape for the media index; the point-query twin
        // over the PERSISTED store is `IndexStore.searchPhash`). Complete
        // at the threshold by pigeonhole; ranked (hamming, nbr) for a
        // deterministic total order.
        //
        // 100 TB shape: the rank window runs over the PAIR frame (output-
        // sized, capped by the recursive refinement), keyed by doc — the
        // corpus itself is never windowed or re-shuffled.
        val K = 5
        val pp = phashPairs(
          phashGrid(Tables.load(s, dir, "documents")).localCheckpoint(true))
        val sym = pp.select(col("a").as("d"), col("b").as("nbr"), col("hamming"))
          .unionByName(
            pp.select(col("b").as("d"), col("a").as("nbr"), col("hamming")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("d").orderBy(col("hamming"), col("nbr"))
        sym.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= K)
          .select(col("d").as("doc_id"), col("rank"), col("nbr"), col("hamming"))
          .orderBy("doc_id", "rank")
      },
      Some {
        val ham = phashHamSql
        s"""WITH ${phashGridCtes()},
           |bx AS (
           |  SELECT doc_id, pixels, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
           |  FROM grid, range(0, 4) t(k)),
           |pp AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $ham AS hamming
           |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id
           |  WHERE $ham <= 3),
           |sym AS (
           |  SELECT a AS d, b AS nbr, hamming FROM pp
           |  UNION ALL SELECT b, a, hamming FROM pp)
           |SELECT doc_id, rank, nbr, hamming FROM (
           |  SELECT d AS doc_id,
           |         CAST(row_number() OVER (PARTITION BY d ORDER BY hamming, nbr) AS BIGINT) AS rank,
           |         nbr, hamming
           |  FROM sym)
           |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin
      }),

    // ── Phash blocking recall calibration (the q123 discipline) ──
    QueryDef(
      "q141_phash_calibration",
      (s, dir) => {
        // q123's calibration discipline applied to the phash search: how
        // much of the pair mass at each Hamming distance does the 4-band
        // blocking actually surface? Truth comes from SINGLE-PIXEL
        // blocking over a hash-sampled 10% anchor set — 16 width-1 bands
        // find every sampled pair at Hamming ≤ 15 by pigeonhole (only
        // ham-16 pairs, sharing nothing, are out of scope), and the
        // sample bounds the quadratic term by the CALIBRATION BUDGET, not
        // the corpus (a deployment tunes bands on a fixed sample, exactly
        // like q123 calibrates bands×rows). Output: per Hamming value,
        // sampled pair count, band-blocked count, recall. Pigeonhole
        // shows as recall = 1.0 on every row ≤ 3 (MultimodalSpec pins
        // it); the 4–15 tail is the number the band count buys.
        //
        // Shapes: equi-joins only (the pixel-position explode is the
        // blocking key — no cartesian anywhere); both pair sets are
        // sample-bounded; one ≤17-row output agg.
        val grid = phashGrid(Tables.load(s, dir, "documents"))
          .filter(expr("graft_hash60(cast(doc_id AS string)) % 10 = 0"))
          .localCheckpoint(true)
        val px = grid.select(col("doc_id"), col("pixels"), explode(expr(
          "transform(sequence(1, 16), i -> struct(i AS pos, substring(pixels, i, 1) AS pv))")).as("e"))
          .select(col("doc_id"), col("pixels"), col("e.pos").as("pos"), col("e.pv").as("pv"))
        val xa = px.toDF("a", "pa", "pos", "pv")
        val yb = px.toDF("b", "pb", "pos", "pv")
        val truth = xa.join(yb, Seq("pos", "pv")).filter(col("a") < col("b"))
          .select(col("a"), col("b"), phashHamming("pa", "pb").as("hamming"))
          .distinct()
        val found = phashBandRows(grid).select("doc_id", "bi", "key")
          .toDF("a", "bi", "key")
          .join(phashBandRows(grid).select("doc_id", "bi", "key").toDF("b", "bi", "key"),
            Seq("bi", "key"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
          .withColumn("m", lit(1))
        truth.join(found, Seq("a", "b"), "left")
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"), count(col("m")).as("n_blocked"))
          .withColumn("recall", col("n_blocked") / col("n_pairs"))
          .orderBy("hamming")
      },
      Some(s"""WITH ${phashGridCtes()},
              |samp AS (
              |  SELECT doc_id, pixels FROM grid
              |  WHERE list_reduce([(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT
              |                     for i in range(1, 16)], (a, b) -> a * 16 + b) % 10 = 0),
              |px AS (
              |  SELECT doc_id, pixels, i AS pos, substr(pixels, CAST(i AS INT), 1) AS pv
              |  FROM samp, range(1, 17) t(i)),
              |truth AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $phashHamSql AS hamming
              |  FROM px x JOIN px y ON x.pos = y.pos AND x.pv = y.pv AND x.doc_id < y.doc_id),
              |bx AS (
              |  SELECT doc_id, k AS bi, substr(pixels, CAST(k * 4 + 1 AS INT), 4) AS key
              |  FROM samp, range(0, 4) t(k)),
              |found AS (
              |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, 1 AS m
              |  FROM bx x JOIN bx y ON x.bi = y.bi AND x.key = y.key AND x.doc_id < y.doc_id)
              |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
              |       CAST(count(f.m) AS BIGINT) AS n_blocked,
              |       count(f.m) / count(*) AS recall
              |FROM truth t LEFT JOIN found f USING (a, b)
              |GROUP BY hamming ORDER BY hamming""".stripMargin)),

    // ── Shot-boundary detection (scene cuts) ──
    QueryDef(
      "q112_shot_boundary",
      (s, dir) => {
        // Per-item scene segmentation: each fixed-width frame reduces to a
        // coarse scalar "brightness" (here: vowel density bucketed to
        // [0, 16] — at scale the mean luma of a decoded frame), and a shot
        // boundary is a jump of >= ShotTau between CONSECUTIVE frames.
        // Output per item: frame count, shot count, mean shot length — the
        // clip-level stats a video-curation pass cuts on (a 1-shot
        // 10-minute item is a static slate; thousands of 2-frame shots is
        // a strobe/corrupt stream).
        //
        // 100 TB shape: everything is computed WITHIN the row's own
        // payload (frame array -> adjacent-pair fold), a pure narrow
        // codegen'd scan — zero shuffle before the determinism sort
        // (PlanSpec pin). No per-frame explode, no window: consecutive-
        // frame comparison is an array fold, so the corpus never leaves
        // its input partitioning.
        val Frame = 32; val ShotTau = 3
        // Brightness evaluated PER INDEX inside the fold — never as a
        // derived array referenced from the lambda: HOF lambdas are
        // interpreted with no subexpression elimination, so an inlined
        // `bs` array would re-evaluate ALL frames per fold step (the
        // O(n²) winnow cliff, PERF.md r9). Scalar-per-index keeps the
        // fold linear: two frame evaluations per adjacent pair.
        def b(idx: String) =
          s"""int(length(regexp_replace(substring(text, ($idx) * $Frame + 1, $Frame), '[^aeiou]', '')) * 16
             |  div length(substring(text, ($idx) * $Frame + 1, $Frame)))""".stripMargin
        Tables.load(s, dir, "documents")
          .filter(length(col("text")) >= 1)
          .withColumn("nf", expr(s"int(ceil(length(text) / $Frame.0))"))
          .select(col("doc_id"),
            col("nf").cast("long").as("n_frames"),
            expr(
              s"""cast(1 + if(nf < 2, 0,
                 |  aggregate(sequence(1, nf - 1), 0,
                 |    (acc, i) -> acc + if(abs(${b("i")} - ${b("i - 1")}) >= $ShotTau, 1, 0))) as bigint)""".stripMargin
            ).as("n_shots"))
          .withColumn("mean_shot_len", col("n_frames") / col("n_shots"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |         [CAST(length(regexp_replace(substr(text, i * 32 + 1, 32), '[^aeiou]', '', 'g')) * 16
             |            // length(substr(text, i * 32 + 1, 32)) AS INT)
             |          for i in range(0, CAST(ceil(length(text) / 32.0) AS INT))] AS bs
             |  FROM documents WHERE length(text) >= 1),
             |g AS (
             |  SELECT doc_id, len(bs)::BIGINT AS n_frames,
             |         CAST(1 + coalesce(list_sum(
             |           [CASE WHEN abs(bs[k+1] - bs[k]) >= 3 THEN 1 ELSE 0 END
             |            for k in range(1, len(bs))]), 0) AS BIGINT) AS n_shots
             |  FROM f)
             |SELECT doc_id, n_frames, n_shots, n_frames / n_shots AS mean_shot_len
             |FROM g ORDER BY doc_id""".stripMargin))
  )
}
