package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible scale-stress harness backing the PERF.md stress rows — the
  * r3 connected-components stress was run ad-hoc and could not be re-run
  * with different flags (the r4/r5 verdicts asked twice for the
  * reliable-checkpoint delta). Modes:
  *
  *   cc <edges> <vertices> [reliable]
  *     Random graph (deterministic xxhash64 endpoints — avg degree
  *     2*edges/vertices; 2M/1M is the adversarial label-propagation shape:
  *     one giant component plus fringe), through
  *     `Dedup.connectedComponents`, optionally with reliable checkpoints
  *     (per-round distributed-FS writes instead of executor-pinned blocks).
  *
  *   annknn <sfDir> <mult>
  *     q59's SRP blocking + per-vector top-k at 1x and <mult>x the sf's
  *     embeddings table. The <mult>x corpus keeps the cluster geometry:
  *     each vector spawns mult jittered copies (additive noise ~0.5 of the
  *     vector norm, xxhash64-derived — same label mixture, not exact
  *     duplicates). Reports candidate pairs/vec and the max per-vector
  *     candidate count at both scales — the two numbers that certify the
  *     blocking stays linear and the vec_id-keyed window never
  *     concentrates.
  *
  *   lsh <sfDir> <mult>
  *     The dedup-family twin of annknn: MinHash-LSH candidate volume at 1x
  *     and <mult>x the sf's documents table. Each doc spawns mult copies
  *     whose words are resampled (with replacement, xxhash64-positioned)
  *     from the SAME doc — length and vocabulary distributions preserved,
  *     word order (and therefore the shingle set) broken, so copies are
  *     fresh same-distribution docs, not near-duplicates. Reports LSH
  *     candidate pairs/doc, the max per-doc fan-in, and q23's end-to-end
  *     wall at both scales.
  *
  *   curate <sfDir> <mult>
  *     The flagship end-to-end: `Curate.run` (exact dedup → near-dup
  *     keep-set → redact → quality cut → pack → parquet) at 1x and
  *     <mult>x (same inflation as `lsh`). Reports wall and the stage
  *     stats line at both scales — the whole-pipeline scaling number.
  *
  *   incdedup <sfDir> <mult>
  *     The persisted-state claim (IndexStore): build the LSH index over a
  *     1x and a <mult>x standing corpus (one-time cost, linear), then
  *     dedupe the SAME fixed batch (the sf corpus's doc_id % 4 == 0 docs,
  *     re-keyed disjoint) against each. Reports index-build wall and
  *     per-batch dedup wall at both corpus sizes — the per-batch number
  *     growing much slower than <mult> is what certifies that batches pay
  *     for the batch, not for the corpus.
  *
  *   ivfsearch <sfDir> <mult>
  *     The ANN-side twin of incdedup: build the persisted IVF index over
  *     a 1x and a <mult>x corpus, then run the SAME single-probe searches
  *     (vec_id 0, k = 5) against each. Reports build wall and per-query
  *     search wall — the per-query number staying near-flat certifies
  *     that probes read one coarse cell, not the corpus.
  *
  *   pairaudit <sfDir> <mult>
  *     The pair-index persistence claim: build the df-capped inverted
  *     index store at 1x and <mult>x, then run q22's Jaccard scan both
  *     in-query (pays the index floor) and from the store (pays only the
  *     pair scan). Reports build wall and both audit walls — the
  *     from-store number is what every extra audit over the same corpus
  *     costs once the index is persisted.
  *
  *   editdedup <sfDir> <mult>
  *     q91's blocking certificate: the inter ≥ EditMinInter shared-shingle
  *     gate over the df-capped inverted index at 1x and <mult>x (same
  *     inflation as `lsh`). Scrambled copies of one parent share the
  *     parent's rare vocabulary, so sibling pairs collide on shingles far
  *     more than cross-parent pairs — that growth is corpus content, so
  *     the split is reported like annknn's. Gated CROSS-parent pairs/doc
  *     staying flat certifies the levenshtein stage (bit-parallel,
  *     O(⌈len/64⌉·len) per pair) sees a linear
  *     candidate volume, never corpus².
  *
  *   snapdiff <sfDir> <mult>
  *     q101's at-rest certificate: two snapshot manifests (the q101
  *     refresh arithmetic) diffed plain-parquet (id-shuffled join) vs
  *     bucketed-by-doc_id via `Dedup.snapshotDiff` (exchange-free join,
  *     SnapshotDiffSpec pins the plan). Reports both diff walls and the
  *     one-time bucketed write cost at 1x and <mult>x docs.
  *
  *   consolidate <sfDir> <mult>
  *     q102's from-store certificate: provenance consolidation in-query
  *     (re-mines the pair graph every call) vs `consolidateFrom` off the
  *     persisted pair index, at 1x and <mult>x docs — what the standing
  *     index buys every repeat consolidation.
  *
  *   bloom <sfDir> <mult>
  *     q105's certificate: decontamination wall + corpus-side join-input
  *     rows with the bloom prefilter vs the plain exact join, registry
  *     held at base size (prebuilt once) while the corpus inflates
  *     <mult>x — the shuffle-volume cut the bloom buys.
  *
  *   pq <sfDir> <mult>
  *     The q88 twin of ivfsearch: build the persisted PQ index (codebook +
  *     codes) over a 1x and a <mult>x corpus, then run the SAME ADC search
  *     (vec_id 0, k = 5) against each. Reports build wall, per-query
  *     search wall, and recall@5 vs an exact brute-force scan of the same
  *     corpus — the search cost is one coded linear scan (the table read
  *     is codes, 4 B/vector) plus the constant-depth re-rank, and recall
  *     is the number the re-rank depth buys.
  *
  * 100×-decade runs need `SPARK_DRIVER_MEM=48g` (build.sbt plumbs it to
  * -Xmx): the AUDIT frames these modes materialize for judging — exact
  * uncapped df distributions, all-candidate counts — outgrow the 8 GB
  * default heap at 500k docs. The engine paths under test are the same
  * bounded aggregations at every scale; it's the stress's own
  * measurement frames that are corpus-sized by design.
  */
object Stress {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("cc") =>
        val edges = args(1).toLong
        val vertices = args(2).toLong
        val reliable = args.length > 3 && args(3) == "reliable"
        cc(spark, edges, vertices, reliable)
      case Some("annknn") =>
        annKnn(spark, args(1), args(2).toInt,
          decor = args.length > 3 && args(3) == "decor")
      case Some("lsh") =>
        lsh(spark, args(1), args(2).toInt)
      case Some("curate") =>
        curate(spark, args(1), args(2).toInt)
      case Some("incdedup") =>
        incDedup(spark, args(1), args(2).toInt)
      case Some("pairaudit") =>
        pairAudit(spark, args(1), args(2).toInt)
      case Some("winnow") =>
        winnowStress(spark, args(1), args(2).toInt)
      case Some("growth") =>
        growth(spark, args(1), args(2).toInt)
      case Some("phash") =>
        phashStress(spark, args(1), args(2).toInt)
      case Some("crossdoc") =>
        crossdocStress(spark, args(1), args(2).toInt)
      case Some("snapdiff") =>
        snapDiff(spark, args(1), args(2).toInt)
      case Some("eval") =>
        evalStress(spark, args(1), args(2).toInt)
      case Some("hll") =>
        hllStress(spark, args(1), args(2).toInt)
      case Some("overlap") =>
        overlapStress(spark, args(1), args(2).toInt)
      case Some("consolidate") =>
        consolidate(spark, args(1), args(2).toInt)
      case Some("bloom") =>
        bloomStress(spark, args(1), args(2).toInt)
      case Some("editdedup") =>
        editDedup(spark, args(1), args(2).toInt)
      case Some("ivfsearch") =>
        ivfSearch(spark, args(1), args(2).toInt)
      case Some("pq") =>
        pqSearch(spark, args(1), args(2).toInt)
      case Some("provenance") =>
        provenanceStress(spark, args(1), args(2).toInt)
      case Some("fusion") =>
        fusionStress(spark, args(1), args(2).toInt)
      case Some("bpe") =>
        bpeStress(spark, args(1), args(2).toInt)
      case Some("sketch") =>
        sketchStress(spark, args(1), args(2).toInt)
      case Some("lm") =>
        lmStress(spark, args(1), args(2).toInt)
      case Some("merkle") =>
        merkleStress(spark, args(1), args(2).toInt)
      case Some("placement") =>
        placementStress(spark, args(1), args(2).toInt)
      case other =>
        sys.error(s"usage: cc <edges> <vertices> [reliable] | annknn <sfDir> <mult> (got $other)")
    }
    spark.stop()
  }

  /** Per-invocation scratch dir: mode + inputs in the name, so a concurrent
    * run (or a stale corpus from a previous run with different mult/sfDir)
    * can never be silently measured as this run's data. */
  private def scratch(mode: String, parts: Any*): String = {
    val tag = parts.map(_.toString.replaceAll("[^A-Za-z0-9.]+", "-")).mkString("_")
    s"/tmp/graft_stress_${mode}_$tag"
  }

  /** Writer-task width of a written table, read from the files themselves:
    * parquet part names carry the write-stage task id (part-NNNNN-...), so
    * the distinct id count IS how many tasks produced output — the
    * listener-free meter for the VERDICT r14 #1 claim that store builds
    * write at cluster width, not |pfx| width. */
  private def writerTasks(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).map(_.getName)
      .filter(n => n.endsWith(".parquet") && n.startsWith("part-"))
      .flatMap(n => "part-(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt))
      .distinct.size
  }

  def cc(spark: SparkSession, numEdges: Long, numVertices: Long,
      reliable: Boolean): Unit = {
    if (reliable)
      spark.sparkContext.setCheckpointDir(
        scratch("cc-ckpt", numEdges, numVertices))
    val edges = spark.range(numEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(numVertices)).as("a"),
      pmod(xxhash64(col("id"), lit(2)), lit(numVertices)).as("b"))
    val t0 = System.nanoTime()
    val comps = operators.Dedup.connectedComponents(edges, reliable = reliable)
    val n = comps.agg(countDistinct("lbl")).head().getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"mode":"cc","edges":$numEdges,"vertices":$numVertices,"reliable":$reliable,"components":$n,"sec":$sec%.1f}""")
  }

  /** Decorrelated inflation: copy rep of a vector is its parent with the
    * components CYCLICALLY ROTATED by a (vec_id, rep)-derived offset —
    * norms and the per-component distribution are preserved exactly, but a
    * copy is no longer aligned with its parent or its siblings (different
    * offsets ⇒ ~random relative direction), so the corpus has mult× the
    * count WITHOUT mult× near-duplicates. This is the sibling-free twin of
    * `inflate`: candidate volume against it measures pure bucket-collision
    * behavior, the blocking-linearity certificate. */
  def inflateDecor(spark: SparkSession, dir: String, mult: Int): DataFrame = {
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"),
        explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .select((col("vec_id") * mult + col("rep")).as("vec_id"), col("label"),
        expr("""CASE WHEN rep = 0 THEN e ELSE
               |  transform(e, (x, i) ->
               |    element_at(e, cast(pmod(i + pmod(xxhash64(vec_id, rep), size(e) - 1) + 1, size(e)) AS int) + 1))
               |END""".stripMargin).cast("array<float>").as("embedding"))
  }

  /** One jittered copy per (vector, rep>0); rep 0 keeps the original. Noise
    * per component is uniform ±0.9*rms(e) (rms = nrm/sqrt(64)), so the copy
    * stays in its parent's cluster (cos ≈ 0.9) without being a near-exact
    * duplicate — a "same distribution, mult-x count" corpus. */
  def inflate(spark: SparkSession, dir: String, mult: Int): DataFrame = {
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"),
        explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .select((col("vec_id") * mult + col("rep")).as("vec_id"), col("label"),
        expr("""CASE WHEN rep = 0 THEN e ELSE
               |  transform(e, (x, i) ->
               |    x + 0.9 * (sqrt(aggregate(e, cast(0.0 as double), (a, y) -> a + y*y)) / 8.0)
               |          * ((pmod(xxhash64(vec_id * 100 + rep, i), 10000) / 5000.0) - 1.0))
               |END""".stripMargin).cast("array<float>").as("embedding"))
  }

  /** mult copies per doc, words resampled with replacement from the same
    * doc (deterministic xxhash64 positions; rep 0 keeps the original). */
  def inflateDocs(spark: SparkSession, dir: String, mult: Int): DataFrame = {
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("od"), col("text"), col("lang"), col("source"),
        explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .withColumn("doc_id", col("od") * mult + col("rep"))
      .withColumn("ws", split(trim(col("text")), " "))
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(expr(
        """array_join(transform(sequence(0, size(ws) - 1),
          |  j -> element_at(ws, cast(pmod(xxhash64(doc_id, j), size(ws)) AS int) + 1)), ' ')""".stripMargin)))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Natural-growth inflation (VERDICT r9 #3): the corpus grows by NEW
    * documents written in a PARTIALLY NEW vocabulary, instead of
    * `inflateDocs`' within-doc resampling. Resampling re-draws every word
    * from the same tiny per-doc pool, so copy r of a doc floods the SAME
    * shingles — previously-informative df 2..MaxDf shingles blow past the
    * cap, the informative band empties, and df-capped blocking looks
    * broken at 10× when it's the CORPUS that's unrepresentative
    * (CLAUDE.md's judging rule). Real corpora grow differently: the head
    * vocabulary is shared across eras while the tail is new. Model that
    * deterministically: rep 0 keeps the original doc; rep r > 0 rewrites
    * it keeping each word type with hash-chance 30% (the shared head) and
    * otherwise suffixing it `~r` (new tail vocab unique to the rep).
    * Near-dup structure is PRESERVED within each rep (the rewrite is a
    * pure word-type map, identical for both members of a pair), so gated
    * pairs grow ~linearly with mult; head-only shingles saturate past
    * MaxDf exactly as genuinely-popular runs should. */
  def growDocs(spark: SparkSession, dir: String, mult: Int): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("od"), col("text"), col("lang"), col("source"),
        explode(sequence(lit(0), lit(mult - 1))).as("rep"))
      .withColumn("doc_id", col("od") * mult + col("rep"))
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(expr(
        """array_join(transform(split(trim(text), ' '),
          |  w -> CASE WHEN pmod(xxhash64(w), 10) < 3 THEN w
          |            ELSE concat(w, '~', cast(rep AS string)) END), ' ')""".stripMargin)))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

  /** Re-measure the q22/q118 family under natural vocabulary growth: exact
    * shingle-df distribution (informative band population, stop count, max
    * df), informative-bucket fan-in, the CappedSetAggregator state bound,
    * pair counts and walls — at base and at mult×. The pass/fail judgment
    * CLAUDE.md prescribes: judge df-capped blocking by fan-in and wall,
    * never by pair counts on RESAMPLED corpora; this corpus is the
    * fair-growth twin where pair counts are meaningful again. */
  def growth(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{Dedup, IndexStore}
    val bigDir = scratch("growth", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      // Exact df distribution (uncapped groupBy count — affordable at
      // stress scale; the engine itself never needs it).
      val df = Dedup.shinglesRaw(docs).distinct()
        .groupBy("s").agg(count(lit(1)).as("df"))
      val dist = df.agg(
        count(lit(1)).as("types"),
        sum(when(col("df").between(2, Dedup.MaxDf), 1L).otherwise(0L)).as("mid"),
        sum(when(col("df") > Dedup.MaxDf, 1L).otherwise(0L)).as("stop"),
        max("df").as("maxdf")).head()
      // Stored-index fan-in + the aggregator's state bound: every stored
      // bucket must hold <= MaxDf + 1 ids no matter how hot the key.
      val idx = scratch("growth-idx", sfDir, mult, tag)
      val tB = System.nanoTime()
      IndexStore.savePairIndex(docs, idx)
      val buildSec = (System.nanoTime() - tB) / 1e9
      val all = spark.read.parquet(s"$idx/pairs/buckets")
      val boundRow = all.agg(max(size(col("ds"))).as("m")).head()
      val stateBound = boundRow.getInt(0)
      require(stateBound <= Dedup.MaxDf + 1,
        s"CappedSetAggregator state bound violated: $stateBound")
      val fanIn = IndexStore.loadPairBuckets(spark, idx)
        .agg(max(size(col("ds")))).head().getInt(0)
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val q22Sec = min3(() => Dedup.jaccardPairs(docs))
      val q22Pairs = Dedup.jaccardPairsFrom(
        IndexStore.loadPairBuckets(spark, idx)).count()
      val q118Sec = min3(() => Dedup.winnowPairs(docs))
      val q118Pairs = Dedup.winnowPairs(docs).count()
      println(f"""{"mode":"growth","corpus":"$tag","n":$n,"shingle_types":${dist.getLong(0)},"mid_band":${dist.getLong(1)},"stop_band":${dist.getLong(2)},"max_df":${dist.getLong(3)},"state_bound":$stateBound,"informative_fan_in":$fanIn,"build_sec":$buildSec%.1f,"q22_sec_min3":$q22Sec%.2f,"q22_pairs":$q22Pairs,"q118_sec_min3":$q118Sec%.2f,"q118_pairs":$q118Pairs}""")
    }
  }

  /** q148/q151 under natural vocabulary growth (growDocs — the fair-growth
    * corpus: the per-rep word-type map preserves every within-rep shared
    * run verbatim, while cross-rep runs need all CrossN words in the 30%
    * shared head, ~0.3^8 ≈ 7e-5 — so genuine duplicate-gram structure
    * grows ~linearly with mult). Measures the exact-substring family's
    * scale law: gram volume (linear in corpus words), dup-gram index size,
    * covered-start volume (one row per occurrence of a duplicated gram —
    * NEVER pairs, the shape that keeps a 10^6-copy run linear), q148 wall,
    * persisted-index build wall, and the per-batch strip wall of a
    * FIXED-size batch against base vs mult× standing indexes — the
    * incdedup flatness discipline (batches pay for the batch, not the
    * corpus). */
  def crossdocStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{Dedup, IndexStore}
    val bigDir = scratch("crossdoc", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        mk().queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.min
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val gr = Dedup.gramRows(docs)
      val occ = gr.count()
      val fd = gr.groupBy("gh")
        .agg(min("doc_id").as("first_doc"), count(lit(1)).as("cnt"))
      val stats = fd.agg(count(lit(1)).as("types"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_types"),
        max("cnt").as("max_occ")).head()
      val covStarts = gr.join(
          fd.filter(col("cnt") > 1).select("gh", "first_doc"), Seq("gh"))
        .filter(col("doc_id") > col("first_doc")).count()
      // Past the 100× decade: min-of-1 and no separate touched-count pass
      // (each is a full extra evaluation of a ~linear multi-minute query;
      // the phash32 rule — linearity is certified at 100×, the next
      // decade's question is the WALL and the batch-strip flatness).
      val big = mult > 100 && tag != "base"
      val touched =
        if (big) -1L
        else Dedup.crossdocStrip(docs).filter(col("n_removed") > 0).count()
      val qSec =
        if (big) {
          val t = System.nanoTime()
          Dedup.crossdocStrip(docs).queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        } else min3(() => Dedup.crossdocStrip(docs))
      // Fixed-size batch (the BASE corpus's doc_id % 10 slice, re-id'd
      // ABOVE the standing range so it arrives "later" and strips against
      // standing-held first occurrences) against this corpus's index.
      val idx = scratch("crossdoc-idx", sfDir, mult, tag)
      val tB = System.nanoTime()
      IndexStore.saveGramIndex(docs, idx)
      val buildSec = (System.nanoTime() - tB) / 1e9
      val idxRows = IndexStore.loadGramIndex(spark, idx).count()
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      val batchN = batch.count()
      val tS = System.nanoTime()
      val stripped = IndexStore.crossdocStripBatch(batch,
        IndexStore.loadGramIndex(spark, idx))
      val batchTouched = stripped.filter(col("n_removed") > 0).count()
      val stripSec = (System.nanoTime() - tS) / 1e9
      println(f"""{"mode":"crossdoc","corpus":"$tag","n":$n,"gram_occ":$occ,"gram_types":${stats.getLong(0)},"dup_types":${stats.getLong(1)},"max_occ":${stats.getLong(2)},"covered_starts":$covStarts,"docs_touched":$touched,"q148_sec_min3":$qSec%.2f,"index_build_sec":$buildSec%.1f,"index_grams":$idxRows,"batch_docs":$batchN,"batch_touched":$batchTouched,"batch_strip_sec":$stripSec%.1f}""")
    }
  }

  /** q136/q139 under natural vocabulary growth (growDocs — the fair-growth
    * corpus): signature-grid build wall, max band-bucket fan-in, candidate
    * and verified pair volume, q136 wall, and the per-batch
    * `phashDedupBatch` wall of a fixed-size batch against base vs mult×
    * standing indexes — the incdedup flatness discipline applied to the
    * media index (batches must pay for the batch, not the corpus). */
  def phashStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{IndexStore, Multimodal}
    val bigDir = scratch("phash", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        mk().queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.min
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val idx = scratch("phash-idx", sfDir, mult, tag)
      val tB = System.nanoTime()
      IndexStore.savePhashIndex(docs, idx)
      val buildSec = (System.nanoTime() - tB) / 1e9
      // VERDICT r14 #1: phash builds used to funnel through <= 17 pfx
      // writer tasks; the widened writer must track the shuffle conf.
      val buildTasks = writerTasks(s"$idx/phash/bands")
      val bands = IndexStore.loadPhashBands(spark, idx)
      val fanIn = bands.groupBy("bi", "key").count()
        .agg(max("count")).head().getLong(0)
      // cand_pairs: the RAW uncapped band-join volume (the r10 number — the
      // quadratic cliff this stress exists to watch); cand_capped: what the
      // r11 engine path actually generates after hot buckets re-block
      // recursively (exact — the pair count must not move). The raw count
      // is an AUDIT frame, quadratic by definition — at the 1000× decade
      // it would be ~2×10^9 joined rows, so it is skipped there (-1): the
      // engine path never generates it, and re-measuring a known-quadratic
      // baseline at every decade is wasted compute (the phash32 rule).
      val cand =
        if (mult > 100 && tag != "base") -1L
        else bands.select(col("doc_id"), col("bi"), col("key")).as("x")
          .join(bands.select(col("doc_id").as("b"), col("bi"), col("key")).as("y"),
            Seq("bi", "key"))
          .filter(col("doc_id") < col("b"))
          .select(col("doc_id"), col("b")).distinct().count()
      val candCapped = Multimodal.phashCandidates(
          bands.select("doc_id", "pixels", "bi", "key"))
        .select("a", "b").distinct().count()
      val sat = IndexStore.phashIndexSaturation(spark, idx).head()
      val pairs = IndexStore.phashPairsFrom(spark, idx).count()
      // min-of-1 at the 1000× decade: a single q136 pass is ~minutes there
      // and the min-of-3 protocol buys nothing a ±10% read needs.
      val qSec =
        if (mult > 100 && tag != "base") {
          val t = System.nanoTime()
          Multimodal.phashPairs(Multimodal.phashGrid(docs).localCheckpoint(true))
            .queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        } else min3(() =>
          Multimodal.phashPairs(Multimodal.phashGrid(docs).localCheckpoint(true)))
      // Fixed-size batch (the BASE corpus's doc_id % 10 slice, rewritten to
      // fresh ids so it never id-collides with the standing corpus) deduped
      // against this corpus's standing index: per-batch wall must track the
      // BATCH, not the standing corpus size.
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", -col("doc_id") - 1)
      val tD = System.nanoTime()
      val verdicts = IndexStore.phashDedupBatch(batch, idx)
      val nDup = verdicts.filter(col("keep") === 0).count()
      val dedupSec = (System.nanoTime() - tD) / 1e9
      println(f"""{"mode":"phash","corpus":"$tag","n":$n,"build_sec":$buildSec%.1f,"build_writer_tasks":$buildTasks,"max_band_fan_in":$fanIn,"cand_pairs":$cand,"cand_capped":$candCapped,"hot_buckets":${sat.getLong(1)},"max_sub_fan_in":${sat.getLong(5)},"saturation":${sat.getDouble(6)}%.4f,"pairs":$pairs,"q136_sec_min3":$qSec%.2f,"batch_docs":${batch.count()},"batch_dups":$nDup,"batch_dedup_sec":$dedupSec%.1f}""")

      // q144's stress row (VERDICT r10 #2): collapse the pair graph via
      // components + provenance — the wall must track the PAIR graph (its
      // edges and the small component map), never the corpus beyond the
      // one metadata join.
      val tC = System.nanoTime()
      val nComp = Multimodal.phashConsolidate(docs).count()
      val consSec = (System.nanoTime() - tC) / 1e9
      println(f"""{"mode":"phashconsolidate","corpus":"$tag","n":$n,"components":$nComp,"wall_sec":$consSec%.1f}""")

      // The SCALE LEVER, measured two ways on the same corpus:
      // (a) "phash32" — the naive widening (32 bins, 8 bands of 4, tau
      //     scaled to 6/32 = 3/16): REJECTED by this data — ~190-gram
      //     docs starve 32 bins into shared '-' runs and band fan-in
      //     EXPLODES (169 vs 23 at base) — kept as the measured negative;
      // (b) "phashdeep" — depth 2 (16 bins × 2 hex chars, 4 bands of 8
      //     chars): same cells, same min-per-bin robustness, accidental
      //     cell agreement / band collisions drop ~16×/65536× — fan-in
      //     must collapse to the true-near-dup floor.
      // Cell Hamming for depth 2 compares 2-char groups as ONE cell.
      def variant(mode: String, bins: Int, depth: Int, bands: Int, tau: Int): Unit = {
        val cellW = (bins / bands) * depth
        val vGrid = docs
          .select(col("doc_id"), call_function("graft_phashsig",
            split(trim(col("text")), " "), lit(bins), lit(depth)).as("pixels"))
          .filter(col("pixels").isNotNull)
          .localCheckpoint(true)
        val vbx = vGrid.select(col("doc_id"), col("pixels"), explode(array(
          (0 until bands).map(k => struct(lit(k).as("bi"),
            expr(s"substring(pixels, ${k * cellW + 1}, $cellW)").as("key"))): _*)).as("e"))
          .select(col("doc_id"), col("pixels"), col("e.bi").as("bi"), col("e.key").as("key"))
        val vFan = vbx.groupBy("bi", "key").count()
          .agg(max("count")).head().getLong(0)
        val vxa = vbx.toDF("a", "pa", "bi", "key")
        val vyb = vbx.toDF("b", "pb", "bi", "key")
        val vJoined = vxa.join(vyb, Seq("bi", "key")).filter(col("a") < col("b"))
        val vCand = vJoined.select("a", "b").distinct().count()
        val vPairs = vJoined
          .select(col("a"), col("b"), expr(
            s"""cast(aggregate(sequence(0, ${bins - 1}), 0, (acc, i) ->
               |  acc + if(substring(pa, i * $depth + 1, $depth) = substring(pb, i * $depth + 1, $depth), 0, 1)) AS bigint)""".stripMargin)
            .as("hamming"))
          .distinct()
          .filter(col("hamming") <= tau).count()
        println(s"""{"mode":"$mode","corpus":"$tag","n":$n,"max_band_fan_in":$vFan,"cand_pairs":$vCand,"pairs":$vPairs}""")
      }
      // The rejected design is measured at base scale only — its candidate
      // volume is known-quadratic on this corpus (9.9M pairs at 10×; the
      // 100× attempt ground into TaskMemoryManager page-allocation
      // pressure before finishing), and re-measuring a rejected variant at
      // every decade is wasted compute. The working lever runs everywhere.
      if (tag == "base") variant("phash32", bins = 32, depth = 1, bands = 8, tau = 6)
      // The deep variant's cand audit is the raw (uncapped) join — skip it
      // at the 1000× decade for the same reason as cand_pairs above.
      if (mult <= 100 || tag == "base")
        variant("phashdeep", bins = 16, depth = 2, bands = 4, tau = 3)

      // Depth-2 blocking recall calibration ON THE GROWTH CORPUS (VERDICT
      // r10 #6): q141 grades recall at base scale, depth 1 — but the
      // signature the next corpus decade deploys is (16, 2) (q142), so the
      // pigeonhole claim must be MEASURED where it will be used. The q141
      // machinery verbatim at depth 2: hash-sampled 10% anchors, truth
      // from single-CELL blocking (16 2-char cells find every sampled
      // pair at cell-Hamming <= 15), found = the 4 8-char-band blocking;
      // recall per cell-Hamming value — rows <= 3 must print 1.0 (the
      // deployed guarantee), the 4+ tail is what the band count buys.
      // Skipped at 100×: the truth side's single-cell buckets are the
      // calibration BUDGET, and 50k sampled anchors outgrow it — a
      // deployment calibrates on a fixed sample, not the corpus.
      if (tag == "base" || mult <= 10) {
        val deep = docs
          .select(col("doc_id"), call_function("graft_phashsig",
            split(trim(col("text")), " "), lit(16), lit(2)).as("pixels"))
          .filter(col("pixels").isNotNull)
          .filter(expr("graft_hash60(cast(doc_id AS string)) % 10 = 0"))
          .localCheckpoint(true)
        val px = deep.select(col("doc_id"), col("pixels"), explode(expr(
          "transform(sequence(0, 15), i -> struct(i AS pos, substring(pixels, i * 2 + 1, 2) AS pv))")).as("e"))
          .select(col("doc_id"), col("pixels"), col("e.pos").as("pos"), col("e.pv").as("pv"))
        val cellHam = expr(
          """cast(aggregate(sequence(0, 15), 0, (acc, i) ->
            |  acc + if(substring(pa, i * 2 + 1, 2) = substring(pb, i * 2 + 1, 2), 0, 1)) AS bigint)""".stripMargin)
        val truth = px.toDF("a", "pa", "pos", "pv")
          .join(px.toDF("b", "pb", "pos", "pv"), Seq("pos", "pv"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"), cellHam.as("hamming"))
          .distinct()
        val dbx = deep.select(col("doc_id"), explode(expr(
          "transform(sequence(0, 3), k -> struct(k AS bi, substring(pixels, k * 8 + 1, 8) AS key))")).as("e"))
          .select(col("doc_id"), col("e.bi").as("bi"), col("e.key").as("key"))
        val found = dbx.toDF("a", "bi", "key")
          .join(dbx.toDF("b", "bi", "key"), Seq("bi", "key"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct().withColumn("m", lit(1))
        val cal = truth.join(found, Seq("a", "b"), "left")
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"), count(col("m")).as("n_blocked"))
          .withColumn("recall", col("n_blocked") / col("n_pairs"))
          .orderBy("hamming")
          .collect()
          .map(r => f"""[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getDouble(3)}%.4f]""")
        println(s"""{"mode":"phashdeepcal","corpus":"$tag","n":$n,"rows_h_np_nb_recall":[${cal.mkString(",")}]}""")
      }
    }
  }

  def lsh(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("lsh", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val cand = operators.Dedup.lshCandidates(
        operators.Dedup.lshBands(operators.Dedup.minhashSignatures(docs)))
      val stats = cand.select(explode(array(col("a"), col("b"))).as("d"))
        .groupBy("d").count()
        .agg(coalesce(sum("count"), lit(0L)).as("cand2"),
          coalesce(max("count"), lit(0L)).as("maxPerDoc"))
        .head()
      val q23sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("q23_minhash_lsh")(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"mode":"lsh","corpus":"$tag","n":$n,"pairs":${stats.getLong(0) / 2},"pairs_per_doc":${stats.getLong(0).toDouble / n}%.2f,"max_per_doc":${stats.getLong(1)},"q23_sec_min3":$q23sec%.1f}""")
    }
  }

  /** Certify the q153-q157 eval family's bounded-state claim at mult×
    * docs: every member collapses the corpus into a catalog-sized
    * aggregate, so (a) the intermediate frames the windows see must stay
    * CONSTANT-sized as the corpus grows (binned_rows ≤ langs × AucBins,
    * manifest_rows = Shards × sources), and (b) walls must grow at most
    * linearly with the scan. A super-linear wall or a growing binned
    * frame means a window or join leaked onto raw docs. */
  def evalStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("eval", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      val binnedRows = operators.TextOps
        .qualityScored(Tables.load(spark, dir, "documents"))
        .withColumn("b", least(floor(col("score") * operators.Eval.AucBins),
          lit(operators.Eval.AucBins - 1L)).cast("long"))
        .groupBy("lang", "b").count().count()
      val manifestRows = SparkEntry.queries("q156_shard_manifest")(spark, dir).count()
      def min3(name: String): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"mode":"eval","corpus":"$tag","n":$n,"binned_rows":$binnedRows,"manifest_rows":$manifestRows,"q153_sec":${min3("q153_score_auc")}%.2f,"q154_sec":${min3("q154_score_calibration")}%.2f,"q155_sec":${min3("q155_filter_agreement")}%.2f,"q156_sec":${min3("q156_shard_manifest")}%.2f,"q157_sec":${min3("q157_score_drift")}%.2f}""")
    }
  }

  /** Certify the q186-q190 placement/layout tables at mult× docs: all
    * five are one-scan operators whose walls must track the scan
    * linearly, and whose decision invariants must HOLD at scale —
    * rendezvous movement stays ≈ 1/RvNew of the corpus (per-row argmax,
    * no state), the z census keeps every probe ≤ 4 ranges (a bit-
    * structure fact, corpus-size-free), and q188's per-(epoch, shard)
    * sort — the one corpus-sized sort in the family, the operator's
    * output contract — must not super-linearize (shard partitions grow
    * with docs here because Shards is fixed; production grows the shard
    * count with the fleet instead). */
  def placementStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("placement", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      def min3(name: String): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val rv = SparkEntry.queries("q186_rendezvous_reshard")(spark, dir)
        .agg(sum("moved_hrw"), sum("n_docs")).head()
      val hrwPm = rv.getLong(0) * 1000 / rv.getLong(1)
      val sq = SparkEntry.queries("q188_shuffle_quality")(spark, dir)
        .agg(max("n_pairs"), max(expr("abs(shuffled_permille - expected_permille)")))
        .head()
      val zMax = SparkEntry.queries("q189_zorder_prune")(spark, dir)
        .agg(max("z_ranges")).head().getLong(0)
      println(f"""{"mode":"placement","corpus":"$tag","n":$n,"hrw_permille":$hrwPm,"n_pairs":${sq.getLong(0)},"max_perm_dev":${sq.getLong(1)},"max_z_ranges":$zMax,"q186_sec":${min3("q186_rendezvous_reshard")}%.2f,"q188_sec":${min3("q188_shuffle_quality")}%.2f,"q189_sec":${min3("q189_zorder_prune")}%.2f,"q190_sec":${min3("q190_pack_sweep")}%.2f}""")
    }
  }

  def curate(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("curate", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    // Held-out eval set for the 7-stage chain's decontamination: the sf
    // corpus's first docs (same at both scales, like incdedup's batch).
    val benchPq = scratch("curate-bench", sfDir, mult)
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 10).write.mode("overwrite").parquet(benchPq)
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val out = scratch("curate-out", sfDir, mult, tag)
      val t0 = System.nanoTime()
      val stats = Curate.run(spark, dir, out, 2048L)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"mode":"curate","corpus":"$tag","stages":5,"sec":$sec%.1f,"stats":$stats}""")
      val out7 = scratch("curate7-out", sfDir, mult, tag)
      val t1 = System.nanoTime()
      val stats7 = Curate.run(spark, Curate.Config(dir, out7,
        stripBoilerplate = true, benchPath = Some(benchPq)))
      val sec7 = (System.nanoTime() - t1) / 1e9
      println(f"""{"mode":"curate","corpus":"$tag","stages":7,"sec":$sec7%.1f,"stats":$stats7}""")
      // Full 8-stage chain: + q103's within-doc self-rep strip between the
      // cross-doc strip and near-dup (r9; the q103 stage stress row).
      val out8 = scratch("curate8-out", sfDir, mult, tag)
      val t2 = System.nanoTime()
      val stats8 = Curate.run(spark, Curate.Config(dir, out8,
        stripBoilerplate = true, stripSelfrep = true, benchPath = Some(benchPq)))
      val sec8 = (System.nanoTime() - t2) / 1e9
      println(f"""{"mode":"curate","corpus":"$tag","stages":8,"sec":$sec8%.1f,"stats":$stats8}""")
      // Full 9-stage chain (r12): + q148's span-granular cross-doc strip
      // after the near-dup keep-set — the complete production pipeline.
      val out9 = scratch("curate9-out", sfDir, mult, tag)
      val t3 = System.nanoTime()
      val stats9 = Curate.run(spark, Curate.Config(dir, out9,
        stripBoilerplate = true, stripSelfrep = true, stripCrossdoc = true,
        benchPath = Some(benchPq)))
      val sec9 = (System.nanoTime() - t3) / 1e9
      println(f"""{"mode":"curate","corpus":"$tag","stages":9,"sec":$sec9%.1f,"stats":$stats9}""")
    }
  }

  def editDedup(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("editdedup", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir, 1), (s"${mult}x", bigDir, mult)).foreach { case (tag, dir, m) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      // Same sibling split as annKnn: copies of one parent share the
      // parent's (rare) vocabulary, so they collide on shingles far more
      // often than cross-parent docs — that growth is corpus content, not
      // blocking decay. The linearity certificate is the CROSS rate.
      val gated = operators.Dedup.interPairs(docs)
        .filter(col("inter") >= operators.Dedup.EditMinInter)
        .withColumn("sib", expr(s"(a div $m) = (b div $m)"))
      val stats = gated
        .select(col("sib"), explode(array(col("a"), col("b"))).as("d"))
        .groupBy("d").agg(count(lit(1)).as("c"),
          sum(when(col("sib"), 1L).otherwise(0L)).as("sibc"))
        .agg(coalesce(sum("c"), lit(0L)).as("cand2"),
          coalesce(sum("sibc"), lit(0L)).as("sib2"),
          coalesce(max("c"), lit(0L)).as("maxPerDoc"))
        .head()
      val xPerDoc = (stats.getLong(0) - stats.getLong(1)).toDouble / n
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("q91_edit_distance")(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"mode":"editdedup","corpus":"$tag","n":$n,"gated_pairs":${stats.getLong(0) / 2},"pairs_per_doc":${stats.getLong(0).toDouble / n}%.2f,"xpairs_per_doc":$xPerDoc%.2f,"max_per_doc":${stats.getLong(2)},"q91_sec_min3":$sec%.1f}""")
    }
  }

  /** The persisted pair-index claim, measured: the audit family's wall is
    * the index floor + the (cheap) pair scan, so an audit over the SAVED
    * bucket table should cost only the scan. Reports the one-time build
    * wall, the in-query jaccardPairs wall, and the from-store wall at 1x
    * and <mult>x. */
  /** q101's production-form certificate (VERDICT r8 #1/#6): materialize two
    * on-disk snapshot manifests with the q101 refresh arithmetic at 1x and
    * <mult>x docs, then measure the diff wall (a) over plain-parquet
    * manifests — the join must shuffle both sides by doc_id — and (b) over
    * bucketed-at-rest manifests via `snapshotDiff` — the join is
    * exchange-free (SnapshotDiffSpec pins the plan; this mode measures what
    * the pin buys). The diff cost growing ~linearly with docs, and bucketed
    * ≤ unbucketed, is the 100 TB story: the nightly refresh audit never
    * re-shuffles the corpus. */
  def snapDiff(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("snapdiff", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val flatA = scratch("snapdiff-flat-a", sfDir, mult, tag)
      val flatB = scratch("snapdiff-flat-b", sfDir, mult, tag)
      val bukA = scratch("snapdiff-buk-a", sfDir, mult, tag)
      val bukB = scratch("snapdiff-buk-b", sfDir, mult, tag)
      operators.Dedup.snapshotDigest(docs)
        .write.mode("overwrite").parquet(flatA)
      operators.Dedup.snapshotDigest(operators.Dedup.simulateRefresh(docs))
        .write.mode("overwrite").parquet(flatB)
      val tW = System.nanoTime()
      operators.Dedup.writeSnapshot(docs, s"stress_snap_a_$tag", bukA)
      operators.Dedup.writeSnapshot(operators.Dedup.simulateRefresh(docs),
        s"stress_snap_b_$tag", bukB)
      val writeSec = (System.nanoTime() - tW) / 1e9
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val flatSec = min3(() => operators.Dedup.diffRollup(
        operators.Dedup.diffStatus(
          spark.read.parquet(flatA), spark.read.parquet(flatB))))
      val bukSec = min3(() =>
        operators.Dedup.snapshotDiff(spark, bukA, bukB))
      val changed = operators.Dedup.snapshotDiff(spark, bukA, bukB)
        .filter(col("status") =!= "unchanged")
        .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
      println(f"""{"mode":"snapdiff","corpus":"$tag","n":$n,"changed_docs":$changed,"bucketed_write_sec":$writeSec%.1f,"flat_diff_sec_min3":$flatSec%.2f,"bucketed_diff_sec_min3":$bukSec%.2f}""")
      Seq(s"stress_snap_a_$tag", s"stress_snap_b_$tag").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** q105's certificate: the bloom prefilter's value is the corpus-side
    * shuffle cut, and it GROWS with corpus/registry skew. The registry is
    * held at BASE size (the production shape — the benchmark registry does
    * not grow with the crawl) and prebuilt ONCE via
    * `buildDecontamRegistry` (its build cost is reported, not repeated);
    * the corpus inflates mult×. Reported per scale: decontam wall min-of-3
    * with the prefilter vs the plain exact join, and corpus shingle rows
    * entering the join each way — the volume a real cluster would not
    * shuffle. Both forms end in the same exact verify join, so their
    * outputs are identical by construction (BloomDecontamSpec pins it). */
  def bloomStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.Dedup
    val bigDir = scratch("bloom", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    val registry = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 4 === 0)
    val tB = System.nanoTime()
    val (reg, bf) = Dedup.buildDecontamRegistry(registry)
    val buildSec = (System.nanoTime() - tB) / 1e9
    val regRows = reg.count()
    def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        mk().queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.min
    // The synthetic testdata's fixed ~100-word vocabulary PACKS the 3-gram
    // space: ~91% of corpus shingle occurrences genuinely hit the
    // registry, so the prefilter can't cut much — selectivity, not the
    // mechanism, is corpus-dependent. The "-sparse" variant models the
    // production regime (a crawl's shingles are mostly novel to any
    // benchmark registry): 90% of docs get per-doc-suffixed words, leaving
    // ~10% of occurrences registry-visible.
    def corpusOf(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 4 =!= 0)
    val sparse10x = corpusOf(bigDir).withColumn("text",
      when(col("doc_id") % 10 === 0, col("text")).otherwise(expr(
        "array_join(transform(split(trim(text), ' '), x -> concat(x, '_', cast(doc_id % 97 AS string))), ' ')")))
    Seq(("base", corpusOf(sfDir)), (s"${mult}x", corpusOf(bigDir)),
        (s"${mult}x-sparse", sparse10x)).foreach { case (tag, corpus) =>
      val rawRows = Dedup.shinglesRaw(corpus).count()
      val passRows = Dedup.shinglesRaw(corpus)
        .filter(call_function("graft_might_contain", lit(bf), col("s")))
        .count()
      val bloomSec = min3(() => Dedup.bloomDecontamFrom(corpus, reg, bf))
      val plainSec = min3(() => Dedup.shinglesRaw(corpus)
        .join(reg, Seq("s"))
        .select("doc_id", "s").distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= Dedup.ContamK))
      println(f"""{"mode":"bloom","corpus":"$tag","registry_shingles":$regRows,"registry_build_sec":$buildSec%.2f,"corpus_shingle_rows":$rawRows,"prefilter_pass_rows":$passRows,"bloom_sec_min3":$bloomSec%.2f,"plain_sec_min3":$plainSec%.2f}""")
    }
  }

  /** q102's from-store certificate (VERDICT r8 #2): build the persisted
    * pair index at 1x and <mult>x docs, then measure provenance
    * consolidation in-query (re-mines pairs: the ~95% floor) vs
    * `consolidateFrom` off the store (pays only pair scan + CC + one
    * doc_id join). The from-store wall staying well under the in-query
    * wall at both scales is what the persisted index buys every repeat
    * consolidation. */
  def consolidate(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("consolidate", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val idx = scratch("consolidate-idx", sfDir, mult, tag)
      val t0 = System.nanoTime()
      operators.IndexStore.savePairIndex(docs, idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      // consolidate* run jobs during CONSTRUCTION (the CC rounds), so wall
      // wraps construction + materialization; min-of-3 as everywhere.
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val inQuery = min3(() => operators.Dedup.consolidate(docs))
      val fromStore = min3(() => operators.Dedup.consolidateFrom(
        operators.IndexStore.loadPairBuckets(spark, idx), docs))
      val nComp = operators.Dedup.consolidateFrom(
        operators.IndexStore.loadPairBuckets(spark, idx), docs).count()
      println(f"""{"mode":"consolidate","corpus":"$tag","n":$n,"components":$nComp,"build_sec":$buildSec%.1f,"inquery_sec_min3":$inQuery%.2f,"store_sec_min3":$fromStore%.2f}""")
    }
  }

  /** q160's scale certificate: HLL sketch accuracy + wall vs the exact
    * rollup countDistinct it replaces, at base and mult× (inflateDocs'
    * resampled vocabulary grows the distinct-gram population naturally).
    * Claims under test: register state stays ≤ langs × HllM rows at ANY
    * corpus size, every |rel_err| stays inside the m = 512 error band
    * (~3σ ≈ 14%), and the sketch wall tracks the SCAN while the exact
    * wall carries the corpus-wide distinct shuffle. */
  def hllStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("hll", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      def g() = operators.Audit.gram5(
        spark.read.parquet(s"$dir/documents.parquet"))
      def sketch() = {
        val reg = operators.Audit.hllRegisters(g(), "lang", "g")
        val all = reg.groupBy("idx").agg(max("r").as("r"))
          .select(lit("__all__").as("grp"), col("idx"), col("r"))
        operators.Audit.hllEstimate(reg.unionByName(all))
      }
      def exact() = g().rollup("lang").agg(countDistinct("g").as("n_exact"))
        .select(coalesce(col("lang"), lit("__all__")).as("grp"), col("n_exact"))
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val sketchSec = min3(() => sketch())
      val exactSec = min3(() => exact())
      val grams = g().count()
      val stateRows = operators.Audit.hllRegisters(g(), "lang", "g").count()
      val rows = sketch().join(exact(), Seq("grp"))
        .select(col("grp"), col("est"), col("n_exact"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      val (_, estAll, exAll) = rows.find(_._1 == "__all__").get
      val maxAbs = rows.map { case (_, e, x) => math.abs(e - x) / x }.max
      println(f"""{"mode":"hll","corpus":"$tag","docs":$n,"grams":$grams,"state_rows":$stateRows,"est_all":$estAll%.1f,"exact_all":$exAll,"rel_err_all":${(estAll - exAll) / exAll}%.4f,"max_abs_rel_err":$maxAbs%.4f,"sketch_sec_min3":$sketchSec%.2f,"exact_sec_min3":$exactSec%.2f}""")
    }
  }

  /** q178/q179's scale posture, measured: the persisted sketch store's
    * grids are CONSTANT-size across corpus decades (langs × 512
    * registers, ≤ sources × D·W cells), the one-time build tracks the
    * corpus scan, the standing cardinality report reads kilobytes
    * regardless of corpus size, and a crawl-batch append costs
    * batch-scan time (grids, not rows, cross the write). Uses the
    * hll-mode `inflateDocs` corpus: the resampled vocabulary grows the
    * distinct-gram population ~linearly, so register CONTENT moves while
    * the grid size cannot. */
  def sketchStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("sketch", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val store = scratch("sketchstore", sfDir, mult, tag)
      val t0 = System.nanoTime()
      operators.IndexStore.saveSketchIndex(docs, store)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val regRows = spark.read.parquet(s"$store/sketch/registers").count()
      val cellRows = spark.read.parquet(s"$store/sketch/cells").count()
      def report() = {
        val reg = operators.IndexStore.loadSketchRegisters(spark, store)
        val all = reg.groupBy("idx").agg(max("r").as("r"))
          .select(lit("__all__").as("grp"), col("idx"), col("r"))
        operators.Audit.hllEstimate(reg.unionByName(all))
      }
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val reportSec = min3(() => report())
      val estAll = report().filter(col("grp") === "__all__")
        .head().getDouble(2)
      // The crawl-loop update: one 500-doc batch re-landed as an append —
      // its cost is the batch scan plus three grid-sized writes.
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 500)
      val t1 = System.nanoTime()
      operators.IndexStore.appendSketchBatch(batch, store)
      val appendSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"mode":"sketch","corpus":"$tag","docs":$n,"build_sec":$buildSec%.1f,"register_rows":$regRows,"cell_rows":$cellRows,"report_sec_min3":$reportSec%.2f,"est_all":$estAll%.1f,"append_sec":$appendSec%.1f}""")
    }
  }

  /** The Merkle ledger's scale posture (q181–q184, `Snapshot merkle-*`),
    * measured across corpus decades: the one-time tree build tracks the
    * corpus scan and writes leaves at cluster width (`writerTasks` — the
    * widened-writer meter); the upper tree stays sub-linear (n/15–n/4,
    * see Merkle.scala); and the
    * three standing reads the family exists for — root fetch,
    * tree-vs-tree diff, probe verification — run store-only, so their
    * walls must track the TREE (hash rows), never corpus text. The
    * append row prices the crawl-loop update: batch-scan leaf digests
    * plus the sub-linear upper rebuild. */
  def merkleStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("merkle", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val store = scratch("merkletree", sfDir, mult, tag)
      val t0 = System.nanoTime()
      operators.IndexStore.saveMerkleTree(docs, store)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val leafTasks = writerTasks(s"$store/merkle/leaves")
      val nodeRows = spark.read.parquet(s"$store/merkle/nodes").count()
      val store2 = scratch("merkletree2", sfDir, mult, tag)
      operators.IndexStore.saveMerkleTree(
        operators.Dedup.simulateRefresh(docs), store2)
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val rootSec = min3(() =>
        operators.IndexStore.loadMerkleNodes(spark, store,
          operators.Merkle.Levels))
      def diff() = operators.Merkle.driftLevels(
        operators.IndexStore.loadMerkleLevels(spark, store),
        operators.IndexStore.loadMerkleLevels(spark, store2))
      val diffSec = min3(() => diff())
      val changed = diff().filter(col("level") === 0)
        .agg(sum("n_div")).head().getLong(0)
      def verify() = operators.Merkle.proofs(
        operators.Merkle.probePanel(docs),
        operators.IndexStore.loadMerkleLevels(spark, store))
      val verifySec = min3(() => verify())
      val probes = verify().count()
      // The production panel shape (VERDICT r15 #1): a fixed-size sample
      // instead of the corpus-fraction %ProbeMod set — this column is
      // the one that must stay FLAT across the decade while `probes`
      // (and verify_sec with it) grows with the corpus.
      val verify100Sec = min3(() => operators.Merkle.proofs(
        operators.Merkle.probeSample(docs, 100),
        operators.IndexStore.loadMerkleLevels(spark, store)))
      // Two monotone 500-doc appends price BOTH recompute paths on the
      // same store (the second batch's ids continue past the first's):
      // the default gate picks rebuild below TailMinLeafBytes and the
      // forced-tail column shows the flat-overhead path it switches to
      // past the crossover.
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      def idBatch(off: Long) = spark.read
        .parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(off))
      val t1 = System.nanoTime()
      val tailUsed =
        operators.IndexStore.appendMerkleBatch(idBatch(maxId + 1L), store)
      val appendSec = (System.nanoTime() - t1) / 1e9
      val ap = if (tailUsed) "tail" else "rebuild"
      val t2 = System.nanoTime()
      operators.IndexStore.appendMerkleBatch(idBatch(maxId + 1001L), store,
        tailMinLeafBytes = 0L)
      val appendTailSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"mode":"merkle","corpus":"$tag","docs":$n,"build_sec":$buildSec%.1f,"leaf_writer_tasks":$leafTasks,"node_rows":$nodeRows,"root_sec_min3":$rootSec%.2f,"diff_sec_min3":$diffSec%.2f,"changed_docs":$changed,"verify_sec_min3":$verifySec%.2f,"probes":$probes,"verify100_sec_min3":$verify100Sec%.2f,"append_default_sec":$appendSec%.1f,"append_default_path":"$ap","append_tail_sec":$appendTailSec%.1f}""")
    }
  }

  /** q165's scale split, measured: the pairwise source-overlap matrix
    * from sketches (registers once, pair math on the |sources| × m grid)
    * vs the exact pairwise intersection it replaces. The sketch wall
    * must track the SCAN; the exact wall carries distinct + a gram-keyed
    * pair join — and only the exact side grows past the decade (min-of-1
    * above base, the crossdoc/phash rule for redundant heavy passes). */
  def overlapStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("overlap", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      def minN(passes: Int)(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to passes).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val sketchSec = minN(3)(() =>
        operators.Audit.overlapSketch(spark.read.parquet(s"$dir/documents.parquet")))
      val exactPasses = if (tag == "base") 3 else 1
      val exactSec = minN(exactPasses)(() =>
        operators.Audit.overlapExact(spark.read.parquet(s"$dir/documents.parquet")))
      val joined = operators.Audit.overlapSketch(docs)
        .join(operators.Audit.overlapExact(docs), Seq("src_a", "src_b"))
        .select(col("est_a"), col("est_b"), col("est_union"),
          col("na"), col("nb"), col("inter_exact"))
        .collect()
      val errs = joined.map { r =>
        val (ea, eb, eu) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        val (na, nb, ix) = (r.getLong(3), r.getLong(4), r.getLong(5))
        val jEst = math.max(ea + eb - eu, 0.0) / eu
        val jEx = ix.toDouble / (na + nb - ix)
        math.abs(jEst - jEx)
      }
      println(f"""{"mode":"overlap","corpus":"$tag","docs":$n,"pairs":${joined.length},"max_jac_err":${errs.max}%.4f,"mean_jac_err":${errs.sum / errs.length}%.4f,"sketch_sec_min3":$sketchSec%.2f,"exact_sec_min$exactPasses":$exactSec%.2f}""")
    }
  }

  def pairAudit(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("pairaudit", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val idx = scratch("pairaudit-idx", sfDir, mult, tag)
      val t0 = System.nanoTime()
      operators.IndexStore.savePairIndex(docs, idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val inQuery = min3(() => operators.Dedup.jaccardPairs(docs))
      val fromStore = min3(() => operators.Dedup.jaccardPairsFrom(
        operators.IndexStore.loadPairBuckets(spark, idx)))
      val pairs = operators.Dedup.jaccardPairsFrom(
        operators.IndexStore.loadPairBuckets(spark, idx)).count()
      // Append the SAME fixed batch (re-keyed disjoint, as in incdedup) at
      // both corpus sizes. The merge is O(index) by design — the honest
      // comparison is against build_sec (the full text re-shingle), not
      // against the LSH family's file-append.
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", -col("doc_id") - 1)
      val tA = System.nanoTime()
      operators.IndexStore.appendPairBatch(batch, idx)
      val appendSec = (System.nanoTime() - tA) / 1e9
      println(f"""{"mode":"pairaudit","corpus":"$tag","n":$n,"pairs":$pairs,"build_sec":$buildSec%.1f,"inquery_sec_min3":$inQuery%.2f,"store_sec_min3":$fromStore%.2f,"append_sec":$appendSec%.1f}""")
    }
  }

  /** The winnow-index trade, measured: at-rest footprint (postings + bytes)
    * of the winnowed copy index vs the full shingle pair index over the
    * same corpus, plus build and store-audit walls. The claim under test is
    * winnowing's ~2/(W+1) selection rate surviving inflation — the at-rest
    * ratio is what decides whether a 100 TB copy index fits. */
  def winnowStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("winnow", sfDir, mult)
    inflateDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    def bytesUnder(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var total = 0L
      while (it.hasNext) total += it.next().getLen
      total
    }
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val idxW = scratch("winnow-idx", sfDir, mult, tag)
      val idxP = scratch("winnow-pairs-idx", sfDir, mult, tag)
      val t0 = System.nanoTime()
      operators.IndexStore.saveWinnowIndex(docs, idxW)
      val buildW = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      operators.IndexStore.savePairIndex(docs, idxP)
      val buildP = (System.nanoTime() - t1) / 1e9
      def postings(p: String): Long =
        spark.read.parquet(p).agg(sum(size(col("ds")))).head().getLong(0)
      val postW = postings(s"$idxW/winnow/buckets")
      val postP = postings(s"$idxP/pairs/buckets")
      val audit = (1 to 3).map { _ =>
        val t = System.nanoTime()
        operators.Dedup.winnowPairsFrom(
          operators.IndexStore.loadWinnowBuckets(spark, idxW))
          .queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.min
      val pairs = operators.Dedup.winnowPairsFrom(
        operators.IndexStore.loadWinnowBuckets(spark, idxW)).count()
      // Fixed batch (the sf corpus's %4 quarter, re-keyed disjoint) audited
      // against BOTH standing-corpus sizes: per-batch cost must track the
      // batch, not the standing corpus (the incdedup discipline).
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", -col("doc_id") - 1)
      val batchAudit = (1 to 3).map { _ =>
        val t = System.nanoTime()
        operators.IndexStore.winnowAuditBatch(batch, idxW)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }.min
      val batchPairs = operators.IndexStore.winnowAuditBatch(batch, idxW).count()
      println(f"""{"mode":"winnow","corpus":"$tag","n":$n,"winnow_postings":$postW,"shingle_postings":$postP,"postings_ratio":${postW.toDouble / postP}%.3f,"winnow_bytes":${bytesUnder(idxW)},"pair_bytes":${bytesUnder(idxP)},"build_winnow_sec":$buildW%.1f,"build_pairs_sec":$buildP%.1f,"audit_sec_min3":$audit%.2f,"pairs":$pairs,"batch_audit_sec_min3":$batchAudit%.2f,"batch_pairs":$batchPairs}""")
    }
  }

  def incDedup(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.IndexStore
    // Fixed batch at BOTH corpus sizes: the sf corpus's % 4 == 0 docs,
    // re-keyed to negative ids so they're disjoint from any inflated id.
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 4 === 0)
      .withColumn("doc_id", -col("doc_id") - 1)
      .localCheckpoint(true)
    val nBatch = batch.count()
    Seq(("base", 1), (s"${mult}x", mult)).foreach { case (tag, m) =>
      val corpus = inflateDocs(spark, sfDir, m)
      val n = corpus.count()
      val idx = scratch("incdedup-idx", sfDir, m)
      val t0 = System.nanoTime()
      IndexStore.saveLshIndex(corpus, idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val batchSec = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        IndexStore.incrementalDedup(batch,
            IndexStore.loadLshBands(spark, idx),
            IndexStore.loadLshShingles(spark, idx))
          .queryExecution.toRdd.count()
        (System.nanoTime() - t1) / 1e9
      }.min
      val dups = IndexStore.incrementalDedup(batch,
          IndexStore.loadLshBands(spark, idx),
          IndexStore.loadLshShingles(spark, idx))
        .filter(col("keep") === 0).count()
      println(f"""{"mode":"incdedup","corpus":"$tag","n":$n,"batch":$nBatch,"build_sec":$buildSec%.1f,"batch_sec_min3":$batchSec%.1f,"dups":$dups}""")
    }
  }

  def ivfSearch(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{IndexStore, Vectors}
    val bigDir = scratch("ivfsearch", sfDir, mult)
    inflate(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/embeddings.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val emb = Vectors.withNormalized(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("en"))
      val n = emb.count()
      val idx = scratch("ivfsearch-idx", sfDir, mult, tag)
      val t0 = System.nanoTime()
      IndexStore.saveIvfIndex(emb, idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val searchSec = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        IndexStore.searchIvf(spark, idx, 0L, 5).queryExecution.toRdd.count()
        (System.nanoTime() - t1) / 1e9
      }.min
      val probedSec = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        IndexStore.searchIvfProbed(spark, idx, 0L, 5).queryExecution.toRdd.count()
        (System.nanoTime() - t1) / 1e9
      }.min
      println(f"""{"mode":"ivfsearch","corpus":"$tag","n":$n,"build_sec":$buildSec%.1f,"search_sec_min3":$searchSec%.2f,"probed_sec_min3":$probedSec%.2f}""")
    }
  }

  def pqSearch(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{IndexStore, Vectors}
    val bigDir = scratch("pq", sfDir, mult)
    inflate(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/embeddings.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val emb = Vectors.withNormalized(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("en"))
      val n = emb.count()
      val idx = scratch("pq-idx", sfDir, mult, tag)
      val t0 = System.nanoTime()
      IndexStore.savePqIndex(emb, idx)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val searchSec = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        IndexStore.searchPq(emb, idx, 0L, 5).queryExecution.toRdd.count()
        (System.nanoTime() - t1) / 1e9
      }.min
      val got = IndexStore.searchPq(emb, idx, 0L, 5)
        .collect().map(_.getLong(0)).toSet
      val qn = emb.filter(col("vec_id") === 0L).limit(1)
        .select(col("en").as("qn"))
      val exact = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qn))
        .select(col("vec_id"), Vectors.dot(col("en"), col("qn")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
        .collect().map(_.getLong(0)).toSet
      val recall = (got intersect exact).size / 5.0
      // IVFPQ: the same codes routed through coarse cells — the probed
      // search reads ~probe/cells of the code table instead of all of it.
      val t2 = System.nanoTime()
      IndexStore.saveIvfPqIndex(emb, idx)
      val ivfpqBuildSec = (System.nanoTime() - t2) / 1e9
      val probedSec = (1 to 3).map { _ =>
        val t3 = System.nanoTime()
        IndexStore.searchIvfPq(emb, idx, 0L, 5, probeCoarse = 3)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t3) / 1e9
      }.min
      val probedGot = IndexStore.searchIvfPq(emb, idx, 0L, 5, probeCoarse = 3)
        .collect().map(_.getLong(0)).toSet
      val probedRecall = (probedGot intersect exact).size / 5.0
      // Probed-partition accounting (VERDICT r10 #4): how many coarse-cell
      // partitions the IVFPQ search touches, of how many, and the code
      // rows actually read — the per-query read fraction that must SHRINK
      // as the corpus decade grows (cells scale ~ sqrt N, probed stays 3).
      val codeCells = spark.read.parquet(s"$idx/ivfpq/codes")
        .select(col("ccid").cast("long").as("ccid"))
      val totalCells = codeCells.select("ccid").distinct().count()
      val coarseArr = spark.read.parquet(s"$idx/ivfpq/coarse")
      val topc = emb.filter(col("vec_id") === 0L).limit(1)
        .select(col("en").as("qn"))
        .crossJoin(broadcast(coarseArr))
        .select(col("qn"), explode(col("cc")).as("c"))
        .select(col("c.ccid").as("ccid"),
          Vectors.dot(col("qn"), col("c.cn")).as("csim"))
        .orderBy(col("csim").desc, col("ccid")).limit(3).select("ccid")
      val probedRows = codeCells.join(broadcast(topc), Seq("ccid")).count()
      println(f"""{"mode":"pq","corpus":"$tag","n":$n,"build_sec":$buildSec%.1f,"search_sec_min3":$searchSec%.2f,"recall5":$recall%.1f,"ivfpq_build_sec":$ivfpqBuildSec%.1f,"probed_sec_min3":$probedSec%.2f,"probed_recall5":$probedRecall%.1f,"cells":$totalCells,"probed_cells":3,"probed_rows":$probedRows,"read_frac":${probedRows.toDouble / n}%.4f}""")
    }
  }

  def annKnn(spark: SparkSession, sfDir: String, mult: Int,
      decor: Boolean = false): Unit = {
    val bigDir = scratch(if (decor) "annknn-decor" else "annknn", sfDir, mult)
    (if (decor) inflateDecor(spark, sfDir, mult) else inflate(spark, sfDir, mult))
      .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")
    Seq(("base", sfDir, 1), (s"${mult}x", bigDir, mult)).foreach { case (tag, dir, m) =>
      val raw = Tables.embeddings(spark, dir)
      val n = raw.count()
      val emb = operators.Vectors.withNormalized(raw).select(col("vec_id"), col("en"))
      val cand = operators.Vectors
        .srpCandidates(emb, operators.Vectors.srpParams(raw))
        .withColumn("sib", expr(s"(a div $m) = (b div $m)"))
      // Sibling pairs (same inflation parent, cos ≈ 0.9 by construction)
      // are TRUE near-duplicates the index is supposed to surface — their
      // per-vector count grows with mult because the corpus really does
      // contain mult-1 near-dups per vector (recall, not blocking decay).
      // The blocking-linearity certificate is the CROSS-parent rate: at a
      // bucket-healthy r it stays near the base rate at any corpus size.
      val stats = cand
        .select(col("sib"), explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"),
          sum(when(col("sib"), 1L).otherwise(0L)).as("sibc"))
        .agg(sum("c").as("cand2"), sum("sibc").as("sib2"),
          max("c").as("maxPerVec"))
        .head()
      val pairs = stats.getLong(0) / 2
      val perVec = stats.getLong(0).toDouble / n
      val xPerVec = (stats.getLong(0) - stats.getLong(1)).toDouble / n
      val q59sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("q59_ann_knn_join")(spark, dir)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"mode":"annknn","corpus":"$tag","n":$n,"pairs":$pairs,"pairs_per_vec":$perVec%.1f,"xpairs_per_vec":$xPerVec%.1f,"max_per_vec":${stats.getLong(2)},"q59_sec_min3":$q59sec%.1f}""")
    }
  }

  /** Decade walls for the r13 audit heavies (VERDICT r13 #3) under
    * natural vocabulary growth (growDocs): q166's exact four-width curve
    * vs its sketch production half (the wall ratio that justifies running
    * the sketch alone past certification), q167's in-query matrix vs the
    * provenance-store build/read split (q171's crawl-loop economics: the
    * build is the one corpus gram scan, the read is catalog-sized), and
    * the q170/q172 authority iteration — wall, node count, edge-frame
    * size (the |sources|² bound) — plus a SKEWED twin where one source
    * absorbs half the corpus, so the bound is certified off the
    * near-uniform test distribution, not by it. Exact heavies run
    * min-of-1 above base (the crossdoc rule). */
  def provenanceStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{Audit, IndexStore}
    val bigDir = scratch("prov", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      def load() = spark.read.parquet(s"$dir/documents.parquet")
      val n = load().count()
      val passes = if (tag == "base") 3 else 1
      def minN(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to passes).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val curveExactSec = minN(() => Audit.noveltyOcc(load())
        .groupBy("n", "gh")
        .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("nd"))
        .groupBy("n")
        .agg(sum("cnt").as("total_occ"), count(lit(1)).as("n_distinct"),
          sum(when(col("nd") > 1, col("cnt")).otherwise(0L)).as("crossdoc_occ")))
      val curveSketchSec = minN(() => Audit.noveltySketch(load()))
      val matrixSec = minN(() => Audit.shadowMatrix(load()))
      val idx = scratch("prov-idx", sfDir, mult, tag)
      val tB = System.nanoTime()
      IndexStore.saveProvenanceIndex(load(), idx)
      val buildSec = (System.nanoTime() - tB) / 1e9
      // VERDICT r14 #1 meter: how many write-stage tasks produced the
      // postings table (part-file task ids — see writerTasks). At the
      // session conf this tracks spark.sql.shuffle.partitions; the WIDE
      // twin re-runs the same build at a 128-way conf to show the old
      // <= 64 pfx funnel is gone (writer width follows the knob, the
      // partitionBy layout and read paths unchanged).
      val buildTasks = writerTasks(s"$idx/grams/postings")
      val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val idxWide = scratch("prov-idx-wide", sfDir, mult, tag)
      val tW = System.nanoTime()
      IndexStore.saveProvenanceIndex(load(), idxWide)
      val buildWideSec = (System.nanoTime() - tW) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
      val buildWideTasks = writerTasks(s"$idxWide/grams/postings")
      val storeSec = minN(() => IndexStore.shadowMatrixFrom(spark, idx))
      // Authority runs its barrier'd rounds at plan construction — time
      // construction + materialize as one wall (what a caller pays).
      def rankWall(edges: org.apache.spark.sql.DataFrame,
          nodes: org.apache.spark.sql.DataFrame): Double = {
        val t = System.nanoTime()
        Audit.authority(edges, nodes).queryExecution.toRdd.count()
        (System.nanoTime() - t) / 1e9
      }
      val edges = IndexStore.shadowMatrixFrom(spark, idx)
        .select(col("src_later").as("src"), col("src_first").as("dst"),
          col("n_grams").as("w"))
        .localCheckpoint(true)
      val nEdges = edges.count()
      val nodes = IndexStore.loadDocSources(spark, idx)
        .select("source").distinct().localCheckpoint(true)
      val nSrc = nodes.count()
      val authSec = rankWall(edges, nodes)
      // Skew twin: source 'mega' owns every even doc (half the corpus),
      // 64 slim sources share the rest — same gram structure, maximally
      // lopsided edge weights. Edge count stays ≤ |sources|² = 65².
      val skew = load().withColumn("source",
        when(col("doc_id") % 2 === 0, lit("mega"))
          .otherwise(concat(lit("s"), (col("doc_id") % 64).cast("string"))))
        .localCheckpoint(true)
      val edgesSk = Audit.shadowMatrix(skew)
        .select(col("src_later").as("src"), col("src_first").as("dst"),
          col("n_grams").as("w"))
        .localCheckpoint(true)
      val nEdgesSk = edgesSk.count()
      val authSkSec = rankWall(edgesSk, skew.select("source").distinct())
      println(f"""{"mode":"provenance","corpus":"$tag","docs":$n,"curve_exact_sec_min$passes":$curveExactSec%.2f,"curve_sketch_sec_min$passes":$curveSketchSec%.2f,"matrix_sec_min$passes":$matrixSec%.2f,"index_build_sec":$buildSec%.1f,"build_writer_tasks":$buildTasks,"index_build_wide_sec":$buildWideSec%.1f,"build_wide_writer_tasks":$buildWideTasks,"matrix_store_sec_min$passes":$storeSec%.2f,"sources":$nSrc,"edges":$nEdges,"rounds":${Audit.RankRounds},"authority_sec":$authSec%.2f,"skew_sources":65,"skew_edges":$nEdgesSk,"skew_authority_sec":$authSkSec%.2f}""")
    }
  }

  /** q174's decade row (VERDICT r14 #5): BPE vocabulary learning at base
    * and mult× under NATURAL growth (growDocs adds new vocab, the fair
    * twin). The corpus is touched once — the word-frequency aggregation;
    * all BpeRounds merge rounds then run on the vocab-sized frame, so the
    * wall must track the SCAN while per-round cost tracks the VOCAB
    * (reported separately: rounds_sec = wall minus the scan-equivalent
    * word-count pass, vocab = distinct words). */
  def bpeStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.TextOps
    val bigDir = scratch("bpe", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val words = docs
        .select(explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val tS = System.nanoTime()
      val vocab = words.groupBy("w").count().count()
      val scanSec = (System.nanoTime() - tS) / 1e9
      val t = System.nanoTime()
      val rows = TextOps.bpeMerges(docs).orderBy("rnd").collect()
      val wallSec = (System.nanoTime() - t) / 1e9
      val last = rows.last
      // The tokenizer-scale fast path (VERDICT r15 #2): one collected
      // vocab table, in-JVM merge loop. Graded-depth prefix must match
      // the distributed learner row-for-row; the deep run then learns to
      // a production merge budget (or pair exhaustion) in ONE Spark job —
      // its wall is the scan plus vocab-sized driver arithmetic,
      // corpus-independent past the scan.
      val tL = System.nanoTime()
      val local10 = TextOps.bpeMergesLocal(docs).orderBy("rnd").collect()
      val local10Sec = (System.nanoTime() - tL) / 1e9
      val prefixOk = local10.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq
      val deepBudget = 2000
      val tD = System.nanoTime()
      val deep = TextOps.bpeMergesLocal(docs, deepBudget).orderBy("rnd").collect()
      val deepSec = (System.nanoTime() - tD) / 1e9
      println(f"""{"mode":"bpe","corpus":"$tag","docs":$n,"vocab":$vocab,"rounds":${rows.length},"scan_sec":$scanSec%.2f,"wall_sec":$wallSec%.2f,"rounds_sec":${wallSec - scanSec}%.2f,"final_merge":"${last.getString(1)}+${last.getString(2)}","final_n_tokens":${last.getLong(4)},"local10_sec":$local10Sec%.2f,"local_prefix_match":$prefixOk,"deep_budget":$deepBudget,"deep_merges":${deep.length},"deep_sec":$deepSec%.2f}""")
    }
  }

  /** The q195–q198 LM/corpus-statistics family under natural vocabulary
    * growth (growDocs — the `growth` twin where suffixed words genuinely
    * widen the vocab, so the bigram TYPE table — the artifact every leg
    * past the scan runs on — grows too): walls and artifact sizes for the
    * KN table build, the held-out scoring pass, the collocation lift
    * table, and the Zipf rank audit, at base and mult×. The 100 TB claim
    * under test: the corpus pays ONE pair/word scan per query and
    * everything else is vocab²-bounded, so walls track the scan (linear)
    * while the served grids stay artifact-sized. Measured via the graded
    * SparkEntry plans themselves with the toRdd.count() discipline. */
  def lmStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val bigDir = scratch("lm", sfDir, mult)
    growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val vocab = docs
        .select(explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "").distinct().count()
      def wall(q: String): (Double, Long) = {
        val t = System.nanoTime()
        val rows = SparkEntry.queries(q)(spark, dir)
          .queryExecution.toRdd.count()
        ((System.nanoTime() - t) / 1e9, rows)
      }
      val (tblSec, tblRows) = wall("q195_kn_bigram")
      val (scSec, scRows) = wall("q196_lm_doc_score")
      val (liftSec, liftRows) = wall("q197_collocations")
      val (zipfSec, zipfRows) = wall("q198_zipf_audit")
      println(f"""{"mode":"lm","corpus":"$tag","docs":$n,"vocab":$vocab,"kn_table_rows":$tblRows,"kn_table_sec":$tblSec%.2f,"score_docs":$scRows,"score_sec":$scSec%.2f,"lift_rows":$liftRows,"lift_sec":$liftSec%.2f,"zipf_rows":$zipfRows,"zipf_sec":$zipfSec%.2f}""")
    }
  }

  /** q173's decade certificate (VERDICT r13 #4): documents and embeddings
    * inflated TOGETHER (growDocs / jittered inflate), the IVFPQ store
    * built on the big corpus, then the from-store fused pipeline measured
    * end-to-end and the dense-from-store leg audited for mean
    * recall@RetrK against the exact flat ranking on the SAME corpus — the
    * re-rank-depth-at-scale rule (CLAUDE.md): any top-k-then-refine
    * operator gets its recall re-measured at ≥10× its calibration scale,
    * where duplicate clusters widen the approx-score ties. */
  def fusionStress(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import operators.{IndexStore, TextOps, Vectors}
    val bigDir = scratch("fusion", sfDir, mult)
    // Past the 100× decade the question is the DENSE leg (the r13
    // re-rank-depth audit regime: 1000×-wide duplicate clusters) — the
    // sparse pipeline's own decades are q110/crossdoc's table; skip the
    // 5M-doc sparse wall rather than measure it redundantly (the
    // crossdoc big-corpus rule).
    val big = mult > 100
    if (!big) growDocs(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/documents.parquet")
    inflate(spark, sfDir, mult).write.mode("overwrite")
      .parquet(s"$bigDir/embeddings.parquet")
    Seq(("base", sfDir), (s"${mult}x", bigDir)).foreach { case (tag, dir) =>
      val emb = Vectors.withNormalized(Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("en"))
      val n = emb.count()
      val idx = scratch("fusion-idx", sfDir, mult, tag)
      val tB = System.nanoTime()
      IndexStore.saveIvfPqIndex(emb, idx)
      val buildSec = (System.nanoTime() - tB) / 1e9
      def min3(mk: () => org.apache.spark.sql.DataFrame): Double =
        (1 to 3).map { _ =>
          val t = System.nanoTime()
          mk().queryExecution.toRdd.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val denseProbedSec = min3(() =>
        IndexStore.denseRankedFrom(emb, idx, probeCoarse = 3))
      val denseAllSec = min3(() =>
        IndexStore.denseRankedFrom(emb, idx, probeCoarse = 1000000))
      val fusedSec =
        if (big && tag != "base") -1.0
        else min3(() =>
          Vectors.rrfFused(TextOps.sparseRanked(spark, dir),
            IndexStore.denseRankedFrom(emb, idx, probeCoarse = 3)))
      def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val exact = hits(Vectors.denseRanked(spark, dir))
      def recall(df: org.apache.spark.sql.DataFrame): Double = {
        val got = hits(df)
        exact.map { case (q, ex) =>
          (got.getOrElse(q, Set.empty) intersect ex).size.toDouble / ex.size
        }.sum / exact.size
      }
      val recallAll = recall(
        IndexStore.denseRankedFrom(emb, idx, probeCoarse = 1000000))
      val recallProbed = recall(
        IndexStore.denseRankedFrom(emb, idx, probeCoarse = 3))
      val cells = spark.read.parquet(s"$idx/ivfpq/codes")
        .select(col("ccid")).distinct().count()
      println(f"""{"mode":"fusion","corpus":"$tag","n":$n,"cells":$cells,"build_sec":$buildSec%.1f,"dense_probed_sec_min3":$denseProbedSec%.2f,"dense_all_sec_min3":$denseAllSec%.2f,"fused_probed_sec_min3":$fusedSec%.2f,"recall_all":$recallAll%.2f,"recall_probed3":$recallProbed%.2f}""")
    }
  }
}
