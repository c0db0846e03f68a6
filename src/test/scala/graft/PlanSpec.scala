package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the 100 TB properties (filter pushdown, broadcast
  * dimension joins, map-side partial aggregation, bounded shuffle counts,
  * no windows on hot paths) are pinned as tests so a regression in plan
  * quality fails CI, not a profile. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Static plan with AQE off — AdaptiveSparkPlanExec hides its tree until
    * execution; the properties asserted here are planning-time facts. */
  private def collectAll[T](name: String)(pf: PartialFunction[Any, T]): Seq[T] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      p.collectWithSubqueries(
        pf.asInstanceOf[PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]])
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("filters reach the parquet scan (pushdown) for scan-shaped queries") {
    Seq("q04_filter_like", "q05_threshold_or", "q06_date_floor", "q08_point_lookup")
      .foreach { q =>
        val scans = collectAll(q) { case f: FileSourceScanExec => f }
        assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
          s"$q: no pushed filters on any scan")
      }
  }

  test("scans prune columns to the projected set") {
    val scans = collectAll("q04_filter_like") { case f: FileSourceScanExec => f }
    val read = scans.head.metadata("ReadSchema")
    assert(!read.contains("c_address") && !read.contains("c_comment"),
      s"unpruned scan: $read")
  }

  test("dimension joins broadcast (no sort-merge on small sides)") {
    Seq("q09_join_view", "q10_lookup_join", "q42_cwe_lookup").foreach { q =>
      assert(collectAll(q) { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$q: expected a broadcast hash join")
      assert(collectAll(q) { case j: SortMergeJoinExec => j }.isEmpty,
        s"$q: unexpected sort-merge join")
    }
  }

  test("aggregations run map-side partials before the exchange") {
    val aggs = collectAll("q11_agg_groupby") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    assert(collectAll("q11_agg_groupby") { case e: ShuffleExchangeExec => e }.nonEmpty)
  }

  test("q21 exact dedup is a single hash shuffle (plus the determinism sort)") {
    val hashShuffles = collectAll("q21_dedup_exact") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashShuffles.size === 1)
  }

  test("q34 IVF assignment is narrow: no window, no sort-merge, no corpus shuffle") {
    assert(collectAll("q34_ivf_ann") { case w: WindowExec => w }.isEmpty,
      "windowed argmax crept back in")
    assert(collectAll("q34_ivf_ann") { case j: SortMergeJoinExec => j }.isEmpty)
    assert(collectAll("q34_ivf_ann") {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty, "corpus must join its centroid cell by broadcast, not shuffle")
    // Hash exchanges may only move CENTROID rows (cid/cn/ccid); a corpus row
    // (vec_id, en) inside one means the corpus is being shuffled.
    val hashShuffles = collectAll("q34_ivf_ann") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    hashShuffles.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("vec_id"), s"corpus rows in a hash exchange: $names")
    }
  }

  test("q34 IVF centroids never concentrate in one row (two-level scale guard)") {
    // The fine level must be a multi-row keyed frame: one row per coarse
    // cell, each N^(1/4)-bounded — NOT a single collect_list of all ~sqrt(N)
    // centroids (a ~2 GB row at 10^11 vectors).
    val emb = graft.operators.Vectors.withNormalized(Tables.embeddings(spark, dir))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("en"))
    val (_, fineCells) = graft.operators.Vectors.ivfAssigned(emb)
    val cells = fineCells.select(
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("fc")).as("sz")).collect().map(_.getInt(0))
    assert(cells.length > 1, "all centroids in a single row/cell")
    assert(cells.max < cells.sum, "one cell holds every centroid")
  }

  test("q60 quality thresholds broadcast back over the corpus (no sort-merge)") {
    assert(collectAll("q60_quality_filter") { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "per-language threshold join must broadcast")
    assert(collectAll("q60_quality_filter") { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q58/q59 never plan an UNBOUNDED product (blocking stays equi-join)") {
    // A nested-loop join is O(N²) only if BOTH sides grow with the corpus.
    // The engine's idiom for in-plan parameters is crossJoin(broadcast(f))
    // where f is a 1-row frame (a grouping-free aggregate or a limit-1) —
    // bounded by construction. Forbid cartesian products outright and
    // require every BNLJ's build side to be provably 1-row.
    Seq("q58_dedup_keep", "q59_ann_knn_join", "q80_incremental_dedup",
        "q83_sq8_ann").foreach { q =>
      assert(collectAll(q) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q: cartesian product in the plan")
      collectAll(q) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        val oneRow = build.collect {
          case a: HashAggregateExec if a.groupingExpressions.isEmpty => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
            if a.groupingExpressions.isEmpty => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
            if a.groupingExpressions.isEmpty => a
          case l: org.apache.spark.sql.execution.GlobalLimitExec => l
          // A reused broadcast duplicates an exchange proven at its
          // original site — the first BNLJ over it already ran this check.
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
        }
        assert(oneRow.nonEmpty,
          s"$q: BNLJ build side is not a provably-1-row frame:\n$build")
      }
    }
  }

  test("q65 resampling is a pure narrow fan-out: no hash shuffle before the determinism sort") {
    val hashShuffles = collectAll("q65_mixture_resample") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty, "resampling must not shuffle — it is a predicate + bounded explode")
  }

  test("q82 boilerplate report plans as TakeOrderedAndProject, never a global sort") {
    assert(collectAll("q82_boilerplate") {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "top-20 report must be TakeOrderedAndProject")
    assert(collectAll("q82_boilerplate") {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, "a global sort of the n-gram table defeats the bounded report")
  }

  test("q78 repetition ratios are a pure narrow scan: no hash shuffle before the determinism sort") {
    val hashShuffles = collectAll("q78_repetition") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty, "per-doc repetition metrics must not shuffle — all compute is within-row")
  }

  test("q90 rule filter is a pure narrow scan: no hash shuffle before the determinism sort") {
    val hashShuffles = collectAll("q90_rule_filter") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty, "per-doc rule flags must not shuffle — all compute is within-row")
  }

  test("q67 session windows are keyed by user (no global single-partition window)") {
    val windows = collectAll("q67_sessions") { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, "unkeyed window = all rows to one partition"))
  }

  test("q81 semdedup rank window is keyed by cell (no global single-partition window)") {
    val windows = collectAll("q81_semdedup") { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, "unkeyed window = all rows to one partition"))
  }

  test("q55 graft_topk plans without a window (bounded state, no per-group sort)") {
    assert(collectAll("q55_topk_aggregator") { case w: WindowExec => w }.isEmpty)
  }

  test("q79 exact-N stratified sample plans without a window (4 huge strata would concentrate)") {
    assert(collectAll("q79_stratified_topn") { case w: WindowExec => w }.isEmpty)
  }

  test("q49 salted aggregation is exactly two stages") {
    val shuffles = collectAll("q49_salted_agg") { case e: ShuffleExchangeExec => e }
    // salt-group exchange + key re-agg exchange (+ nothing else before sort)
    assert(shuffles.size <= 3 && shuffles.size >= 2, s"got ${shuffles.size} shuffles")
  }

  test("q93/q97 pair roll-ups stay equi-join (no product over the pair frame)") {
    Seq("q93_source_overlap", "q97_split_leakage").foreach { q =>
      assert(collectAll(q) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q: cartesian product in the plan")
      assert(collectAll(q) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"$q: nested-loop join — the doc_id map joins must stay equi")
      assert(collectAll(q) { case w: WindowExec => w }.isEmpty,
        s"$q: unexpected window — the roll-up is a partial+final agg")
    }
  }

  test("q94 kNN purity window is keyed by probe id (no global single-partition window)") {
    val windows = collectAll("q94_knn_label_purity") { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unkeyed top-K window = every scored candidate to one partition"))
  }

  test("q95 centroid drift aggregates map-side; only label-keyed rows shuffle") {
    // The per-dim explode is N·dim rows — the partial aggregate must run
    // BEFORE the (label, i) exchange so the wire carries ≤ labels·dim rows.
    val aggs = collectAll("q95_centroid_drift") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    collectAll("q95_centroid_drift") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("v"), s"raw per-dim rows in a hash exchange: $names")
    }
    assert(collectAll("q95_centroid_drift") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "centroid pair join must broadcast, not cartesian")
  }

  test("q98 chunking is a pure narrow fan-out: no hash shuffle before the determinism sort") {
    val hashShuffles = collectAll("q98_chunking") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty,
      "chunking must not shuffle — every chunk derives from its own row's word array")
    assert(collectAll("q98_chunking") { case w: WindowExec => w }.isEmpty)
  }

  test("q99 mixture shuffles nothing wider than the per-source frame") {
    val aggs = collectAll("q99_mixture_temperature") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    assert(collectAll("q99_mixture_temperature") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "denominator must ride as a broadcast 1-row frame")
    // Hash exchanges may only carry per-source aggregate rows, never a
    // corpus row (doc text / word arrays).
    collectAll("q99_mixture_temperature") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("text") && !names.contains("nw"),
        s"corpus rows in a hash exchange: $names")
    }
  }

  test("q100 dim audit aggregates map-side; only dim-keyed rows shuffle") {
    val aggs = collectAll("q100_dim_audit") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    collectAll("q100_dim_audit") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("v"), s"raw per-dim rows in a hash exchange: $names")
    }
    assert(collectAll("q100_dim_audit") { case w: WindowExec => w }.isEmpty)
  }

  test("q96 split manifest is scan → agg: no join, no window") {
    assert(collectAll("q96_split_manifest") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q96_split_manifest") {
      case j: SortMergeJoinExec => j
    }.isEmpty, "manifest must not join — the split is computed in the projection")
    val aggs = collectAll("q96_split_manifest") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
  }

  test("q101 corpus diff is one id-keyed equi-join, agg runs map-side") {
    assert(collectAll("q101_corpus_diff") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q101_corpus_diff") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "snapshot diff must stay an equi-join on doc_id")
    assert(collectAll("q101_corpus_diff") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, "snapshot diff must stay an equi-join on doc_id")
    val aggs = collectAll("q101_corpus_diff") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    // The join's hash exchanges are keyed by doc_id — never by a derived
    // corpus-wide key (the status column must not become a shuffle key
    // before the final catalog-sized agg on (source, status)).
    collectAll("q101_corpus_diff") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("doc_id", "source", "status")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q102 consolidation never windows or products; corpus text stays out of exchanges") {
    assert(collectAll("q102_dup_consolidate") { case w: WindowExec => w }.isEmpty,
      "consolidation is a per-component AGG on the small map, never a corpus window")
    assert(collectAll("q102_dup_consolidate") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q102_dup_consolidate") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty)
    // The doc-side join carries only (doc_id, source, n_chars) — a text or
    // word-array column in any exchange means the corpus is being moved.
    collectAll("q102_dup_consolidate") { case e: ShuffleExchangeExec => e }
      .foreach { e =>
        val names = e.output.map(_.name).toSet
        assert(!names.contains("text") && !names.contains("w"),
          s"corpus text in an exchange: $names")
      }
  }

  test("q103 self-repetition strip shuffles only doc-keyed rows") {
    assert(collectAll("q103_selfrep_strip") { case w: WindowExec => w }.isEmpty,
      "repeat detection must be a (doc_id, s) agg, not a window")
    assert(collectAll("q103_selfrep_strip") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // Every hash exchange must be keyed by doc_id (alone or with the gram):
    // a shuffle keyed by the gram alone would concentrate repeated grams
    // across documents — this op has no cross-document state by design.
    collectAll("q103_selfrep_strip") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.contains("doc_id"), s"non-doc-keyed shuffle: $keys")
    }
  }

  test("q148 crossdoc strip: gram strings never shuffle (hashed index), no window, no product") {
    assert(collectAll("q148_crossdoc_strip") { case w: WindowExec => w }.isEmpty,
      "the gram→min-doc index must be an O(1)-state agg, not a window")
    assert(collectAll("q148_crossdoc_strip") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val exchanges = collectAll("q148_crossdoc_strip") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    // The index aggregation and the decision join are keyed by the 60-bit
    // gram HASH; everything after is doc-keyed. Gram/word-array/text
    // columns in any exchange would mean the corpus text is being moved.
    exchanges.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("gh", "doc_id", "ci")),
        s"unexpected shuffle key: $keys")
      val names = e.output.map(_.name).toSet
      assert(!names.contains("text") && !names.contains("w") && !names.contains("s"),
        s"corpus text/gram strings in an exchange: $names")
    }
    assert(exchanges.exists { e =>
      e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet == Set("gh")
    }, "expected a gh-keyed exchange (the gram index)")
    // min() index: partial + final hash aggregates (map-side combine).
    assert(collectAll("q148_crossdoc_strip") { case a: HashAggregateExec => a }.size >= 2)
  }

  test("q149 cluster split: corpus sees one doc_id-keyed join, no window, no product") {
    assert(collectAll("q149_cluster_split") { case w: WindowExec => w }.isEmpty,
      "split assignment must ride the component-map join, not a corpus window")
    assert(collectAll("q149_cluster_split") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q149_cluster_split") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty)
    collectAll("q149_cluster_split") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("doc_id", "v")), s"unexpected shuffle key: $keys")
      val names = e.output.map(_.name).toSet
      assert(!names.contains("text"), s"corpus text in an exchange: $names")
    }
  }

  test("q150 budget cut: corpus reaches ONE (source,b) histogram agg; windows only on the catalog frame") {
    assert(collectAll("q150_budget_cut") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // Hash exchanges carry only histogram keys — never per-doc rows.
    collectAll("q150_budget_cut") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("source", "b")), s"unexpected shuffle key: $keys")
      val names = e.output.map(_.name).toSet
      assert(!names.contains("text") && !names.contains("doc_id"),
        s"per-doc rows in an exchange: $names")
    }
    // The only windows are the descending cumsums over the histogram —
    // partitioned by source (never a global single-partition window).
    collectAll("q150_budget_cut") { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "global window on the budget path")
    }
    // The corpus never appears in this plan at all: the histogram barrier
    // (localCheckpoint at construction) is the only corpus pass, so the
    // final plan reads ONE checkpointed catalog-sized RDD — zero parquet
    // scans of documents.
    assert(collectAll("q150_budget_cut") { case f: FileSourceScanExec => f }.isEmpty,
      "corpus re-scanned past the histogram barrier")
    val aggs = collectAll("q150_budget_cut") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
  }

  test("q152 importance select: top-K via TakeOrdered, no global sort, no window") {
    assert(collectAll("q152_importance_select") { case w: WindowExec => w }.isEmpty,
      "ranking must be a TakeOrdered, not a row_number window")
    assert(collectAll("q152_importance_select") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q152_importance_select") {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "expected a TakeOrderedAndProject for the top-K manifest")
    // The LM joins are word-keyed; the doc aggregation doc-keyed. No text
    // column ever shuffles (the word explode is narrow).
    collectAll("q152_importance_select") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("w", "doc_id")), s"unexpected shuffle key: $keys")
      assert(!e.output.map(_.name).toSet.contains("text"),
        s"corpus text in an exchange")
    }
  }

  test("q104 changeset apply is one id-keyed equi-join; shuffle keys stay (doc_id, source)") {
    assert(collectAll("q104_changeset_apply") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q104_changeset_apply") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "apply must stay an equi-join on doc_id")
    assert(collectAll("q104_changeset_apply") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, "apply must stay an equi-join on doc_id")
    val aggs = collectAll("q104_changeset_apply") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    collectAll("q104_changeset_apply") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("doc_id", "source")),
        s"unexpected shuffle key in apply: $keys")
    }
  }

  test("q105 bloom decontam: no products; matched-rows distinct is doc-keyed") {
    assert(collectAll("q105_bloom_decontam") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q105_bloom_decontam") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q105_bloom_decontam") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty)
    // (the might_contain placement pin lives in BloomDecontamSpec — here we
    // pin that nothing shuffles on a non-(doc_id, s) key)
    collectAll("q105_bloom_decontam") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("doc_id", "s")),
        s"unexpected shuffle key in bloom decontam: $keys")
    }
  }

  test("q106 bigram novelty: equi-joins only, partial+final aggs, no window") {
    assert(collectAll("q106_bigram_novelty") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q106_bigram_novelty") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val aggs = collectAll("q106_bigram_novelty") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    // At test scale the bigram LM fits broadcast: the b-join must plan as a
    // broadcast hash join (the small-LM regime of the TextOps claim).
    assert(collectAll("q106_bigram_novelty") { case j: BroadcastHashJoinExec => j }
      .nonEmpty, "small-LM regime: expected the ref LM to broadcast")
  }

  test("q106 degrades to ONE b-keyed shuffle join when the LM outgrows broadcast (VERDICT r9 #6)") {
    // The 100 TB claim on the bigram LM (TextOps q106 scaladoc): a vocab²
    // reference table that no longer fits broadcast degrades to a single
    // b-keyed linear shuffle join — never a corpus² product, never a wider
    // key. Force the non-broadcast regime by disabling the threshold and
    // pin the degraded plan's shape AND its shuffle key set.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = SparkEntry.queries("q106_bigram_novelty")(spark, dir)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
      val smj = plan.collectWithSubqueries { case j: SortMergeJoinExec => j }
      val shj = plan.collectWithSubqueries { case j: ShuffledHashJoinExec => j }
      // exactly ONE shuffle-requiring join, keyed b = b on both sides
      assert(smj.size + shj.size === 1,
        s"expected exactly one shuffled join, got smj=${smj.size} shj=${shj.size}")
      val (lk, rk) = smj.headOption.map(j => (j.leftKeys, j.rightKeys))
        .getOrElse((shj.head.leftKeys, shj.head.rightKeys))
      assert(lk.size === 1 && lk.head.toString.contains("b"), s"left keys: $lk")
      assert(rk.size === 1 && rk.head.toString.contains("b"), s"right keys: $rk")
      // no product anywhere; the explicit 1-row broadcast(tot) hint is the
      // only broadcast left (a nested-loop over one row, threshold-immune)
      assert(plan.collectWithSubqueries {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty)
      assert(plan.collectWithSubqueries { case j: BroadcastHashJoinExec => j }.isEmpty,
        "threshold -1 must eliminate every implicit broadcast")
      // shuffle-key audit: every hash exchange is keyed on exactly b (join
      // feed) or doc_id (per-doc agg) — nothing wider, nothing derived
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val keySets = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.map(_.toString.replaceAll("#\\d+L?", "")).toSet
      }.toSet
      assert(keySets === Set(Set("b"), Set("doc_id")), s"shuffle keys: $keySets")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q109 anomaly window runs over the (type, hour) aggregate, never raw events") {
    val wins = collectAll("q109_event_anomaly") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the trailing-24h window")
    // The window's input subtree must already contain the partial+final
    // aggregation — i.e. the corpus collapsed to types × hours rows
    // BEFORE any per-type ordering.
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the aggregated frame")
    }
    collectAll("q109_event_anomaly") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      // `hr` is derived in the groupBy, so pre-agg exchanges carry it as
      // the anonymous `_groupingexpression` attribute.
      assert(keys.subsetOf(Set("event_type", "hr", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q110 retrieval: query terms broadcast; top-k is bounded aggregation, not a window") {
    assert(collectAll("q110_sparse_retrieval") { case w: WindowExec => w }.isEmpty,
      "top-k must be the bounded graft_topk aggregate, never a rank window")
    assert(collectAll("q110_sparse_retrieval") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q110_sparse_retrieval") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the query-term table must broadcast into the postings join")
  }

  test("q111 frame boilerplate: sig-keyed agg, boiler set broadcast back, no window") {
    assert(collectAll("q111_frame_boiler") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q111_frame_boiler") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q111_frame_boiler") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the boilerplate frame set must broadcast into the frame join")
    assert(collectAll("q111_frame_boiler") { case j: SortMergeJoinExec => j }.isEmpty,
      "a sort-merge join means the frame table shuffled for the boiler join")
  }

  test("q108 outlier scan: centroids broadcast; the corpus is never shuffled") {
    assert(collectAll("q108_centroid_outliers") { case w: WindowExec => w }.isEmpty,
      "threshold form must stay a projection — no per-label window")
    assert(collectAll("q108_centroid_outliers") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the ≤|labels| centroid frame must broadcast")
    assert(collectAll("q108_centroid_outliers") { case j: SortMergeJoinExec => j }.isEmpty,
      "a sort-merge join here means the corpus shuffled for the centroid join")
    // The only hash exchanges belong to the (label, dim)-keyed centroid
    // aggregation — bounded at labels·dim rows.
    collectAll("q108_centroid_outliers") {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.foreach { e =>
      val keys = e.outputPartitioning
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        .expressions.flatMap(_.references.map(_.name)).toSet
      assert(keys.subsetOf(Set("label", "i")), s"unexpected shuffle key: $keys")
    }
  }

  test("q107 tokenization: vocab map broadcasts; the rank window runs over the top-K frame only") {
    assert(collectAll("q107_tokenize_ids") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q107_tokenize_ids") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the ≤VocabK id map must broadcast into the corpus join")
    // The only window is the id-rank over the top-K vocab frame: its
    // subtree must contain the TakeOrdered(VocabK) — a window fed by an
    // unbounded frame here would mean the corpus is being ranked.
    val wins = collectAll("q107_tokenize_ids") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the vocab id-rank window")
    wins.foreach { w =>
      assert(w.find {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case _ => false
      }.nonEmpty, "rank window not bounded by the top-K limit")
    }
  }

  private def hashShuffleKeys(name: String): Seq[Set[String]] =
    collectAll(name) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        e.outputPartitioning
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
          .expressions.flatMap(_.references.map(_.name)).toSet
    }

  test("q112 shot boundaries are a pure narrow scan: no shuffle, no window, no explode-join") {
    assert(hashShuffleKeys("q112_shot_boundary").isEmpty,
      "consecutive-frame comparison must be an in-row array fold — zero corpus shuffle")
    assert(collectAll("q112_shot_boundary") { case w: WindowExec => w }.isEmpty,
      "a lag window over exploded frames crept in")
  }

  test("q113 sweep window runs over the ≤11-row bucket aggregate, never raw docs") {
    val wins = collectAll("q113_threshold_sweep") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the survivors-from-above cumulative window")
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the per-bucket aggregated frame")
    }
    hashShuffleKeys("q113_threshold_sweep").foreach { keys =>
      assert(keys.subsetOf(Set("bucket", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q114 fuzzy decontam: eval side broadcasts; exchanges move matched shingle rows only") {
    assert(collectAll("q114_fuzzy_decontam") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q114_fuzzy_decontam") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the eval-set shingle table must broadcast into the corpus scan")
    hashShuffleKeys("q114_fuzzy_decontam").foreach { keys =>
      assert(keys.subsetOf(Set("doc_id", "bench_id", "s", "_groupingexpression")),
        s"unexpected shuffle key (document text must never enter an exchange): $keys")
    }
  }

  test("q115 debounce: one (user, type)-keyed shuffle serves both the lag window and the agg") {
    val wins = collectAll("q115_debounce") { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unkeyed window = all events to one partition"))
    val keys = hashShuffleKeys("q115_debounce")
    assert(keys.size === 1, s"expected exactly one hash exchange, got $keys")
    assert(keys.head === Set("user_id", "event_type"), s"unexpected shuffle key: $keys")
  }

  test("q117 winnow fingerprints are in-row selection: zero shuffle, zero window") {
    assert(hashShuffleKeys("q117_winnow_fps").isEmpty,
      "window-min selection must happen inside the row's arrays — zero corpus shuffle")
    assert(collectAll("q117_winnow_fps") { case w: WindowExec => w }.isEmpty)
  }

  test("q118 winnowed pairs: exchanges carry fingerprints/ids only, never text or word arrays") {
    assert(collectAll("q118_winnow_pairs") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    hashShuffleKeys("q118_winnow_pairs").foreach { keys =>
      assert(keys.subsetOf(Set("fp", "a", "b", "doc_id", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q119 mixed-language flags are a pure narrow scan: no shuffle before the sort") {
    assert(hashShuffleKeys("q119_mixed_lang").isEmpty,
      "top-2 language ranking must be an in-row struct sort — zero corpus shuffle")
    assert(collectAll("q119_mixed_lang") { case w: WindowExec => w }.isEmpty)
  }

  test("q120 coverage curve: the rank window runs over the top-K frame only") {
    val wins = collectAll("q120_vocab_coverage") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the rank/cumulative window")
    wins.foreach { w =>
      assert(w.find {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case _ => false
      }.nonEmpty, "rank window not bounded by the top-K limit")
    }
    hashShuffleKeys("q120_vocab_coverage").foreach { keys =>
      assert(keys.subsetOf(Set("w", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q125 gap audit: the lag window runs over the types×days aggregate, never raw events") {
    val wins = collectAll("q125_ingest_gaps") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the per-type lag window")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "unkeyed window")
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the aggregated daily frame")
    }
    hashShuffleKeys("q125_ingest_gaps").foreach { keys =>
      assert(keys.subsetOf(Set("event_type", "day", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q126 table profile: one-pass aggregate, no window, no join") {
    assert(collectAll("q126_table_profile") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q126_table_profile") { case j: SortMergeJoinExec => j }.isEmpty)
    val aggs = collectAll("q126_table_profile") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final aggregates")
  }

  test("q124 filter-bias audit is one lang-keyed partial+final agg") {
    assert(collectAll("q124_filter_bias") { case w: WindowExec => w }.isEmpty)
    val aggs = collectAll("q124_filter_bias") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    hashShuffleKeys("q124_filter_bias").foreach { keys =>
      assert(keys.subsetOf(Set("lang", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q123 recall eval joins two bounded pair tables — no product, no window") {
    assert(collectAll("q123_lsh_recall") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q123_lsh_recall") { case w: WindowExec => w }.isEmpty)
    val aggs = collectAll("q123_lsh_recall") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates for the decile roll-up")
  }

  test("q121 dataset card: source-keyed partials; the only extra exchange is the count-distinct") {
    assert(collectAll("q121_dataset_card") { case w: WindowExec => w }.isEmpty)
    val aggs = collectAll("q121_dataset_card") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    hashShuffleKeys("q121_dataset_card").foreach { keys =>
      assert(keys.subsetOf(Set("source", "h", "_groupingexpression")),
        s"unexpected shuffle key (text must never enter an exchange): $keys")
    }
  }

  test("q122 pack audit adds no corpus exchange beyond the blocked prefix sum") {
    val wins = collectAll("q122_pack_efficiency") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the per-block cumsum window")
    // The per-block cumsum is keyed; the block-offset window is global
    // BUT runs over the bounded (√N-row) block aggregate — q51's shape.
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty ||
        w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "unkeyed window not fed by the bounded block aggregate")
    }
    hashShuffleKeys("q122_pack_efficiency").foreach { keys =>
      assert(keys.subsetOf(Set("block", "pack_id", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q116 random projection: weights broadcast; the corpus is a pure narrow scan") {
    assert(hashShuffleKeys("q116_random_projection").isEmpty,
      "projection must not shuffle the corpus — weights join by broadcast")
    assert(collectAll("q116_random_projection") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q116_random_projection") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.nonEmpty, "the 1-row weight frame must broadcast into the scan")
  }

  test("q136 phash: search joins only band buckets; no cartesian, no window") {
    // The signature-grid agg runs EAGERLY behind the localCheckpoint
    // barrier (the q54 pattern), so the static plan is the search half:
    // band-bucket equi-join + pair distinct. Nothing may degrade to a
    // cartesian, and no corpus-wide window may appear.
    assert(collectAll("q136_phash_neardup") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "phash search degraded to a cartesian product")
    assert(collectAll("q136_phash_neardup") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q136_phash_neardup").foreach { keys =>
      // gk: the recursive refinement's accumulated agreement key (bucket
      // sizes + per-level pair joins, r11); (a, pa, b, pb): the candidate
      // distinct.
      assert(keys.subsetOf(Set("gk", "bsz", "a", "b", "pa", "pb", "hamming")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q137 hashed classifier: no model join at all; one doc-keyed agg shuffle") {
    // The frozen weight is computed arithmetic on the bucket id — there
    // must be NO join of any kind, and the only exchange is the per-doc
    // partial+final aggregation.
    assert(collectAll("q137_hashed_classifier") { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll("q137_hashed_classifier") { case j: SortMergeJoinExec => j }.isEmpty)
    assert(collectAll("q137_hashed_classifier") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, "a weight-table join crept in — the weight is computed, not joined")
    assert(collectAll("q137_hashed_classifier") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q137_hashed_classifier").foreach { keys =>
      assert(keys.subsetOf(Set("doc_id")), s"unexpected shuffle key: $keys")
    }
  }

  test("q140 hard negatives: anchor-keyed window over blocked candidates, no product") {
    // The scored-candidate build runs eagerly behind q59's checkpoint
    // barrier; the static plan is the label join + per-anchor pivot. The
    // window must key by (a, same) — never a global sort — and nothing
    // may degrade to a product join.
    assert(collectAll("q140_hard_negatives") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val wins = collectAll("q140_hard_negatives") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the per-anchor rank window")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      "rank window is unkeyed — a global sort at corpus scale"))
    hashShuffleKeys("q140_hard_negatives").foreach { keys =>
      assert(keys.subsetOf(Set("a", "b", "vec_id", "same", "label", "la", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q141 phash calibration: equi-joins only on sampled pixel/band keys") {
    assert(collectAll("q141_phash_calibration") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the truth side must block on pixel positions, never cross-join")
    assert(collectAll("q141_phash_calibration") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q141_phash_calibration").foreach { keys =>
      assert(keys.subsetOf(Set("pos", "pv", "bi", "key", "a", "b", "hamming")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q142 deep phash: q136's search shape at depth 2 — band equi-join, no cartesian") {
    assert(collectAll("q142_phash_deep") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q142_phash_deep") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q142_phash_deep").foreach { keys =>
      assert(keys.subsetOf(Set("bi", "key", "a", "b", "hamming")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q143 phash incremental: store-vs-batch equi-joins only; batch-keyed aggregation") {
    // The store build runs eagerly; the static plan is the candidate join
    // (store bands ⋈ batch bands on (pfx, bi, key) + the batch self-join)
    // and the per-batch-doc min aggregation — nothing may degrade to a
    // product, and no window may appear.
    assert(collectAll("q143_phash_incremental") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q143_phash_incremental") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q143_phash_incremental").foreach { keys =>
      assert(keys.subsetOf(Set("pfx", "bi", "key", "sj", "skey",
        "a", "b", "pa", "pb", "doc_id", "dup_of")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q138 epoch mixture: one source-keyed agg; water-filling rides on 1-row broadcasts") {
    assert(collectAll("q138_epoch_mixture") {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size >= 2, "both water-filling rounds must join their 1-row globals by broadcast")
    assert(collectAll("q138_epoch_mixture") { case j: SortMergeJoinExec => j }.isEmpty)
    assert(collectAll("q138_epoch_mixture") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q138_epoch_mixture").foreach { keys =>
      assert(keys.subsetOf(Set("source", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q153 AUC windows run over the binned aggregate, never raw docs") {
    val wins = collectAll("q153_score_auc") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the cumulative-count windows")
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the (lang, bin) aggregated frame")
    }
    assert(collectAll("q153_score_auc") { case j: SortMergeJoinExec => j }.isEmpty,
      "bin join must broadcast, not sort-merge")
    hashShuffleKeys("q153_score_auc").foreach { keys =>
      assert(keys.subsetOf(Set("lang", "b", "_groupingexpression")),
        s"unexpected shuffle key (raw docs must never re-shuffle): $keys")
    }
  }

  test("q154 calibration is one bounded partial+final agg — no window, no join") {
    assert(collectAll("q154_score_calibration") { case w: WindowExec => w }.isEmpty)
    val aggs = collectAll("q154_score_calibration") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial + final hash aggregates")
    hashShuffleKeys("q154_score_calibration").foreach { keys =>
      assert(keys.subsetOf(Set("bin", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q155 agreement: both filter decisions fold into ONE scan and one global agg") {
    assert(collectAll("q155_filter_agreement") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q155_filter_agreement") {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "the two decisions must not rejoin — same-row expressions")
    assert(hashShuffleKeys("q155_filter_agreement").isEmpty,
      "global agg needs no hash exchange — partials meet at a single partition")
    assert(collectAll("q155_filter_agreement") {
      case f: FileSourceScanExec => f
    }.size === 1, "both filters must share one documents scan")
  }

  test("q157 drift: the TV window runs over the decile aggregate; one corpus shuffle") {
    val wins = collectAll("q157_score_drift") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the TV window")
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the binned aggregate frame")
    }
    assert(collectAll("q157_score_drift") { case j: SortMergeJoinExec => j }.isEmpty,
      "totals join must broadcast, not sort-merge")
    hashShuffleKeys("q157_score_drift").foreach { keys =>
      assert(keys.subsetOf(Set("bin", "_groupingexpression")),
        s"unexpected shuffle key (raw docs must never re-shuffle): $keys")
    }
  }

  test("q158 interleave: rank windows stay (source, bkt)-keyed; position is closed-form (no global window)") {
    val wins = collectAll("q158_interleave_manifest") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the blocked rank/offset windows")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "a global (unpartitioned) window crept into the interleave — " +
          "the position must come from the closed form, not a corpus sort-rank")
    }
    assert(collectAll("q158_interleave_manifest") { case j: SortMergeJoinExec => j }.isEmpty,
      "offset/count joins must broadcast, not sort-merge")
    hashShuffleKeys("q158_interleave_manifest").foreach { keys =>
      assert(keys.subsetOf(Set("source", "bkt")),
        s"unexpected hash shuffle key (corpus may only shuffle on the blocked rank keys): $keys")
    }
  }

  test("q159 heavy hitters: exact pass is candidate-restricted (InSet below the w-agg), no windows") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.FilterExec
    val filters = collectAll("q159_heavy_hitters") {
      case f: FilterExec if f.condition.find {
        case _: In | _: InSet => true; case _ => false
      }.isDefined => f
    }
    assert(filters.nonEmpty,
      "no candidate-set filter below the aggregation — the exact pass is re-counting the full vocabulary")
    hashShuffleKeys("q159_heavy_hitters").foreach { keys =>
      assert(keys.subsetOf(Set("w")), s"unexpected shuffle key: $keys")
    }
    assert(collectAll("q159_heavy_hitters") { case w: WindowExec => w }.isEmpty)
  }

  test("q156 shard manifest: parity windows run over the (shard, source) aggregate") {
    val wins = collectAll("q156_shard_manifest") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the share/parity windows")
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the aggregated manifest frame")
    }
    hashShuffleKeys("q156_shard_manifest").foreach { keys =>
      assert(keys.subsetOf(Set("shard", "source", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q160 HLL: register/estimate shuffles stay (lang, idx)-keyed or rollup-keyed; no window") {
    assert(collectAll("q160_hll_distinct") { case w: WindowExec => w }.isEmpty,
      "the sketch family must never rank or window the corpus")
    hashShuffleKeys("q160_hll_distinct").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "idx", "lang", "g",
        "spark_grouping_id", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
    // the register aggregation is a plain max over longs: partial+final
    // hash aggregates, map-side combined before the exchange
    assert(collectAll("q160_hll_distinct") { case a: HashAggregateExec => a }.size >= 2)
  }

  test("q161 fusion: the ONLY window ranks the fused ≤2·RetrK candidate frame") {
    val wins = collectAll("q161_rrf_fusion") { case w: WindowExec => w }
    assert(wins.size === 1,
      s"expected exactly the fused-rank window, got ${wins.size} — a corpus rank window crept in")
    assert(collectAll("q161_rrf_fusion") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll("q161_rrf_fusion") { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "the sparse half must keep its query-term broadcast")
    assert(collectAll("q161_rrf_fusion") {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.nonEmpty, "the dense half must broadcast the query rows over the scan")
  }

  test("q162 matryoshka: zero windows (TopK aggregation), overlap joins equi-keyed") {
    // The executed plan starts at the localCheckpoint barrier (the ranked
    // top frame); the dense-scan shape UPSTREAM of the barrier is q161's
    // denseRanked pin. Downstream must stay catalog-sized: no window, no
    // product, overlap joins keyed on (p, qid, doc_id) columns only.
    assert(collectAll("q162_matryoshka_fidelity") { case w: WindowExec => w }.isEmpty,
      "all three rankings must ride the bounded graft_topk aggregate, never a rank window")
    assert(collectAll("q162_matryoshka_fidelity") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    hashShuffleKeys("q162_matryoshka_fidelity").foreach { keys =>
      assert(keys.subsetOf(Set("p", "qid", "doc_id")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q163 PII audit: one source-keyed aggregate, no joins, no windows") {
    assert(collectAll("q163_pii_audit") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q163_pii_audit") { case b: BroadcastHashJoinExec => b }.isEmpty)
    assert(collectAll("q163_pii_audit") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q163_pii_audit").foreach { keys =>
      assert(keys.subsetOf(Set("source")), s"unexpected shuffle key: $keys")
    }
  }

  test("q165 overlap sketch: no window; pairwise work keyed on the register grid only") {
    assert(collectAll("q165_source_overlap_sketch") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q165_source_overlap_sketch").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "idx", "source", "g",
        "src_a", "src_b", "id")),
        s"unexpected shuffle key: $keys — pairwise work must stay on registers/distinct-grams")
    }
  }

  test("q166 novelty curve: one scan per half, register/gram-keyed aggregation only") {
    // r14: the sketch twin adds a second narrow scan (the q160 trade) and
    // a |widths|-row est ⋈ exact join; everything stays keyed on
    // (n, gh)/(doc_id)/(grp, idx) — no window, no product, no corpus
    // join.
    assert(collectAll("q166_novelty_curve") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q166_novelty_curve") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    hashShuffleKeys("q166_novelty_curve").foreach { keys =>
      assert(keys.subsetOf(Set("n", "gh", "doc_id", "grp", "idx")),
        s"unexpected shuffle key: $keys")
    }
    val scans = collectAll("q166_novelty_curve") { case f: FileSourceScanExec => f }
    assert(scans.size === 2,
      s"all four widths must ride ONE scan per half, got ${scans.size}")
  }

  test("q167 provenance: equi-joins only; no window; gram/doc-keyed exchanges") {
    assert(collectAll("q167_strip_provenance") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q167_strip_provenance") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // gid = the expand grouping id of the two count-distinct aggregates
    hashShuffleKeys("q167_strip_provenance").foreach { keys =>
      assert(keys.subsetOf(Set("gh", "doc_id", "first_doc",
        "src_later", "src_first", "gid")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q168 weighted sample: selection is narrow arithmetic over the blocked prefix sum") {
    // The only exchanges allowed are the √N-block machinery's (q51's
    // shape): per-block windows + the broadcast offsets/totals. Selection
    // itself adds NO shuffle and no join beyond broadcasts.
    assert(collectAll("q168_weighted_sample") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q168_weighted_sample").foreach { keys =>
      assert(keys.subsetOf(Set("block")), s"unexpected shuffle key: $keys")
    }
  }

  test("q169 snapshot novelty: sketch algebra on the register grid, no corpus window") {
    assert(collectAll("q169_snapshot_novelty") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q169_snapshot_novelty").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "idx", "sl", "g", "id")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q170 authority: post-barrier plan is catalog-sized — no window, no product") {
    // The iteration itself runs at construction behind per-round barriers
    // (JobCountSpec eager list); the executed plan must only join the
    // final |sources|-row rank frame with the edge aggregates.
    assert(collectAll("q170_source_authority") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q170_source_authority") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    hashShuffleKeys("q170_source_authority").foreach { keys =>
      assert(keys.subsetOf(Set("source", "src", "dst")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q174 bpe: merge rounds run at construction — the served plan scans no corpus") {
    // The word-frequency table is built once and every round runs on the
    // checkpointed vocab-sized frame (JobCountSpec eager list); the final
    // result is the driver-assembled merge table, so the executed plan
    // must contain no file scan (and certainly no documents scan).
    assert(collectAll("q174_bpe_merges") { case f: FileSourceScanExec => f }.isEmpty,
      "q174 served plan re-scans a table")
    assert(collectAll("q174_bpe_merges") { case w: WindowExec => w }.isEmpty)
  }

  test("q175 bpe encode: one corpus word scan, vocab joined broadcast, no window") {
    val scans = collectAll("q175_bpe_encode") { case f: FileSourceScanExec => f }
    assert(scans.size === 1, s"expected exactly the word scan, got ${scans.size}")
    assert(collectAll("q175_bpe_encode") { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "segmentation table must broadcast into the word scan")
    assert(collectAll("q175_bpe_encode") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q175_bpe_encode") { case s: SortMergeJoinExec => s }.isEmpty,
      "vocab-sized lookup must not sort-merge")
  }

  test("q176 CMS: no window, no product; shuffles stay grid- or verify-keyed") {
    // The sketch side collapses into the (j, c) grid; the vocabulary
    // groupBy is the verify half by design. Nothing ranks or windows the
    // corpus, and the one cross join (the 1-row total) must broadcast.
    assert(collectAll("q176_cms_freq") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q176_cms_freq") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the 1-row total must broadcast, never a product")
    hashShuffleKeys("q176_cms_freq").foreach { keys =>
      assert(keys.subsetOf(Set("j", "c", "w", "cnt", "n")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q177 CMS share: no window, no product; per-source grid keys only") {
    assert(collectAll("q177_cms_source_share") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q177_cms_source_share") {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "probe fan-out must broadcast the bounded probe frame")
    hashShuffleKeys("q177_cms_source_share").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "source", "j", "c", "w", "cnt", "n")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q178/q179 sketch-store serves: no window, no product; grid- or verify-keyed shuffles") {
    // q178's served plan is register-grid algebra over store reads;
    // q179 adds the corpus verify half (the q176 shape) with the sketch
    // side folded from the persisted per-source grids.
    Seq("q178_hll_from_store", "q179_cms_from_store").foreach { q =>
      assert(collectAll(q) { case w: WindowExec => w }.isEmpty, q)
      assert(collectAll(q) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q: bounded frames must broadcast, never a product")
    }
    hashShuffleKeys("q178_hll_from_store").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "idx", "lang")),
        s"unexpected shuffle key: $keys")
    }
    hashShuffleKeys("q179_cms_from_store").foreach { keys =>
      assert(keys.subsetOf(Set("grp", "source", "j", "c", "w", "cnt", "n")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q180 length quantiles: windows and shuffles live on the folded histogram grid") {
    // The served plan reads the persisted ≤ sources × bins histogram; the
    // cumulative/total windows and every exchange are keyed on that grid
    // (source/bin) — no corpus column ever reaches a shuffle.
    val wins = collectAll("q180_len_quantiles_from_store") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the cum/total rank windows")
    hashShuffleKeys("q180_len_quantiles_from_store").foreach { keys =>
      assert(keys.subsetOf(Set("source", "bin", "n")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q164 waterfill: every window runs over the |sources|-row aggregate") {
    val wins = collectAll("q164_budget_waterfill") { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the rank/prefix-sum/max windows")
    wins.foreach { w =>
      assert(w.find { case _: HashAggregateExec => true; case _ => false }.nonEmpty,
        "window input is not the per-source token aggregate")
    }
    hashShuffleKeys("q164_budget_waterfill").foreach { keys =>
      assert(keys.subsetOf(Set("source")), s"unexpected shuffle key: $keys")
    }
  }

  test("q181 merkle roots: one corpus text scan, folds keyed (source, pos), no window") {
    // The tree build reads text exactly once (leaf digests); every
    // level above shuffles only (source, pos) on 16×-shrinking hash
    // frames. A second documents scan is the n_docs count — cheap
    // column-pruned metadata, never text re-hashing.
    assert(collectAll("q181_merkle_roots") { case w: WindowExec => w }.isEmpty)
    // Catalyst names the pos-div-Arity grouping column
    // `_groupingexpression` in the exchange.
    hashShuffleKeys("q181_merkle_roots").foreach { keys =>
      assert(keys.subsetOf(Set("source", "pos", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q182 merkle drift: served plan runs on the checkpointed trees — no file scan") {
    // Both trees build at construction behind per-level barriers
    // (JobCountSpec eager list); the executed diff joins checkpointed
    // hash frames only — the 100 TB claim is precisely that drift never
    // re-reads a corpus.
    assert(collectAll("q182_merkle_drift") { case f: FileSourceScanExec => f }.isEmpty,
      "drift re-scanned a table; trees must serve from the barriers")
    assert(collectAll("q182_merkle_drift") { case w: WindowExec => w }.isEmpty)
  }

  test("q183 merkle proofs: probe side broadcasts; the tree levels never sort-merge") {
    assert(collectAll("q183_merkle_proof") { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "probe frame must broadcast into the level scans")
    assert(collectAll("q183_merkle_proof") { case s: SortMergeJoinExec => s }.isEmpty,
      "a probe-sized lookup must not sort-merge a tree level")
    assert(collectAll("q183_merkle_proof") { case w: WindowExec => w }.isEmpty)
  }

  test("q185 k-anonymity: partial+final agg on the QI grid, no window, grid-keyed shuffles") {
    assert(collectAll("q185_kanon_audit") { case w: WindowExec => w }.isEmpty)
    val aggs = collectAll("q185_kanon_audit") { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected map-side partials before the exchange")
    hashShuffleKeys("q185_kanon_audit").foreach { keys =>
      assert(keys.subsetOf(Set("lang", "len_bucket", "source",
        "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q186 rendezvous: in-row argmax — no window, no sort-merge, source-keyed shuffles only") {
    assert(collectAll("q186_rendezvous_reshard") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q186_rendezvous_reshard") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q186_rendezvous_reshard").foreach { keys =>
      assert(keys.subsetOf(Set("source")), s"unexpected shuffle key: $keys")
    }
  }

  test("q187 generalization ladder: no window; shuffles stay on the (width, QI) grid") {
    assert(collectAll("q187_kanon_generalize") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q187_kanon_generalize") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q187_kanon_generalize").foreach { keys =>
      assert(keys.subsetOf(Set("bin_w", "lang", "b", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q188 shuffle-order audit: both lag windows keyed (epoch, shard), one exchange serves them") {
    val windows = collectAll("q188_shuffle_quality") { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unkeyed window = all rows to one partition"))
    assert(collectAll("q188_shuffle_quality") { case j: SortMergeJoinExec => j }.isEmpty)
    // the two differently-ordered lags share the (epoch, shard) exchange
    val keyed = hashShuffleKeys("q188_shuffle_quality")
      .count(_ == Set("epoch", "shard"))
    assert(keyed == 1, s"expected ONE (epoch, shard) exchange, saw $keyed")
  }

  test("q191 DP release: q185's grid plan plus per-cell arithmetic — no window, grid keys") {
    assert(collectAll("q191_dp_release") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q191_dp_release") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q191_dp_release").foreach { keys =>
      assert(keys.subsetOf(Set("lang", "len_bucket", "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q189 z-order census: in-row keys — no window, no sort-merge") {
    assert(collectAll("q189_zorder_prune") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q189_zorder_prune") { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q192 heavy hitters from store: candidate-restricted recount — no window, w-keyed agg only") {
    assert(collectAll("q192_hh_from_store") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q192_hh_from_store") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q192_hh_from_store").foreach { keys =>
      assert(keys.subsetOf(Set("w")), s"unexpected shuffle key: $keys")
    }
  }

  test("q193 markup extraction: one narrow corpus scan — no join, no agg, no window") {
    assert(collectAll("q193_markup_extract") { case j: SortMergeJoinExec => j }.isEmpty)
    assert(collectAll("q193_markup_extract") { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll("q193_markup_extract") { case a: HashAggregateExec => a }.isEmpty)
    assert(collectAll("q193_markup_extract") { case w: WindowExec => w }.isEmpty)
    val scans = collectAll("q193_markup_extract") { case f: FileSourceScanExec => f }
    assert(scans.size === 1, "exactly one corpus scan")
    // per-row projection only: the scan reads just what the page build
    // needs — the stats columns never load
    val read = scans.head.metadata("ReadSchema")
    assert(!read.contains("n_chars") && !read.contains("lang"), read)
  }

  test("q194 fertility: vocab segmentation broadcasts; lang-keyed agg only, no window") {
    assert(collectAll("q194_bpe_fertility") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q194_bpe_fertility") { case j: SortMergeJoinExec => j }.isEmpty)
    assert(collectAll("q194_bpe_fertility") { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the vocab-sized segmentation table must broadcast")
  }

  test("q195 KN bigrams: no window; every exchange keyed on the bigram grid") {
    assert(collectAll("q195_kn_bigram") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q195_kn_bigram").foreach { keys =>
      assert(keys.subsetOf(Set("w1", "w2")), s"unexpected shuffle key: $keys")
    }
  }

  test("q196 LM doc score: no window; LM legs broadcast into the held scan; doc/grid keys only") {
    assert(collectAll("q196_lm_doc_score") { case w: WindowExec => w }.isEmpty)
    // the vocab²-bounded LM legs join the held pairs as broadcasts at
    // this scale (degrading to keyed shuffles is the documented 100 TB
    // fallback, but the PLANNED shape here must be broadcast)
    assert(collectAll("q196_lm_doc_score") { case j: BroadcastHashJoinExec => j }.size >= 3,
      "lm/lft/cont legs must broadcast into the held-pair scan")
    assert(collectAll("q196_lm_doc_score") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q196_lm_doc_score").foreach { keys =>
      assert(keys.subsetOf(Set("w1", "w2", "doc_id")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("q197 collocations: no window; margins broadcast; bigram-grid shuffle keys only") {
    assert(collectAll("q197_collocations") { case w: WindowExec => w }.isEmpty)
    assert(collectAll("q197_collocations") { case j: SortMergeJoinExec => j }.isEmpty)
    hashShuffleKeys("q197_collocations").foreach { keys =>
      assert(keys.subsetOf(Set("w1", "w2")), s"unexpected shuffle key: $keys")
    }
  }

  test("q199 LM from store: served plan runs on the folded checkpointed table — no file scan") {
    assert(collectAll("q199_lm_from_store") { case f: FileSourceScanExec => f }.isEmpty,
      "serving the KN table must not re-read corpus or store parquet")
    assert(collectAll("q199_lm_from_store") { case w: WindowExec => w }.isEmpty)
    hashShuffleKeys("q199_lm_from_store").foreach { keys =>
      assert(keys.subsetOf(Set("w1", "w2")), s"unexpected shuffle key: $keys")
    }
  }

  test("q200 LM threshold table: cumulative window rides the (source, bin) grid only") {
    val wins = collectAll("q200_lm_threshold_table") { case w: WindowExec => w }
    assert(wins.size === 1)
    assert(wins.head.partitionSpec.nonEmpty,
      "cumulative must be source-partitioned, never a global window")
    // the window consumes the folded bin grid — an aggregate sits
    // strictly below it, so it ranks ≤ sources × 11 rows
    assert(wins.head.collect { case a: HashAggregateExec => a }.nonEmpty)
    assert(collectAll("q200_lm_threshold_table") { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("q198 zipf audit: the only window runs over the folded vocab grid, never the corpus") {
    val wins = collectAll("q198_zipf_audit") { case w: WindowExec => w }
    assert(wins.size === 1)
    // the window's child plan must already be the aggregated vocab table:
    // a HashAggregate (the word-count fold) sits strictly below it, so
    // the sort ranks |vocab| rows, not |corpus| words
    assert(wins.head.collect { case a: HashAggregateExec => a }.nonEmpty,
      "rank window must consume the folded vocab grid")
    hashShuffleKeys("q198_zipf_audit").foreach { keys =>
      assert(keys.subsetOf(Set("w")), s"unexpected shuffle key: $keys")
    }
  }

  test("q190 pack sweep: q51's √N-blocked windows; exchanges stay block- or grid-keyed") {
    // block-keyed cumsum window + the global window over the √N block
    // aggregate (q51's pinned shape), then the 4-row budget grid — no
    // exchange ever carries more than (block) or (budget[, pack_id]) keys
    assert(collectAll("q190_pack_sweep") { case j: SortMergeJoinExec => j }.isEmpty)
    val blockWins = collectAll("q190_pack_sweep") { case w: WindowExec => w }
    assert(blockWins.nonEmpty)
    hashShuffleKeys("q190_pack_sweep").foreach { keys =>
      assert(keys.subsetOf(Set("block", "budget", "pack_id",
        "_groupingexpression")),
        s"unexpected shuffle key: $keys")
    }
  }

  test("layout canary: the CC edge and authority barriers stay hashpartitioned under AQE, broadcast on or off") {
    // Sessions.checkpointPartitioned exists because a plain checkpoint
    // under AQE reports UnknownPartitioning and every loop round then
    // re-exchanges its edge frame (r18 shipped both barriers inert once,
    // and nothing failed). Checked with AQE ON — the case that loses the
    // layout — at the default broadcast threshold and with broadcasts off
    // (the authority barrier's join plans differently under each).
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.functions.sum
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 4L)).toDF("a", "b")
    val wEdges = Seq(("s1", "s2", 3L), ("s2", "s3", 1L), ("s1", "s3", 2L),
      ("s3", "s1", 5L)).toDF("src", "dst", "w")
    val n = spark.sessionState.conf.numShufflePartitions
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      for (bc <- Seq(prevBc, "-1")) {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
        val barriers = Seq(
          ("CC edge", operators.Dedup.symmetricEdges(edges), "b"),
          ("authority", operators.Audit.shareEdges(wEdges,
            wEdges.groupBy("src").agg(sum("w").as("ow"))), "src"))
        for ((name, df, key) <- barriers) df.queryExecution.sparkPlan.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), `n`) if a.name == key =>
          case other => fail(s"$name barrier (autoBroadcastJoinThreshold=$bc) " +
            s"reports $other, not hashpartitioning($key, $n)")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
