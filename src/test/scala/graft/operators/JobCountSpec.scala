package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}

/** VERDICT r3 #4: the vector queries used to run a driver-side
  * `agg().head()` / `count()` probe for (n, dim) while BUILDING the plan —
  * an extra corpus-scan job per query run. The probes are now folded in as
  * broadcast 1-row subplans, so constructing any query's DataFrame must
  * launch ZERO Spark jobs; everything runs inside the single action.
  */
class JobCountSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def jobsDuring(work: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { work; Thread.sleep(500) } // listener bus is async; drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  // Materialize at construction BY DESIGN: q47/q58's pointer-jumping loop
  // runs its bounded rounds eagerly (per-round lineage barrier), q54
  // localCheckpoints the simhash frame against CollapseProject inlining,
  // q73 localCheckpoints its scored frame against the 5-way downstream
  // fan-out re-running the corpus window + regex scoring, q59
  // localCheckpoints its scored pairs so the symmetric mirror's two
  // branches don't each re-run the candidates+verify subtree, q91
  // localCheckpoints its levenshtein frame so the edit_sim filter isn't
  // pushed into a second graft_levenshtein evaluation (bit-parallel,
  // O(⌈len/64⌉·len) per pair), q102 consolidates over
  // the same eager pointer-jumping component map as q47/q58, and q105
  // builds its registry ARTIFACT (distinct-shingle localCheckpoint + the
  // bloom sketch collected to a literal) at construction — the in-query
  // stand-in for a registry that production persists once per version
  // (buildDecontamRegistry / bloomDecontamFrom). The q127-q135 from-store
  // family builds its persisted index INTO a scratch store at construction
  // by definition — the whole point of those entries is to oracle-grade
  // the build→persist→answer round trip — and q136 localCheckpoints its
  // signature grid (the q54 barrier).
  private val eagerByDesign = Set(
    "q47_dedup_components", "q58_dedup_keep", "q54_simhash_pairs",
    "q73_curation_pipeline", "q59_ann_knn_join", "q91_edit_distance",
    "q102_dup_consolidate", "q105_bloom_decontam",
    "q127_pairs_from_store", "q128_consolidate_from_store",
    "q129_winnow_pairs_from_store", "q130_pq_ann_from_store",
    "q131_ivf_ann_from_store", "q132_ivfpq_ann_from_store",
    "q133_familiarity_from_store", "q134_decontam_from_store",
    "q135_incremental_dedup_from_store", "q136_phash_neardup",
    "q139_phash_from_store", "q140_hard_negatives", "q141_phash_calibration",
    "q142_phash_deep", "q143_phash_incremental", "q144_phash_consolidate",
    "q145_phash_consolidate_from_store", "q146_dedup_consensus",
    "q147_phash_knn",
    // q149 assigns splits off the same eager pointer-jumping component
    // map as q47/q58; q150 localCheckpoints its catalog-sized histogram
    // against the 4-way downstream fan-out re-scanning the corpus (the
    // q73 barrier).
    "q149_cluster_split", "q150_budget_cut",
    // q151 builds its persisted gram index into a scratch store at
    // construction, like the rest of the from-store family.
    "q151_crossdoc_from_store",
    // q159 pulls its ≤ K-entry Misra–Gries candidate sketch (plus the
    // exact word total) to the driver at construction — the q105
    // bloom-registry discipline.
    "q159_heavy_hitters",
    // q162 localCheckpoints its ≤ 3·Q·MatK top frame against the
    // full/prefix downstream fan-out re-running the dense scans (the
    // q59 barrier pattern).
    "q162_matryoshka_fidelity",
    // q170 runs RankRounds barrier'd iterations over the catalog-sized
    // edge frame at construction (the connectedComponents discipline).
    "q170_source_authority",
    // q171/q172 build the persisted provenance store into a scratch dir
    // at construction (the from-store discipline); q172 additionally
    // runs the barrier'd rank iterations.
    "q171_provenance_from_store", "q172_authority_from_store",
    // q173 builds the persisted IVFPQ store at construction; its search
    // also sizes autoRerank from the store's code count.
    "q173_fusion_from_store",
    // q182/q183 build checkpointed Merkle level frames at construction
    // (each level is consumed twice — next fold + diff/sibling side; the
    // q150 fan-out barrier); q184 builds its persisted tree into a
    // scratch store (the from-store discipline).
    "q182_merkle_drift", "q183_merkle_proof", "q184_merkle_from_store",
    // q174/q175 run BpeRounds merge rounds over the checkpointed
    // vocab-sized word-frequency frame at construction (each round pulls
    // the 1-row winning pair — the q170 barrier'd-iteration discipline);
    // q194 reuses the same learner for its vocabulary; q195 barriers the
    // bigram TYPE table (three grid consumers fan out of it).
    "q174_bpe_merges", "q175_bpe_encode", "q194_bpe_fertility",
    // q195/q196/q197 barrier the bigram TYPE table via knLegs (three
    // grid consumers fan out of it); q199 builds its persisted bigram
    // store into a scratch dir at construction (the from-store
    // discipline) and barriers the folded table the same way.
    "q195_kn_bigram", "q196_lm_doc_score", "q197_collocations",
    "q199_lm_from_store", "q200_lm_threshold_table",
    // q178/q179/q180/q192 build the persisted sketch store into a
    // scratch dir at construction (the from-store discipline); q192
    // additionally pulls its ≤ MgK candidate set + word total to the
    // driver (the q159 discipline).
    "q178_hll_from_store", "q179_cms_from_store",
    "q180_len_quantiles_from_store", "q192_hh_from_store")

  test("building any catalog query plan launches zero jobs (probes are in-plan)") {
    // r18 (VERDICT r17 #1, sbt-test wall time): this sweep took 146 s —
    // the warm-up CONSTRUCTED every eager query (running its store builds)
    // and the per-query jobsDuring paid a 500 ms listener-drain sleep ×
    // ~145 queries. The warm-up now builds only the swept (non-eager) set
    // — exactly the plans whose schema-inference jobs must be pre-paid —
    // and the sweep counts jobs ONCE across all constructions (zero total
    // ⇒ zero each); only on failure does the slow per-query attribution
    // loop re-run to name the offender.
    val swept = SparkEntry.all.filterNot(d => eagerByDesign(d.name))
    // First touch of a parquet/csv path infers its schema (one cached
    // footer/header job) — warm those so the sweep measures the QUERIES.
    swept.foreach(d => try d.impl(spark, dir) catch { case _: Throwable => () })
    // q33/q34/q59 were the r3 offenders (driver-side (n, dim)/count
    // probes); sweep the whole catalog so a future operator can't
    // reintroduce a probe unnoticed.
    val total = jobsDuring { swept.foreach(d => d.impl(spark, dir)) }
    if (total != 0) swept.foreach { d =>
      val n = jobsDuring { d.impl(spark, dir) }
      assert(n == 0, s"${d.name}: plan construction launched $n job(s)")
    }
    assert(total == 0, s"plan construction launched $total job(s) in total")
  }

  test("in-plan SRP planes equal the reference srpPlane derivation") {
    val raw = Tables.embeddings(spark, dir)
    val row = Vectors.srpParams(raw).select("r", "planes").head()
    val planes = row.getSeq[scala.collection.Seq[Double]](1)
    assert(planes.length == Vectors.SrpBands * Vectors.SrpMaxRows)
    val dim = planes.head.length
    planes.zipWithIndex.foreach { case (p, j) =>
      assert(p.toArray.sameElements(Vectors.srpPlane(j, dim)), s"plane $j differs")
    }
    val r = row.getInt(0)
    assert(r >= Vectors.SrpMinRows && r <= Vectors.SrpMaxRows)
  }
}
