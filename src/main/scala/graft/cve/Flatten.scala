package graft.cve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ingest flattener (cve_manager.py:205-360), re-expressed as
  * three declarative explode/project pipelines over the schema'd JSON read.
  *
  * The reference's row-at-a-time try/except cascade (cve_manager.py:249-278)
  * and nested loops (280-317) become narrow Catalyst plans: no shuffle
  * anywhere in ingest, whole-stage codegen over Project/Generate/Filter. At
  * 100 TB the same plans fan out to one task per JSON split.
  */
object Flatten {

  /** Schema'd multiline read of one-object-per-file NVD feed JSON
    * (S4 extracted-file path; see Ingest for the in-zip reader). */
  def readFeed(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("multiLine", "true").schema(NvdSchema.feed).json(paths: _*)

  private def envelope = Seq(
    col("CVE_data_timestamp").as("feed_timestamp"),
    col("CVE_data_version").as("feed_version"),
    col("CVE_data_format").as("feed_format"),
    col("CVE_data_numberOfCVEs").as("feed_count"),
    col("CVE_data_type").as("feed_type"))

  /** Feed-envelope metadata probe (S5, cve_manager.py:240-244). */
  def feedMetadata(feed: DataFrame): DataFrame = feed.select(envelope: _*)

  /** `feedMetadata` led by the feed's file name, over
    * `Ingest.readFeedDirByFile`: the whole per-file report in one job. */
  def feedMetadataByFile(feed: DataFrame): DataFrame =
    feed.select(col(Ingest.FeedFile) +: envelope: _*)

  private def items(feed: DataFrame): DataFrame =
    feed.select(explode(col("CVE_Items")).as("it"))

  /** One row per CVE, 32 columns in warehouse DDL order
    * (cve_manager.py:249-278). Absent metric blocks yield nulls — the
    * 4-shape null-cascade for free. Description is the in-order concat of
    * all description_data values with `[\r\n\t]` scrubbed to spaces
    * (cve_manager.py:251-256); dates are the date part of the feed's
    * `yyyy-MM-dd'T'HH:mmX` strings (PG COPY coerced; we cast explicitly,
    * SURVEY.md §7.4(5)). */
  def cvss(feed: DataFrame): DataFrame = {
    def v3(f: String) = col(s"it.impact.baseMetricV3.cvssV3.$f")
    def v3m(f: String) = col(s"it.impact.baseMetricV3.$f")
    def v2(f: String) = col(s"it.impact.baseMetricV2.cvssV2.$f")
    def v2m(f: String) = col(s"it.impact.baseMetricV2.$f")
    items(feed).select(
      col("it.cve.CVE_data_meta.ID").as("cve"),
      v3("attackComplexity").as("attack_complexity_3"),
      v3("attackVector").as("attack_vector_3"),
      v3("availabilityImpact").as("availability_impact_3"),
      v3("confidentialityImpact").as("confidentiality_impact_3"),
      v3("integrityImpact").as("integrity_impact_3"),
      v3("privilegesRequired").as("privileges_required_3"),
      v3("scope").as("scope_3"),
      v3("userInteraction").as("user_interaction_3"),
      v3("vectorString").as("vector_string_3"),
      v3m("exploitabilityScore").as("exploitability_score_3"),
      v3m("impactScore").as("impact_score_3"),
      v3("baseScore").as("base_score_3"),
      v3("baseSeverity").as("base_severity_3"),
      v2("accessComplexity").as("access_complexity"),
      v2("accessVector").as("access_vector"),
      v2("authentication").as("authentication"),
      v2("availabilityImpact").as("availability_impact"),
      v2("confidentialityImpact").as("confidentiality_impact"),
      v2("integrityImpact").as("integrity_impact"),
      v2m("obtainAllPrivilege").as("obtain_all_privileges"),
      v2m("obtainOtherPrivilege").as("obtain_other_privileges"),
      v2m("obtainUserPrivilege").as("obtain_user_privileges"),
      v2m("userInteractionRequired").as("user_interaction_required"),
      v2("vectorString").as("vector_string"),
      v2m("exploitabilityScore").as("exploitability_score"),
      v2m("impactScore").as("impact_score"),
      v2("baseScore").as("base_score"),
      v2m("severity").as("severity"),
      regexp_replace(
        array_join(transform(col("it.cve.description.description_data"),
          dd => dd("value")), ""),
        "[\\r\\n\\t]", " ").as("description"),
      to_date(substring(col("it.publishedDate"), 1, 10)).as("published_date"),
      to_date(substring(col("it.lastModifiedDate"), 1, 10)).as("last_modified_date"))
  }

  /** One row per (CVE, weakness label): the G1 double explode
    * (cve_manager.py:280-284). Labels are NOT always `CWE-<n>` (e.g.
    * `NVD-CWE-noinfo`) — resolution happens at query time (Queries.cweLookup). */
  def problems(feed: DataFrame): DataFrame =
    items(feed)
      .select(col("it.cve.CVE_data_meta.ID").as("cve"),
        explode(col("it.cve.problemtype.problemtype_data")).as("pd"))
      .select(col("cve"), explode(col("pd.description")).as("d"))
      .select(col("cve"), col("d.value").as("problem"))

  /** One row per (CVE, platform URI): the G2 config flatten
    * (cve_manager.py:285-317). A node with `children` contributes ONLY its
    * children's cpe_match lists; a node without contributes its direct
    * cpe_match; entries missing cpe23Uri are skipped (guard at :297,:304);
    * a node with neither emits nothing (the dead k-loop at :307-315,
    * SURVEY.md §7.4(4)). `vulnerable` is rendered as Python-str booleans
    * 'True'/'False' (character(5) in the DDL, cve_manager.py:61). */
  def cpes(feed: DataFrame): DataFrame = {
    val nodes = items(feed).select(
      col("it.cve.CVE_data_meta.ID").as("cve"),
      explode(col("it.configurations.nodes")).as("n"))
    val direct = nodes.filter(col("n.children").isNull)
      .select(col("cve"), explode(col("n.cpe_match")).as("m"))
    val child = nodes.filter(col("n.children").isNotNull)
      .select(col("cve"), explode(col("n.children")).as("c"))
      .select(col("cve"), explode(col("c.cpe_match")).as("m"))
    direct.unionByName(child)
      .filter(col("m.cpe23Uri").isNotNull)
      .select(
        col("cve"),
        col("m.cpe23Uri").as("cpe23uri"),
        Warehouse.pythonBool(col("m.vulnerable")).as("vulnerable"))
  }
}
