package graft.cve

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The warehouse layer: the `cvss_vs_cpes` join view, the CWE catalog
  * dimension source, catalog DDL (D1-D4), and the reference's CSV sinks
  * (S7/S10) with byte-exact headers.
  */
object Warehouse {

  val Database = "cvedb"

  /** Python-str boolean rendering — 'True'/'False', null-preserving
    * (cve_manager.py:258). THE single definition; the CSV sink, the CPE
    * flatten, and the oracle comparison boundary all share it. */
  def pythonBool(c: Column): Column =
    when(c, "True").when(!c, "False")
  /** CVE fact tables, truncated on refresh; `cwe` (dimension) survives
    * (cve_manager.py:363-384 truncates cpe, cve_problem, cvss only). */
  val FactTables = Seq("cvss", "cve_problem", "cpe")

  /** View `cvss_vs_cpes` (cve_manager.py:79-90): inner equi-join on cve,
    * vulnerable rows only, 8 projected columns. Composed lazily — Catalyst
    * inlines it and pushes query filters below the join (SURVEY.md §4). */
  def cvssVsCpes(cvss: DataFrame, cpe: DataFrame): DataFrame =
    cpe.filter(col("vulnerable") === "True")
      .join(cvss, Seq("cve"))
      .select(col("cve"), col("base_score_3"), col("base_severity_3"),
        col("base_score"), col("severity"), col("cpe23uri"),
        col("description"), col("published_date"))

  /** CWE catalog source (S8, cve_manager.py:591-599): comma-CSV with header,
    * projected BY POSITION — cols 0,1,4,5,11,14,16 — exactly like the
    * reference's csv.reader row indexing, so any MITRE-export header naming
    * works. multiLine + RFC4180 quote-escape handle embedded commas/newlines
    * (the Changelog's CWE-processing bug). */
  private val cweSchemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  def cweCatalog(spark: SparkSession, path: String): DataFrame = {
    // Header/schema read cached per path: with header=true every plain
    // .csv() call launches a header-scan job at DataFrame construction
    // (JobCountSpec pins construction at zero jobs).
    def rd = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
    val schema = cweSchemaCache.getOrElseUpdate(path, rd.csv(path).schema)
    val raw = rd.schema(schema).csv(path)
    val c = raw.columns
    raw.select(
      col(c(0)).cast("int").as("cwe_id"),
      col(c(1)).as("name"),
      col(c(4)).as("description"),
      col(c(5)).as("extended_description"),
      col(c(11)).as("modes_of_introduction"),
      col(c(14)).as("common_consequences"),
      col(c(16)).as("potential_mitigations"))
  }

  // ── Catalog ops (D1-D4, cve_manager.py:95-168,363-384) ──

  def createDatabase(spark: SparkSession, db: String = Database): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  def dropDatabase(spark: SparkSession, db: String = Database): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")

  /** D3 + S9: land the three fact frames (and optionally the cwe dimension)
    * as managed tables, then register the join view. Overwrite = the
    * truncate-and-reload refresh semantics (D4): the reference's only
    * incremental-update story is full reload (README.md:28-29). */
  def saveFacts(
      spark: SparkSession, db: String,
      cvss: DataFrame, problems: DataFrame, cpes: DataFrame): Unit = {
    createDatabase(spark, db)
    // cvss is partitioned by publication year (the natural per-year-feed
    // layout, SURVEY.md §4): date-floor queries prune whole year partitions
    // at planning time (Queries.byScoreDate adds the pub_year predicate).
    // The writers set their layout from the data, not from the input's
    // partitioning (one per feed file): hashing on pub_year gives one writer
    // task — one file — per year directory, and AQE's rebalance coalesces
    // the other two tables by bytes.
    val withYear = cvss.withColumn("pub_year", year(col("published_date")))
    withYear.repartition(withYear("pub_year"))
      .write.mode(SaveMode.Overwrite).partitionBy("pub_year")
      .saveAsTable(s"$db.cvss")
    problems.hint("rebalance").write.mode(SaveMode.Overwrite)
      .saveAsTable(s"$db.cve_problem")
    cpes.hint("rebalance").write.mode(SaveMode.Overwrite).saveAsTable(s"$db.cpe")
    spark.sql(
      s"""CREATE OR REPLACE VIEW $db.cvss_vs_cpes AS
         |SELECT cvss.cve, cvss.base_score_3, cvss.base_severity_3,
         |       cvss.base_score, cvss.severity, cpe.cpe23uri,
         |       cvss.description, cvss.published_date
         |FROM $db.cpe cpe JOIN $db.cvss cvss ON cpe.cve = cvss.cve
         |WHERE cpe.vulnerable = 'True'""".stripMargin)
  }

  def saveCwe(spark: SparkSession, db: String, cwe: DataFrame): Unit = {
    createDatabase(spark, db)
    cwe.write.mode(SaveMode.Overwrite).saveAsTable(s"$db.cwe")
  }

  /** D4: truncate the CVE fact tables (not the cwe dimension). */
  def truncateFacts(spark: SparkSession, db: String = Database): Unit =
    FactTables.foreach { t =>
      if (spark.catalog.tableExists(s"$db.$t")) spark.sql(s"TRUNCATE TABLE $db.$t")
    }

  // ── JDBC warehouse (S9's literal bulk load/query path) ──

  /** Resolve an explicit driver class where the URL needs one. Derby 10.16
    * splits the engine across jars and service-loader discovery can miss
    * `EmbeddedDriver` under Spark's executor classloaders — pin it. */
  private def jdbcDriverFor(url: String): Option[String] =
    if (url.startsWith("jdbc:derby:")) Some("org.apache.derby.jdbc.EmbeddedDriver")
    else None

  // SQLStates ignorable on idempotent DDL: 42X05/X0X05 = missing table/view,
  // 42Y55 = DROP on a missing object, X0Y32 = CREATE of an existing object.
  private val MissingObject = Set("42X05", "42Y55", "X0X05")
  private val ExistingObject = Set("X0Y32")

  /** Run one DDL statement over a raw JDBC connection (view create/drop —
    * Spark's JDBC source only speaks tables). */
  private def execJdbc(url: String, sql: String,
      ignorable: Set[String] = Set.empty): Unit = {
    jdbcDriverFor(url).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(sql)
      catch {
        case e: java.sql.SQLException if ignorable(e.getSQLState) => ()
      } finally st.close()
    } finally conn.close()
  }

  private def jdbcWrite(df: DataFrame, url: String, table: String,
      keyTypes: String, numPartitions: Int): Unit = {
    val w0 = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      // Caps writer fan-in: one connection per partition, so a wide cluster
      // write can't open thousands of connections against the database.
      .option("numPartitions", numPartitions)
      .option("batchsize", 1000)
      // Overwrite TRUNCATEs in place when the table exists (Derby 10.7+)
      // instead of drop/recreate: a mid-refresh failure or concurrent reader
      // never sees the table gone, dependent views stay valid, and the
      // refresh matches the reference's D4 truncate-and-reload semantics.
      .option("truncate", true)
    val w1 = if (keyTypes.isEmpty) w0 else w0.option("createTableColumnTypes", keyTypes)
    jdbcDriverFor(url).fold(w1)(d => w1.option("driver", d))
      .mode(SaveMode.Overwrite).save()
  }

  /** S9's named approach made literal (BASELINE: "Spark SQL + JDBC source
    * for bulk load/query"; the reference COPYs its CSVs into PostgreSQL,
    * cve_manager.py:335-360): the same three fact tables + the
    * `cvss_vs_cpes` view over Spark's JDBC source. Engine-agnostic (any
    * JDBC URL whose driver is on the classpath); spec-tested against
    * embedded Derby (`jdbc:derby:<dir>;create=true` — derby*.jar ships
    * with Spark, zero new dependencies).
    *
    * Predicate/join columns are pinned to VARCHAR via
    * `createTableColumnTypes`: Spark's default StringType mapping on Derby
    * is CLOB, which forbids `=` comparisons — the view join and any pushed
    * equality filter would throw, and a LOB join key is un-indexable at any
    * scale. Free-text columns (description, CWE prose) stay CLOB.
    *
    * Scale posture: the writer is distributed (`numPartitions` connections
    * in parallel), the reader parallelizes via `readJdbc`'s
    * partition-column bounds; the database itself is the bottleneck by
    * design, exactly as with the reference's PostgreSQL. */
  def saveFactsJdbc(url: String, cvss: DataFrame, problems: DataFrame,
      cpes: DataFrame, numPartitions: Int = 8): Unit = {
    // Refresh truncates in place (see jdbcWrite), so the dependent view
    // never has to be dropped — it's created once and survives reloads.
    // cpe23uri gets headroom over any observed URI (max ~300 chars in the
    // wild) but stays VARCHAR: Derby CLOB forbids LIKE, and the reference
    // filters it with substring match (cve_manager.py:485-504).
    jdbcWrite(cvss, url, "cvss", "cve VARCHAR(32)", numPartitions)
    jdbcWrite(problems, url, "cve_problem", "cve VARCHAR(32)", numPartitions)
    jdbcWrite(cpes, url, "cpe",
      "cve VARCHAR(32), cpe23uri VARCHAR(4096), vulnerable VARCHAR(8)",
      numPartitions)
    // J1 as a database view (cve_manager.py:79-90). Spark's writer quotes
    // column identifiers (lowercase preserved) but not the table name
    // (Derby uppercases it) — mirror that quoting here.
    execJdbc(url,
      """CREATE VIEW cvss_vs_cpes
        |  ("cve","base_score_3","base_severity_3","base_score","severity",
        |   "cpe23uri","description","published_date") AS
        |SELECT c."cve", c."base_score_3", c."base_severity_3",
        |       c."base_score", c."severity", p."cpe23uri",
        |       c."description", c."published_date"
        |FROM cpe p JOIN cvss c ON p."cve" = c."cve"
        |WHERE p."vulnerable" = 'True'""".stripMargin,
      ignorable = ExistingObject)
  }

  /** The cwe dimension over JDBC (dimension survives fact refresh, D4). */
  def saveCweJdbc(url: String, cwe: DataFrame, numPartitions: Int = 1): Unit =
    jdbcWrite(cwe, url, "cwe", "name VARCHAR(512)", numPartitions)

  /** D1 over JDBC: open one connection and close it. Database existence is
    * the URL's business (embedded Derby materialises on `;create=true`; a
    * server-managed database is the DBA's, like the reference's PG
    * `createdb` needing a superuser connection, cve_manager.py:95-112). */
  def createDatabaseJdbc(url: String): Unit = {
    jdbcDriverFor(url).foreach(Class.forName)
    java.sql.DriverManager.getConnection(url).close()
  }

  /** D2 over JDBC: drop the warehouse objects (view first — it depends on
    * the fact tables). The database container itself stays, as above. */
  def dropWarehouseJdbc(url: String): Unit = {
    execJdbc(url, "DROP VIEW cvss_vs_cpes", ignorable = MissingObject)
    (FactTables :+ "cwe").foreach { t =>
      execJdbc(url, s"DROP TABLE $t", ignorable = MissingObject)
    }
  }

  /** D4 over JDBC: truncate the CVE fact tables in place (not the cwe
    * dimension) — the literal twin of the reference's TRUNCATE loop
    * (cve_manager.py:363-384). */
  def truncateFactsJdbc(url: String): Unit =
    FactTables.foreach { t =>
      execJdbc(url, s"TRUNCATE TABLE $t", ignorable = MissingObject)
    }

  /** Bulk query path: read a warehouse table or view back as a DataFrame.
    * Pass `partitionColumn` + bounds to shard the read across executors
    * (numeric/date/timestamp column; Spark turns the bounds into per-task
    * range predicates) — the single-connection default is only right for
    * dimension-sized tables. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      partitionColumn: Option[String] = None,
      lowerBound: Option[String] = None, upperBound: Option[String] = None,
      numPartitions: Int = 1): DataFrame = {
    val r0 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val r1 = jdbcDriverFor(url).fold(r0)(d => r0.option("driver", d))
    val r2 = partitionColumn.fold(r1) { pc =>
      r1.option("partitionColumn", pc)
        .option("lowerBound", lowerBound.getOrElse(
          throw new IllegalArgumentException("partitionColumn needs lowerBound")))
        .option("upperBound", upperBound.getOrElse(
          throw new IllegalArgumentException("partitionColumn needs upperBound")))
        .option("numPartitions", numPartitions)
    }
    r2.load()
  }

  // ── CSV sinks ──

  /** Exact reference header rows (cve_manager.py:227-229) — duplicate names
    * verbatim, including the inconsistent capitalisation. */
  val CvssHeader: Seq[String] = Seq(
    "CVE", "Attack Complexity", "Attack Vector", "Availability Impact",
    "Confidentiality Impact", "Integrity Impact", "Privileges Required",
    "Scope", "UserInteraction", "Vector String", "Exploitability Score",
    "Impact Score", "base Score", "base Severity", "Access Complexity",
    "Access Vector", "Authentication", "Availability Impact",
    "Confidentiality Impact", "Integrity Impact", "Obtain All Privilege",
    "Obtain Other Privilege", "Obtain User Privilege",
    "User Interaction Required", "Vector String", "Exploitability Score",
    "impact Score", "baseScore", "severity", "Description", "Published Date",
    "Last Modified Date")
  val ProblemsHeader: Seq[String] = Seq("CVE", "Problem")
  val CpesHeader: Seq[String] = Seq("CVE", "cpe23Uri", "Vulnerable")

  /** Python-str rendering for the tab-CSVs: booleans 'True'/'False'
    * (capitalized, like the reference's str(bool), cve_manager.py:258),
    * doubles via cast (Java Double.toString == Python str for NVD's ≤1dp
    * scores: "7.5", "10.0"), nulls as empty string (`null=""` on COPY
    * import, cve_manager.py:344). */
  private def pyStr(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType.typeName match {
        case "boolean" => pythonBool(col(f.name)).as(f.name)
        case _ => col(f.name).cast("string").as(f.name)
      }
    }.toSeq: _*)

  private def writeTabCsv(df: DataFrame, header: Seq[String], out: String): Unit = {
    require(df.columns.length == header.length,
      s"header arity ${header.length} != ${df.columns.length}")
    pyStr(df).toDF(header: _*)
      .write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true")
      .option("emptyValue", "").option("nullValue", "")
      .csv(out)
  }

  /** S7: the three tab-CSV warehouse files with exact reference headers.
    * Each lands as a directory of part files (distributed write — the
    * scale-correct default, rebalanced by AQE so the part count follows
    * bytes, not input partitions); `singleFile` coalesces for byte-golden
    * tests. */
  def writeWarehouseCsvs(
      cvss: DataFrame, problems: DataFrame, cpes: DataFrame,
      outDir: String, singleFile: Boolean = false): Unit = {
    def prep(df: DataFrame) = if (singleFile) df.coalesce(1) else df.hint("rebalance")
    writeTabCsv(prep(cvss), CvssHeader, s"$outDir/cve_cvss_scores.csv")
    writeTabCsv(prep(problems), ProblemsHeader, s"$outDir/cve_related_problems.csv")
    writeTabCsv(prep(cpes), CpesHeader, s"$outDir/cve_cpes.csv")
  }

  /** S9 (the COPY import path): read the three tab-CSV warehouse files back
    * as TYPED frames — header skipped positionally (the reference headers
    * contain duplicate display names, so names are unusable; enforceSchema
    * maps by position exactly like PG COPY), `null=""`, Python-str booleans
    * and ISO dates parsed by the schema (cve_manager.py:335-359). */
  def readWarehouseCsvs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def rd(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema)
        .option("sep", "\t").option("header", "true")
        .option("nullValue", "").option("emptyValue", "")
        .csv(s"$dir/$name")
    (rd("cve_cvss_scores.csv", NvdSchema.cvssTable),
      rd("cve_related_problems.csv", NvdSchema.cveProblemTable),
      rd("cve_cpes.csv", NvdSchema.cpeTable))
  }

  /** Distributed write, flat-file result: Spark's csv() sink always lands a
    * DIRECTORY of part files, but the reference's downstream contract is a
    * single flat file at the exact derived path (cve_manager.py:467-471) —
    * so write coalesce(1) to a scratch dir, promote the lone part file to
    * the exact path, drop the scratch dir. Query exports are human-scale
    * result sets (already filtered/ordered), so coalesce(1) is safe here;
    * the bulk warehouse CSVs (writeWarehouseCsvs) stay multi-part. */
  private def writeSingleCsv(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val scratch = path + ".spark-staging"
    df.coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(scratch)
    // Promote via the RAW filesystem: ChecksumFileSystem shadows every
    // rename/delete with a RELATIVE ".<name>.crc" path, and a ':' in the
    // derived filename (any -cpe value with a colon, e.g. a cpe:2.3 prefix)
    // parses as a URI scheme there and throws — the reference writes such
    // names fine, so must we. Raw FS skips the crc shadow entirely.
    val fs0 = new Path(scratch).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val fs = fs0 match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val part = fs.listStatus(new Path(scratch)).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $scratch"))
    val dest = new Path(path)
    fs.delete(dest, true)
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(new Path(scratch), true)
  }

  /** S10: comma-CSV export of score/date query results, a single flat file
    * named `CVEs_score<sc>_<dt>.csv` (cve_manager.py:467-471). */
  def exportScoreDateCsv(
      rows: DataFrame, outDir: String, score: String, date: Option[String]): String = {
    val path = s"$outDir/CVEs_score${score}_${date.getOrElse("False")}.csv"
    writeSingleCsv(rows.toDF(
      "CVE", "CVSSv3 Score", "CVSSv3 Vector String", "CVSSv2 Score",
      "CVSSv2 Vector String", "Published Date"), path)
    path
  }

  /** S10: comma-CSV export of CPE query results, a single flat file named
    * `<cpe>_<sc>_<dt>.csv` (cve_manager.py:525-529). */
  def exportCpeCsv(
      rows: DataFrame, outDir: String, cpe: String, score: String,
      date: Option[String]): String = {
    val path = s"$outDir/${cpe}_${score}_${date.getOrElse("False")}.csv"
    writeSingleCsv(rows.toDF(
      "CPE", "CVE", "CVSSv3 Score", "CVSSv2 Score", "Published Date"), path)
    path
  }
}
