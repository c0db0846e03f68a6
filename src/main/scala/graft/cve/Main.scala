package graft.cve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Sessions

/** D5: the CLI dispatcher (cve_manager.py:612-681) — same flag names, same
  * combinability and precedence:
  * dd → cd → ct → download → tr → process → icwe, then the query modes are
  * mutually exclusive: `-cpe` elif `-cwe` elif (`-cve` or `-sc` > 0).
  *
  * Connection-flag quirk (D5a): the reference splits `-server` (DDL/ingest)
  * from a vestigial `-host` (queries); we take a single `-db` database name
  * and document the quirk here rather than replicate it.
  */
object Main {

  final case class Opts(
      process: Boolean = false, download: Boolean = false,
      year: Option[String] = None, csv: Boolean = false,
      icwe: Option[String] = None, idb: Boolean = false,
      input: String = "nvd/", results: String = "results/",
      database: String = "cvedb", jdbcUrl: Option[String] = None,
      cd: Boolean = false, dd: Boolean = false, ct: Boolean = false,
      tr: Boolean = false,
      cve: Option[String] = None, cpe: Option[String] = None,
      cwe: Option[String] = None, score: Double = 0.0,
      date: Option[String] = None)

  /** @throws IllegalArgumentException on a value flag with a missing value
    *         or a non-numeric score — mirroring argparse's fail-fast. */
  def parse(args: Seq[String]): Opts = {
    // A value flag must be followed by a non-flag token.
    def value(flag: String, rest: List[String]): (String, List[String]) = rest match {
      case v :: t if !v.startsWith("-") => (v, t)
      case _ => throw new IllegalArgumentException(s"$flag requires a value")
    }
    def loop(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case ("-p" | "--parse") :: t => loop(t, o.copy(process = true))
      case ("-d" | "--download") :: t => loop(t, o.copy(download = true))
      case (f @ ("-y" | "--year")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(year = Some(v)))
      case ("-csv" | "--csv_files") :: t => loop(t, o.copy(csv = true))
      case (f @ ("-icwe" | "--import_cwe")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(icwe = Some(v)))
      case ("-idb" | "--import_to_db") :: t => loop(t, o.copy(idb = true))
      case (f @ ("-i" | "--input")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(input = v))
      case (f @ ("-o" | "--output")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(results = v))
      case (f @ ("-db" | "--database")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(database = v))
      case (f @ ("-jdbc" | "--jdbc-url")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(jdbcUrl = Some(v)))
      case ("-cd" | "--create_database") :: t => loop(t, o.copy(cd = true))
      case ("-dd" | "--drop_database") :: t => loop(t, o.copy(dd = true))
      case ("-ct" | "--create_tables") :: t => loop(t, o.copy(ct = true))
      case ("-tr" | "--truncate_cves_tables") :: t => loop(t, o.copy(tr = true))
      case (f @ ("-cve" | "--cve_number")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(cve = Some(v)))
      case (f @ ("-cpe" | "--cpe")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(cpe = Some(v)))
      case (f @ ("-cwe" | "--cwe")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(cwe = Some(v)))
      case (f @ ("-sc" | "--score")) :: t =>
        val (v, t2) = value(f, t)
        val sc = try v.toDouble catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"invalid score: $v")
        }
        loop(t2, o.copy(score = sc))
      case (f @ ("-dt" | "--date")) :: t =>
        val (v, t2) = value(f, t); loop(t2, o.copy(date = Some(v)))
      // Unknown flags and ignored reference flags (-u/-ow/-host/-server):
      // swallow one value if the next token isn't a flag.
      case f :: v :: t if f.startsWith("-") && !v.startsWith("-") => loop(t, o)
      case _ :: t => loop(t, o)
    }
    loop(args.toList, Opts())
  }

  /** Full dispatch with the reference's ordering; factored out of main() so
    * tests can drive it with an existing session and captured stdout.
    *
    * With `--jdbc-url` every warehouse touch-point — DDL, bulk load,
    * truncate, and all three query families — routes through the JDBC store
    * (`Warehouse.saveFactsJdbc`/`readJdbc`), reproducing the reference's
    * actual workflow: `-idb` COPYs into PostgreSQL (cve_manager.py:335-360)
    * and every query then hits that database (cve_manager.py:387-504).
    * Without it, the same surface runs on the partitioned parquet catalog. */
  def run(spark: SparkSession, o: Opts, out: String => Unit = println): Unit = {
    val db = o.database
    if (o.dd) {
      out("Dropping the database")
      o.jdbcUrl.fold(Warehouse.dropDatabase(spark, db))(Warehouse.dropWarehouseJdbc)
    }
    if (o.cd) {
      out("Creating the database")
      o.jdbcUrl.fold(Warehouse.createDatabase(spark, db))(Warehouse.createDatabaseJdbc)
    }
    if (o.ct) {
      out("Creating the necessary schema of the database")
      o.jdbcUrl.fold(createEmptyTables(spark, db))(createEmptyTablesJdbc(spark, _))
    }
    if (o.download) {
      out("Downloading NIST NVD")
      Ingest.downloadFeeds(o.input, o.year) match {
        case Right(names) => names.foreach(out)
        case Left(err) => out(err)
      }
    }
    if (o.tr) {
      out("Truncating NIST NVD imported data")
      o.jdbcUrl.fold(Warehouse.truncateFacts(spark, db))(Warehouse.truncateFactsJdbc)
    }
    if (o.process) {
      out("Processing downloaded data")
      // The feed directory parses ONCE, one task per file, largest first;
      // the envelope report and every write below read that parse. It is
      // held for this step only, so the next `-p` reads its feeds afresh.
      val feed = Ingest.readFeedDirByFile(spark, o.input)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // Per-file envelope report, newest year first (files.sort(reverse=True)
        // + the per-file prints, cve_manager.py:233-244): one collect, printed
        // in listFeedFiles' descending order.
        val envelopes = Flatten.feedMetadataByFile(feed).collect().groupBy(_.getString(0))
        Ingest.listFeedFiles(o.input)
          .filter(f => f.endsWith(".json") || f.endsWith(".json.zip"))
          .foreach { f =>
            out(s"\nProcessing $f")
            envelopes.getOrElse(f, Array.empty).foreach { r =>
              out(s"CVE_data_timestamp: ${r.get(1)}")
              out(s"CVE_data_version: ${r.get(2)}")
              out(s"CVE_data_format: ${r.get(3)}")
              out(s"CVE_data_number of CVEs: ${r.get(4)}")
              out(s"CVE_data_type: ${r.get(5)}")
            }
          }
        val (cvss, problems, cpes) =
          (Flatten.cvss(feed), Flatten.problems(feed), Flatten.cpes(feed))
        if (o.csv) Warehouse.writeWarehouseCsvs(cvss, problems, cpes, o.results)
        if (o.idb) o.jdbcUrl match {
          case Some(url) => Warehouse.saveFactsJdbc(url, cvss, problems, cpes)
          case None => Warehouse.saveFacts(spark, db, cvss, problems, cpes)
        }
      } finally feed.unpersist()
    }
    o.icwe.foreach { path =>
      out("Importing CWE data")
      val cat = Warehouse.cweCatalog(spark, path)
      o.jdbcUrl match {
        case Some(url) => Warehouse.saveCweJdbc(url, cat)
        case None => Warehouse.saveCwe(spark, db, cat)
      }
    }
    // Query modes: -cpe elif -cwe elif (-cve or -sc > 0) — cve_manager.py:668-679.
    // Query errors (e.g. missing warehouse tables) report and return, like
    // the reference's print-and-continue handling (cve_manager.py:449-450).
    try runQueries(spark, o, out)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        out("Error while Querying Database")
        out(e.getSimpleMessage.linesIterator.next())
      // A missing table over JDBC surfaces at schema-resolution time
      // (Spark probes `SELECT * WHERE 1=0` eagerly) as a SparkException
      // wrapping the driver's SQLException; a raw connection failure as the
      // SQLException itself. Both get the reference's print-and-continue.
      case e @ (_: java.sql.SQLException | _: org.apache.spark.SparkException) =>
        out("Error while Querying Database")
        out(e.getMessage.linesIterator.next())
    }
  }

  private def runQueries(spark: SparkSession, o: Opts, out: String => Unit): Unit = {
    val db = o.database
    // Query-side table resolver: the catalog warehouse or, with --jdbc-url,
    // the database store the load path populated.
    def tbl(name: String): DataFrame =
      o.jdbcUrl.fold(spark.table(s"$db.$name"))(Warehouse.readJdbc(spark, _, name))
    if (o.cpe.isDefined) {
      out("CPE queries")
      val rows = Queries.byCpe(tbl("cvss_vs_cpes"),
          o.cpe.get, o.score, o.date)
        .orderBy("cpe23uri", "cve")
      Report.cpeListing(rows, o.date.isDefined, out)
      if (o.csv)
        out("wrote " + Warehouse.exportCpeCsv(
          rows, o.results, o.cpe.get, fmtScore(o.score), o.date))
    } else if (o.cwe.isDefined) {
      out("CWE queries")
      // Non-numeric id -> the reference's error hint, not a crash
      // (cve_manager.py:569-572 prints the hint on query failure).
      o.cwe.get.toIntOption match {
        case Some(id) =>
          Report.cweReport(
            Queries.byCwe(tbl("cwe"), id)
              .orderBy("cwe_id").limit(1).collect().headOption,
            o.cwe.get, out)
        case None =>
          out("Error while Querying Database")
          out("Hint: Use just the number of the CWE you are looking for, e.g.: 169")
      }
    } else if (o.cve.isDefined || o.score > 0.0) {
      out("CVE queries")
      o.cve match {
        case Some(c) =>
          Report.cveReport(
            Queries.byCve(tbl("cvss"), c).orderBy("cve").limit(1).collect().headOption,
            Queries.cweLookup(
              Queries.problemsFor(tbl("cve_problem"), c),
              tbl("cwe")).orderBy("problem"),
            Queries.cpesFor(tbl("cpe"), c).orderBy("cpe23uri"),
            out)
        case None =>
          val rows = Queries.byScoreDate(tbl("cvss"), o.score, o.date)
            .orderBy("cve")
          Report.scoreDateListing(rows, o.date.isDefined, out)
          if (o.csv)
            out("wrote " + Warehouse.exportScoreDateCsv(
              rows, o.results, fmtScore(o.score), o.date))
      }
    } else if (!o.download && !o.process && !o.cd && !o.ct && !o.dd && !o.tr
        && o.icwe.isEmpty) {
      out("Choose an option (check --help)")
    }
  }

  /** Derived-filename score segment: the reference interpolates the raw
    * string arg; we normalise integral doubles back to their short form. */
  private def fmtScore(sc: Double): String =
    if (sc == sc.floor) sc.toInt.toString else sc.toString

  /** D3: the 4 warehouse tables + join view, empty (cve_manager.py:147-168). */
  def createEmptyTables(spark: SparkSession, db: String): Unit = {
    Warehouse.createDatabase(spark, db)
    Warehouse.saveFacts(spark, db,
      empty(spark, NvdSchema.cvssTable), empty(spark, NvdSchema.cveProblemTable),
      empty(spark, NvdSchema.cpeTable))
    Warehouse.saveCwe(spark, db, empty(spark, NvdSchema.cweTable))
  }

  /** D3 over JDBC: same 4 tables + the database view, empty. */
  def createEmptyTablesJdbc(spark: SparkSession, url: String): Unit = {
    Warehouse.saveFactsJdbc(url,
      empty(spark, NvdSchema.cvssTable), empty(spark, NvdSchema.cveProblemTable),
      empty(spark, NvdSchema.cpeTable), numPartitions = 1)
    Warehouse.saveCweJdbc(url, empty(spark, NvdSchema.cweTable))
  }

  private def empty(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def main(args: Array[String]): Unit = {
    val opts = try parse(args.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage} (check --help)")
        sys.exit(2)
    }
    val spark = Sessions.localWithCatalog(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, opts) finally spark.stop()
  }
}
