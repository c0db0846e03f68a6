package graft.cve

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.CveOps

/** CLI dispatcher specs (D5): flag parsing, the reference's mode precedence
  * (`-cpe` elif `-cwe` elif `-cve`/`-sc`, cve_manager.py:668-679), and an
  * end-to-end ingest→query→export run. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def runCli(args: String*): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    Main.run(spark, Main.parse(args), buf += _)
    buf.toSeq
  }

  test("parse: reference flag names, defaults, and value flags") {
    val o = Main.parse(Seq("-p", "-csv", "-i", "in/", "-o", "out/", "-sc", "9.5",
      "-dt", "2020-01-01", "-db", "mydb", "-y", "2019"))
    assert(o.process && o.csv && !o.idb)
    assert(o.input === "in/" && o.results === "out/" && o.database === "mydb")
    assert(o.score === 9.5 && o.date === Some("2020-01-01") && o.year === Some("2019"))
    assert(Main.parse(Nil) === Main.Opts())
  }

  test("parse: unknown/vestigial flags are swallowed with their value") {
    val o = Main.parse(Seq("-u", "postgres", "-server", "localhost", "-cve", "2024"))
    assert(o.cve === Some("2024"))
  }

  test("parse: value flags fail fast on a missing value or bad score") {
    assertThrows[IllegalArgumentException](Main.parse(Seq("-sc", "-p")))
    assertThrows[IllegalArgumentException](Main.parse(Seq("-cve")))
    assertThrows[IllegalArgumentException](Main.parse(Seq("-sc", "abc")))
  }

  test("non-numeric -cwe reports the reference's hint instead of crashing") {
    val outLines = runCli("-db", "nonexistent_db", "-cwe", "CWE-119")
    assert(outLines.exists(_.contains("Hint: Use just the number")))
  }

  test("query against a missing warehouse reports, not crashes (print-and-continue)") {
    val outLines = runCli("-db", "graft_no_such_db", "-cve", "2024-0001")
    assert(outLines.exists(_ === "Error while Querying Database"))
  }

  test("no actionable flags -> usage hint") {
    assert(runCli().exists(_.contains("Choose an option")))
  }

  test("end-to-end: ingest fixture -> warehouse -> every query mode -> export") {
    val db = "graft_cli_db"
    val results = Files.createTempDirectory("cliout").toString + "/"
    val in = Files.createTempDirectory("cliin").toString
    Files.copy(new java.io.File(CveOps.FixtureFeed).toPath,
      new java.io.File(s"$in/nvdcve-1.1-2024.json").toPath)
    try {
      val ingest = runCli("-p", "-csv", "-idb", "-i", in, "-o", results,
        "-db", db, "-icwe", CveOps.FixtureCwe)
      // per-file envelope report precedes the metadata (cve_manager.py:235)
      assert(ingest.exists(_ === "\nProcessing nvdcve-1.1-2024.json"))
      assert(ingest.exists(_.startsWith("CVE_data_number of CVEs: 8")))
      assert(new java.io.File(s"$results/cve_cvss_scores.csv").isDirectory)

      val point = runCli("-db", db, "-cve", "2024-0001")
      assert(point.exists(_.contains("CVE-2024-0001")))
      assert(point.exists(_.contains("Out-of-bounds Write"))) // resolved CWE name

      val listing = runCli("-db", db, "-sc", "8.5")
      assert(listing.count(_.startsWith("CVE-")) === 3)

      val cpeOut = runCli("-db", db, "-cpe", "globex", "-sc", "4", "-csv", "-o", results)
      assert(cpeOut.exists(_.contains("CVE-2023-0002")))
      // a flat FILE at the exact derived path (cve_manager.py:525-529)
      assert(new java.io.File(s"$results/globex_4_False.csv").isFile)

      val cweOut = runCli("-db", db, "-cwe", "119")
      assert(cweOut.exists(_.contains("Improper Restriction of Operations")))
    } finally Warehouse.dropDatabase(spark, db)
  }

  test("end-to-end over JDBC (--jdbc-url): load Derby -> every query mode -> refresh semantics") {
    val url = graft.DerbyTestHome.freshDbUrl("clijdbc")
    val results = Files.createTempDirectory("clijdbcout").toString + "/"
    val in = Files.createTempDirectory("clijdbcin").toString
    Files.copy(new java.io.File(CveOps.FixtureFeed).toPath,
      new java.io.File(s"$in/nvdcve-1.1-2024.json").toPath)

    // D3 first: empty schema, then the bulk load refreshes it in place —
    // the reference's -ct then -p -idb workflow (cve_manager.py:147,335).
    val ct = runCli("-ct", "-jdbc", url)
    assert(ct.exists(_.contains("Creating the necessary schema")))
    val ingest = runCli("-p", "-idb", "-i", in, "-jdbc", url,
      "-icwe", CveOps.FixtureCwe)
    assert(ingest.exists(_.startsWith("CVE_data_number of CVEs: 8")))

    // every query family reads back from the DATABASE store
    val point = runCli("-jdbc", url, "-cve", "2024-0001")
    assert(point.exists(_.contains("CVE-2024-0001")))
    assert(point.exists(_.contains("Out-of-bounds Write"))) // resolved CWE name

    val listing = runCli("-jdbc", url, "-sc", "8.5")
    assert(listing.count(_.startsWith("CVE-")) === 3)

    val cpeOut = runCli("-jdbc", url, "-cpe", "globex", "-sc", "4", "-csv", "-o", results)
    assert(cpeOut.exists(_.contains("CVE-2023-0002"))) // via the DB view
    assert(new java.io.File(s"$results/globex_4_False.csv").isFile)

    val cweOut = runCli("-jdbc", url, "-cwe", "119")
    assert(cweOut.exists(_.contains("Improper Restriction of Operations")))

    // D4 twin: -tr truncates the facts in place; cwe dimension survives
    runCli("-tr", "-jdbc", url)
    val empty = runCli("-jdbc", url, "-sc", "0.1")
    assert(!empty.exists(_.startsWith("CVE-")))
    val cweStill = runCli("-jdbc", url, "-cwe", "119")
    assert(cweStill.exists(_.contains("Improper Restriction of Operations")))

    // missing store reports, not crashes (SQLException path)
    val gone = runCli("-jdbc", graft.DerbyTestHome.freshDbUrl("clijdbc2"),
      "-cve", "2024-0001")
    assert(gone.exists(_ === "Error while Querying Database"))

    // D2 twin: drop removes view + tables
    runCli("-dd", "-jdbc", url)
    val dropped = runCli("-jdbc", url, "-sc", "0.1")
    assert(dropped.exists(_ === "Error while Querying Database"))
  }

  test("precedence: -cpe wins over -cwe and -cve; -cwe wins over -cve") {
    val db = "graft_cli_db2"
    val in = Files.createTempDirectory("cliin2").toString
    Files.copy(new java.io.File(CveOps.FixtureFeed).toPath,
      new java.io.File(s"$in/nvdcve-1.1-2024.json").toPath)
    try {
      runCli("-p", "-idb", "-i", in, "-db", db, "-icwe", CveOps.FixtureCwe)
      val o1 = runCli("-db", db, "-cpe", "acme", "-cwe", "119", "-cve", "2024", "-sc", "7")
      assert(o1.exists(_ === "CPE queries") && !o1.contains("CWE queries"))
      val o2 = runCli("-db", db, "-cwe", "119", "-cve", "2024")
      assert(o2.exists(_ === "CWE queries") && !o2.contains("CVE queries"))
      // -sc > 0 alone triggers the CVE listing path (cve_manager.py:676)
      val o3 = runCli("-db", db, "-sc", "8.5")
      assert(o3.exists(_ === "CVE queries"))
    } finally Warehouse.dropDatabase(spark, db)
  }

  // ── Single-pass ingest: `-p` parses the feed directory once ──

  /** `n` copies of the fixture feed as years 2001.., zip and json
    * alternating, each with its own envelope timestamp. */
  private def feedDir(n: Int): String = {
    val dir = Files.createTempDirectory("clifeeds").toString
    val json = new String(Files.readAllBytes(
      new java.io.File(CveOps.FixtureFeed).toPath), "UTF-8")
    (1 to n).foreach { i =>
      val y = 2000 + i
      val doc = json.replace("2024-06-01T07:00Z", s"$y-06-01T07:00Z").getBytes("UTF-8")
      if (i % 2 == 0) {
        val z = new java.util.zip.ZipOutputStream(
          new java.io.FileOutputStream(s"$dir/nvdcve-1.1-$y.json.zip"))
        z.putNextEntry(new java.util.zip.ZipEntry(s"nvdcve-1.1-$y.json"))
        z.write(doc); z.closeEntry(); z.close()
      } else Files.write(new java.io.File(s"$dir/nvdcve-1.1-$y.json").toPath, doc)
    }
    dir
  }

  private def load(in: String, db: String): (Seq[String], String) = {
    val results = Files.createTempDirectory("clifeedsout").toString
    (runCli("-p", "-csv", "-idb", "-i", in, "-o", results, "-db", db), results)
  }

  private def jobsDuring(work: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { work; Thread.sleep(500) } // listener bus is async; drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("-p -csv -idb: Spark jobs per load do not grow with the feed count") {
    val db = "graft_cli_jobs"
    try {
      val jobs = Seq(2, 6).map(n => n -> jobsDuring(load(feedDir(n), db)))
      assert(jobs.map(_._2).distinct.size === 1, s"jobs by feed count: $jobs")
    } finally Warehouse.dropDatabase(spark, db)
  }

  test("-p reads each feed file once; its envelope report is the per-file probe's, newest first") {
    val db = "graft_cli_once"
    val in = feedDir(6)
    val feedBytes = new java.io.File(in).listFiles().map(_.length).sum
    // The local filesystem's statistics appear on its first use.
    def bytesRead = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")).fold(0L)(_.getLong("bytesRead").longValue)
    try {
      val before = bytesRead
      val (lines, _) = load(in, db)
      val reads = (bytesRead - before).toDouble / feedBytes
      // The per-file probe plus six writes re-parsing the directory read
      // the feeds 9 times (the cpe flatten is a two-branch union).
      assert(reads > 0.5 && reads < 1.5, s"feed bytes read $reads times")

      // The old per-file probe loop, as the reference of what each block prints.
      val files = Ingest.listFeedFiles(in)
      assert(files === files.sorted.reverse && files.size === 6)
      val want = files.flatMap { f =>
        val one =
          if (f.endsWith(".zip")) Ingest.readZippedFeeds(spark, s"$in/$f")
          else Flatten.readFeed(spark, s"$in/$f")
        s"\nProcessing $f" +: Flatten.feedMetadata(one).collect().toSeq.flatMap { r =>
          Seq(s"CVE_data_timestamp: ${r.get(0)}", s"CVE_data_version: ${r.get(1)}",
            s"CVE_data_format: ${r.get(2)}", s"CVE_data_number of CVEs: ${r.get(3)}",
            s"CVE_data_type: ${r.get(4)}")
        }
      }
      assert(lines === "Processing downloaded data" +: want)
      assert(lines(2) === "CVE_data_timestamp: 2006-06-01T07:00Z")
    } finally Warehouse.dropDatabase(spark, db)
  }

  test("-p warehouse layout: one cvss file per pub_year, no more files than before") {
    def files(dir: java.io.File, suffix: String): Int =
      Option(dir.listFiles()).getOrElse(Array.empty).count(f => f.isFile &&
        f.getName.startsWith("part-") && f.getName.endsWith(suffix))
    def location(db: String, t: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))).location)
    // Part-file counts the per-file-probe loader wrote for the same inputs,
    // measured on that code: cvss per year dir, cve_problem, cpe, then the
    // cvss, problems and cpes CSV sinks. Its writers inherited the feed
    // read's splits, and cpe's two-branch union doubled them.
    val single = Files.createTempDirectory("clilayout").toString
    Files.copy(new java.io.File(CveOps.FixtureFeed).toPath,
      new java.io.File(s"$single/nvdcve-1.1-2024.json").toPath)
    val cases = Seq(
      single -> Seq(1, 1, 2, 1, 1, 2),
      feedDir(6) -> Seq(4, 4, 8, 4, 4, 8))
    cases.zipWithIndex.foreach { case ((in, before), i) =>
      val db = s"graft_cli_layout$i"
      try {
        val (_, results) = load(in, db)
        val years = location(db, "cvss").listFiles().filter(_.getName.startsWith("pub_year="))
        assert(years.length === 6)
        years.foreach(y => assert(files(y, ".parquet") === 1, y.getName))
        val got = Seq(
          files(location(db, "cve_problem"), ".parquet"),
          files(location(db, "cpe"), ".parquet")) ++
          Seq("cve_cvss_scores.csv", "cve_related_problems.csv", "cve_cpes.csv")
            .map(n => files(new java.io.File(s"$results/$n"), ".csv"))
        got.zip(before.tail).foreach { case (g, b) => assert(g <= b, s"$got vs $before") }
      } finally Warehouse.dropDatabase(spark, db)
    }
  }
}
