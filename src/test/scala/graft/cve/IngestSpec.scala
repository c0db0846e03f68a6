package graft.cve

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.CveOps

/** Zip→JSON source (S4), directory scan (S3), and union-all accumulation
  * (S6) against zips built from the fixture feed. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def makeFeedDir(): String = {
    val dir = Files.createTempDirectory("nvdin").toString
    val json = Files.readAllBytes(new File(CveOps.FixtureFeed).toPath)
    // one zip (first-member read) + one extracted json
    val zout = new ZipOutputStream(new FileOutputStream(s"$dir/nvdcve-1.1-2098.json.zip"))
    zout.putNextEntry(new ZipEntry("nvdcve-1.1-2098.json"))
    zout.write(json); zout.closeEntry(); zout.close()
    Files.write(new File(s"$dir/nvdcve-1.1-2097.json").toPath, json)
    dir
  }

  test("listFeedFiles: non-recursive, descending name sort (newest first)") {
    val dir = makeFeedDir()
    assert(Ingest.listFeedFiles(dir) ===
      Seq("nvdcve-1.1-2098.json.zip", "nvdcve-1.1-2097.json"))
  }

  test("readZippedFeeds: distributed unzip of the first member, schema applied") {
    val dir = makeFeedDir()
    val feed = Ingest.readZippedFeeds(spark, s"$dir/*.zip")
    assert(feed.schema === NvdSchema.feed)
    assert(Flatten.cvss(feed).count() === 8)
  }

  test("readFeedDir: json + zip feeds union-all into one frame (dupes kept)") {
    val dir = makeFeedDir()
    // The reference keeps duplicate CVEs across year files (no dedup,
    // cve_manager.py:245; SURVEY.md §7.4(7)) — 2 files -> 16 rows.
    assert(Flatten.cvss(Ingest.readFeedDir(spark, dir)).count() === 16)
  }

  test("readZippedFeeds: one partition per archive, the largest in partition 0") {
    val dir = Files.createTempDirectory("nvdpart").toString
    val json = new String(Files.readAllBytes(new File(CveOps.FixtureFeed).toPath), "UTF-8")
    // Incompressible padding (an unknown field the schema drops) sets each
    // archive's size; the largest is neither the first nor the last name.
    val pads = Seq(2001 -> 1000, 2002 -> 40000, 2003 -> 9000, 2004 -> 20000)
    pads.foreach { case (y, pad) =>
      val doc = json.replaceFirst("\\{", s"""{"pad": "${
        new scala.util.Random(y).alphanumeric.take(pad).mkString}",""")
        .replace("2024-06-01T07:00Z", s"$y-06-01T07:00Z")
      val zout = new ZipOutputStream(new FileOutputStream(s"$dir/nvdcve-1.1-$y.json.zip"))
      zout.putNextEntry(new ZipEntry(s"nvdcve-1.1-$y.json"))
      zout.write(doc.getBytes("UTF-8")); zout.closeEntry(); zout.close()
    }
    val feed = Ingest.readZippedFeeds(spark, s"$dir/*.zip")
    assert(feed.rdd.getNumPartitions === pads.size)
    val first = feed.select("CVE_data_timestamp").rdd
      .mapPartitionsWithIndex((i, it) => if (i == 0) it.map(_.getString(0)) else Iterator.empty)
      .collect()
    assert(first.toSeq === Seq("2002-06-01T07:00Z"))
    assert(Flatten.cvss(feed).count() === 8 * pads.size)
  }

  test("downloadFeeds: air-gapped environment reports failure, doesn't throw") {
    val dir = Files.createTempDirectory("nvddl").toString
    Ingest.downloadFeeds(dir, Some("2024")) match {
      case Left(msg) => assert(msg.contains("download unavailable"))
      case Right(names) => assert(names.nonEmpty) // networked environment
    }
  }
}
