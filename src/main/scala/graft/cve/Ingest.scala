package graft.cve

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.ZipInputStream

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{element_at, spark_partition_id, typedLit}

/** Source side of EP1 (cve_manager.py:172-245): feed enumeration/download
  * (S1/S2), directory scan (S3), and the zip→JSON source (S4).
  *
  * Scale posture: each feed file is one task — one `binaryFiles` RDD per
  * file, unioned largest first — so unzip + parse run distributed and the
  * biggest year starts first instead of finishing last. The items never
  * accumulate in driver memory (the reference holds ALL years in one Python
  * list, cve_manager.py:245 — its scalability cliff). One `binaryFiles`
  * over the glob packed small zips into ONE split: the 24-feed nvd-load
  * benchmark parsed in 1 task at `ingest.busy_frac` 0.22, per file in 24
  * tasks at 0.55 (PERF.md "Single-pass ingest").
  */
object Ingest {

  val FeedIndexUrl = "https://nvd.nist.gov/vuln/data-feeds#JSON_FEED"
  val FeedBaseUrl = "https://nvd.nist.gov/feeds/json/cve/1.1/"
  val FeedNamePattern = "nvdcve-1\\.1-[0-9]*\\.json\\.zip".r

  /** S3: non-recursive directory scan, filenames sorted descending (newest
    * year first, cve_manager.py:233-234). Order only affected the
    * reference's print sequence — relational results are set-ordered. */
  def listFeedFiles(dir: String): Seq[String] = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getName).sorted.reverse.toSeq
  }

  /** S1+S2: enumerate feed zips from the public NVD index page and stream
    * them to `dir` (cve_manager.py:172-201). Plain driver-side JDK HTTP —
    * not a Spark op; in an air-gapped environment this reports the failure
    * and the pipeline proceeds from already-landed files. */
  def downloadFeeds(dir: String, year: Option[String]): Either[String, Seq[String]] = {
    new File(dir).mkdirs()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def get(url: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      val names = year match {
        case Some(y) => Seq(s"nvdcve-1.1-$y.json.zip")
        case None =>
          val index = new String(get(FeedIndexUrl).body(), "UTF-8")
          FeedNamePattern.findAllIn(index).toSeq.distinct
      }
      Right(names.map { n =>
        val bytes = get(FeedBaseUrl + n).body()
        java.nio.file.Files.write(new File(dir, n).toPath, bytes)
        n
      })
    } catch {
      case e: Exception => Left(s"download unavailable (${e.getClass.getSimpleName}): ${e.getMessage}")
    }
  }

  /** Column that `readFeedDirByFile` adds to the feed schema: the name of
    * the file each parsed feed came from. */
  val FeedFile = "feed_file"

  /** S4 (zip path): distributed zip→JSON. Reads the FIRST zip member of each
    * archive (cve_manager.py:237-239) as one JSON document, then applies the
    * explicit feed schema. One task per archive, largest first. */
  def readZippedFeeds(spark: SparkSession, pathGlob: String): DataFrame = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .filter(f => f.isFile && visible(f.getPath.getName))
    require(files.nonEmpty, s"no feed archives match $pathGlob")
    parseFeeds(spark, files.toSeq).drop(FeedFile)
  }

  /** S4+S6: read every feed in a directory — extracted `.json` files and/or
    * `.zip` archives — as ONE DataFrame (the reference's union-all
    * accumulation, cve_manager.py:245). */
  def readFeedDir(spark: SparkSession, dir: String): DataFrame =
    readFeedDirByFile(spark, dir).drop(FeedFile)

  /** `readFeedDir` with each feed's file name in column `FeedFile`, so one
    * parse can serve the per-file envelope report and the flatten. */
  def readFeedDirByFile(spark: SparkSession, dir: String): DataFrame = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listFeedFiles(dir)
      .filter(f => (f.endsWith(".json") || f.endsWith(".zip")) && visible(f))
      .map(f => fs.getFileStatus(new Path(d, f)))
    require(files.nonEmpty, s"no .json or .json.zip feed files in $dir")
    parseFeeds(spark, files)
  }

  /** binaryFiles' input filter rejects hidden names (`.x`, `_x`); they are
    * skipped, as a glob read over the directory skips them. */
  private def visible(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  /** One `binaryFiles` RDD per file, unioned in descending size order so
    * partition i is the i-th largest file and the scheduler starts the
    * biggest parse first (binaryFiles keeps Spark's input metrics). A `.zip`
    * contributes its first member; anything else is read as UTF-8 JSON.
    * The file name comes from the partition index, which the JSON scan
    * keeps; parsing with `from_json` instead would let the optimizer inline
    * the parse into the filter `explode` infers, parsing each document
    * twice. */
  private def parseFeeds(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val ordered = files.sortBy(f => (-f.getLen, f.getPath.getName))
    val docs = sc.union(ordered.map { f =>
      val zipped = f.getPath.getName.endsWith(".zip")
      sc.binaryFiles(f.getPath.toString).map { case (_, pds) =>
        if (zipped) firstMember(pds.open()) else new String(pds.toArray(), UTF_8)
      }
    }).toDS()
    spark.read.schema(NvdSchema.feed).json(docs).withColumn(FeedFile,
      element_at(typedLit(ordered.map(_.getPath.getName)), spark_partition_id() + 1))
  }

  private def firstMember(in: java.io.InputStream): String = {
    val zin = new ZipInputStream(in)
    try {
      zin.getNextEntry // first member only, like the reference
      new String(zin.readAllBytes(), UTF_8)
    } finally zin.close()
  }
}
