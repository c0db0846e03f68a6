package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.{Curate, Json, Sessions, SparkEntry}
import graft.cve.{Flatten, Ingest, Queries, Report, Warehouse}
import graft.operators._

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs, starts
  * one fresh JVM per run with `key=value` arguments, and reads back the JSON
  * this writes to `out=`: raw samples, per-layer numbers (traced runs) and the
  * outputs it needs to check.
  *
  * Every workload sets up once, cold (session build, a first catalog, table
  * or corpus touch, and a warm-up), then times its operations in one closed
  * loop for `seconds`. A traced run times each operation twice, untraced and
  * traced with spans and `LayerListener` on, and reports the difference as
  * `trace.overhead_frac`.
  */
object Main {

  final class Result {
    private val fields = mutable.LinkedHashMap.empty[String, String]
    def num(k: String, v: Double): Unit = fields(k) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(k: String, v: String): Unit = fields(k) = Json.str(v)
    def nums(k: String, vs: Seq[Double]): Unit = fields(k) = vs.mkString("[", ",", "]")
    def strs(k: String, vs: Seq[String]): Unit = fields(k) = vs.map(Json.str).mkString("[", ",", "]")
    def obj(k: String, kv: Seq[(String, Double)]): Unit =
      fields(k) = kv.map { case (n, v) => s"${Json.str(n)}:${if (v.isNaN) "null" else v.toString}" }
        .mkString("{", ",", "}")
    def json: String = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  final case class Conf(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k="))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = m.get(k).fold(Seq.empty[String])(_.split(",").toSeq.filter(_.nonEmpty))
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = m.get("trace").contains("1")
    val cpus: Int = m.get("cpus").fold(4)(_.toInt)
    val work: String = apply("work")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Files and bytes under `dir`, recursively. */
  def diskUsage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L) else {
      val w = Files.walk(p)
      try {
        val files = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally w.close()
    }
  }

  def write(path: String, s: String): Unit = Files.write(Paths.get(path), s.getBytes(UTF_8))

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val res = new Result
    res.num("main_start_ms", System.currentTimeMillis().toDouble)
    val code =
      try {
        conf("workload") match {
          case "nvd-load" => new NvdLoad(conf, res).run()
          case "nvd-query" => new NvdQuery(conf, res).run()
          case "catalog-slice" => new CatalogSlice(conf, res).run()
          case "curate" => new CurateRun(conf, res).run()
          case w => sys.error(s"unknown workload $w")
        }
        res.num("peak_rss_mb", peakRssMb)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          res.str("error", s"${e.getClass.getName}: ${e.getMessage}")
          1
      }
    write(conf("out"), res.json + "\n")
    sys.exit(code)
  }
}

/** Set-up, warm-up and the timed loops shared by the workloads. */
abstract class Workload(val conf: Main.Conf, val res: Main.Result) {
  import Main._

  /** Builds the session the workload runs in. */
  def build(): SparkSession
  /** Per-session preparation that set-up time includes. */
  def prepare(spark: SparkSession): Unit = ()
  /** Runs the workload's code paths once, after the session is up and
    * before timing, so the timed operations do not pay JIT and codegen. */
  def warmUp(spark: SparkSession): Unit

  /** Sets up once, cold, as a user's first run in this JVM would: session
    * build, first touch, warm-up. run.py adds the JVM's launch-to-`main`
    * time to `setup_s`. */
  def setUp(): SparkSession = {
    val t0 = System.nanoTime()
    val (spark, buildS) = timed(build())
    spark.sparkContext.setLogLevel("WARN")
    res.num("session_build_s", buildS)
    layer("sessions.build_s", buildS)
    res.num("prepare_s", timed(prepare(spark))._2)
    res.num("warm_up_s", timed(warmUp(spark))._2)
    res.num("setup_s", (System.nanoTime() - t0) / 1e9)
    spark
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `op` in a closed loop until `seconds` have passed, at least
    * `minOps` operations are done and their count is a multiple of
    * `multipleOf`. Returns per-operation seconds. */
  def loop(seconds: Double, minOps: Int, multipleOf: Int = 1)(op: Int => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < minOps || elapsed(t0) < seconds || out.size % multipleOf != 0)
      out += timed(op(out.size))._2
    out.toSeq
  }

  /** The traced run's loop: each operation runs twice in a row, untraced
    * and traced, in a seeded order, so that `trace.overhead_frac` compares
    * matched samples that are equally warm. Stops as `loop` does, counting
    * pairs. Returns (untraced, traced) seconds; `jvm.gc_s` is the
    * collector's seconds per operation over the loop. */
  def pairs(seconds: Double, minPairs: Int, multipleOf: Int = 1)(untraced: Int => Unit)(
      traced: Int => Unit): (Seq[Double], Seq[Double]) = {
    val rng = new scala.util.Random(conf("seed").toLong)
    val (u, t) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    val (t0, gc0) = (System.nanoTime(), gcSeconds)
    while (u.size < minPairs || elapsed(t0) < seconds || u.size % multipleOf != 0) {
      val i = u.size
      if (rng.nextBoolean()) { t += timed(traced(i))._2; u += timed(untraced(i))._2 }
      else { u += timed(untraced(i))._2; t += timed(traced(i))._2 }
    }
    layer("jvm.gc_s", (gcSeconds - gc0) / (u.size + t.size))
    res.nums("op_s", u.toSeq)
    res.nums("traced_op_s", t.toSeq)
    (u.toSeq, t.toSeq)
  }

  def layer(name: String, v: Double): Unit = layers += name -> v
  val layers = mutable.ArrayBuffer.empty[(String, Double)]

  def finishLayers(untraced: Seq[Double], traced: Seq[Double]): Unit = {
    layer("trace.overhead_frac", median(traced) / median(untraced) - 1)
    res.obj("layers", layers.toSeq)
  }

  def writeSpans(tracer: Tracer): Unit =
    write(s"${conf.work}/spans.jsonl", tracer.jsonLines.mkString("", "\n", "\n"))

  def busyFrac(c: Counts, wallS: Double): Double = c.executorRunMs / 1e3 / (wallS * conf.cpus)

  def p(xs: Seq[Long], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)).toDouble }
}

/** EP1: `cve.Main` with `-dd -p -csv -idb -icwe` into a fresh database. */
final class NvdLoad(conf: Main.Conf, res: Main.Result) extends Workload(conf, res) {
  import Main._

  val feeds = conf("feeds"); val cwe = conf("cwe"); val results = s"${conf.work}/results"
  def build(): SparkSession = NvdLoad.session(conf.cpus)
  /** A first catalog round trip, as the CLI's `-cd` makes. */
  override def prepare(spark: SparkSession): Unit = Warehouse.createDatabase(spark, "cvedb")
  def warmUp(spark: SparkSession): Unit = NvdLoad.load(spark, conf("warm_feeds"), conf("warm_cwe"),
    s"${conf.work}/warm_results", "warmdb", _ => ())

  def run(): Unit = {
    val spark = setUp()
    val lines = mutable.ArrayBuffer.empty[String]
    def load(i: Int): Unit = { lines.clear(); NvdLoad.load(spark, feeds, cwe, results, "cvedb", lines += _) }
    if (conf.trace) traced(spark, load)
    else res.nums("op_s", loop(conf.seconds, conf.int("min_ops"))(load))
    res.strs("probe_lines", lines.toSeq)
    spark.stop()
  }

  def traced(spark: SparkSession, load: Int => Unit): Unit = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, s"nvd-load-${conf("seed")}")
    val ll = new LayerListener(sc)
    sc.addSparkListener(ll)
    val db = "cvedb"
    val probe = Seq("main.process_probe", "warehouse.csv_write", "warehouse.save_facts")
    val (untraced, loads) = pairs(conf.seconds, conf.int("min_ops"))(load) { i =>
      tr(s"load.$i") {
        tr("warehouse.drop")(Warehouse.dropDatabase(spark, db))
        tr("main.process_probe") {
          Ingest.listFeedFiles(feeds).filter(f => f.endsWith(".json") || f.endsWith(".json.zip"))
            .foreach { f =>
              val one =
                if (f.endsWith(".zip")) Ingest.readZippedFeeds(spark, s"$feeds/$f")
                else Flatten.readFeed(spark, s"$feeds/$f")
              Flatten.feedMetadata(one).collect()
            }
        }
        val feed = Ingest.readFeedDir(spark, feeds)
        val (cvss, problems, cpes) = (Flatten.cvss(feed), Flatten.problems(feed), Flatten.cpes(feed))
        tr("warehouse.csv_write")(Warehouse.writeWarehouseCsvs(cvss, problems, cpes, results))
        tr("warehouse.save_facts")(Warehouse.saveFacts(spark, db, cvss, problems, cpes))
        tr("warehouse.save_cwe")(Warehouse.saveCwe(spark, db, Warehouse.cweCatalog(spark, cwe)))
      }
    }
    val last = tr.named("load.").last
    def span(n: String) = tr.spans.filter(s => s.name == n && s.parent == last.id)
    def per(n: String) = median(tr.named(n).filter(_.name == n).map(_.seconds))
    val feedZipBytes = new File(feeds).listFiles().filter(_.isFile).map(_.length).sum.toDouble
    layer("ingest.read_amplification", ll.total(tr, probe.flatMap(span)).inputBytes / feedZipBytes)
    layer("main.process_probe_s", per("main.process_probe"))
    layer("warehouse.save_facts_s", per("warehouse.save_facts"))
    layer("warehouse.save_cwe_s", per("warehouse.save_cwe"))
    layer("warehouse.csv_write_s", per("warehouse.csv_write"))
    layer("warehouse.jobs", ll.total(tr, tr.spans.toSeq.filter(s => s.parent == last.id &&
      s.name.startsWith("warehouse."))).jobs.toDouble)
    // The warehouse alone, as `store_bytes_per_feed_byte` counts it.
    val (wf, wb) = diskUsage(s"${conf.work}/spark-warehouse/$db.db")
    layer("warehouse.files_written", wf.toDouble)
    layer("warehouse.bytes_written", wb.toDouble)

    // The layer split: parse alone, then each flatten over the parsed feed held in memory.
    tr("ingest")(Ingest.readFeedDir(spark, feeds).queryExecution.toRdd.count())
    val ing = tr.named("ingest").last
    val ic = ll.total(tr, Seq(ing))
    layer("ingest.wall_s", ing.seconds)
    layer("ingest.tasks", ic.tasks.toDouble)
    layer("ingest.task_p50_s", p(ic.taskMs.toSeq, 0.5) / 1e3)
    layer("ingest.task_max_s", p(ic.taskMs.toSeq, 1.0) / 1e3)
    layer("ingest.busy_frac", busyFrac(ic, ing.seconds))
    val parsed = Ingest.readFeedDir(spark, feeds).persist(StorageLevel.MEMORY_ONLY)
    tr("ingest.cache")(parsed.queryExecution.toRdd.count())
    val rows = Seq("cvss" -> Flatten.cvss _, "cve_problem" -> Flatten.problems _, "cpe" -> Flatten.cpes _)
      .map { case (t, f) => t -> tr(s"flatten.$t")(f(parsed).queryExecution.toRdd.count()) }
    parsed.unpersist(true)
    val fl = tr.named("flatten.")
    val fc = ll.total(tr, fl)
    layer("flatten.wall_s", fl.map(_.seconds).sum)
    layer("flatten.executor_s", fc.executorRunMs / 1e3)
    rows.foreach { case (t, n) => layer(s"flatten.rows.$t", n.toDouble) }
    writeSpans(tr)
    finishLayers(untraced, loads)
  }
}

object NvdLoad {
  /** `cve.Main`'s session without Hive support, as its specs drive it: the
    * Hive metastore's Derby store syncs every DDL to disk, which tied load
    * times to disk latency (36% run-to-run spread on a 4-vCPU VM whose ext4
    * disk is mounted with online discard). */
  def session(cpus: Int): SparkSession = Sessions.local(cpus)

  def load(spark: SparkSession, feeds: String, cwe: String, results: String, db: String,
      out: String => Unit): Unit =
    graft.cve.Main.run(spark, graft.cve.Main.Opts(dd = true, process = true, csv = true,
      idb = true, icwe = Some(cwe), input = feeds, results = results, database = db), out)
}

/** One closed-loop client sending the seeded request mix through `cve.Main`. */
final class NvdQuery(conf: Main.Conf, res: Main.Result) extends Workload(conf, res) {
  import Main._

  val feeds = conf("feeds"); val cwe = conf("cwe")
  /** family \t CLI arguments, one request per line. */
  val requests: Seq[(String, Seq[String])] =
    Files.readAllLines(Paths.get(conf("requests")), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(f, a) = l.split("\t", 2); f -> a.split(" ").toSeq
    }
  val results = s"${conf.work}/results"
  def args(i: Int): Seq[String] = requests(i % requests.size)._2 ++ Seq("-o", results)

  def build(): SparkSession = NvdLoad.session(conf.cpus)
  override def prepare(spark: SparkSession): Unit = Warehouse.createDatabase(spark, "cvedb")

  /** The warehouse load (`cve.Main -dd -p -idb -icwe`), then the last
    * requests of the sequence as a warm-up of each family's code. */
  def warmUp(spark: SparkSession): Unit = {
    res.num("warehouse_load_s", timed(graft.cve.Main.run(spark, graft.cve.Main.Opts(dd = true,
      process = true, idb = true, icwe = Some(cwe), input = feeds, database = "cvedb"), _ => ()))._2)
    (1 to conf.int("warm_requests")).foreach(k => send(spark, requests.size - k, _ => ()))
  }

  def send(spark: SparkSession, i: Int, out: String => Unit): Unit =
    graft.cve.Main.run(spark, graft.cve.Main.parse(args(i)), out)

  // First output of each distinct request; a repeat that differs is a failure.
  val outputs = mutable.LinkedHashMap.empty[String, Seq[String]]
  var unstable = 0

  def record(i: Int, lines: Seq[String]): Unit = {
    val key = requests(i % requests.size)._2.mkString(" ")
    outputs.get(key) match {
      case Some(prev) => if (prev != lines) unstable += 1
      case None => outputs(key) = lines
    }
  }

  def run(): Unit = {
    val spark = setUp()
    val buf = mutable.ArrayBuffer.empty[String]
    def request(i: Int): Unit = { buf.clear(); send(spark, i, buf += _); record(i, buf.toSeq) }
    if (conf.trace) traced(spark, request)
    else res.nums("op_s", loop(conf.seconds, conf.int("min_ops"))(request))
    res.num("unstable", unstable.toDouble)
    write(s"${conf.work}/outputs.jsonl", outputs.map { case (k, v) =>
      s"""{"req":${Json.str(k)},"out":${v.map(Json.str).mkString("[", ",", "]")}}"""
    }.mkString("", "\n", "\n"))
    spark.stop()
  }

  def fmtScore(sc: Double): String = if (sc == sc.floor) sc.toInt.toString else sc.toString

  /** `cve.Main`'s query dispatch, called layer by layer. */
  def tracedSend(spark: SparkSession, tr: Tracer, fam: String, o: graft.cve.Main.Opts,
      out: String => Unit): Unit = {
    def tbl(n: String) = spark.table(s"${o.database}.$n")
    if (o.cpe.isDefined) {
      out("CPE queries")
      val rows = tr(s"queries.$fam")(Queries.byCpe(tbl("cvss_vs_cpes"), o.cpe.get, o.score, o.date)
        .orderBy("cpe23uri", "cve"))
      tr(s"report.$fam")(Report.cpeListing(rows, o.date.isDefined, out))
      if (o.csv) out("wrote " + tr("warehouse.export")(
        Warehouse.exportCpeCsv(rows, o.results, o.cpe.get, fmtScore(o.score), o.date)))
    } else if (o.cwe.isDefined) {
      out("CWE queries")
      val id = o.cwe.get.toInt
      val row = tr(s"queries.$fam")(Queries.byCwe(tbl("cwe"), id).orderBy("cwe_id").limit(1)
        .collect().headOption)
      tr(s"report.$fam")(Report.cweReport(row, o.cwe.get, out))
    } else o.cve match {
      case Some(c) =>
        out("CVE queries")
        val (row, problems, cpes) = tr(s"queries.$fam")((
          Queries.byCve(tbl("cvss"), c).orderBy("cve").limit(1).collect().headOption,
          Queries.cweLookup(Queries.problemsFor(tbl("cve_problem"), c), tbl("cwe")).orderBy("problem"),
          Queries.cpesFor(tbl("cpe"), c).orderBy("cpe23uri")))
        tr(s"report.$fam")(Report.cveReport(row, problems, cpes, out))
      case None =>
        out("CVE queries")
        val rows = tr(s"queries.$fam")(Queries.byScoreDate(tbl("cvss"), o.score, o.date).orderBy("cve"))
        tr(s"report.$fam")(Report.scoreDateListing(rows, o.date.isDefined, out))
        if (o.csv) out("wrote " + tr("warehouse.export")(
          Warehouse.exportScoreDateCsv(rows, o.results, fmtScore(o.score), o.date)))
    }
  }

  def traced(spark: SparkSession, request: Int => Unit): Unit = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, s"nvd-query-${conf("seed")}")
    val ll = new LayerListener(sc)
    sc.addSparkListener(ll)
    spark.listenerManager.register(ll)
    val buf = mutable.ArrayBuffer.empty[String]
    val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // Pairs of one request each, so both halves of the mix are the same.
    val (untraced, traced) = pairs(conf.seconds, conf.int("min_ops") / 2)(request) { i =>
      val fam = requests(i % requests.size)._1
      buf.clear()
      ll.discardPending()  // the untraced twin's query executions
      tr(s"req.$fam")(tracedSend(spark, tr, fam, graft.cve.Main.parse(args(i)), buf += _))
      ll.settle(tr.spans.filter(_.name == s"req.$fam").last)
      rowsOut(fam) += buf.size
      record(i, buf.toSeq)
    }
    for (fam <- Seq("cve_report", "score_date", "cpe_listing", "cwe_info", "csv_export")) {
      val reqs = tr.spans.toSeq.filter(_.name == s"req.$fam")
      val n = reqs.size.max(1).toDouble
      val c = ll.total(tr, reqs)
      val reports = tr.spans.toSeq.filter(s => s.name == s"report.$fam")
      val rc = ll.total(tr, reports)
      layer(s"queries.$fam.plan_ms", c.planMs / n)
      layer(s"queries.$fam.exec_ms", c.jobMs / n)
      layer(s"queries.$fam.jobs", c.jobs / n)
      layer(s"queries.$fam.tasks", c.tasks / n)
      layer(s"queries.$fam.files_read", c.filesRead / n)
      layer(s"queries.$fam.bytes_read", c.inputBytes / n)
      layer(s"queries.$fam.rows_read_per_row_out",
        if (rowsOut(fam) == 0) 0.0 else c.inputRecords.toDouble / rowsOut(fam))
      layer(s"report.$fam.driver_ms", (reports.map(_.seconds).sum * 1e3 - rc.jobMs) / n)
    }
    layer("warehouse.export_ms", median(tr.named("warehouse.export").map(_.seconds * 1e3)))
    writeSpans(tr)
    finishLayers(untraced, traced)
  }
}

/** A frozen slice of `SparkEntry.queries`, each timed with a fresh DataFrame
  * and `queryExecution.toRdd.count()`. */
final class CatalogSlice(conf: Main.Conf, res: Main.Result) extends Workload(conf, res) {
  import Main._

  val data = conf("data")
  val heavy = conf.list("heavy"); val light = conf.list("light")
  val names = heavy ++ light
  val pinned: Map[String, Long] = conf.list("rows").map { kv =>
    val Array(k, v) = kv.split(":"); k -> v.toLong }.toMap
  val modules: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "Temporal" -> Temporal.defs, "Dedup" -> Dedup.defs,
    "TextOps" -> TextOps.defs, "Vectors" -> Vectors.defs, "Multimodal" -> Multimodal.defs,
    "Eval" -> Eval.defs, "Audit" -> Audit.defs, "Merkle" -> Merkle.defs,
    "Maintenance" -> Maintenance.defs, "CveOps" -> CveOps.defs)
    .flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  def build(): SparkSession = Sessions.builder(s"local[${conf.cpus}]", conf.cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .getOrCreate()

  /** `graft.Bench`'s session warm-up: one small job and a touch of every table. */
  override def prepare(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    new File(data).list().filter(_.endsWith(".parquet")).sorted
      .foreach(t => spark.read.parquet(s"$data/$t").limit(1).collect())
  }

  val failures = mutable.ArrayBuffer.empty[String]
  /** Passes over the slice, each in its own seeded order. */
  val order: IndexedSeq[String] = {
    val rng = new scala.util.Random(conf("seed").toLong)
    (1 to 100).flatMap(_ => rng.shuffle(names))
  }
  def name(i: Int): String = order(i % order.size)
  /** (name, construct s, execute s) of each traced query. */
  val split = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def query(spark: SparkSession, i: Int, tr: Option[Tracer]): Unit = {
    val n = name(i)
    def span[T](what: String)(body: => T): T =
      tr.fold(body)(_(s"catalog.${modules(n)}.$n.$what")(body))
    val (df, c) = timed(span("construct")(SparkEntry.queries(n)(spark, data)))
    val (rows, e) = timed(span("execute")(df.queryExecution.toRdd.count()))
    if (tr.isDefined) split += ((n, c, e))
    if (pinned.get(n).exists(_ != rows)) failures += s"$n: $rows rows, expected ${pinned(n)}"
  }

  /** Sums per pass of per-query seconds. */
  def passSums(secs: Seq[Double]): Seq[Double] = secs.grouped(names.size).map(_.sum).toSeq

  /** Doubles as the output check: every query of the slice on the small
    * data, written with the oracle SQL for the comparison in run.py. */
  def warmUp(spark: SparkSession): Unit = {
    val checkDir = conf("check_data")
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, checkDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${conf("verify_out")}/$n")
      catch { case e: Exception => failures += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    write(s"${conf("verify_out")}/oracle_sql.json", names.flatMap(n => SparkEntry.oracleSql.get(n)
      .map(q => s"${Json.str(n)}:${Json.str(q)}")).mkString("{", ",", "}"))
  }

  def run(): Unit = {
    val spark = setUp()
    val secs =
      if (conf.trace) traced(spark)
      else loop(conf.seconds, names.size, names.size)(query(spark, _, None))
    res.obj("query_s", names.map(n => n -> median(secs.indices.filter(name(_) == n).map(secs))))
    res.nums("pass_s", passSums(secs))
    res.num("passes", (secs.size / names.size).toDouble)
    res.strs("failures", failures.toSeq)
    spark.stop()
  }

  /** Returns the untraced seconds of the paired passes. */
  def traced(spark: SparkSession): Seq[Double] = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, s"catalog-slice-${conf("seed")}")
    val ll = new LayerListener(sc)
    sc.addSparkListener(ll)
    val (untraced, traced) = pairs(conf.seconds, names.size, names.size)(query(spark, _, None))(
      query(spark, _, Some(tr)))
    val passes = (traced.size / names.size).toDouble
    val all = ll.total(tr, tr.named("catalog."))
    layer("catalog.construct_s", split.map(_._2).sum / passes)
    layer("catalog.execute_s", split.map(_._3).sum / passes)
    layer("catalog.jobs", all.jobs / passes)
    layer("catalog.stages", all.stages / passes)
    layer("catalog.tasks", all.tasks / passes)
    layer("catalog.executor_s", all.executorRunMs / 1e3 / passes)
    layer("catalog.busy_frac", busyFrac(all, traced.sum))
    layer("catalog.shuffle_read_bytes", all.shuffleReadBytes / passes)
    layer("catalog.shuffle_write_bytes", all.shuffleWriteBytes / passes)
    layer("catalog.spill_bytes", all.spillBytes / passes)
    for (m <- modules.values.toSeq.distinct.sorted) {
      layer(s"catalog.$m.s", split.filter(r => modules(r._1) == m).map(r => r._2 + r._3).sum / passes)
      layer(s"catalog.$m.jobs", ll.total(tr, tr.named(s"catalog.$m.")).jobs / passes)
    }
    writeSpans(tr)
    finishLayers(passSums(untraced), passSums(traced))
    untraced
  }
}

/** `Curate.run` with the three strip stages over the bundled documents. */
final class CurateRun(conf: Main.Conf, res: Main.Result) extends Workload(conf, res) {
  import Main._

  def cfg(docs: String, out: String) = Curate.Config(docs, out,
    stripBoilerplate = true, stripSelfrep = true, stripCrossdoc = true)

  def build(): SparkSession = Sessions.builder(s"local[${conf.cpus}]", conf.cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** The corpus read `Curate.run` starts with. */
  override def prepare(spark: SparkSession): Unit =
    spark.read.parquet(s"${conf("data")}/documents.parquet").count()

  def warmUp(spark: SparkSession): Unit = Curate.run(spark, cfg(conf("data"), s"${conf.work}/curate_out"))

  def run(): Unit = {
    val spark = setUp()
    val stats = mutable.ArrayBuffer.empty[String]
    def curate(i: Int): Unit = stats += Curate.run(spark, cfg(conf("data"), s"${conf.work}/curate_out"))
    if (conf.trace) traced(spark, curate)
    else res.nums("op_s", loop(conf.seconds, conf.int("min_ops"))(curate))
    res.strs("stats", stats.toSeq)
    spark.stop()
  }

  def traced(spark: SparkSession, curate: Int => Unit): Unit = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, s"curate-${conf("seed")}")
    val ll = new LayerListener(sc)
    sc.addSparkListener(ll)
    val (untraced, traced) = pairs(conf.seconds, conf.int("min_ops"))(curate)(i => tr("curate")(curate(i)))
    val spans = tr.named("curate")
    val c = ll.total(tr, spans)
    val n = spans.size.toDouble
    layer("curate.jobs", c.jobs / n)
    layer("curate.count_jobs", c.jobSites.count(_.startsWith("count at Curate.scala")) / n)
    layer("curate.executor_s", c.executorRunMs / 1e3 / n)
    layer("curate.busy_frac", busyFrac(c, spans.map(_.seconds).sum))
    layer("curate.shuffle_bytes", c.shuffleWriteBytes / n)
    layer("curate.spill_bytes", c.spillBytes / n)
    writeSpans(tr)
    finishLayers(untraced, traced)
  }
}
