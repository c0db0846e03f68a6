package graft
object Bench {

  // ── per-round cohort subtotals (VERDICT r13 #5) ──
  // Round-over-round comparison should be one field, not a recomputation
  // over two artifacts: each cohort is the frozen set of queries first
  // benched in that round (the catalog only appends, so numeric ranges
  // identify them); the key carries the member count actually present in
  // this run (filtered runs shrink it). A cohort with any failed member
  // reads -1, same as the total. New rounds append one edge here.
  private val cohortEdges = Seq(
    "r12" -> (1, 152), "r13" -> (153, 170), "r14" -> (171, 173),
    "r15" -> (174, 192), "r16" -> (193, 999))
  private def qnum(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toInt
  private def cohortsOf(rs: Seq[(String, Double, Boolean)]): String =
    cohortEdges.map { case (tag, (lo, hi)) =>
      val in = rs.filter { case (n, _, _) =>
        val q = qnum(n); q >= lo && q <= hi }
      val sub = if (in.exists(!_._3)) -1.0 else in.map(_._2).sum
      s""""${tag}_${in.size}":$sub"""
    }.mkString("{", ",", "}")

  // Machine state rides in the artifact so environment drift is self-
  // documenting: two rounds running, the CC/shingle heavies' ±1 s swings
  // were adjudicated by argument because the artifact couldn't show
  // whether the box was loaded (r8 verdict task 4b). loadavg is sampled
  // at run END — it includes our own load; what matters is comparability
  // across artifacts.
  private def machineJson(cpus: Int): String = {
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val freeMb =
      try scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong / 1024 }.getOrElse(-1L)
      catch { case _: Throwable => -1L }
    s"""{"loadavg":$loadavg,"mem_available_mb":$freeMb,"cpus":$cpus,"host_cores":${Runtime.getRuntime.availableProcessors}}"""
  }

  private def writeArtifact(json: String, compact: String): Unit = {
    // Full artifact line first (the original driver contract — metric/
    // value/unit/queries/sf), THEN a compact summary line WITHOUT the
    // per-query map. VERDICT r17 #2: the driver keeps only a ~2000-char
    // stdout TAIL, and the full line (200 per-query entries, ~8 KB) no
    // longer fits — two rounds of PERF comparisons parsed null because the
    // tail started mid-number inside the map. The compact line (~450
    // chars) is printed LAST so any tail window ends with one complete,
    // parseable JSON line carrying every summary field; the full line
    // still prints (and lands in $SPARK_GRAFT_BENCH_OUT, the canonical
    // copy) so nothing the driver ever read is removed.
    println(json)
    println(compact)
    // ALSO land the line in a file: three rounds of captured stdout
    // artifacts arrived truncated (BENCH_r0{3,4,5}.json lost q01-q13 and
    // the total), so the file is the canonical copy.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LAST.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--fresh")) { runFresh(args) ; return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warm-up: absorb one-time JVM/codegen/file-index costs so each
    // query's number reflects its own plan, not whoever ran first.
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
    }
    // A failed query benches as -1 (sentinel) and lands in "errors" — a
    // crash at sf0.1 must be visible, never recorded as a fast timing.
    // toRdd.count() materializes EVERY output column: a plain count() lets
    // Catalyst prune the projected compute, so expensive expressions would
    // bench as free (caught when a simhash fold benched 0.4s but cost 60s
    // materialized).
    //
    // Aggregation rule: MIN of 3 interleaved passes per query. PERF.md
    // records a 44–49 s machine-load spread across single-pass runs — wider
    // than most round-over-round deltas — so a single sample can't tell a
    // regression from scheduler noise. Min-of-3 reports each plan's
    // least-contended run. Passes are interleaved (full catalog per pass,
    // catalog order) and every pass builds a FRESH DataFrame, so no
    // QueryExecution/shuffle output is ever reused across samples.
    // Optional args: `--fresh` forks one fresh JVM per cohort (see
    // runFresh); remaining args = query-name filter (local iteration on a
    // subset). Default benches the full catalog, exactly as the driver
    // invokes it.
    val filterArgs = args.filterNot(_.startsWith("--"))
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (filterArgs.isEmpty) names0 else names0.filter(filterArgs.toSet)
    require(names.nonEmpty, s"no catalog query matches ${filterArgs.mkString(", ")}")
    val passes = 3
    val samples = (1 to passes).map { _ =>
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        name -> (if (ok) sec else -1.0)
      }.toMap
    }
    val results = names.map { name =>
      val vs = samples.map(_(name))
      // Any failed pass marks the query failed — a flaky crash must surface.
      (name, if (vs.exists(_ < 0)) -1.0 else vs.min, !vs.exists(_ < 0))
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val nErr = results.count { case (_, _, ok) => !ok }
    // A run with ANY errored query has no valid total: summing the survivors
    // reads as a speedup over a clean run (r7 lesson). value=-1 sentinel +
    // failed flag + nonzero rc make a broken run unambiguous to automation.
    val total =
      if (nErr > 0) -1.0 else results.collect { case (_, v, true) => v }.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","agg":"min_of_$passes","failed":${nErr > 0},"cohorts":${cohortsOf(results)},"queries":$qs,"errors":$errs,"machine":${machineJson(cpus)},"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","agg":"min_of_$passes","failed":${nErr > 0},"n_queries":${results.size},"cohorts":${cohortsOf(results)},"errors":$errs,"machine":${machineJson(cpus)},"sf":"$sfDir","queries_in":"${sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LAST.json")}"}"""
    writeArtifact(json, compact)
    spark.stop()
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries FAILED — total invalid")
      sys.exit(1)
    }
  }

  // ── --fresh: the drift-proof artifact (VERDICT r14 #2) ──
  // The frozen r12_152 cohort moved +25% idle-to-idle across two rounds
  // with ZERO code change on its paths — JVM/catalog state accumulated
  // over a 170-query coupled run (JIT tier decisions, code-cache and heap
  // shape, whoever warmed which codegen class) drifts with catalog SIZE,
  // so every appended query perturbs every older number and each round
  // pays a day of A-B-A adjudication. Fresh mode removes the channel
  // instead of adjudicating it: each cohort runs min-of-3 in its OWN
  // forked JVM (same classpath, same JVM flags, same warm-up — `run` is
  // forked, so both are plain `java` processes), so a cohort's subtotal
  // depends only on its own frozen member set and the box, never on how
  // many queries later rounds appended. JVM/Spark startup is paid outside
  // the timed region (the child warms up before timing, identical to the
  // coupled path). The merged artifact keeps the driver schema; two
  // back-to-back fresh runs are the round's repeatability check.
  private def runFresh(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val filterArgs = args.filterNot(_.startsWith("--"))
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (filterArgs.isEmpty) names0 else names0.filter(filterArgs.toSet)
    require(names.nonEmpty, s"no catalog query matches ${filterArgs.mkString(", ")}")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val results = cohortEdges.flatMap { case (tag, (lo, hi)) =>
      val members = names.filter(n => { val q = qnum(n); q >= lo && q <= hi })
      if (members.isEmpty) Nil
      else {
        val outFile = java.nio.file.Files
          .createTempFile(s"bench_fresh_$tag", ".json")
        val logFile = java.nio.file.Files
          .createTempFile(s"bench_fresh_${tag}_log", ".txt")
        val cmd = new java.util.ArrayList[String]()
        cmd.add(javaBin)
        jvmArgs.forEach(a => cmd.add(a))
        cmd.add("-cp"); cmd.add(cp); cmd.add("graft.Bench")
        members.foreach(cmd.add)
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
        pb.redirectErrorStream(true)
        pb.redirectOutput(logFile.toFile)
        System.err.println(s"[bench] fresh JVM for cohort $tag (${members.size} queries)")
        val rc = pb.start().waitFor()
        val childJson =
          try new String(java.nio.file.Files.readAllBytes(outFile),
            java.nio.charset.StandardCharsets.UTF_8)
          catch { case _: Throwable => "" }
        // rc != 0 with a JSON present = child ran but had failed queries
        // (their -1 sentinels ride in the parsed map); no JSON at all =
        // the whole cohort failed to launch — every member reads failed.
        val parsed = parseQueries(childJson)
        if (parsed.isEmpty) {
          System.err.println(s"[bench] cohort $tag produced no artifact (rc=$rc) — see $logFile")
          members.map(n => (n, -1.0, false))
        } else members.map { n =>
          val v = parsed.getOrElse(n, -1.0)
          (n, v, v >= 0)
        }
      }
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val nErr = results.count(!_._3)
    val total =
      if (nErr > 0) -1.0 else results.collect { case (_, v, true) => v }.sum
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","agg":"min_of_3_fresh_jvm_per_cohort","failed":${nErr > 0},"cohorts":${cohortsOf(results)},"queries":$qs,"errors":$errs,"machine":${machineJson(cpus)},"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","agg":"min_of_3_fresh_jvm_per_cohort","failed":${nErr > 0},"n_queries":${results.size},"cohorts":${cohortsOf(results)},"errors":$errs,"machine":${machineJson(cpus)},"sf":"$sfDir","queries_in":"${sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LAST.json")}"}"""
    writeArtifact(json, compact)
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries FAILED — total invalid")
      sys.exit(1)
    }
  }

  /** Pull the `"queries":{...}` map out of a child artifact — the format
    * is this object's own (names contain no commas/braces, values are
    * plain JSON numbers), so a brace-bounded split is exact. */
  private def parseQueries(json: String): Map[String, Double] = {
    val tagIdx = json.indexOf("\"queries\":{")
    if (tagIdx < 0) Map.empty
    else {
      val start = tagIdx + "\"queries\":{".length
      val end = json.indexOf("}", start)
      if (end < 0) Map.empty
      else json.substring(start, end).split(",").filter(_.contains(":"))
        .flatMap { kv =>
          val i = kv.lastIndexOf(":")
          val k = kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"")
          try Some(k -> kv.substring(i + 1).trim.toDouble)
          catch { case _: NumberFormatException => None }
        }.toMap
    }
  }
}
