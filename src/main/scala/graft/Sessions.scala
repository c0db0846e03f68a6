package graft

import org.apache.spark.sql.SparkSession

/** Single place where harness sessions are built, so session-wide config
  * (timezone, shuffle partitions, the events-table nanos conf) and the
  * engine's SQL functions (`GraftExtensions`) are set once at construction
  * instead of mutated mid-flight by loaders and operators.
  */
object Sessions {

  /** Session-wide configs every entry point needs:
    *   - UTC so date math is engine-portable;
    *   - `nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS), which the
    *     vectorized reader otherwise rejects ([PARQUET_TYPE_ILLEGAL]); reading
    *     it as a raw bigint keeps exact nanos (see Tables.events);
    *   - `GraftExtensions`: every `graft_*` function, inherited by
    *     `newSession()` and streaming clones.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)

  def local(cpus: Int): SparkSession = builder(s"local[$cpus]", cpus).getOrCreate()

  /** CLI sessions persist the catalog across JVM invocations via the Hive
    * metastore (Derby under the working dir) — the in-memory catalog keeps
    * table data files but loses the metadata at JVM exit. */
  def localWithCatalog(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).enableHiveSupport().getOrCreate()

  /** Eager checkpoint that PRESERVES the frame's partitioning. With AQE
    * on, Dataset.checkpoint captures the partitioning off an
    * AdaptiveSparkPlanExec root — which reports UnknownPartitioning — so
    * a `repartition(N, key).localCheckpoint(true)` barrier came back
    * layout-less and every downstream join/agg re-exchanged the frame
    * (caught by plans/r18/{cc,auth}_round dumps; verified in a bare
    * spark-shell: AQE on → UnknownPartitioning(0), AQE off →
    * hashpartitioning(key, N), and the AQE-on CONSUMER of the latter
    * plans exchange-free on that side). The checkpoint job itself is
    * therefore planned with AQE momentarily off — one strict shuffle at
    * the caller's explicit width; AQE (incl. skew handling for every
    * consuming query) is restored immediately. Session-level conf flip:
    * only safe because all engine entry points run queries sequentially
    * on their session. */
  def checkpointPartitioned(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean = false): org.apache.spark.sql.DataFrame = {
    val conf = df.sparkSession.conf
    val prev = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try { if (reliable) df.checkpoint(true) else df.localCheckpoint(true) }
    finally conf.set("spark.sql.adaptive.enabled", prev)
  }
}
