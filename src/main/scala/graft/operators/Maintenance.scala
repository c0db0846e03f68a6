package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Dataset-maintenance operators. The reference's only maintenance verbs
  * are truncate/reload (cve_manager.py's -tr path); a lake-scale engine
  * also needs COMPACTION: streaming sinks and fine-grained ingest leave
  * thousands of small part files per partition, and at 100 TB the file
  * count — not the bytes — becomes the scan bottleneck (driver-side
  * listing, per-file open cost, tiny row groups defeating column pruning).
  */
object Maintenance {

  /** Compact a parquet dataset directory to ~`targetBytes` output files.
    *
    * Sizing comes from the file inventory (sum of part-file lengths), the
    * rewrite is a `coalesce` — NO shuffle: coalesce only merges input
    * splits, so compaction costs one read + one write of the data, the
    * floor for any rewrite. Data lands in a staging dir first and is
    * swapped in afterwards, so a crash mid-write leaves the original
    * intact; the swap itself (delete originals + rename staged files) is
    * not transactional — production tables would layer a table format's
    * commit protocol on top, the operator here is the rewrite engine
    * underneath it.
    *
    * Returns (partFilesBefore, partFilesAfter). */
  def compactParquet(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(dir)
    // Raw FS: same ChecksumFileSystem ':'/crc-shadow hazard as
    // Warehouse.writeSingleCsv, and crc shadows of deleted parts would
    // otherwise linger next to the swapped-in files.
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    def parts() = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val before = parts()
    // A partition-dir layout has NO top-level part files; reading through
    // it and renaming staged files into the root would flatten the
    // partition columns into a corrupt mixed layout. Compact each leaf
    // partition directory individually instead.
    require(before.nonEmpty,
      s"$dir has no top-level part files (partitioned layout or empty); " +
        "compact leaf partition directories individually")
    val total = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val staging = new Path(dir + ".compact-staging")
    fs.delete(staging, true)
    // Executes the read fully into staging BEFORE any original is touched.
    spark.read.parquet(dir).coalesce(n)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    before.foreach(s => fs.delete(s.getPath, false))
    fs.listStatus(staging)
      .filter(_.getPath.getName.startsWith("part-"))
      .foreach { s =>
        val dest = new Path(p, s.getPath.getName)
        require(fs.rename(s.getPath, dest), s"rename ${s.getPath} -> $dest failed")
      }
    fs.delete(staging, true)
    (before.length, parts().length)
  }

  /** Compact every LEAF partition directory of a partition-dir dataset
    * (`lang=en/`, `year=2024/month=1/`, ...) independently — partition
    * values stay directory-encoded, so each leaf is just a flat parquet
    * dir and `compactParquet` applies as-is. Driver-side recursion is one
    * `listStatus` per directory (the same cost any scan's file index
    * pays); the rewrites themselves are per-leaf Spark jobs, so partition
    * count scales the number of small jobs, never one job's size.
    *
    * Returns (partFilesBefore, partFilesAfter) summed over leaves. */
  /** Bits per dimension for `zorderWrite` (256 equi-depth buckets). */
  val ZBits = 8

  /** Multi-dimensional data-layout clustering — the OPTIMIZE ZORDER BY
    * shape. Rewrites `df` into `nFiles` parquet files clustered on the
    * interleaved-bit z-value of two columns, so file-level min/max stats
    * prune selective predicates on EITHER dimension (a layout sorted by
    * one column prunes only that column: any predicate on the other hits
    * every file). Bucket ids are EQUI-DEPTH (approxQuantile boundaries —
    * robust to skew, where linear min/max scaling would starve the dense
    * range); z interleaves the two 8-bit ids, then the write
    * range-partitions + sorts by z — each output file covers one compact
    * z-range, i.e. a small rectangle of (ca, cb) space.
    *
    * Scale: the quantile pass is one approx-sketch aggregation; the
    * rewrite is one range-shuffle + local sort, the floor for any
    * re-layout. At 100 TB this runs per partition (compose with
    * `compactPartitioned`'s leaf walk) rather than corpus-wide.
    * ZorderSpec measures the pruning claim by footer stats: the z layout
    * admits strictly fewer files than a single-sorted layout for box and
    * cross-dimension predicates. */
  def zorderWrite(df: DataFrame, ca: String, cb: String, dir: String,
      nFiles: Int): Unit = {
    val qs = (1 until (1 << ZBits)).map(_.toDouble / (1 << ZBits)).toArray
    def bucket(c: String): Column = {
      val bounds = df.stat.approxQuantile(c, qs, 0.001).toSeq
      aggregate(typedlit(bounds), lit(0L),
        (acc, b) => acc + when(col(c).cast("double") >= b, 1L).otherwise(0L))
    }
    df.withColumn("_za", bucket(ca)).withColumn("_zb", bucket(cb))
      .withColumn("_zv", expr(
        s"""aggregate(sequence(0, ${ZBits - 1}), 0L, (acc, i) ->
           |  acc + shiftleft(cast(shiftright(_za, i) & 1 AS bigint), 2 * i + 1)
           |      + shiftleft(cast(shiftright(_zb, i) & 1 AS bigint), 2 * i))""".stripMargin))
      .repartitionByRange(nFiles, col("_zv"))
      .sortWithinPartitions("_zv")
      .drop("_za", "_zb", "_zv")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  def compactPartitioned(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[Path] = {
      val children = fs.listStatus(p)
      val dirs = children.filter(_.isDirectory).map(_.getPath)
        .filterNot(_.getName.endsWith(".compact-staging"))
      if (dirs.isEmpty) Seq(p)
      else dirs.toIndexedSeq.flatMap(leaves)
    }
    val results = leaves(root)
      .filter(l => fs.listStatus(l).exists(s =>
        s.isFile && s.getPath.getName.startsWith("part-")))
      .map(l => compactParquet(spark, l.toString, targetBytes))
    (results.map(_._1).sum, results.map(_._2).sum)
  }

  // ── q189: z-order pruning census (the oracle-graded twin of
  //    zorderWrite's layout claim) ──

  /** Bits per dimension for the q189 census (16 coordinate buckets —
    * coarser than zorderWrite's ZBits so the range census stays a
    * readable 16-range table). */
  val ZqBits = 4

  /** q189's length-bucket width (chars per bucket, q185's manifest
    * bucket) and the range granularity (z-values per range = one "file"
    * of the modeled layout). */
  val ZqLenW = 64L
  val ZqRangeW = 16L

  /** Bit-interleave of two ZqBits-bit coordinates as pure div/mod/mul SQL
    * text (`d` = the engine's integer-division token): z's bit 2i+1 is
    * a's bit i, bit 2i is b's — rendered identically in Spark (`div`)
    * and DuckDB (`//`), both exact on the non-negative coordinates. */
  private[operators] def zInterleave(a: String, b: String, d: String): String =
    (0 until ZqBits).map(i =>
      s"(($a $d ${1 << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + (($b $d ${1 << i}) % 2) * ${1L << (2 * i)}").mkString(" + ")

  val defs: Seq[QueryDef] = Seq(

    // ── Which layout lets a point predicate skip files? ──
    QueryDef(
      "q189_zorder_prune",
      (s, dir) => {
        // `zorderWrite` claims its layout prunes selective predicates on
        // EITHER dimension while a single-sorted layout prunes only its
        // own sort column; ZorderSpec measures that on real parquet
        // footers. This query is the claim's oracle-graded form: model
        // the two layouts arithmetically — coordinates a = 60-bit
        // md5(lang) bucket, b = length bucket; "files" = z div ZqRangeW
        // for the z-ordered layout, b for the length-sorted one — and
        // census, per probe value on each dimension, how many distinct
        // ranges (files a stats-pruning scan must open) contain it.
        // The √ tradeoff reads off the table: z-order bounds BOTH
        // dimensions at the top-half bits' fan-out (≤ 4 ranges here),
        // where the sorted layout reads 1 on its own column and EVERY
        // occupied range on the other.
        //
        // 100 TB shape: one narrow two-column scan; the probe fan-out is
        // an in-row 2-element explode; everything collapses on the
        // (dim, v) grid (≤ 32 rows) with distinct-range counts riding
        // the same aggregate. The layouts themselves never materialize —
        // this is the decision table you read BEFORE paying a corpus
        // rewrite (`zorderWrite`, composed per-partition at scale).
        val keyed = Tables.load(s, dir, "documents")
          .withColumn("a",
            expr("graft_hash60(concat('zl:', lang))") % (1L << ZqBits))
          .withColumn("b", expr(s"least(n_chars div $ZqLenW, ${(1L << ZqBits) - 1})"))
          .withColumn("z_range",
            expr(s"(${zInterleave("a", "b", "div")}) div $ZqRangeW"))
          .withColumn("lensort_range", col("b"))
        keyed
          .select(col("z_range"), col("lensort_range"),
            explode(array(
              struct(lit("lang_bucket").as("dim"), col("a").as("v")),
              struct(lit("len_bucket").as("dim"), col("b").as("v"))))
              .as("p"))
          .groupBy(col("p.dim").as("dim"), col("p.v").as("v"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("z_range")).as("z_ranges"),
            countDistinct(col("lensort_range")).as("lensort_ranges"))
          .orderBy("dim", "v")
      },
      Some(s"""WITH keyed AS (
              |  SELECT list_reduce([(strpos('0123456789abcdef', substr(md5('zl:' || lang), i, 1)) - 1)::BIGINT for i in range(1, 16)], (a, b) -> a * 16 + b) % ${1L << ZqBits} AS a,
              |         least(n_chars // $ZqLenW, ${(1L << ZqBits) - 1}) AS b
              |  FROM documents),
              |r AS (
              |  SELECT a, b, (${zInterleave("a", "b", "//")}) // $ZqRangeW AS z_range,
              |         b AS lensort_range
              |  FROM keyed),
              |p AS (
              |  SELECT z_range, lensort_range,
              |         unnest([struct_pack(dim := 'lang_bucket', v := a), struct_pack(dim := 'len_bucket', v := b)]) AS pr
              |  FROM r)
              |SELECT pr.dim AS dim, pr.v AS v, CAST(count(*) AS BIGINT) AS n_rows,
              |       CAST(count(DISTINCT z_range) AS BIGINT) AS z_ranges,
              |       CAST(count(DISTINCT lensort_range) AS BIGINT) AS lensort_ranges
              |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))
}
