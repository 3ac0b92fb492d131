package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level statistics index + stats-pruned scan — the zone-map /
  * lakehouse-stats primitive (Delta/Iceberg keep per-file min/max in the
  * commit log; a plain parquet lake can build the same index with one
  * scan and prune file lists from it without touching the footers again).
  *
  * Scale shape: [[build]] is ONE distributed pass over the table (a
  * `groupBy(input_file_name)` partial agg — shuffle carries #files rows,
  * not data rows) and is paid once per table version, like any stats
  * collection. [[candidateFiles]] touches only the stats table —
  * metadata-scale (#files rows, e.g. ~100k rows for 100 TB of 1 GB files,
  * a sub-second broadcast-sized frame). [[prunedScan]] then lists exactly
  * the surviving files, so a selective predicate over a clustered layout
  * (sorted or Z-ordered writes, see [[Layout]]) reads a small fraction of
  * the lake — the same I/O win partition pruning gives, but on any
  * clustered column, without re-partitioning the table.
  *
  * Correctness is layout-independent: the predicate is re-applied inside
  * the scan, so a file that survives pruning but holds non-matching rows
  * contributes nothing; pruning only ever REMOVES files whose [min,max]
  * range excludes every match.
  */
object StatsIndex {

  /** One-pass per-file stats for `cols`: row count plus min/max/null-count
    * per column. The output is the index — persist it next to the table
    * and rebuild it when the table changes.
    * `file` is the path RELATIVE to the table root — including any
    * partition subdirectories, so a nested/partitioned layout can't
    * collide two `part-00000.parquet` basenames and [[prunedScanMulti]]'s
    * `$path/$file` reconstruction stays valid. Relative (not absolute)
    * so the index survives the table directory being
    * staged/renamed/relocated — the same reason lakehouse commit logs
    * store relative paths.
    */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "StatsIndex.build needs at least one column")
    statsOf(spark.read.parquet(path), cols, rootFsPath(spark, path))
  }

  /** The table root as a bare filesystem path (scheme/authority stripped,
    * symlink-free qualified form) — the prefix [[statsOf]] peels off
    * `input_file_name()` to get root-relative file keys.
    */
  private def rootFsPath(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toUri.getPath
  }

  private def statsOf(df: DataFrame, cols: Seq[String],
      rootPath: String): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        sum(col(c).isNull.cast("long")).as(s"nulls_$c")))
    // input_file_name() is a URI (file:///...); drop scheme+authority,
    // then strip the literal root prefix — what's left is the
    // root-relative path, subdirectories included
    val rel = regexp_replace(
      regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
      "^" + java.util.regex.Pattern.quote(rootPath + "/"), "")
    df.groupBy(rel.as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The files whose [min,max] range intersects EVERY predicate's
    * [lo, hi] — i.e. every file that COULD hold a conjunctive match
    * (files with null-only stats are kept conservatively). Metadata-scale
    * collect: #files is bounded by table-bytes / file-size, never by row
    * count. Multi-column pruning is what a Z-ordered layout earns: each
    * dimension's file ranges stay narrow, so either predicate skips.
    */
  def candidateFilesMulti(stats: DataFrame,
      preds: Seq[(String, Any, Any)]): Seq[String] = {
    require(preds.nonEmpty, "candidateFilesMulti needs at least one range")
    val cond = preds.map { case (c, lo, hi) =>
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
    }.reduce(_ && _)
    stats.filter(cond).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Single-column form of [[candidateFilesMulti]]. */
  def candidateFiles(stats: DataFrame, c: String,
      lo: Any, hi: Any): Seq[String] =
    candidateFilesMulti(stats, Seq((c, lo, hi)))

  /** Range scan through the index: prune the file list, read only the
    * survivors, re-apply the conjunction exactly. Empty candidate list →
    * empty frame with the table's schema (a scan of zero files).
    */
  def prunedScanMulti(spark: SparkSession, path: String, stats: DataFrame,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    val files = candidateFilesMulti(stats, preds)
    val base =
      if (files.isEmpty)
        spark.read.parquet(path).limit(0)
      else spark.read.parquet(files.map(f => s"$path/$f"): _*)
    base.filter(preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _))
  }

  /** Single-column form of [[prunedScanMulti]]. */
  def prunedScan(spark: SparkSession, path: String, stats: DataFrame,
      c: String, lo: Any, hi: Any): DataFrame =
    prunedScanMulti(spark, path, stats, Seq((c, lo, hi)))
}
