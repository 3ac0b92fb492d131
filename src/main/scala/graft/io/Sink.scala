package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append-mode sink layer (reference S5/S6, `etl/core/dim_loader.py:23-30`,
  * `load_311.py:113-126`): skip-if-empty, append disposition. For
  * `"graft-warehouse"` the skip is a property of the write itself: a load
  * job that stages no row commits nothing, so a load is one action. The
  * file formats would land a schema-only part file for an empty frame, so
  * they keep a `limit 1` guard before the write. The format
  * string is a real `DataFrameWriter.format` plug point — parquet by
  * default, csv/json/orc for local breadth, and `"graft-warehouse"` for
  * the in-repo LOAD-JOB writer ([[graft.sources.WarehouseSource]]):
  * staged distributed write, atomic manifest-swap commit, BigQuery-style
  * WRITE_APPEND/WRITE_TRUNCATE/WRITE_EMPTY dispositions, blocking
  * driver-side job — the reference's terminal boundary semantics,
  * implementable offline. No call site changes between formats.
  *
  * Scale: append of a partitioned DataFrame is embarrassingly parallel —
  * one file per partition, no shuffle. Callers control layout with
  * `partitionByCols` (e.g. date_key) so downstream scans partition-prune.
  */
object Sink {

  /** Append `df`; returns the number of rows written (see [[write]]). */
  def append(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Long =
    // skip-if-empty (dim_loader.py:26-27): a graft-warehouse load that
    // stages no row commits nothing; a file format needs the limit-1 guard
    if (format != "graft-warehouse" && df.isEmpty) 0L
    else write(df, "append", path, partitionByCols, format, options)

  /** Overwrite `df` at `path`; returns rows written (see [[write]]). */
  def overwrite(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Long =
    write(df, "overwrite", path, partitionByCols, format, options)

  /** Save `df` under `mode`; returns the number of rows written, observed
    * DURING the write job (`Dataset.observe` piggybacks a CollectMetrics
    * node on the write's own pass) — callers get load observability
    * without re-running the DataFrame's DAG for a count.
    */
  private def write(df: DataFrame, mode: String, path: String,
      partitionByCols: Seq[String], format: String,
      options: Map[String, String]): Long = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val w = observed.write.mode(mode).format(format).options(options)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .save(path)
    obs.get("rows").asInstanceOf[Long]
  }

  def read(spark: SparkSession, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options).load(path)

  /** Idempotent dim append — the documented fix for the reference's
    * append-duplication quirk (SURVEY §2.8/§7.4.6: per-slice dedup + append
    * means dims accumulate duplicate natural keys across runs). Anti-joins
    * the incoming dim against the already-written natural keys and appends
    * only genuinely new rows. At scale this is the file-format analog of a
    * MERGE: one broadcast-able anti-join per slice against a small dim.
    */
  def upsertDim(spark: SparkSession, dim: DataFrame, path: String,
      naturalKeys: Seq[String], format: String = "parquet"): Long = {
    val fresh =
      if (!hasData(spark, path, format)) dim
      else {
        val existing = read(spark, path, format)
          .select(naturalKeys.map(org.apache.spark.sql.functions.col): _*)
        dim.join(existing, naturalKeys, "left_anti")
      }
    append(fresh, path, format = format)
  }

  /** Whether `path` holds committed rows a reader can load: a manifest for
    * `graft-warehouse`, a visible file or partition directory for the file
    * formats. A load that failed before its first commit leaves only
    * bookkeeping behind (`_jobs/` and `_staging/`, or an empty directory
    * once `_temporary/` is cleaned up), so the directory existing says
    * nothing about the table.
    */
  private[graft] def hasData(spark: SparkSession, path: String,
      format: String): Boolean =
    if (format == "graft-warehouse")
      graft.sources.WarehouseMeta.readManifest(path).isDefined
    else {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(root) && fs.listStatus(root).exists { s =>
        val name = s.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      }
    }
}
