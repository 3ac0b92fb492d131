package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Artifacts

/** Table maintenance: small-file compaction. Long-lived lakes accumulate
  * tiny files (per-micro-batch appends, over-parallel writers, partition
  * skew); at 100 TB a scan's task count — and the namenode/liststatus
  * load — is proportional to FILE count, not byte count, so a table of
  * 10 KB files can be 1000× slower to open than the same bytes in
  * 256 MB files. Compaction is the standard fix (Delta OPTIMIZE /
  * Iceberg rewrite_data_files reduced to the load-bearing core): rewrite
  * the directory into ceil(bytes / target) files, committed atomically.
  *
  * The reference's append-per-run sink (`etl/core/dim_loader.py:23-30`,
  * one BigQuery load per daily slice) is exactly the writer pattern that
  * fragments a file-based lake — this operator is its maintenance
  * counterpart.
  */
object Maintenance {

  /** Input/output stats of one compaction run. */
  final case class CompactStats(inFiles: Long, inBytes: Long,
      outFiles: Long, rows: Long)

  private def parquetFiles(dir: File): Array[File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Rewrite the parquet files under `inPath` as ~`targetBytes` files at
    * `outPath`. Sizing is driver-side METADATA (a file listing — O(#files)
    * like any manifest op, no data read); the rewrite itself is one
    * round-robin repartition to the computed file count — a single narrow
    * shuffle, no skew sensitivity, which is the right trade for
    * compaction (data is already random within a partition dir; byte
    * balance matters, key locality doesn't — callers wanting clustered
    * output compose with the z-order/bucketing writers instead). The
    * output stages to a fresh temp dir and publishes by delete + rename:
    * a reader never sees a HALF-compacted mix, but there is a brief
    * no-directory window between the two metadata ops — a table serving
    * concurrent readers should be a `graft-warehouse` table instead
    * (immutable files + one atomic manifest swap,
    * [[optimizeWarehouse]]), which is why compaction output here is a
    * fresh path, not an in-place swap.
    *
    * Output file count uses the INPUT's compressed bytes as the estimate
    * of the output's (same codec, same data — the error is a few percent
    * of row-group/footer overhead), the same heuristic the production
    * compactors use.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val inFiles = parquetFiles(new File(inPath))
    require(inFiles.nonEmpty, s"no parquet files under $inPath")
    val inBytes = inFiles.map(_.length()).sum
    val nOut = math.max(1L, (inBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inPath)
    val out = new File(outPath)
    val stage = new File(outPath + s"_stage_${System.nanoTime()}")
    df.repartition(nOut).write.parquet(stage.getPath)
    val rows = spark.read.parquet(stage.getPath).count()
    // Publish without a destructive window: the old copy is renamed ASIDE
    // first (cheap same-directory metadata op), so a failed stage rename —
    // cross-device mount, permissions — can roll the previous output back
    // instead of having already deleted it. Only after the new data is
    // live does the old copy get deleted.
    val old = new File(outPath + s"_old_${System.nanoTime()}")
    if (out.exists()) {
      require(out.renameTo(old),
        s"cannot move previous $outPath aside; output left untouched")
    }
    if (!stage.renameTo(out)) {
      if (old.exists()) old.renameTo(out) // roll back the previous copy
      Artifacts.delete(stage)
      require(requirement = false,
        s"atomic publish to $outPath failed (staged data discarded, " +
          "previous output restored)")
    }
    Artifacts.delete(old)
    CompactStats(inFiles.length.toLong, inBytes,
      parquetFiles(out).length.toLong, rows)
  }

  /** Full compaction of the `graft-warehouse` table (round-13): rewrite
    * the CURRENT generation's rows into `targetFiles` write tasks as ONE
    * replace commit that carries nothing (disposition `OPTIMIZE`, the
    * same commit as the bin-packing [[optimizeWarehouse]] below). There
    * is NO visibility window: readers plan against the old immutable
    * files until the manifest swap, and every earlier generation stays
    * time-travel readable ("retired from visibility, not rewritten").
    * The change feed reads the commit as row-preserving: no row changes.
    * Cluster layouts survive — the cluster writer re-splits one file per
    * value inside each task, so a clustered table compacts to
    * ≤ targetFiles×|values| files with the storage-partitioned-join
    * invariant intact. Fresh per-file stats (zone maps, row counts,
    * non-null counts, sums) stream with the rewrite, so every metadata
    * serve keeps working on the compacted generation. Returns
    * (filesBefore, filesAfter).
    *
    * Concurrency: compaction is read-then-replace, NOT compare-and-swap
    * — a load job committing between this read and this commit would be
    * retired with the old generation (its rows still time-travel
    * readable, but absent from the compacted head). Run compaction in the
    * maintenance window, like every load-job warehouse does; a CAS'd
    * generation commit is the production extension point.
    */
  def compactWarehouse(spark: SparkSession, root: String,
      targetFiles: Int = 1): (Int, Int) = {
    require(targetFiles > 0, "targetFiles must be positive")
    val before = graft.sources.WarehouseMeta.current(root)
    val after = rewriteFiles(spark, root, before, before.files, targetFiles)
    (before.files.size, after.files.size)
  }

  /** One `OPTIMIZE` replace commit: `files` of `m` rewrite in `tasks`
    * write tasks, every other file carries by reference. A clustered
    * table repartitions BY the cluster column, with the task count sized
    * from `files`' distinct part values (advice r13: a blind
    * repartition(1) funnels every value into one task, and a table
    * legitimately loaded with >1024 values across many tasks would trip
    * the cluster writer's per-task cardinality cap mid-job). ~256
    * expected values per task keeps the hard 1024 cap improbable even
    * under hash skew.
    */
  private def rewriteFiles(spark: SparkSession, root: String,
      m: graft.sources.Manifest, files: List[String],
      tasks: Int): graft.sources.Manifest = {
    val df = graft.sources.WarehouseCow.readSubset(spark, root, files)
    val repart = m.clusterBy match {
      case Some(c) =>
        val dv = files.flatMap(m.parts.get).toSet.size
        df.repartition(math.max(tasks, (dv + 255) / 256).max(1),
          org.apache.spark.sql.functions.col(c))
      case None => df.repartition(tasks)
    }
    val rewritten = files.toSet
    graft.sources.WarehouseRewrite.rewrite(root, m,
      m.files.filterNot(rewritten), repart, "OPTIMIZE")
  }

  /** Result of one bin-packing OPTIMIZE: files before/after, how many
    * small files were rewritten, how many compliant files were carried
    * by reference (zero IO). */
  final case class OptimizeStats(filesBefore: Int, filesAfter: Int,
      rewritten: Int, carried: Int)

  /** Bin-packing OPTIMIZE for the `graft-warehouse` table (round-14,
    * completing round-13's whole-table rewrite): rewrite ONLY the files
    * below `smallBytes` into ~`targetBytes` bins and carry every
    * compliant file into the new generation BY REFERENCE — the same
    * metadata-only move the DELETE survivors make, so OPTIMIZE on a
    * 100 TB table whose tail is per-trigger micro-batch files costs the
    * small tail's IO, not a full rewrite. The small subset reads through
    * the scan's `files` option (exactly those files, never the table),
    * rewrites as ONE atomic generation (disposition `OPTIMIZE`,
    * [[graft.sources.WarehouseRewrite.commitReplace]]), keeps cluster
    * layouts (re-split per value inside each task; task count sized from
    * the subset's distinct part values so the writer's cardinality cap
    * can't trip), and leaves every earlier generation time-travel
    * readable. Large files' paths are carried byte-identical —
    * MaintenanceSpec pins that they don't rewrite.
    *
    * Same maintenance-window concurrency contract as the full rewrite
    * above. Returns [[OptimizeStats]]; a table with ≤1 small file is a
    * no-op (nothing to bin-pack).
    */
  def optimizeWarehouse(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): OptimizeStats = {
    require(smallBytes > 0 && targetBytes > 0,
      "smallBytes and targetBytes must be positive")
    val m = graft.sources.WarehouseMeta.current(root)
    val fs = graft.sources.WarehouseMeta.fs(root)
    val size = m.files.map { f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(root, f)).getLen
    }.toMap
    // a vectored file always rewrites regardless of size: OPTIMIZE is
    // where merge-on-read deletions get materialized back to clean files
    val (small, compliant) = m.files.partition(f =>
      size(f) < smallBytes || m.dvs.contains(f))
    // a single small CLEAN file can't pack further — but a vectored file
    // still needs its rewrite (materializing the deletions away)
    if (small.size <= 1 && small.forall(f => !m.dvs.contains(f)))
      return OptimizeStats(m.files.size, m.files.size, 0, m.files.size)
    val byBytes = math.max(1L,
      (small.map(size).sum + targetBytes - 1) / targetBytes).toInt
    val after = rewriteFiles(spark, root, m, small, byBytes)
    OptimizeStats(m.files.size, after.files.size,
      after.files.size - compliant.size, compliant.size)
  }

  /** Result of one VACUUM: generations kept/dropped, data files (and
    * bytes) physically deleted. */
  final case class VacuumStats(keptGenerations: Int, droppedGenerations: Int,
      deletedFiles: Int, deletedBytes: Long)

  /** VACUUM — retention for the immutable-generation history (the Delta
    * VACUUM / Iceberg expire_snapshots shape reduced to its core): keep
    * the newest `keepGenerations` manifests, drop every older one, and
    * physically delete every data file no KEPT generation references.
    * Every commit in this format is copy-on-write (loads append files,
    * DELETE/UPDATE/MERGE/OPTIMIZE carry-or-replace them), so without
    * retention the table's disk footprint is its entire history — at
    * 100 TB, time travel has to be bounded or storage grows without
    * bound. Deletion order is crash-safe in the useful direction:
    * dropped MANIFESTS go first (a crash then leaves orphaned data files
    * a re-run sweeps; files-first would leave live manifests pointing at
    * deleted data), and the sweep is disk-vs-referenced so it also
    * collects orphans from earlier crashes. Time travel to a vacuumed
    * generation refuses with the standard "generation does not exist"
    * listing error. Same maintenance-window concurrency contract as
    * OPTIMIZE: don't vacuum under a concurrent writer.
    */
  def vacuumWarehouse(root: String,
      keepGenerations: Int = 2): VacuumStats = {
    require(keepGenerations >= 1, "keepGenerations must be >= 1")
    graft.sources.WarehouseMeta.current(root): Unit // refuse a non-table
    val fs = graft.sources.WarehouseMeta.fs(root)
    val gens = graft.sources.WarehouseMeta.generations(root)
    val (drop, keep) =
      gens.splitAt(math.max(gens.size - keepGenerations, 0))
    val referenced = keep.flatMap { g =>
      val gm = graft.sources.WarehouseMeta.readManifest(root, Some(g)).get
      gm.files ++ gm.dvs.values.map(_._1)
    }.toSet
    val jobId = s"vacuum-${java.util.UUID.randomUUID()}"
    graft.sources.WarehouseMeta.job(root, jobId,
        s"PENDING keep=$keepGenerations") { _ =>
      drop.foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(root,
          s"_manifest/manifest-$g"), false): Unit
      }
      var deleted = 0
      var bytes = 0L
      val dataDir = new org.apache.hadoop.fs.Path(root, "data")
      if (fs.exists(dataDir)) {
        for (job <- fs.listStatus(dataDir) if job.isDirectory) {
          for (st <- fs.listStatus(job.getPath) if st.isFile) {
            val rel = s"data/${job.getPath.getName}/${st.getPath.getName}"
            // a `.bloom` sidecar lives and dies with its data file — it
            // is referenced iff the file it indexes is
            val live =
              if (rel.endsWith(".bloom"))
                referenced(rel.stripSuffix(".bloom"))
              else referenced(rel)
            if (!live) {
              bytes += st.getLen
              if (fs.delete(st.getPath, false)) deleted += 1
            }
          }
          if (fs.listStatus(job.getPath).isEmpty)
            fs.delete(job.getPath, false): Unit
        }
      }
      VacuumStats(keep.size, drop.size, deleted, bytes)
    }
  }
}
