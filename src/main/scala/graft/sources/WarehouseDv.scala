package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter

/** MERGE-ON-READ DELETION VECTORS (round-14): the third tier of the
  * warehouse DELETE ladder —
  *
  *   1. metadata drop (whole files the zone maps prove fully match);
  *   2. DELETION VECTOR (partial files: mark the matching ORDINALS in an
  *      immutable per-file bitmap sidecar; readers skip them) — this
  *      object;
  *   3. copy-on-write rewrite (the fallback that physically removes
  *      rows, and what OPTIMIZE uses to materialize vectors away).
  *
  * At 100 TB, deleting 0.1% of rows scattered across thousand-file
  * tables is the shape that makes CoW unaffordable (every touched file
  * rewrites); a deletion vector turns it into one small bitmap write per
  * touched file plus a manifest commit (the Delta deletion-vector /
  * Iceberg positional-delete idea on the generation log). Costs land on
  * READERS (decode-and-skip per marked ordinal), which is why OPTIMIZE
  * rewrites vectored files back to clean ones.
  *
  * Every metadata serve degrades conservatively around vectors: COUNT
  * stays exact (live = frows − marked), MIN/MAX/SUM and TOP-N refuse on
  * vectored files (a deleted row might hold the extremum), zone pruning
  * stays valid (stats describe a superset), and the stats CBO row count
  * uses live rows. The vector is per (generation, file) and immutable —
  * a later DV delete writes a NEW union bitmap under its own jobId, so
  * time travel to the earlier generation sees the earlier vector.
  */
object WarehouseDv {

  private val Magic = 0x47445631 // "GDV1"

  def isSet(words: Array[Long], ord: Long): Boolean = {
    val w = (ord >>> 6).toInt
    w < words.length && (words(w) & (1L << (ord & 63))) != 0
  }

  def popCount(words: Array[Long]): Long =
    words.foldLeft(0L)((acc, w) => acc + java.lang.Long.bitCount(w))

  def write(fs: FileSystem, path: String, words: Array[Long]): Unit = {
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(new Path(path), true)))
    try {
      out.writeInt(Magic)
      out.writeInt(words.length)
      words.foreach(out.writeLong)
    } finally out.close()
  }

  def read(fs: FileSystem, path: String): Array[Long] = {
    val in = new DataInputStream(
      new java.io.BufferedInputStream(fs.open(new Path(path))))
    try {
      require(in.readInt() == Magic, s"not a deletion vector: $path")
      Array.fill(in.readInt())(in.readLong())
    } finally in.close()
  }

  /** Marks, per file of `files` (each in `m`), the ordinals of the rows
    * `cond` holds for in a deletion vector at `data/<jobId>/dv-<i>.dv`.
    * One small job per file RAW-reads it (existing vectors ignored —
    * ordinals must index the file, and re-marking an already-deleted
    * ordinal is idempotent under the union), marks matching ordinals IN
    * THE TASK, unions them with the file's current vector, and publishes
    * the bitmap from the executor — no ordinal ever passes through the
    * driver, so a billion-row delete costs the driver one manifest edit.
    * Returns file -> (vector path, marked count) and the number of
    * newly marked ordinals. */
  private def markOrdinals(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String], cond: Column,
      jobId: String): (Map[String, (String, Long)], Long) = {
    import spark.implicits._
    val fs = WarehouseMeta.fs(root)
    if (files.nonEmpty) fs.mkdirs(new Path(root, s"data/$jobId"))
    var newlyMarked = 0L
    val dvs = files.zipWithIndex.map { case (f, i) =>
      val nRows = m.rows.getOrElse(f,
        throw new IllegalStateException(s"file $f lacks frows"))
      val wordsLen = ((nRows + 63) >>> 6).toInt
      val oldDv = m.dvs.get(f).map(d => s"$root/${d._1}")
      val rel = s"data/$jobId/dv-$i.dv"
      val dst = s"$root/$rel"
      // single file -> single partition -> monotonic ids are the
      // 0-based file ordinals
      val out = spark.read.format("graft-warehouse")
        .option("path", root).option("files", f)
        .option("generation", m.generation.toString)
        .option("ignoreDeleteVectors", "true").load()
        .withColumn("__pos", monotonically_increasing_id())
        .filter(cond)
        .select(col("__pos")).as[Long]
        .mapPartitions { it =>
          val words = new Array[Long](wordsLen)
          val tfs = WarehouseMeta.fs(dst)
          oldDv.foreach { p =>
            val ow = read(tfs, p)
            System.arraycopy(ow, 0, words, 0, ow.length)
          }
          val before = popCount(words)
          it.foreach { ord =>
            require(ord >= 0 && ord < nRows,
              s"ordinal $ord out of range")
            words((ord >>> 6).toInt) |= 1L << (ord & 63)
          }
          val after = popCount(words)
          // task-attempt-unique stage + driver rename = speculative
          // twins can never corrupt the published bitmap
          val attempt = org.apache.spark.TaskContext.get()
            .taskAttemptId()
          val tmp = s"$dst.tmp-$attempt"
          write(tfs, tmp, words)
          Iterator.single((tmp, after, after - before))
        }.collect()
      require(out.length == 1,
        s"expected one bitmap task for $f, got ${out.length}")
      val (tmp, unionCount, delta) = out(0)
      require(fs.rename(new Path(tmp), new Path(dst)),
        s"cannot publish deletion vector $rel")
      newlyMarked += delta
      f -> (rel, unionCount)
    }.toMap
    (dvs, newlyMarked)
  }

  /** MERGE-ON-READ UPDATE: rows matching `pred` are VECTORED OUT of
    * their files and re-appended with the SET expressions applied — one
    * atomic `UPDATE_MOR` generation whose write cost is the updated
    * rows plus one bitmap per touched file, never a file rewrite (the
    * symmetric counterpart of [[deleteWhereDv]]; OPTIMIZE later
    * materializes both). The change feed classifies the commit exactly:
    * newly-marked ordinals are `update_preimage`, appended files are
    * `update_postimage`. Returns the exact updated row count. SQL NULL
    * semantics; SET expressions cast to the declared column types.
    */
  def updateWhereMor(spark: SparkSession, root: String, pred: Filter,
      set: Map[String, String]): Long = {
    val predCol = WarehouseCow.filterToColumn(pred)
    val m = WarehouseMeta.current(root)
    val cols = m.schema.fieldNames.toSet
    val badCols = set.keys.filterNot(cols)
    require(badCols.isEmpty,
      s"SET names unknown column(s): ${badCols.mkString(",")}")
    val (_, carry, _) = WarehouseZoneMap.classify(m, pred)
    val affected = m.files.filterNot(carry.toSet) // drop ++ partial
    if (affected.isEmpty) return 0L
    val jobId = s"update_mor_${java.util.UUID.randomUUID().toString.take(8)}"
    WarehouseMeta.job(root, jobId, "RUNNING") { publish =>
      val cond = coalesce(predCol, lit(false))
      // leg 1: vector out the matching ordinals of each affected file
      val (newDvs, updated) =
        markOrdinals(spark, root, m, affected, cond, jobId)
      // leg 2: the updated rows re-append (LIVE rows only — the current
      // vectors apply to this read) as fresh files with full
      // stats/layout/blooms, staged like any rewrite's
      val updatedRows = WarehouseCow.readSubset(spark, root, affected)
        .filter(cond)
        .select(m.schema.fields.map { fld =>
          set.get(fld.name) match {
            case Some(e) => expr(e).cast(fld.dataType).as(fld.name)
            case None => col(fld.name)
          }
        }.toIndexedSeq: _*)
      val withNew = WarehouseLoadJob.addStaged(root, jobId, m,
        WarehouseRewrite.stage(root, m, updatedRows, jobId)
          .filter(_.rows > 0L))
      publish(withNew.copy(generation = m.generation + 1, jobId = jobId,
        disposition = "UPDATE_MOR", dvs = withNew.dvs ++ newDvs))
      WarehouseMeta.dropStaging(root, jobId)
      updated
    }
  }

  /** DELETE rows matching `pred` using the full ladder: zone-provable
    * full-match files DROP as metadata, provable no-match files carry
    * untouched, and partial files get (or extend) a DELETION VECTOR —
    * zero data-file IO beyond reading the partial files once. Returns
    * the exact number of LIVE rows deleted. SQL NULL semantics (a NULL
    * predicate keeps the row).
    */
  def deleteWhereDv(spark: SparkSession, root: String,
      pred: Filter): Long = {
    val predCol = WarehouseCow.filterToColumn(pred) // refuse shapes first
    val m = WarehouseMeta.current(root)
    val (fullDrop, _, partial) = WarehouseZoneMap.classify(m, pred)
    require(fullDrop.forall(f => m.liveRows(f).isDefined),
      "dropped files lack exact row counts — the deleted-count " +
        "contract would be a guess")
    val jobId = s"delete_dv_${java.util.UUID.randomUUID().toString.take(8)}"
    WarehouseMeta.job(root, jobId, "RUNNING") { publish =>
      val (newDvs, deltaDeleted) = markOrdinals(spark, root, m, partial,
        coalesce(predCol, lit(false)), jobId)
      val drop = fullDrop.toSet
      val kept = m.retain(!drop(_))
      publish(kept.copy(generation = m.generation + 1, jobId = jobId,
        disposition = "DELETE_DV", dvs = kept.dvs ++ newDvs))
      fullDrop.map(f => m.liveRows(f).get).sum + deltaDeleted
    }
  }
}
