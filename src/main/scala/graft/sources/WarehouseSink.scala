package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Warehouse LOAD-JOB sink — the reference's terminal boundary re-expressed
  * as an in-repo DataSource V2 table (reference `etl/core/dim_loader.py:23-30`:
  * `client.load_table_from_dataframe(df, table_id, job_config)` with
  * `WRITE_APPEND` disposition, then a blocking `job.result()`). The same
  * offline-implementable-semantics move as round 7's HTTP transport: the
  * network service is absent, the SEMANTICS are not —
  *
  *   - **staging**: every executor task serializes its partition to
  *     `_staging/<jobId>/` — the distributed "upload" leg; no row ever
  *     passes through the driver;
  *   - **load job**: `BatchWrite.commit` runs the job on the driver,
  *     BLOCKING (= `job.result()`): it moves staged files under
  *     `data/<jobId>/` and swaps in a new manifest generation by atomic
  *     rename. Readers resolve the HIGHEST committed manifest, so a job
  *     is all-or-nothing visible: a failure at any stage (task death,
  *     schema drift, disposition violation) leaves the previous
  *     generation untouched — `abort` only ever deletes staging;
  *   - **dispositions**: `WRITE_APPEND` (new manifest = old files + new),
  *     `WRITE_TRUNCATE` (new files only — atomic logical truncate; old
  *     generations' files are retired from visibility, not rewritten),
  *     `WRITE_EMPTY` (job FAILS if the table holds any row — and the
  *     failure provably changes nothing).
  *
  * Scale shape: the job's data movement is the staged task writes
  * (embarrassingly parallel); commit is metadata-only — O(files) renames
  * plus one manifest swap — so a 1000-executor load commits in driver
  * milliseconds regardless of volume, exactly the property that makes
  * load-job sinks viable at 100 TB.
  *
  * One bracket publishes every generation: [[WarehouseMeta.job]] logs a
  * job's opening state, hands its body the only way to write a manifest,
  * and ends the log in `DONE` or `ERROR <msg>`. Load jobs, rewrites,
  * deletes, deletion vectors, schema evolution, VACUUM and the catalog's
  * CREATE TABLE all commit through it. New data files enter a generation
  * one way, [[WarehouseLoadJob.addStaged]]: every writer, rewrites
  * included, stages into the table's own `_staging/<jobId>`, and its
  * commit moves the staged files under `data/<jobId>/` — the load job
  * ([[WarehouseLoadJob.commit]]), the replace commit every rewrite
  * publishes through ([[WarehouseRewrite.commitReplace]]), or the
  * merge-on-read update. [[Manifest.retain]] and [[Manifest.addFrom]]
  * carry the per-file metadata across each commit.
  *
  * `graft.io.Sink.append/overwrite(format = "graft-warehouse")` route here
  * by short name (ServiceLoader registration); disposition can also be set
  * explicitly via `.option("writeDisposition", ...)`.
  *
  * Concurrency model: load jobs serialize at the table's writing driver
  * (the reference's warehouse serializes load jobs server-side,
  * `dim_loader.py:28-29` blocks on each). Multi-driver concurrent commits
  * to one table are out of scope — the generation-numbered manifest makes
  * a lost race visible (a re-read shows the other job's generation), but
  * arbitration belongs to a catalog service this offline analog
  * deliberately does not invent.
  */
class WarehouseSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-warehouse"

  override def supportsExternalMetadata(): Boolean = true

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-warehouse requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val m = WarehouseMeta.current(root(options),
      Option(options.get("generation")).map(_.toLong))
    // change-feed reads surface the two CDC meta columns after the data
    // columns (the Delta readChangeFeed shape)
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      StructType(m.schema.fields ++ WarehouseCdc.MetaFields)
    else m.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarehouseTable(properties.get("path"), schema,
      Option(properties.get("generation")).map(_.toLong),
      Option(properties.get("files"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      // streaming-source read options (round-14 incremental reads)
      Seq("startingGeneration", "ignoreDeletes", "ignoreChanges",
        "maxGenerationsPerTrigger", "readChangeFeed",
        "ignoreDeleteVectors", "dvOverride")
        .flatMap(k => Option(properties.get(k)).map(k -> _)).toMap)
}

/** One warehouse table rooted at `path`. `generation` (read option) pins
  * scans to a PAST committed manifest — time travel for free out of the
  * generation-numbered commit protocol (`scan_time_travel` reads two):
  * any committed generation reads at latest-read cost, one manifest
  * resolve, no log replay. Writes always commit on
  * top of the LATEST generation regardless of the option.
  */
class WarehouseTable(path: String, schema0: StructType,
    generation: Option[Long] = None,
    filesSubset: Option[Seq[String]] = None,
    streamOpts: Map[String, String] = Map.empty)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row coordinates as METADATA COLUMNS: `_file` (the committed file's
    * table-relative path) and `_pos` (the row's file ordinal — the SAME
    * ordinal deletion vectors mark, so it is STABLE across DV commits:
    * surviving rows keep their position forever). `SELECT _file, _pos`
    * gives every row a durable physical address for lineage, debugging,
    * and external position-delete tooling; the columns materialize only
    * when projected (zero cost otherwise) and hide automatically if a
    * data column claims the name.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "table-relative path of the committed file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row ordinal within its file (stable across deletion vectors)"
      })

  /** SQL UPDATE / MERGE INTO (and row-level DELETE fallback) as
    * group-based copy-on-write — see [[WarehouseRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write
          .RowLevelOperation =
        new WarehouseRowLevelOperation(path, info.command())
    }
  override def name(): String = s"graft-warehouse:$path"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** SQL `DELETE FROM` face: the filters AND together into one
    * predicate for [[WarehouseCow.deleteWhereCow]], which commits a
    * metadata delete when every file is zone-provable and otherwise
    * rewrites only the partial files.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    scala.util.Try {
      filters.foreach(WarehouseCow.filterToColumn) // expressible shapes
    }.isSuccess

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(filters.nonEmpty,
      "DELETE without a WHERE clause should arrive as TRUNCATE")
    WarehouseCow.deleteWhereCow(org.apache.spark.sql.SparkSession.active,
      path, filters.reduce[Filter](org.apache.spark.sql.sources.And(_, _))): Unit
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WarehouseWriteBuilder(path, info.schema(), info.queryId(),
      Option(info.options.get("writeDisposition"))
        .getOrElse("WRITE_APPEND"),
      Option(info.options.get("clusterBy")),
      Option(info.options.get("bloomFilters")).map { cols =>
        (cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          Option(info.options.get("bloomBits")).map(_.toInt)
            .getOrElse(WarehouseBloom.DefaultBits))
      })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new WarehouseScanBuilder(path, generation, filesSubset, streamOpts)
}

class WarehouseWriteBuilder(path: String, schema: StructType, queryId: String,
    disposition0: String, clusterBy: Option[String] = None,
    bloomOpt: Option[(Seq[String], Int)] = None)
    extends WriteBuilder with SupportsTruncate {
  private var disposition = disposition0

  /** `mode("overwrite")` arrives here — Spark's truncate IS the
    * WRITE_TRUNCATE disposition. */
  override def truncate(): WriteBuilder = { disposition = "WRITE_TRUNCATE"; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new WarehouseBatchWrite(path, schema, queryId, disposition, clusterBy,
        bloomOpt)
    override def toStreaming: org.apache.spark.sql.connector.write
        .streaming.StreamingWrite = {
      val (cb, bc) = WarehouseLoadJob.resolveLayout(path, schema,
        disposition, clusterBy, bloomOpt)
      new WarehouseStreamingWrite(path, schema, queryId, disposition,
        cb, bc)
    }
  }
}

/** Per-file, per-column zone-map entry. Two shapes:
  *
  *  - [[ColStat.Longs]] — exact min/max of an integral-typed column
  *    (long/int/date/timestamp), as before;
  *  - [[ColStat.Strs]] — UTF-8 **binary-order** bounds of a string column,
  *    truncated to [[ColStat.StrBound]] bytes (the parquet/warehouse
  *    clustering-metadata rule): `lo` is a prefix of the true minimum, so
  *    it is a valid lower bound as-is; `hi` is the truncated true maximum
  *    with its last non-0xFF byte INCREMENTED (trailing 0xFF dropped) so
  *    it stays an upper bound after losing the suffix. `hi = None` means
  *    the increment overflowed (a ≥32-byte run of 0xFF) — unbounded above.
  *    All comparisons are raw unsigned-byte order, matching Spark's
  *    UTF8String binary ordering, NOT java.lang.String UTF-16 order (the
  *    two disagree on supplementary characters).
  */
sealed trait ColStat
object ColStat {
  /** Truncation bound for string zone entries: long natural keys still
    * prune on their discriminating prefix while the manifest stays
    * O(files × cols × 32B) — metadata, never data. */
  val StrBound = 32

  case class Longs(lo: Long, hi: Long) extends ColStat
  case class Strs(lo: Array[Byte], hi: Option[Array[Byte]]) extends ColStat

  /** Unsigned lexicographic byte order — UTF8String.compareTo's order. */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Truncate a true MINIMUM: a byte prefix sorts ≤ the full string. */
  def truncLo(v: Array[Byte]): Array[Byte] =
    if (v.length <= StrBound) v else util.Arrays.copyOf(v, StrBound)

  /** Truncate a true MAXIMUM: increment the last non-0xFF byte of the
    * prefix and drop everything after it; all-0xFF ⇒ no finite bound. */
  def truncHi(v: Array[Byte]): Option[Array[Byte]] =
    if (v.length <= StrBound) Some(v)
    else prefixSucc(util.Arrays.copyOf(v, StrBound))

  /** Smallest byte string strictly above EVERY `p`-prefixed string: `p`
    * with its last non-0xFF byte incremented, trailing 0xFF dropped;
    * None when `p` is all 0xFF (no finite successor exists). */
  def prefixSucc(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }
}

case class StagedFile(path: String, rows: Long,
    stats: Map[String, ColStat],
    part: Option[String] = None,
    nonNull: Map[String, Long] = Map.empty,
    sums: Map[String, Long] = Map.empty,
    bloom: Seq[String] = Nil) extends WriterCommitMessage

/** A cluster-split task commits one message carrying ALL its per-value
  * staged files. */
case class StagedFiles(files: Seq[StagedFile]) extends WriterCommitMessage

class WarehouseBatchWrite(root: String, schema: StructType, queryId: String,
    disposition: String, clusterBy0: Option[String] = None,
    bloomOpt: Option[(Seq[String], Int)] = None) extends BatchWrite {
  require(Set("WRITE_APPEND", "WRITE_TRUNCATE", "WRITE_EMPTY")(disposition),
    s"unknown writeDisposition $disposition")
  // the cluster layout and bloom index config are TABLE-STICKY: an
  // explicit option sets/overrides them, an appending load inherits the
  // manifest's (a SQL `INSERT INTO` a PARTITIONED BY table carries no
  // options); a TRUNCATE write re-layouts to whatever the load declares
  private val (clusterBy, bloomConf) = WarehouseLoadJob.resolveLayout(
    root, schema, disposition, clusterBy0, bloomOpt)
  clusterBy.foreach { c =>
    val f = schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"clusterBy column $c not in ${schema.fieldNames.mkString(",")}"))
    require(WarehousePart.SupportedTypes(f.dataType),
      s"clusterBy $c: unsupported type ${f.dataType.simpleString} " +
        "(string/long/int/date/timestamp only)")
    require(!c.contains("|"), s"clusterBy $c: '|' collides with the " +
      "manifest line separator")
  }
  private val jobId = s"job_${queryId}_${java.util.UUID.randomUUID().toString.take(8)}"
  // tasks stage under the table root, so a load that lands nothing must
  // know whether it made that root (a failed earlier load can leave
  // `_jobs/` behind with no manifest, and that directory stays)
  private val rootExisted = WarehouseMeta.fs(root).exists(new Path(root))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new WarehouseWriterFactory(root, s"$root/_staging/$jobId", schema,
      clusterBy, bloomConf)

  /** THE LOAD JOB — driver-side, synchronous (`job.result()` semantics:
    * when this returns, the data is visible; when it throws, nothing
    * changed). All checks precede the first mutation of anything outside
    * `_staging`, and visibility flips only at the final atomic rename.
    * A `WRITE_APPEND` that staged no row adds nothing (BigQuery's zero-row
    * append, the reference's skip-if-empty): it publishes no generation,
    * ends `ABORTED`, and removes the table root if it made it.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (disposition == "WRITE_APPEND" &&
        WarehouseLoadJob.stagedFiles(messages).forall(_.rows == 0L)) {
      WarehouseMeta.abort(root, jobId)
      if (!rootExisted) WarehouseMeta.fs(root).delete(new Path(root), true): Unit
    } else WarehouseLoadJob.commit(root, schema, jobId, disposition,
      clusterBy, bloomConf, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WarehouseMeta.abort(root, jobId)
}

/** The shared load-job commit: one atomic manifest generation from a set
  * of staged task files, used by the batch write (one job = one commit)
  * and the streaming write (one EPOCH = one commit). */
object WarehouseLoadJob {

  private[sources] def stagedFiles(
      messages: Array[WriterCommitMessage]): Seq[StagedFile] =
    messages.toSeq.flatMap {
      case s: StagedFile => Seq(s)
      case StagedFiles(fsx) => fsx
      case _ => Nil
    }

  /** `base` plus `staged`: each staged file moves with its bloom sidecar
    * under `data/<jobId>/` and enters with its per-file metadata. The one
    * way new files enter a generation. */
  private[sources] def addStaged(root: String, jobId: String, base: Manifest,
      staged: Seq[StagedFile]): Manifest = {
    val f = WarehouseMeta.fs(root)
    val dataDir = new Path(root, s"data/$jobId")
    f.mkdirs(dataDir)
    base.addFrom(Manifest.staged(staged), staged.map { s =>
      val name = new Path(s.path).getName
      require(f.rename(new Path(s.path), new Path(dataDir, name)),
        s"job $jobId: cannot move ${s.path}")
      if (s.bloom.nonEmpty)
        require(f.rename(new Path(WarehouseBloom.sidecarPath(s.path)),
          new Path(dataDir, s"$name.bloom")),
          s"job $jobId: cannot move bloom sidecar of ${s.path}")
      s.path -> s"data/$jobId/$name"
    })
  }

  def commit(root: String, schema: StructType, jobId: String,
      disposition: String, clusterBy: Option[String],
      bloomConf: Option[(Seq[String], Int)],
      messages: Array[WriterCommitMessage]): Unit =
    WarehouseMeta.job(root, jobId, "RUNNING") { publish =>
      val prev = WarehouseMeta.readManifest(root)
      prev.foreach { m =>
        // nullability-insensitive type equality (sameType is private):
        // simpleString renders names + types, not nullability
        require(m.schema.simpleString == schema.simpleString,
          s"load job $jobId: schema drift — table has " +
            s"${m.schema.simpleString}, load has ${schema.simpleString}")
        if (disposition == "WRITE_EMPTY")
          require(m.files.isEmpty,
            s"load job $jobId: WRITE_EMPTY but table holds data")
        // clusterBy consistency is part of the schema-drift contract: a
        // partitioned table only accepts loads declaring the SAME layout
        require(m.clusterBy == clusterBy || m.files.isEmpty ||
            disposition == "WRITE_TRUNCATE",
          s"load job $jobId: clusterBy drift — table is " +
            s"${m.clusterBy.getOrElse("unclustered")}, load is " +
            s"${clusterBy.getOrElse("unclustered")}")
      }
      // a load job commits every staged file, zero-row ones included, so
      // a truncate, a WRITE_EMPTY or a streaming epoch of no rows still
      // opens a generation (a batch skips only a zero-row WRITE_APPEND)
      val base = prev match {
        // the committed TABLE schema keeps the table's declared
        // nullability (field-wise OR with the load's): an append of
        // non-null data must never flip an evolved/nullable column to
        // non-nullable — committed files may hold NULLs there, and a
        // non-nullable declaration lets Spark constant-fold IsNotNull and
        // read garbage instead of null
        case Some(m) if disposition != "WRITE_TRUNCATE" =>
          m.copy(schema = StructType(m.schema.fields.zip(schema.fields).map {
            case (a, b) => a.copy(nullable = a.nullable || b.nullable) }))
        // first load or truncate: no file, entry or default carries over
        case _ => Manifest(-1L, schema, Nil, jobId, disposition)
      }
      publish(addStaged(root, jobId, base, stagedFiles(messages)).copy(
        generation = prev.map(_.generation + 1).getOrElse(0L),
        jobId = jobId, disposition = disposition, clusterBy = clusterBy,
        bloomConf = bloomConf))
      WarehouseMeta.dropStaging(root, jobId)
    }

  /** Resolve the table-sticky layout/index config an incoming write
    * inherits when its options name none (appends keep the manifest's
    * clusterBy + bloom config; a truncate re-layouts to the load's). */
  def resolveLayout(root: String, schema: StructType, disposition: String,
      clusterBy0: Option[String], bloomOpt: Option[(Seq[String], Int)])
      : (Option[String], Option[(Seq[String], Int)]) = {
    val inherit =
      if (disposition == "WRITE_TRUNCATE") None
      else WarehouseMeta.readManifest(root)
    val clusterBy = clusterBy0.orElse(inherit.flatMap(_.clusterBy))
    val bloomConf = bloomOpt.orElse(inherit.flatMap(_.bloomConf))
    bloomConf.foreach { case (cols, bits) =>
      require(bits >= 64 && (bits & (bits - 1)) == 0,
        s"bloomBits $bits must be a power of two >= 64")
      cols.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"bloomFilters column $c not in " +
              schema.fieldNames.mkString(",")))
        require(WarehouseBloom.supported(f.dataType),
          s"bloomFilters $c: unsupported type ${f.dataType.simpleString} " +
            "(long/int/string only)")
        require(!c.contains("|") && !c.contains(","),
          s"bloomFilters $c: '|' and ',' collide with manifest encoding")
      }
    }
    (clusterBy, bloomConf)
  }
}

class WarehouseWriterFactory(root: String, stagingDir: String,
    schema: StructType, clusterBy: Option[String] = None,
    bloomConf: Option[(Seq[String], Int)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = clusterBy match {
    case None => new WarehouseDataWriter(
      s"$stagingDir/part-$partitionId-$taskId.grow", root, schema,
      bloomConf = bloomConf)
    case Some(c) => new WarehouseClusterWriter(
      s"$stagingDir/part-$partitionId-$taskId", root, schema, c, bloomConf)
  }
}

/** Cluster-splitting task writer (storage-partitioned layout): routes
  * each row to a per-cluster-value [[WarehouseDataWriter]] (one staging
  * file per distinct value seen by this task), so every committed file
  * holds EXACTLY ONE cluster value — the invariant the scan's
  * KeyGroupedPartitioning report rests on. Value count per task is the
  * column's cardinality: this layout is for LOW-CARDINALITY cluster
  * keys (the Hive-partition/bucket regime), which is also the only
  * regime where storage-partitioned joins pay off.
  */
object WarehouseClusterWriter {
  /** Per-task open-writer cap: past this the key is not a clustering key
    * and the job fails fast instead of leaking handles (advice r12). */
  val MaxValuesPerTask = 1024
}

class WarehouseClusterWriter(fileBase: String, root: String,
    schema: StructType, clusterBy: String,
    bloomConf: Option[(Seq[String], Int)] = None)
    extends DataWriter[InternalRow] {
  private val ci = schema.fieldNames.indexOf(clusterBy)
  private val dt = schema(ci).dataType
  // a cluster task holds one open writer PER VALUE (up to the 1024 cap);
  // at the unclustered default bloom size that would be 128 MiB of
  // bitsets per task per column — cap each per-value file's bloom at
  // 2^16 bits (8 KiB). Per-value files are value-sliced and commensurately
  // small, so the smaller bloom holds its false-positive rate; an
  // undersized bloom only prunes less, never wrong.
  private val perValueBloom = bloomConf.map { case (cols, bits) =>
    (cols, math.min(bits, 1 << 16))
  }
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, WarehouseDataWriter]

  override def write(record: InternalRow): Unit = {
    val key = WarehousePart.encode(record, ci, dt)
    writers.getOrElseUpdate(key, {
      // fail-fast cardinality guard: one buffered stream per distinct
      // cluster value means a high-cardinality key (e.g. a unique id)
      // would exhaust file handles/heap mid-job — refuse deterministically
      // with the fix in the message instead
      require(writers.size < WarehouseClusterWriter.MaxValuesPerTask,
        s"clusterBy column '$clusterBy' exceeded " +
          s"${WarehouseClusterWriter.MaxValuesPerTask} distinct values in " +
          "one task — the storage-partitioned layout is for " +
          "low-cardinality cluster keys; bucket the column (e.g. " +
          "pmod(col, N)) and cluster on the bucket instead")
      new WarehouseDataWriter(
        s"$fileBase-c${writers.size}.grow", root, schema, Some(key),
        perValueBloom)
    }).write(record)
  }
  override def commit(): WriterCommitMessage =
    StagedFiles(writers.values.toSeq.map(
      _.commit().asInstanceOf[StagedFile]))
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = writers.values.foreach(_.close())
}

/** Task-side staged writer: streams the partition through the row codec
  * into ONE staging file; `commit` hands the file to the job, `abort`
  * deletes it. Speculative twins collide on distinct taskIds, and only
  * the committed message's file is ever loaded.
  */
class WarehouseDataWriter(file: String, root: String, schema: StructType,
    part: Option[String] = None,
    bloomConf: Option[(Seq[String], Int)] = None)
    extends DataWriter[InternalRow] {
  private val fs = WarehouseMeta.fs(root)
  private val out = new DataOutputStream(
    new java.io.BufferedOutputStream(fs.create(new Path(file), true)))
  out.writeInt(WarehouseCodec.Magic)
  private var rows = 0L

  // per-file zone map: min/max of every integral-typed column's non-null
  // values, streamed alongside the write (zero extra passes) and carried
  // into the manifest by the commit — the load-job analog of parquet
  // row-group stats / warehouse clustering metadata
  private val statIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == LongType || f.dataType == IntegerType ||
      f.dataType == DateType || f.dataType == TimestampType ||
      f.dataType == TimestampNTZType => i
  }
  private val mins = Array.fill(statIdx.length)(Long.MaxValue)
  private val maxs = Array.fill(statIdx.length)(Long.MinValue)
  // string columns get binary-order min/max too (the reference's natural
  // keys are normalized strings — the #1 predicate a warehouse user
  // filters on); truncation to ColStat.StrBound happens once at commit,
  // the per-row path only compares and occasionally clones. The clone on
  // new-extremum is required: getUTF8String may return a view over a
  // buffer the next row overwrites.
  private val strIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType => i
  }
  private val smins = new Array[UTF8String](strIdx.length)
  private val smaxs = new Array[UTF8String](strIdx.length)
  // per-column non-null counts (every column — serves COUNT(col)
  // pushdown) and overflow-guarded sums of the summable integral columns
  // (long/int — serves SUM(col) pushdown; overflow drops the stat, which
  // downstream reads as "not provable, fall back to a real scan")
  private val nonNull = new Array[Long](schema.length)
  private val sumIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == LongType || f.dataType == IntegerType => i
  }
  private val sums = new Array[Long](sumIdx.length)
  private val sumOverflow = new Array[Boolean](sumIdx.length)
  // per-file bloom bitsets for the table's indexed point-lookup columns
  // (streamed alongside the write like the zone stats; bits land in the
  // `<file>.bloom` sidecar at commit)
  private val bloomIdx: Array[Int] = bloomConf.fold(Array.empty[Int]) {
    case (cols, _) => cols.toArray.map(schema.fieldNames.indexOf(_))
  }
  private val bloomWords: Array[Array[Long]] =
    bloomConf.fold(Array.empty[Array[Long]]) { case (cols, bits) =>
      Array.fill(cols.length)(new Array[Long](bits >>> 6))
    }

  override def write(record: InternalRow): Unit = {
    WarehouseCodec.writeRow(out, record, schema)
    var j = 0
    while (j < statIdx.length) {
      val i = statIdx(j)
      if (!record.isNullAt(i)) {
        val v = schema(i).dataType match {
          case IntegerType | DateType => record.getInt(i).toLong
          case _ => record.getLong(i)
        }
        if (v < mins(j)) mins(j) = v
        if (v > maxs(j)) maxs(j) = v
      }
      j += 1
    }
    j = 0
    while (j < schema.length) {
      if (!record.isNullAt(j)) nonNull(j) += 1
      j += 1
    }
    j = 0
    while (j < sumIdx.length) {
      val i = sumIdx(j)
      if (!sumOverflow(j) && !record.isNullAt(i)) {
        val v = schema(i).dataType match {
          case IntegerType => record.getInt(i).toLong
          case _ => record.getLong(i)
        }
        try sums(j) = Math.addExact(sums(j), v)
        catch { case _: ArithmeticException => sumOverflow(j) = true }
      }
      j += 1
    }
    j = 0
    while (j < strIdx.length) {
      val i = strIdx(j)
      if (!record.isNullAt(i)) {
        val v = record.getUTF8String(i)
        if (smins(j) == null || v.compareTo(smins(j)) < 0)
          smins(j) = v.clone()
        if (smaxs(j) == null || v.compareTo(smaxs(j)) > 0)
          smaxs(j) = v.clone()
      }
      j += 1
    }
    j = 0
    while (j < bloomIdx.length) {
      val i = bloomIdx(j)
      if (!record.isNullAt(i)) {
        val h = schema(i).dataType match {
          case IntegerType => WarehouseBloom.mix64(record.getInt(i).toLong)
          case LongType => WarehouseBloom.mix64(record.getLong(i))
          case _ => WarehouseBloom.hashBytes(
            record.getUTF8String(i).getBytes)
        }
        WarehouseBloom.add(bloomWords(j), h)
      }
      j += 1
    }
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    val longStats = statIdx.indices.collect {
      case j if mins(j) <= maxs(j) =>
        schema(statIdx(j)).name -> (ColStat.Longs(mins(j), maxs(j)): ColStat)
    }
    val strStats = strIdx.indices.collect {
      case j if smins(j) != null =>
        schema(strIdx(j)).name -> (ColStat.Strs(
          ColStat.truncLo(smins(j).getBytes),
          ColStat.truncHi(smaxs(j).getBytes)): ColStat)
    }
    val nnMap = schema.fields.indices
      .map(i => schema(i).name -> nonNull(i)).toMap
    val sumMap = sumIdx.indices.collect {
      case j if !sumOverflow(j) => schema(sumIdx(j)).name -> sums(j)
    }.toMap
    val bloomCols = bloomConf.map(_._1).getOrElse(Nil)
    if (bloomCols.nonEmpty)
      WarehouseBloom.writeSidecar(fs, WarehouseBloom.sidecarPath(file),
        bloomCols.zip(bloomWords.toSeq))
    StagedFile(file, rows, (longStats ++ strStats).toMap, part, nnMap,
      sumMap, bloomCols)
  }
  override def abort(): Unit = {
    out.close()
    fs.delete(new Path(file), false)
  }
  override def close(): Unit = ()
}

// ---------------------------------------------------------------- read path

/** Scan observability for specs (the RestPages.lastPlannedPartitions
  * precedent): files planned and schema decoded by the LAST scan. */
object WarehouseScanStats {
  @volatile var lastPlannedFiles: Int = -1
  @volatile var lastReadSchema: String = ""
  /** True when the LAST scan answered an aggregate from manifest
    * metadata alone (zero data files opened). */
  @volatile var lastAggServed: Boolean = false
  /** Prunable runtime (DPP) filters delivered to the LAST scan. */
  @volatile var lastRuntimeFilters: Int = 0
  /** Bounded rolling log of data-scan planned-file counts (newest last,
    * last 64) — lets a spec assert per-TRIGGER pruning in a streaming
    * loop, where `lastPlannedFiles` alone only shows the final plan. */
  val plannedLog = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private[sources] def logPlanned(n: Int): Unit = {
    plannedLog.add(n)
    while (plannedLog.size > 64) plannedLog.poll()
  }
}

/** ScanBuilder with the two pushdowns a 100 TB warehouse table needs:
  *
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): the codec
  *    decodes ONLY requested fields and byte-skips the rest — a
  *    projection over 2 of 40 columns never allocates the other 38;
  *  - **zone-map file pruning** (`SupportsPushDownFilters`): every load
  *    job records per-file min/max for integral-typed AND string columns
  *    in the manifest (string bounds truncated per [[ColStat]]; stats
  *    ride the SAME atomic commit as the data — they can never disagree
  *    with a committed generation), and comparison/prefix predicates
  *    prune whole files at PLANNING time. Filters are
  *    reported back as residual (pruning is file-granular, the exact
  *    predicate re-applies above the scan — the StatsIndex/RestSource
  *    transparency discipline), so pruning can never change results,
  *    only skip IO.
  */
class WarehouseScanBuilder(root: String, generation: Option[Long] = None,
    filesSubset: Option[Seq[String]] = None,
    streamOpts: Map[String, String] = Map.empty,
    planListener: Option[List[String] => Unit] = None)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private val manifest = {
    val m0 = WarehouseMeta.current(root, generation)
    // `files` read option (round-14): pin the scan to an explicit subset
    // of this generation's committed files — the maintenance primitive
    // (bin-packing OPTIMIZE, copy-on-write DELETE/MERGE read exactly the
    // files they rewrite, never the whole table). The subset view is a
    // files-restricted manifest, so every downstream serve (zone pruning,
    // pushed aggregates, stats, SPJ) stays subset-consistent for free.
    filesSubset match {
      case None => m0
      case Some(sub) =>
        val have = m0.files.toSet
        val missing = sub.filterNot(have)
        require(missing.isEmpty,
          s"files option names ${missing.size} file(s) not in generation " +
            s"${m0.generation} at $root: ${missing.take(3).mkString(",")}")
        val keep = sub.toSet
        m0.copy(files = m0.files.filter(keep))
    }
  }
  // change-feed mode (streaming readChangeFeed=true): the scan's base
  // schema appends the two CDC meta columns; metadata serves (agg /
  // LIMIT / TOP-N) refuse — their manifest proofs describe data rows,
  // not change rows
  private val cdcMode =
    streamOpts.get("readChangeFeed").exists(_.toBoolean)
  private var required: StructType =
    if (cdcMode) StructType(manifest.schema.fields ++ WarehouseCdc.MetaFields)
    else manifest.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None
  private var aggResult: Option[(StructType, Seq[InternalRow])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(WarehouseZoneMap.prunable)
    filters // ALL residual: pruning is inexact (file-granular)
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown (round-13): the per-file row counts already in the
    * manifest turn `LIMIT n` into a FILE-PREFIX plan — only enough files
    * to cover n rows are opened, and each reader stops decoding at n.
    * Best-effort contract (isPartiallyPushed stays true): Spark keeps
    * its own GlobalLimit above, so a conservative serve can never change
    * results. Refused when filters are pushed (a residual predicate
    * above the scan could drop rows a prefix plan counted on) or when
    * any file lacks its frows line (pre-upgrade manifest). At 100 TB,
    * `LIMIT 10` plans ONE file instead of the whole table.
    */
  override def pushLimit(l: Int): Boolean = {
    if (pushed.nonEmpty || cdcMode) return false
    limit = Some(l)
    true
  }

  // both SupportsPushDownLimit and SupportsPushDownTopN declare this
  // default; Scala requires an explicit override to disambiguate. True =
  // best-effort: Spark keeps its GlobalLimit/TakeOrdered above.
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown (round-13, `SupportsPushDownTopN`): `ORDER BY col
    * LIMIT n` over a RANGE-CLUSTERED layout plans only the files that
    * can hold the top n. Files sort by their zone bound in the query's
    * direction; a greedy prefix covers ≥ n rows, then every file whose
    * range overlaps the prefix's covering bound joins it — past that
    * bound, zone disjointness PROVES every remaining row orders after
    * every planned row, so the planned set provably contains the true
    * top n. Null-bearing files (fnn < frows) always join the plan (null
    * ordering puts them at one end; including them is conservative
    * either way). Best-effort contract: Spark's TakeOrdered above sorts
    * the planned rows and takes the exact n — a refusal (non-integral first key,
    * non-integral column, missing stats/frows/fnn, pushed filters) just
    * means a full scan, never a wrong answer. At 100 TB, "latest 100
    * events" over a time-clustered table reads one zone file.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // COMPOSITE sorts plan on the FIRST key alone (round-14): secondary
    // keys only reorder rows WITHIN first-key ties, and the file plan
    // already includes every row tying the covering bound (the
    // bound-overlap rule in topNPlan) — a row outside the plan has its
    // first key strictly past the bound, so ≥ n planned rows order
    // strictly before it under ANY tie-break. Spark's TakeOrdered above
    // applies the full composite order to the planned rows
    // (isPartiallyPushed = true).
    if (pushed.nonEmpty || cdcMode || orders.length < 1) return false
    val so = orders(0)
    val colName = so.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    val integral = Set[DataType](LongType, IntegerType, DateType,
      TimestampType, TimestampNTZType)
    val ok = manifest.schema.fields.exists(f =>
      f.name == colName && integral(f.dataType) && !f.name.contains("|"))
    if (!ok) return false
    // provable only with exact per-file metadata everywhere
    val provable = manifest.files.forall { f =>
      manifest.rows.contains(f) &&
        manifest.nonNull.getOrElse(f, Map.empty).contains(colName) &&
        (manifest.nonNull(f)(colName) == 0L ||
          manifest.stats.getOrElse(f, Map.empty).get(colName)
            .exists(_.isInstanceOf[ColStat.Longs]))
    }
    if (!provable) return false
    topN = Some((colName, so.direction() == SortDirection.ASCENDING, l))
    true
  }

  /** MIN/MAX/SUM/COUNT(col)/COUNT(*) answered from manifest metadata —
    * the scan plans ZERO data files; at 100 TB this is the difference
    * between a metadata lookup and a full-table read. Partial-pushdown
    * contract (supportCompletePushDown stays false): the scan emits ONE
    * row of per-source partials and Spark's final aggregate merges it,
    * so a wrong refusal can never change results, only cost.
    *
    * Servable iff every requested aggregate is provably exact from
    * metadata:
    *  - no residual filters (zone pruning is file-granular — a filter
    *    re-applies ABOVE the scan, so stats can't see it). Spark only
    *    offers aggregates when no Filter node remains, but guard anyway;
    *  - GROUP BY: servable ONLY when grouping on exactly the table's
    *    cluster column and every file carries a part value (the
    *    one-cluster-value-per-file layout makes per-file stats exact
    *    per-GROUP partials — see the grouped branch below); any other
    *    grouping refuses;
    *  - MIN/MAX: integral-typed column AND a provable vintage — every
    *    file must carry the column's fnn line (the round-12 marker), so
    *    stat absence provably means all-null (fnn=0 contributes
    *    nothing, exactly like the real aggregate) rather than a
    *    pre-upgrade manifest; a file with fnn>0 but no exact Longs stat
    *    refuses. String stats are TRUNCATED bounds — never servable.
    *    '|'-named columns are excluded from manifest stat lines —
    *    refuse those too;
    *  - COUNT(*): per-file row counts present for EVERY file;
    *  - COUNT(col): per-file non-null counts (fnn) present for EVERY
    *    file; DISTINCT refuses;
    *  - SUM(col): long/int column, fnn everywhere, and each file with
    *    non-null rows carries its overflow-guarded fsum (a per-file or
    *    cross-file overflow refuses — fall back to the real scan rather
    *    than serve a wrapped value). All-null SUM is NULL, like the real
    *    aggregate.
    * Any metadata line absent (pre-upgrade manifests) → refuse, fall
    * back to a real scan: correctness never rests on manifest vintage.
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    if (pushed.nonEmpty || cdcMode) return false
    val integral = Set[DataType](LongType, IntegerType, DateType,
      TimestampType, TimestampNTZType)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression,
        types: DataType => Boolean)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        manifest.schema.fields.find(_.name == r.fieldNames()(0))
          .filter(f => types(f.dataType) && !f.name.contains("|"))
      case _ => None
    }
    def fnnOf(f: String, name: String): Option[Long] =
      manifest.nonNull.getOrElse(f, Map.empty).get(name)
    // MIN/MAX over `files` with a provable vintage: every file must carry
    // the column's fnn line, so stat absence provably means all-null
    // (fnn=0 skips the file) instead of a pre-upgrade manifest; a file
    // with fnn>0 and no exact Longs stat refuses. Outer None = refuse,
    // inner None = all-null -> NULL, like the real aggregate.
    def bound(files: Seq[String], name: String,
        takeHi: Boolean): Option[Option[Long]] = {
      val per = files.map { f =>
        fnnOf(f, name) match {
          case None => None // vintage unprovable: refuse
          case Some(0L) => Some(None) // all-null file: contributes nothing
          case Some(_) =>
            manifest.stats.getOrElse(f, Map.empty).get(name) match {
              case Some(ColStat.Longs(lo, hi)) =>
                Some(Some(if (takeHi) hi else lo))
              case _ => None // non-null rows but no exact stat: refuse
            }
        }
      }
      if (per.exists(_.isEmpty)) None
      else {
        val bs = per.flatten.flatten
        Some(if (bs.isEmpty) None
        else Some(if (takeHi) bs.max else bs.min))
      }
    }
    def internal(field: StructField, v: Option[Long]): Any = v match {
      case None => null
      case Some(x) => field.dataType match {
        case IntegerType | DateType => x.toInt
        case _ => x
      }
    }
    // non-null count of `name` summed over `files` — None unless every
    // file carries the round-12 fnn line (pre-upgrade manifests refuse)
    def nnTotal(files: Seq[String], name: String): Option[Long] = {
      val per = files.map(fnnOf(_, name))
      if (per.exists(_.isEmpty)) None
      else Some(per.flatten.sum)
    }
    // exact SUM(name): every file needs fnn; a file with non-null rows
    // additionally needs its fsum (missing = per-file overflow); the
    // cross-file total is overflow-guarded too
    def sumTotal(files: Seq[String], name: String): Option[Option[Long]] =
      nnTotal(files, name).flatMap { nn =>
        if (nn == 0) Some(None) // SUM over no non-null rows is NULL
        else {
          val per = files.map { f =>
            val n = fnnOf(f, name).getOrElse(0L)
            if (n == 0) Some(0L)
            else manifest.sums.getOrElse(f, Map.empty).get(name)
          }
          if (per.exists(_.isEmpty)) None
          else try Some(Some(per.flatten.foldLeft(0L)(Math.addExact)))
          catch { case _: ArithmeticException => None }
        }
      }
    // One exact partial row over a file subset — the global path calls it
    // once with every file; the grouped path once per cluster value (the
    // one-value-per-file layout makes the subset exactly one GROUP).
    def rowFor(files: Seq[String])
        : Option[(Seq[StructField], Seq[Any])] = {
      // deletion vectors: COUNT(*) stays exact (live = frows - marked);
      // every other aggregate refuses on a vectored file (a deleted row
      // might hold the extremum / contribute to the sum)
      val noDv = files.forall(f => !manifest.dvs.contains(f))
      val fields = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          if (files.forall(f => manifest.liveRows(f).isDefined)) {
            val n = files.map(f => manifest.liveRows(f).get).sum
            Some((StructField("COUNT(*)", LongType, nullable = false),
              n: Any))
          } else None
        case m: Min if noDv => colOf(m.column, integral).flatMap(f =>
          bound(files, f.name, takeHi = false).map(v =>
            (StructField(s"MIN(${f.name})", f.dataType), internal(f, v))))
        case m: Max if noDv => colOf(m.column, integral).flatMap(f =>
          bound(files, f.name, takeHi = true).map(v =>
            (StructField(s"MAX(${f.name})", f.dataType), internal(f, v))))
        case c: Count if !c.isDistinct && noDv =>
          colOf(c.column, _ => true).flatMap(f =>
            nnTotal(files, f.name).map(n =>
              (StructField(s"COUNT(${f.name})", LongType, nullable = false),
                n: Any)))
        case s: Sum if !s.isDistinct && noDv =>
          colOf(s.column, dt => dt == LongType || dt == IntegerType)
            .flatMap(f => sumTotal(files, f.name).map(v =>
              (StructField(s"SUM(${f.name})", LongType),
                v.map(x => x: Any).orNull)))
        case _ => None
      }
      if (fields.exists(_.isEmpty)) None
      else {
        val r = fields.flatten
        Some((r.map(_._1), r.map(_._2)))
      }
    }
    agg.groupByExpressions.toSeq match {
      case Nil =>
        rowFor(manifest.files) match {
          case None => false
          case Some((fs, vals)) =>
            aggResult = Some((StructType(fs),
              Seq(new GenericInternalRow(vals.toArray))))
            true
        }
      // GROUP BY exactly the cluster column: the clusterBy layout writes
      // ONE cluster value per committed file (recorded in manifest.parts),
      // so per-file stats ARE exact per-group partials — serve one row per
      // cluster value, merged by Spark's final aggregate like the global
      // case. Any other grouping (or a pre-SPJ file without a part value)
      // refuses and the real scan runs.
      case Seq(r: NamedReference) if r.fieldNames.length == 1 &&
          manifest.clusterBy.contains(r.fieldNames()(0)) &&
          manifest.files.forall(manifest.parts.contains) =>
        val gf = manifest.schema.fields.find(
          _.name == r.fieldNames()(0)).getOrElse(return false)
        val groups = manifest.files.groupBy(manifest.parts).toSeq.sortBy(_._1)
        val rows = groups.map { case (pv, gfs) =>
          rowFor(gfs).map(row =>
            (row._1, WarehousePart.keyValue(pv, gf.dataType) +: row._2))
        }
        if (rows.exists(_.isEmpty)) false
        else {
          // empty table: zero groups is a valid serve — schema from a
          // zero-file partial (refusals there refuse the whole push)
          val aggFields = rows.headOption.map(_.get._1)
            .orElse(rowFor(Nil).map(_._1)).getOrElse(return false)
          aggResult = Some((StructType(gf +: aggFields),
            rows.map(r => new GenericInternalRow(r.get._2.toArray))))
          true
        }
      case _ => false
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new WarehouseAggScan(schema, rows)
    case None =>
      new WarehouseScan(root, manifest, required, pushed, limit, topN,
        streamOpts, planListener)
  }
}

/** Metadata-only scan for a pushed aggregate: one partition, zero file
  * IO — one row for the global case, one row per cluster value for the
  * GROUP-BY-cluster-key case (still manifest scale: |rows| = |files| at
  * worst). Partial-pushdown shape — Spark's final aggregate
  * (min-of-min / max-of-max / sum-of-count, grouped if pushed) runs
  * above it.
  */
class WarehouseAggScan(schema: StructType, rows: Seq[InternalRow])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-warehouse agg-from-manifest ${schema.simpleString}"
  override def planInputPartitions(): Array[InputPartition] = {
    WarehouseScanStats.lastPlannedFiles = 0
    WarehouseScanStats.lastReadSchema = schema.simpleString
    WarehouseScanStats.lastAggServed = true
    Array(WarehousePartition("<manifest>"))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WarehouseAggReaderFactory(rows)
}

class WarehouseAggReaderFactory(rows: Seq[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

class WarehouseScan(root: String, manifest: Manifest, required: StructType,
    filters: Array[Filter], limit: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None,
    streamOpts: Map[String, String] = Map.empty,
    planListener: Option[List[String] => Unit] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Runtime (DPP-style) file pruning: Spark hands the build side's key
    * set as an `In` filter AT EXECUTION TIME, and the same zone maps
    * that prune statically drop whole files dynamically — the DSv2
    * analog of dynamic partition pruning, and at 100 TB the difference
    * between scanning the whole fact table and only the files the dim
    * slice can touch. Transparent like the static path: pruning is
    * file-granular, the join re-applies the exact predicate above.
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns in the PRUNED output: Spark resolves these against the
    // scan's output attributes, so a pruned-away column would fail
    // analysis ("Unable to resolve v given [k]")
    required.fields.collect {
      case f if !f.name.contains("|") &&
          (f.dataType == StringType || f.dataType == LongType ||
            f.dataType == IntegerType || f.dataType == DateType ||
            f.dataType == TimestampType || f.dataType == TimestampNTZType) =>
        org.apache.spark.sql.connector.expressions.Expressions
          .column(f.name)
    }

  override def filter(fs: Array[Filter]): Unit = {
    runtimeFilters = fs.filter(WarehouseZoneMap.prunable)
    WarehouseScanStats.lastRuntimeFilters = runtimeFilters.length
  }

  private def surviving: List[String] = {
    val all = (filters ++ runtimeFilters).toIndexedSeq
    manifest.files.filter { f =>
      val stats = manifest.stats.getOrElse(f, Map.empty)
      all.forall(WarehouseZoneMap.mightMatch(_, stats)) &&
        // bloom sidecars close the point-lookup gap zone ranges leave:
        // `=` / `IN` probes (static AND runtime DPP key sets) can prove
        // a file holds none of the sought values even when its [min,max]
        // spans them (WarehouseBloomSpec pins both directions)
        WarehouseBloom.mightMatchFile(root, f,
          manifest.blooms.getOrElse(f, Nil), manifest.schema, all)
    }
  }

  /** The cluster layout is reportable iff EVERY committed file carries a
    * part value (pre-SPJ files would break the one-value-per-file
    * invariant) and the cluster column survives pruning (Spark resolves
    * the identity transform against the scan OUTPUT). */
  private def clustered: Option[(String, DataType)] =
    manifest.clusterBy
      .filter(c => manifest.files.forall(manifest.parts.contains) &&
        required.fieldNames.contains(c))
      .flatMap(c => manifest.schema.fields.find(_.name == c)
        .map(f => (c, f.dataType)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming face (round-14): tail the generation log, planning only
    * files each new commit added — see [[WarehouseMicroBatchStream]].
    * Column pruning and pushed filters thread through; LIMIT/TOP-N/agg
    * pushes don't arrive on streaming plans.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream =
    new WarehouseMicroBatchStream(root, manifest.schema, required, filters,
      manifest.schema.fields.map(f =>
        manifest.defaults.get(f.name)
          .map(WarehouseEvolve.resolveDefault(_, f.dataType)).orNull),
      streamOpts.getOrElse("startingGeneration", "0"),
      streamOpts.get("ignoreDeletes").exists(_.toBoolean),
      streamOpts.get("ignoreChanges").exists(_.toBoolean),
      streamOpts.get("maxGenerationsPerTrigger").map(_.toInt),
      streamOpts.get("readChangeFeed").exists(_.toBoolean))

  /** Pruning-aware CBO statistics (round-13 `SupportsReportStatistics`):
    * numRows = the exact frows sum over SURVIVING files (absent on any
    * file → unknown, never a guess), sizeInBytes = the surviving files'
    * actual lengths. Static zone pruning therefore shrinks the stats the
    * optimizer sees — a filtered warehouse dim that fits the broadcast
    * threshold gets broadcast WITHOUT a hint, which at 100 TB is the
    * difference between a map-side join and a full fact shuffle
    * (WarehouseStatsSpec pins the hint-free broadcast decision).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val sv = surviving
    val rows: java.util.OptionalLong =
      if (sv.forall(f => manifest.liveRows(f).isDefined))
        java.util.OptionalLong.of(sv.map(f => manifest.liveRows(f).get).sum)
      else java.util.OptionalLong.empty()
    val f = WarehouseMeta.fs(root)
    val bytes = sv.map { file =>
      try f.getFileStatus(new Path(root, file)).getLen
      catch { case _: java.io.IOException => 0L }
    }.sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Storage-partitioned-join face: a table loaded with a `clusterBy`
    * option reports KeyGroupedPartitioning over the identity transform of
    * the cluster column, so two co-clustered warehouse tables equi-join
    * WITHOUT a shuffle (`spark.sql.sources.v2.bucketing.enabled=true`) —
    * at 100 TB, the exchange this kills is the whole cost of the join.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    clustered match {
      case Some((c, _)) =>
        val n = surviving.flatMap(manifest.parts.get).distinct.size
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity(c)), math.max(n, 1))
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** A pushed LIMIT is servable as a file-prefix plan iff nothing below
    * Spark's GlobalLimit can drop rows (no static/runtime filters), the
    * scan is not cluster-grouped (the KeyGroupedPartitioning report must
    * stay consistent with the partition list), and every surviving file
    * carries its exact row count. */
  private def limitPrefix(sv: List[String]): Option[List[String]] =
    limit match {
      case Some(n) if filters.isEmpty && runtimeFilters.isEmpty &&
          clustered.isEmpty &&
          sv.forall(f => manifest.liveRows(f).isDefined) =>
        var acc = 0L
        Some(sv.takeWhile { f =>
          val take = acc < n
          acc += manifest.liveRows(f).get
          take
        })
      case _ => None
    }

  /** Top-N file plan (see the builder's pushTopN for the proof shape):
    * null-bearing files always join; non-null files sort by their zone
    * bound in the query direction; a greedy prefix covers ≥ n NON-NULL
    * rows, then every remaining file overlapping the prefix's covering
    * bound joins — past it, disjointness proves every row orders after
    * every planned row. The builder only sets topN when stats/frows/fnn
    * exist for every file, so the lookups below are total.
    */
  private def topNPlan(sv: List[String]): Option[List[String]] =
    topN match {
      case Some((c, asc, n)) if filters.isEmpty && runtimeFilters.isEmpty &&
          clustered.isEmpty && sv.forall(f => !manifest.dvs.contains(f)) =>
        val nullFiles = sv.filter(f =>
          manifest.nonNull(f)(c) < manifest.rows(f))
        val withStats = sv.flatMap { f =>
          if (manifest.nonNull(f)(c) == 0L) None
          else manifest.stats(f)(c) match {
            case ColStat.Longs(lo, hi) => Some((f, lo, hi))
            case _ => None
          }
        }
        val ordered =
          if (asc) withStats.sortBy(t => (t._2, t._3))
          else withStats.sortBy(t => (-t._3, -t._2))
        var acc = 0L
        var bound = Option.empty[Long]
        val prefix = ordered.takeWhile { case (f, lo, hi) =>
          val take = acc < n
          if (take) {
            acc += manifest.nonNull(f)(c)
            val edge = if (asc) hi else lo
            bound = Some(bound.fold(edge)(b =>
              if (asc) math.max(b, edge) else math.min(b, edge)))
          }
          take
        }
        if (acc < n) None // fewer than n non-null rows: full scan
        else {
          val taken = prefix.map(_._1).toSet
          val extra = ordered.collect {
            case (f, lo, hi) if !taken(f) && bound.exists(b =>
              if (asc) lo <= b else hi >= b) => f
          }
          Some((nullFiles ++ prefix.map(_._1) ++ extra).distinct)
        }
      case _ => None
    }

  override def planInputPartitions(): Array[InputPartition] = {
    require(!streamOpts.get("readChangeFeed").exists(_.toBoolean),
      "readChangeFeed is a streaming read option; for a batch change " +
        "feed use WarehouseCdc.tableChanges (it also classifies " +
        "copy-on-write commits)")
    val sv = surviving
    val planned = topNPlan(sv).orElse(limitPrefix(sv)).getOrElse(sv)
    // row-level operations replace EXACTLY the files their scan planned
    planListener.foreach(_(planned))
    WarehouseScanStats.lastPlannedFiles = planned.size
    WarehouseScanStats.logPlanned(planned.size)
    WarehouseScanStats.lastReadSchema = required.simpleString
    WarehouseScanStats.lastAggServed = false
    clustered match {
      case Some((_, dt)) =>
        planned.groupBy(manifest.parts).toArray.sortBy(_._1).map {
          case (enc, files) =>
            WarehouseGroupPartition(files.map(f => s"$root/$f"), enc, dt)
              : InputPartition
        }
      case None =>
        planned.map(f =>
          WarehousePartition(s"$root/$f"): InputPartition).toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WarehouseReaderFactory(root, manifest.schema, required,
      // per-partition early stop: with no filters below the limit, each
      // partition can contribute at most `limit` rows to the global top.
      // NOT for top-N: rows within a file are unsorted, planned files
      // must be read fully (Spark's TakeOrdered above picks the n)
      if (filters.isEmpty && runtimeFilters.isEmpty && topN.isEmpty)
        limit
      else None,
      // partitions carry full paths; the manifest keys relative ones
      manifest.arity.map { case (f, n) => s"$root/$f" -> n },
      // DEFAULT tail values resolved ONCE per scan on the driver (the
      // catalyst values — Long/Int/Double/UTF8String/… — all serialize)
      tail = manifest.schema.fields.map(f =>
        manifest.defaults.get(f.name)
          .map(WarehouseEvolve.resolveDefault(_, f.dataType)).orNull),
      dv = streamOpts.get("dvOverride") match {
        // internal (change-feed) hook: read ONE file under an explicit
        // vector instead of the manifest's — e.g. the inverted
        // newly-marked bitmap that yields exactly a window's deletes
        case Some(ov) =>
          val Array(f, rel) = ov.split("::", 2)
          Map(s"$root/$f" -> s"$root/$rel")
        case None =>
          if (streamOpts.get("ignoreDeleteVectors").exists(_.toBoolean))
            Map.empty
          else manifest.dvs.map { case (f, (p, _)) =>
            s"$root/$f" -> s"$root/$p" }
      })
}

/** Conservative min/max file pruning: a file survives unless its stats
  * PROVE no row can match. Columns without stats (non-integral types, or
  * all-null in that file) never prune. NULL semantics are safe for the
  * supported comparisons — a null row fails them anyway, and stats cover
  * non-null values only.
  */
object WarehouseZoneMap {
  import org.apache.spark.sql.sources._

  private def lit(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  private def slit(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(UTF8String.fromString(s).getBytes)
    case s: UTF8String => Some(s.getBytes)
    case _ => None
  }

  private def comparable(v: Any): Boolean =
    lit(v).isDefined || slit(v).isDefined

  def prunable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => comparable(v)
    case GreaterThan(_, v) => comparable(v)
    case GreaterThanOrEqual(_, v) => comparable(v)
    case LessThan(_, v) => comparable(v)
    case LessThanOrEqual(_, v) => comparable(v)
    case StringStartsWith(_, v) => slit(v).isDefined
    // runtime-filter shape: the DPP subquery delivers the build side's
    // key set as one In — a file survives iff ANY value lands in its zone
    case In(_, vs) => vs != null && vs.nonEmpty && vs.forall(comparable)
    // constraint-propagated disjunctions (a=5 OR a=750): prunable iff
    // both arms are — the file survives if EITHER arm might match
    case Or(a, b) => prunable(a) && prunable(b)
    case And(a, b) => prunable(a) || prunable(b)
    case _ => false
  }

  /** String-zone verdicts against conservative bounds `L ≤ true min`,
    * `H ≥ true max` (H possibly unbounded): a file is dropped only when
    * the bounds PROVE emptiness — `x < L` or `x > H` for equality,
    * `H ≤ x` / `H < x` / `L ≥ x` / `L > x` for the inequalities. All in
    * unsigned byte order, the same order the writer minimized in.
    */
  private def strMatch(f: Filter, lo: Array[Byte],
      hi: Option[Array[Byte]]): Boolean = {
    import ColStat.cmp
    f match {
      case EqualTo(_, v) => slit(v).forall(x =>
        cmp(x, lo) >= 0 && hi.forall(h => cmp(x, h) <= 0))
      case GreaterThan(_, v) => slit(v).forall(x =>
        hi.forall(h => cmp(h, x) > 0))
      case GreaterThanOrEqual(_, v) => slit(v).forall(x =>
        hi.forall(h => cmp(h, x) >= 0))
      case LessThan(_, v) => slit(v).forall(x => cmp(lo, x) < 0)
      case LessThanOrEqual(_, v) => slit(v).forall(x => cmp(lo, x) <= 0)
      // a p-prefixed value can exist in [min, max] unless the bounds
      // prove min ≥ succ(p) (L ≥ succ(p) ⇒ everything sorts past the
      // prefix range) or max < p (H < p ⇒ everything sorts before it)
      case StringStartsWith(_, v) => slit(v).forall { p =>
        ColStat.prefixSucc(p).forall(succ => cmp(lo, succ) < 0) &&
          hi.forall(h => cmp(h, p) >= 0)
      }
      case _ => true
    }
  }

  /** TRUE only when the stats PROVE every row in the file matches `f` —
    * the metadata-delete proof obligation (the dual of [[mightMatch]]).
    * Long zones only (string bounds are truncated — never exact), and
    * the column must be provably null-free in the file (frows == fnn —
    * a null row fails every comparison). Anything unprovable is false;
    * Or is sufficient-not-complete (one provable arm proves the row).
    */
  def mustMatch(f: Filter, stats: Map[String, ColStat],
      frows: Option[Long], fnn: Map[String, Long]): Boolean = {
    def rng(col: String): Option[(Long, Long)] = stats.get(col) collect {
      case ColStat.Longs(lo, hi) => (lo, hi)
    }
    def noNulls(c: String): Boolean =
      frows.exists(n => fnn.get(c).contains(n))
    def prove(c: String, v: Any)(p: (Long, Long, Long) => Boolean): Boolean =
      lit(v).exists(x => noNulls(c) &&
        rng(c).exists { case (lo, hi) => p(lo, hi, x) })
    f match {
      case And(a, b) => mustMatch(a, stats, frows, fnn) &&
        mustMatch(b, stats, frows, fnn)
      case Or(a, b) => mustMatch(a, stats, frows, fnn) ||
        mustMatch(b, stats, frows, fnn)
      case EqualTo(c, v) => prove(c, v)((lo, hi, x) => lo == x && hi == x)
      case In(c, vs) if vs != null && vs.nonEmpty =>
        // a single-valued file fully matches if its one value is in the set
        vs.exists(v => mustMatch(EqualTo(c, v), stats, frows, fnn))
      case GreaterThan(c, v) => prove(c, v)((lo, _, x) => lo > x)
      case GreaterThanOrEqual(c, v) => prove(c, v)((lo, _, x) => lo >= x)
      case LessThan(c, v) => prove(c, v)((_, hi, x) => hi < x)
      case LessThanOrEqual(c, v) => prove(c, v)((_, hi, x) => hi <= x)
      case _ => false
    }
  }

  /** `m`'s files under `pred`, each list in manifest order: (drop = the
    * zone maps prove every row matches, carry = they prove none can,
    * partial = everything else). Every DML entry point classifies here. */
  def classify(m: Manifest, pred: Filter)
      : (List[String], List[String], List[String]) = {
    val (drop, rest) = m.files.partition(f => mustMatch(pred,
      m.stats.getOrElse(f, Map.empty), m.rows.get(f),
      m.nonNull.getOrElse(f, Map.empty)))
    val (partial, carry) =
      rest.partition(f => mightMatch(pred, m.stats.getOrElse(f, Map.empty)))
    (drop, carry, partial)
  }

  def mightMatch(f: Filter, stats: Map[String, ColStat]): Boolean = {
    def rng(col: String): Option[(Long, Long)] = stats.get(col) collect {
      case ColStat.Longs(lo, hi) => (lo, hi)
    }
    def srng(col: String): Option[ColStat.Strs] = stats.get(col) collect {
      case s: ColStat.Strs => s
    }
    f match {
      case In(c, vs) =>
        vs.exists(v => mightMatch(EqualTo(c, v), stats))
      case Or(a, b) => mightMatch(a, stats) || mightMatch(b, stats)
      case And(a, b) =>
        // a file must satisfy BOTH arms; an unprunable arm is `true`
        (!prunable(a) || mightMatch(a, stats)) &&
          (!prunable(b) || mightMatch(b, stats))
      case EqualTo(c, v) if slit(v).isDefined =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case GreaterThan(c, v) if slit(v).isDefined =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case GreaterThanOrEqual(c, v) if slit(v).isDefined =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case LessThan(c, v) if slit(v).isDefined =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case LessThanOrEqual(c, v) if slit(v).isDefined =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case StringStartsWith(c, _) =>
        srng(c).forall(s => strMatch(f, s.lo, s.hi))
      case EqualTo(c, v) => (rng(c), lit(v)) match {
        case (Some((lo, hi)), Some(x)) => lo <= x && x <= hi
        case _ => true
      }
      case GreaterThan(c, v) => (rng(c), lit(v)) match {
        case (Some((_, hi)), Some(x)) => hi > x
        case _ => true
      }
      case GreaterThanOrEqual(c, v) => (rng(c), lit(v)) match {
        case (Some((_, hi)), Some(x)) => hi >= x
        case _ => true
      }
      case LessThan(c, v) => (rng(c), lit(v)) match {
        case (Some((lo, _)), Some(x)) => lo < x
        case _ => true
      }
      case LessThanOrEqual(c, v) => (rng(c), lit(v)) match {
        case (Some((lo, _)), Some(x)) => lo <= x
        case _ => true
      }
      case _ => true
    }
  }
}

case class WarehousePartition(file: String) extends InputPartition

/** One key-group of a cluster-partitioned table: every file holds the
  * same cluster value, surfaced to Spark's storage-partitioned-join
  * machinery via [[HasPartitionKey]]. */
case class WarehouseGroupPartition(files: Seq[String], encoded: String,
    dt: DataType) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array(WarehousePart.keyValue(encoded, dt)))
}

class WarehouseReaderFactory(root: String, fullSchema: StructType,
    required: StructType, rowCap: Option[Int] = None,
    arity: Map[String, Int] = Map.empty,
    tail: Array[Any] = Array.empty,
    dv: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition match {
      case WarehousePartition(f) => Seq(f)
      case WarehouseGroupPartition(fs, _, _) => fs
      case other => throw new IllegalStateException(
        s"unexpected partition $other")
    }
    // map each full-schema ordinal to its slot in the pruned row (-1 = skip)
    val slot: Array[Int] = fullSchema.fields.map(f =>
      required.fieldNames.indexOf(f.name))
    // metadata-column slots (`_file`/`_pos`), live only when projected
    // AND not shadowed by a data column of the same name
    val fileSlot =
      if (fullSchema.fieldNames.contains("_file")) -1
      else required.fieldNames.indexOf("_file")
    val posSlot =
      if (fullSchema.fieldNames.contains("_pos")) -1
      else required.fieldNames.indexOf("_pos")
    val fullTail: Array[Any] =
      if (tail.length == fullSchema.length) tail
      else new Array[Any](fullSchema.length)
    val cap: Long = rowCap.map(_.toLong).getOrElse(Long.MaxValue)
    new PartitionReader[InternalRow] {
      private val fs = WarehouseMeta.fs(root)
      private val queue = scala.collection.mutable.Queue(files: _*)
      private var in: DataInputStream = _
      private var row: InternalRow = _
      private var emitted = 0L
      // schema-evolution field count of the CURRENT file (columns past
      // it were added after the file was written and decode as NULL)
      private var curArity = fullSchema.length
      // merge-on-read: the CURRENT file's deletion-vector bitset (null =
      // none) and the running file ordinal it indexes
      private var dvWords: Array[Long] = _
      private var ordinal = 0L
      private var curFileRel: UTF8String = _
      private def openNext(): Boolean =
        if (queue.isEmpty) false
        else {
          val file = queue.dequeue()
          curArity = arity.getOrElse(file, fullSchema.length)
          dvWords = dv.get(file).map(WarehouseDv.read(fs, _)).orNull
          ordinal = 0L
          if (fileSlot >= 0)
            curFileRel = UTF8String.fromString(
              file.stripPrefix(root).stripPrefix("/"))
          in = new DataInputStream(
            new java.io.BufferedInputStream(fs.open(new Path(file))))
          require(in.readInt() == WarehouseCodec.Magic,
            s"not a graft-warehouse data file: $file")
          true
        }
      override def next(): Boolean = {
        // pushed-LIMIT early stop: a partition never decodes past the
        // limit — Spark's GlobalLimit above takes the exact n
        if (emitted >= cap) return false
        while (true) {
          if (in == null && !openNext()) return false
          row = WarehouseCodec.readRowProjected(in, fullSchema, required,
            slot, curArity, fullTail)
          if (row == null) { in.close(); in = null }
          else {
            val ord = ordinal
            ordinal += 1
            if (dvWords == null || !WarehouseDv.isSet(dvWords, ord)) {
              if (fileSlot >= 0) row.asInstanceOf[GenericInternalRow]
                .update(fileSlot, curFileRel)
              if (posSlot >= 0) row.asInstanceOf[GenericInternalRow]
                .setLong(posSlot, ord)
              emitted += 1
              return true
            } // else: a deletion-vector'd ordinal — decoded and skipped
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (in != null) in.close()
    }
  }
}

// ------------------------------------------------------- manifest + codec

case class Manifest(generation: Long, schema: StructType,
    files: List[String], jobId: String, disposition: String,
    stats: Map[String, Map[String, ColStat]] = Map.empty,
    rows: Map[String, Long] = Map.empty,
    clusterBy: Option[String] = None,
    parts: Map[String, String] = Map.empty,
    nonNull: Map[String, Map[String, Long]] = Map.empty,
    sums: Map[String, Map[String, Long]] = Map.empty,
    arity: Map[String, Int] = Map.empty,
    defaults: Map[String, String] = Map.empty,
    // per-file bloom coverage (file -> indexed columns; bits live in the
    // `<file>.bloom` sidecar) + the table-sticky index config
    blooms: Map[String, Seq[String]] = Map.empty,
    bloomConf: Option[(Seq[String], Int)] = None,
    // merge-on-read DELETION VECTORS: file -> (dv sidecar rel path,
    // deleted-ordinal count); readers skip the marked ordinals, so a
    // partial delete is a bitmap commit, never a rewrite
    dvs: Map[String, (String, Long)] = Map.empty) {
  /** Exact LIVE row count of `f` when known (file rows minus its
    * deletion vector's marked ordinals). */
  def liveRows(f: String): Option[Long] =
    rows.get(f).map(_ - dvs.get(f).map(_._2).getOrElse(0L))
  /** Schema-evolution field count for `f`: how many leading fields of
    * the TABLE schema the file actually encodes. Columns appended by
    * [[WarehouseEvolve.addColumn]] after the file was written decode as
    * NULL. Absent entry = the file was written at the current schema
    * (addColumn materializes an entry for every pre-evolution file, so
    * the default stays correct across repeated evolutions). */
  def fileArity(f: String): Int = arity.getOrElse(f, schema.length)

  /** This manifest with only the files `keep` accepts: `files` and every
    * per-file map shrink together, so no entry outlives its file. */
  def retain(keep: String => Boolean): Manifest = {
    def sub[V](mm: Map[String, V]) = mm.filter(e => keep(e._1))
    copy(files = files.filter(keep), stats = sub(stats), rows = sub(rows),
      parts = sub(parts), nonNull = sub(nonNull), sums = sub(sums),
      arity = sub(arity), blooms = sub(blooms), dvs = sub(dvs))
  }

  /** This manifest plus `moves`' files: each `(from, to)` adds `src`'s
    * file `from` under the path `to`, with every per-file entry `src`
    * holds for it. */
  def addFrom(src: Manifest, moves: Seq[(String, String)]): Manifest = {
    def add[V](mine: Map[String, V], theirs: Map[String, V]) =
      mine ++ moves.flatMap { case (o, n) => theirs.get(o).map(n -> _) }
    copy(files = files ++ moves.map(_._2), stats = add(stats, src.stats),
      rows = add(rows, src.rows), parts = add(parts, src.parts),
      nonNull = add(nonNull, src.nonNull), sums = add(sums, src.sums),
      arity = add(arity, src.arity), blooms = add(blooms, src.blooms),
      dvs = add(dvs, src.dvs))
  }
}

object Manifest {
  /** Staged task files as manifest entries keyed by their staged paths,
    * ready for [[Manifest.addFrom]]. */
  def staged(files: Seq[StagedFile]): Manifest =
    Manifest(-1L, new StructType(), files.map(_.path).toList, "", "",
      stats = files.map(s => s.path -> s.stats).toMap,
      rows = files.map(s => s.path -> s.rows).toMap,
      parts = files.flatMap(s => s.part.map(s.path -> _)).toMap,
      nonNull = files.map(s => s.path -> s.nonNull).toMap,
      sums = files.map(s => s.path -> s.sums).toMap,
      blooms = files.collect { case s if s.bloom.nonEmpty => s.path -> s.bloom }
        .toMap)
}

/** Cluster-value codec for manifest `fpart` lines and HasPartitionKey
  * rows: `n` encodes NULL; `v<base64(utf8)>` encodes a present value in
  * its canonical string form (raw string bytes for StringType, decimal
  * text for integral types). Base64 keeps arbitrary string values
  * line-safe in the keyed-line manifest.
  */
object WarehousePart {
  private val enc = java.util.Base64.getEncoder
  private val dec = java.util.Base64.getDecoder

  val SupportedTypes: Set[DataType] = Set(StringType, LongType, IntegerType,
    DateType, TimestampType, TimestampNTZType)

  def encode(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "n"
    else {
      val s = dt match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType | DateType => row.getInt(i).toString
        case _ => row.getLong(i).toString
      }
      "v" + enc.encodeToString(s.getBytes("UTF-8"))
    }

  /** The partition-key value in InternalRow representation. */
  def keyValue(encoded: String, dt: DataType): Any =
    if (encoded == "n") null
    else {
      val s = new String(dec.decode(encoded.substring(1)), "UTF-8")
      dt match {
        case StringType => UTF8String.fromString(s)
        case IntegerType | DateType => s.toInt
        case _ => s.toLong
      }
    }
}

/** Metadata-only DELETE (round-13): drop every file the zone maps PROVE
  * fully matches the predicate, keep every file they prove cannot match,
  * and REFUSE any file that is partial — the delete then needs a
  * copy-on-write rewrite, and serving it as metadata would be wrong. The
  * deletion is a new manifest generation (same atomic commit as a load
  * job, disposition `DELETE`); the dropped files stay on disk, so time
  * travel to earlier generations still sees them. This is the
  * partition-drop / retention-expiry shape every warehouse runs nightly:
  * at 100 TB, expiring a day of data is a manifest edit, never a rewrite.
  */
object WarehouseDelete {

  /** Delete all rows matching `pred`; returns the exact deleted row
    * count. Throws (leaving the table untouched — the manifest is only
    * written after every file classifies) when any file is partial under
    * the predicate or lacks the stats to prove a side.
    */
  def deleteWhere(root: String, pred: Filter): Long = {
    val m = WarehouseMeta.current(root)
    val (dropped, _, partial) = WarehouseZoneMap.classify(m, pred)
    partial.headOption.foreach { f =>
      throw new IllegalArgumentException(
        s"delete predicate $pred is not file-provable at $f " +
          "(zone maps prove neither full-match nor no-match) — a " +
          "metadata delete would drop or keep live rows; use a " +
          "copy-on-write rewrite for partial deletes")
    }
    if (dropped.exists(f => m.liveRows(f).isEmpty))
      throw new IllegalArgumentException(
        "dropped files lack exact row counts (pre-upgrade manifest) — " +
          "refusing: the deleted-count contract would be a guess")
    val jobId = s"delete-${java.util.UUID.randomUUID()}"
    val drop = dropped.toSet
    WarehouseMeta.job(root, jobId, "PENDING delete") { publish =>
      publish(m.retain(!drop(_)).copy(generation = m.generation + 1,
        jobId = jobId, disposition = "DELETE"))
    }
    dropped.map(f => m.liveRows(f).get).sum
  }
}

/** Schema evolution (round-14): `ALTER TABLE ADD COLUMN` as a ZERO-IO
  * metadata commit. The new manifest generation appends a nullable field
  * to the table schema and records each existing file's `farity` — the
  * field count it was written with — so the codec decodes exactly the
  * fields a file encodes and null-fills the rest (reference analog: the
  * BigQuery boundary's additive schema updates on load jobs,
  * `etl/core/dim_loader.py:23-30` — BigQuery allows ALLOW_FIELD_ADDITION
  * without rewriting storage). Every metadata serve degrades
  * conservatively for the new column: no stats/fnn entries exist on
  * pre-evolution files, so zone pruning keeps them, aggregate/TOP-N
  * serves refuse to answer from the manifest, and DELETE's
  * file-provability check refuses — full scans, never wrong answers.
  * Appends after the ALTER must present the NEW schema (the load-time
  * drift check now protects the evolved shape); old generations stay
  * time-travel readable under their own schema. At 100 TB, adding a
  * column costs one manifest write, not a table rewrite.
  */
object WarehouseEvolve {

  /** Types the staged-row codec can encode — an unsupported ALTER must
    * fail at ALTER time, not at the first append. */
  private val Supported: Set[DataType] = Set(BooleanType, ByteType,
    ShortType, IntegerType, DateType, LongType, TimestampType,
    TimestampNTZType, FloatType, DoubleType, StringType, BinaryType)

  /** Resolve a DEFAULT literal to its CATALYST value for `dt`: parsed
    * with Spark's own expression parser, must be foldable (a literal or
    * constant expression), cast to the declared type. Used once at ALTER
    * time (validation + metadata backfill) and once per scan build (the
    * reader's tail-fill values). */
  private[graft] def resolveDefault(text: String, dt: DataType): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    val parsed: Expression =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(text)
    require(parsed.foldable,
      s"DEFAULT must be a constant expression, got: $text")
    Cast(parsed, dt, Some("UTC")).eval(null)
  }

  /** Append nullable column `name` of `dataType` to the table schema —
    * a ZERO-IO metadata commit. Existing rows read as `default` (NULL
    * when none). The backfill is METADATA-EXACT, not just conservative:
    * pre-evolution files get truthful per-column lines — `fnn=0` with no
    * default (every old row is NULL there), or `fnn=rows`,
    * zone `lo=hi=default`, and an overflow-guarded `fsum=default*rows`
    * for a constant integral default — so MIN/MAX/COUNT/SUM over the
    * evolved column and zone pruning against it keep serving from the
    * manifest across the evolution. Returns the new generation.
    */
  def addColumn(root: String, name: String, dataType: DataType,
      default: Option[String] = None): Long = {
    val m = WarehouseMeta.current(root)
    require(!m.schema.fieldNames.contains(name),
      s"column '$name' already exists " +
        s"(table schema ${m.schema.simpleString})")
    require(Supported.contains(dataType),
      s"graft-warehouse cannot encode ${dataType.simpleString} " +
        s"(column '$name') — supported: " +
        Supported.map(_.simpleString).toList.sorted.mkString(", "))
    require(!name.contains("|"),
      s"column name '$name' contains the manifest line separator '|'")
    // validate the default BEFORE anything mutates; an explicit NULL
    // default is the no-default case
    val dv = default.map(resolveDefault(_, dataType))
    val live = dv.filter(_ != null).isDefined
    // materialize the CURRENT arity for every file lacking an entry:
    // after the schema grows, "absent = schema.length" would lie about
    // pre-evolution files, and a SECOND evolution must still know the
    // arity of files written between the two
    val materialized = m.files.map(f => f -> m.fileArity(f)).toMap
    // truthful metadata backfill (see Scaladoc): every line below states
    // a fact about the null-filled / default-filled vintage
    val longDv: Option[Long] = dv.collect {
      case v: java.lang.Long => v.longValue()
      case v: java.lang.Integer => v.intValue().toLong
    }
    val integralStat = Set[DataType](LongType, IntegerType, DateType,
      TimestampType, TimestampNTZType).contains(dataType)
    val newNonNull = m.files.foldLeft(m.nonNull) { (acc, f) =>
      val n: Option[Long] =
        if (!live) Some(0L) // all-NULL vintage: exact regardless of rows
        else m.rows.get(f) // constant vintage: fnn = rows (when known)
      n.fold(acc)(v => acc.updated(f,
        acc.getOrElse(f, Map.empty).updated(name, v)))
    }
    val newStats =
      if (!live || !integralStat || longDv.isEmpty) m.stats
      else m.files.foldLeft(m.stats) { (acc, f) =>
        acc.updated(f, acc.getOrElse(f, Map.empty).updated(name,
          ColStat.Longs(longDv.get, longDv.get)))
      }
    val newSums =
      if (!live || longDv.isEmpty ||
          !(dataType == LongType || dataType == IntegerType)) m.sums
      else m.files.foldLeft(m.sums) { (acc, f) =>
        m.rows.get(f).flatMap { n =>
          try Some(Math.multiplyExact(longDv.get, n))
          catch { case _: ArithmeticException => None }
        }.fold(acc)(s => acc.updated(f,
          acc.getOrElse(f, Map.empty).updated(name, s)))
      }
    val jobId = s"evolve-${java.util.UUID.randomUUID()}"
    WarehouseMeta.job(root, jobId, s"PENDING add $name") { publish =>
      publish(m.copy(generation = m.generation + 1,
        schema = m.schema.add(StructField(name, dataType, nullable = true)),
        jobId = jobId, disposition = "ADD_COLUMN", arity = materialized,
        nonNull = newNonNull, stats = newStats, sums = newSums,
        defaults =
          if (live) m.defaults.updated(name, default.get) else m.defaults))
    }
    m.generation + 1
  }

  /** Rename column `from` to `to` — a pure metadata rekey (the codec is
    * positional, so data files never change): schema field, per-file
    * zone/fnn/fsum lines, the cluster declaration, and any DEFAULT move
    * to the new name; `farity` is positional and untouched. Old
    * generations stay readable under the old name (time travel reads the
    * generation's own schema). Returns the new generation.
    */
  def renameColumn(root: String, from: String, to: String): Long = {
    val m = WarehouseMeta.current(root)
    require(m.schema.fieldNames.contains(from),
      s"no column '$from' (table schema ${m.schema.simpleString})")
    require(!m.schema.fieldNames.contains(to),
      s"column '$to' already exists")
    require(!to.contains("|"),
      s"column name '$to' contains the manifest line separator '|'")
    def rekeyCols[V](mm: Map[String, Map[String, V]]) =
      mm.map { case (f, cols) =>
        f -> cols.map { case (c, v) => (if (c == from) to else c) -> v } }
    val jobId = s"evolve-${java.util.UUID.randomUUID()}"
    WarehouseMeta.job(root, jobId, s"PENDING rename $from $to") { publish =>
      publish(m.copy(generation = m.generation + 1,
        schema = StructType(m.schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)),
        jobId = jobId, disposition = "RENAME_COLUMN",
        stats = rekeyCols(m.stats), nonNull = rekeyCols(m.nonNull),
        sums = rekeyCols(m.sums),
        clusterBy = m.clusterBy.map(c => if (c == from) to else c),
        defaults = m.defaults.map { case (c, d) =>
          (if (c == from) to else c) -> d },
        // the committed bloom SIDECARS key bitsets by the OLD name
        // (immutable files) — rather than serve an index that can never
        // hit again, drop the renamed column's coverage; other columns
        // keep theirs, and the next rewrite rebuilds under the new name
        // if re-declared
        blooms = m.blooms.map { case (f, cs) =>
          f -> cs.filterNot(_ == from) }.filter(_._2.nonEmpty),
        bloomConf = m.bloomConf
          .map { case (cs, b) => (cs.filterNot(_ == from), b) }
          .filter(_._1.nonEmpty)))
    }
    m.generation + 1
  }
}

/** Copy-on-write row-level operations (round-14): the "use a
  * copy-on-write rewrite for partial deletes" guidance the metadata
  * DELETE's refusal message gives, implemented. Shared discipline:
  * classify every committed file against the operation's predicate
  * ([[WarehouseZoneMap.classify]], the SAME zone maps the scan prunes
  * with) — files provably untouched carry into the new generation BY
  * REFERENCE (zero IO), files provably all-deleted drop as metadata, and
  * ONLY the remainder rewrites: read through the scan's `files` option
  * ([[readSubset]]), staged into the table's own `_staging/<jobId>` and
  * published by [[WarehouseRewrite.commitReplace]]. At 100 TB, deleting
  * one customer's rows rewrites the handful of files whose zones straddle
  * the predicate, not the table.
  */
object WarehouseCow {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{coalesce, col, lit, not}

  /** The pushable-Filter subset as a Column, for re-applying the delete
    * predicate row-exactly inside the rewrite. Unsupported shapes throw
    * (the caller sees the refusal BEFORE anything mutates). */
  private[graft] def filterToColumn(f: Filter): Column = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => !filterToColumn(c)
      case other => throw new IllegalArgumentException(
        s"unsupported copy-on-write predicate $other")
    }
  }

  /** Exactly `files` of the latest generation, read through the scan's
    * `files` option. */
  private[graft] def readSubset(spark: SparkSession, root: String,
      files: Seq[String]): DataFrame = {
    require(files.forall(!_.contains(",")),
      "file name contains ',' — cannot pass through the files option")
    spark.read.format("graft-warehouse")
      .option("path", root).option("files", files.mkString(",")).load()
  }

  /** UPDATE ... SET ... WHERE pred, copy-on-write: rows where `pred` is
    * TRUE get every `set` expression applied (SQL semantics — NULL/false
    * predicate rows are untouched); files the zone maps prove can't
    * match carry BY REFERENCE, and only might-match files rewrite. Set
    * expressions are SQL strings over the table's columns, cast back to
    * the column's declared type (schema stability is part of the commit
    * contract). Updating the cluster column is allowed — the rewrite
    * re-splits per NEW value, so the one-value-per-file invariant
    * survives. Returns the exact updated-row count (one counting
    * aggregate over ONLY the rewritten subset).
    */
  def updateWhereCow(spark: SparkSession, root: String, pred: Filter,
      set: Map[String, String]): Long = {
    val predCol = filterToColumn(pred) // refuse unsupported shapes first
    val m = WarehouseMeta.current(root)
    val cols = m.schema.fieldNames.toSet
    val badCols = set.keys.filterNot(cols)
    require(badCols.isEmpty,
      s"SET names unknown column(s): ${badCols.mkString(",")}")
    val (_, carry, _) = WarehouseZoneMap.classify(m, pred)
    val rewrite = m.files.filterNot(carry.toSet) // drop ++ partial
    if (rewrite.isEmpty) return 0L // provably nothing to update
    val subset = readSubset(spark, root, rewrite)
    val cond = coalesce(predCol, lit(false))
    val updated = subset.filter(cond).count()
    val replacement = subset.select(m.schema.fields.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          org.apache.spark.sql.functions.when(cond,
            org.apache.spark.sql.functions.expr(e).cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
    WarehouseRewrite.rewrite(root, m, carry, replacement, "UPDATE_COW")
    updated
  }

  /** DELETE all rows matching `pred`, rewriting only partial-match files
    * (SQL semantics: a NULL predicate keeps the row). Full-match files
    * drop as metadata and no-match files carry by reference, exactly
    * like [[WarehouseDelete.deleteWhere]] — this is its completion, not
    * its replacement: a predicate that classifies every file cleanly
    * still commits zero data IO here. Returns the exact deleted count.
    */
  def deleteWhereCow(spark: SparkSession, root: String,
      pred: Filter): Long = {
    val predCol = filterToColumn(pred) // refuse unsupported shapes first
    val m = WarehouseMeta.current(root)
    val (drop, carry, rewrite) = WarehouseZoneMap.classify(m, pred)
    require((drop ++ rewrite).forall(f => m.liveRows(f).isDefined),
      "affected files lack exact row counts (pre-upgrade manifest) — " +
        "refusing: the deleted-count contract would be a guess")
    if (rewrite.isEmpty)
      return WarehouseDelete.deleteWhere(root, pred) // pure metadata edit
    val survivors = readSubset(spark, root, rewrite)
      .filter(not(coalesce(predCol, lit(false))))
    val after = WarehouseRewrite.rewrite(root, m, carry, survivors,
      "DELETE_COW")
    val rewrittenOut = (after.files.toSet -- carry.toSet)
      .toSeq.map(after.rows).sum
    // LIVE counts: a deletion-vector'd row is already gone — neither a
    // dropped nor a rewritten file may recount it
    drop.map(f => m.liveRows(f).get).sum +
      rewrite.map(f => m.liveRows(f).get).sum - rewrittenOut
  }
}

/** MERGE at the warehouse boundary (round-14): [[graft.ops.Merge]]'s
  * changelog semantics (op ∈ I/U/D, highest-seq event per key wins, a
  * winning D removes the key) applied copy-on-write — only files whose
  * key zone maps might hold an affected key rewrite; the rest carry by
  * reference. The affected-key test is exact when the changeset's
  * distinct keys fit a driver-side sorted array (the overwhelmingly
  * common case — a daily changeset against a years-deep table) and falls
  * back to the changeset's [min,max] interval above `maxKeysCollect`
  * (conservative: a too-wide interval only rewrites more, never misses a
  * file). Files without zone stats for the key rewrite unconditionally —
  * classification can cost IO, never correctness.
  */
object WarehouseMerge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{broadcast, col}

  final case class MergeStats(carried: Int, rewritten: Int,
      filesAfter: Int)

  /** Apply CDC changelog `log` (payload columns + `key` + `seqCol` +
    * `opCol`) to the warehouse table at `root`. The key column must be
    * LONG/INT-typed (zone classification); payload columns must match
    * the table schema minus nothing — i.e. `log` minus seq/op columns
    * must be exactly the table's columns.
    */
  def applyChangelogCow(spark: SparkSession, root: String, log: DataFrame,
      key: String, seqCol: String, opCol: String,
      maxKeysCollect: Int = 1 << 20): MergeStats = {
    val m = WarehouseMeta.current(root)
    val tableCols = m.schema.fieldNames.toSeq
    val logCols = log.columns.filterNot(c => c == seqCol || c == opCol)
    require(tableCols.sorted.sameElements(logCols.sorted.toSeq),
      s"changelog payload (${logCols.sorted.mkString(",")}) must match " +
        s"table columns (${tableCols.sorted.mkString(",")})")
    // final per-key outcome: winners (rows to upsert) and every affected
    // key (winners + winning deletes) — one map-side-combined agg each
    val winners = graft.ops.Merge.applyChangelog(log, Seq(key), seqCol,
      opCol)
    val affectedKeys = log.select(col(key)).distinct()
    // exact classification when the changeset key set is driver-bounded;
    // interval fallback past the cap (conservative either way)
    val nKeys = affectedKeys.count()
    val keysSorted: Option[Array[Long]] =
      if (nKeys <= maxKeysCollect)
        Some(affectedKeys.collect().map(_.get(0) match {
          case i: Int => i.toLong
          case l: Long => l
          case x => throw new IllegalArgumentException(
            s"merge key must be integral, got $x")
        }).sorted)
      else None
    val (kLo, kHi) = keysSorted match {
      case Some(a) if a.nonEmpty => (a.head, a.last)
      case _ =>
        val r = log.agg(org.apache.spark.sql.functions.min(col(key)),
          org.apache.spark.sql.functions.max(col(key))).head()
        (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())
    }
    def zoneHit(lo: Long, hi: Long): Boolean = keysSorted match {
      case Some(a) =>
        // any changeset key inside [lo, hi]: lowest key ≥ lo must be ≤ hi
        val i = java.util.Arrays.binarySearch(a, lo)
        val at = if (i >= 0) i else -i - 1
        at < a.length && a(at) <= hi
      case None => lo <= kHi && hi >= kLo
    }
    // NULL-keyed rows are invisible to zone maps but also UNAFFECTED by
    // the merge (a changeset key never equals NULL; the anti-join is
    // null-rejecting), so they never force a rewrite by themselves.
    val (carry, rewrite) = m.files.partition { f =>
      m.stats.getOrElse(f, Map.empty).get(key) match {
        case Some(ColStat.Longs(lo, hi)) => !zoneHit(lo, hi)
        case _ =>
          // no exact zone: carry only a provably all-null-key or empty
          // file (fnn=0 / rows=0); anything unprovable rewrites
          m.nonNull.getOrElse(f, Map.empty).get(key).contains(0L) ||
            m.rows.get(f).contains(0L)
      }
    }
    val replacement = (
      if (rewrite.isEmpty) winners
      else WarehouseCow.readSubset(spark, root, rewrite)
        .join(broadcast(affectedKeys), Seq(key), "left_anti")
        .unionByName(winners)).select(tableCols.map(col): _*)
    val after = WarehouseRewrite.rewrite(root, m, carry, replacement,
      "MERGE")
    MergeStats(carry.size, rewrite.size, after.files.size)
  }
}

/** The replace commit (round-14): the one way a rewrite publishes —
  * bin-packing OPTIMIZE, full compaction, copy-on-write UPDATE and
  * DELETE, MERGE, and SQL UPDATE / MERGE INTO. A rewrite stages its
  * replacement rows into the table's OWN `_staging/<jobId>` (through
  * [[stage]], or through Spark's write tasks for SQL row-level DML), with
  * per-file zone maps / row counts / sums / cluster splits / bloom
  * sidecars streaming with the task writers exactly like a load job.
  * [[commitReplace]] then publishes one generation that carries the kept
  * files BY REFERENCE (zero copy, zero IO: the same path strings and
  * per-file metadata move into the new manifest) and adds each staged
  * file holding rows under `data/<jobId>/` (O(files) renames). Readers see
  * the old generation until the manifest rename; a failure before it
  * leaves the table untouched and `_staging/<jobId>` dropped. Earlier
  * generations stay time-travel readable — replaced files are retired
  * from visibility, never deleted.
  */
object WarehouseRewrite {
  import org.apache.spark.sql.DataFrame

  /** Under one job bracket opening `opening`: runs `staged` for the staged
    * replacement files, then publishes `m` with only the files `keep`
    * accepts plus every staged file holding rows, as generation
    * `m.generation + 1` with `disposition`. The manifest's schema, cluster
    * layout and bloom config carry over; carried files keep their
    * evolution arity and deletion vectors. Returns the new manifest.
    */
  def commitReplace(root: String, m: Manifest, jobId: String,
      opening: String, disposition: String, keep: String => Boolean)(
      staged: => Seq[StagedFile]): Manifest =
    WarehouseMeta.job(root, jobId, opening) { publish =>
      val out = WarehouseLoadJob.addStaged(root, jobId, m.retain(keep),
        staged.filter(_.rows > 0L)).copy(generation = m.generation + 1,
        jobId = jobId, disposition = disposition)
      publish(out)
      WarehouseMeta.dropStaging(root, jobId)
      out
    }

  /** `replacement`'s rows replace every file of `m` outside `carry` (a
    * subset of `m.files`): one [[commitReplace]] opening
    * `PENDING <disposition>`. */
  def rewrite(root: String, m: Manifest, carry: Seq[String],
      replacement: DataFrame, disposition: String): Manifest = {
    val jobId =
      s"${disposition.toLowerCase}_${java.util.UUID.randomUUID().toString.take(8)}"
    commitReplace(root, m, jobId, s"PENDING $disposition", disposition,
      carry.toSet)(stage(root, m, replacement, jobId))
  }

  /** Stages `rows` into `root`'s own `_staging/<jobId>`: each partition
    * runs through the table's [[WarehouseWriterFactory]] under `m`'s
    * cluster layout and bloom index, as a load job's write task does. A
    * failed task aborts its files, and a failed job drops the directory.
    * `rows` must carry `m`'s column names and types, in order. */
  private[sources] def stage(root: String, m: Manifest, rows: DataFrame,
      jobId: String): Seq[StagedFile] = {
    require(rows.schema.simpleString == m.schema.simpleString,
      s"rewrite schema drift — table has ${m.schema.simpleString}, " +
        s"replacement has ${rows.schema.simpleString}")
    val factory = new WarehouseWriterFactory(root, s"$root/_staging/$jobId",
      rows.schema, m.clusterBy, m.bloomConf)
    val qe = rows.queryExecution
    try WarehouseLoadJob.stagedFiles(
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some(s"stage $jobId")) {
        qe.toRdd.mapPartitionsWithIndex { (part, it) =>
          val w = factory.createWriter(part,
            org.apache.spark.TaskContext.get().taskAttemptId())
          try {
            it.foreach(w.write)
            Iterator.single(w.commit())
          } catch {
            case e: Throwable => w.abort(); throw e
          } finally w.close()
        }.collect()
      })
    catch {
      case e: Throwable =>
        WarehouseMeta.dropStaging(root, jobId)
        throw e
    }
  }
}

/** Manifest layer: one `manifest-<gen>` file per committed load job under
  * `_manifest/`, written to a dot-temp name and atomically renamed; the
  * table's visible state IS the highest generation. Line format (keyed
  * lines, schema as Spark's own StructType JSON) keeps it dependency-free
  * and debuggable with `cat`.
  */
object WarehouseMeta {
  // One Configuration per JVM, shared by every caller, tasks included. A
  // fresh one parses the Hadoop default resources again on first use, and
  // buys nothing: FileSystem's cache hands back the same instance per
  // scheme and authority whatever Configuration asks for it.
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  def fs(root: String): FileSystem = new Path(root).getFileSystem(hadoopConf)

  private val ManifestRe = "manifest-([0-9]+)".r

  /** Every committed generation at `root`, ascending. */
  def generations(root: String): Seq[Long] = {
    val f = fs(root)
    val dir = new Path(root, "_manifest")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestRe(g) => Some(g.toLong)
      case _ => None
    }).sorted
  }

  /** Parsed-manifest cache keyed (root, generation): a manifest file is
    * IMMUTABLE once atomically renamed into place (monotonic generations,
    * never rewritten), so a parse is valid AS LONG AS THE SAME FILE is
    * still in place. Two real-world violations of "same file" exist and
    * both are guarded (advice r13): a table dropped and recreated at the
    * same path restarts generations at 0, so a bare (root, gen) hit would
    * serve the OLD table's file list — every hit is therefore validated
    * against the manifest file's (length, mtime) from the directory
    * listing the read already performs (zero extra metadata ops); and a
    * per-trigger streaming loop reads one new generation per commit, so
    * the cache is a bounded access-order LRU (latest generations stay
    * hot, history evicts) instead of growing one entry per generation
    * ever read. Freshness still costs exactly one directory listing per
    * read — the latest generation is always re-discovered — but a
    * micro-batch loop hitting the same generation every trigger re-plans
    * from memory instead of re-parsing stat lines (the round-13 streaming
    * runtime-pruning face). Hit counter exposed for the spec.
    */
  private final case class CachedManifest(len: Long, mtime: Long,
      manifest: Manifest)
  private val ManifestCacheMax = 64
  private val parsedManifests =
    new java.util.LinkedHashMap[(String, Long), CachedManifest](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), CachedManifest]): Boolean =
        size > ManifestCacheMax
    }
  // bumped by concurrent readers (a slice's loads run at once)
  val manifestCacheHits = new java.util.concurrent.atomic.AtomicLong

  def readManifest(root: String,
      generation: Option[Long] = None): Option[Manifest] = {
    val f = fs(root)
    val dir = new Path(root, "_manifest")
    if (!f.exists(dir)) return None
    val gens = f.listStatus(dir).toSeq.flatMap(s =>
      s.getPath.getName match {
        case ManifestRe(g) => Some(g.toLong -> s)
        case _ => None
      })
    if (gens.isEmpty) return None
    val (gen, status) = generation match {
      case Some(g) => gens.find(_._1 == g).getOrElse(
        throw new IllegalArgumentException(
          s"generation $g does not exist at $root (have " +
            s"${gens.map(_._1).sorted.mkString(",")})"))
      case None => gens.maxBy(_._1)
    }
    val path = status.getPath
    val hit = parsedManifests.synchronized {
      parsedManifests.get((root, gen))
    }
    // hit is live only if it parsed THIS file: a drop-and-recreate at the
    // same path restarts generations, and the listing's (len, mtime) for
    // the new manifest-<gen> cannot match the old parse's stamp
    if (hit != null && hit.len == status.getLen &&
        hit.mtime == status.getModificationTime) {
      manifestCacheHits.incrementAndGet()
      return Some(hit.manifest)
    }
    val lines = {
      val in = f.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def one(k: String): String = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.substring(k.length + 1)
    }.getOrElse(throw new IllegalStateException(
      s"manifest $path missing key $k"))
    val b64 = java.util.Base64.getDecoder
    val longStats = lines.filter(_.startsWith("stats="))
      .map(_.substring(6).split('|'))
      .collect { case Array(f, c, lo, hi) =>
        (f, c, ColStat.Longs(lo.toLong, hi.toLong): ColStat)
      }
    // string zones ride their own line kind (base64 bounds — raw
    // truncated bytes need not be valid UTF-8, let alone line-safe);
    // hi "*" = unbounded above
    val strStats = lines.filter(_.startsWith("sstats="))
      .map(_.substring(7).split('|'))
      .collect { case Array(f, c, lo, hi) =>
        (f, c, ColStat.Strs(b64.decode(lo),
          if (hi == "*") None else Some(b64.decode(hi))): ColStat)
      }
    val stats = (longStats ++ strStats)
      .groupBy(_._1)
      .map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      }
    // per-file row counts (round-12 agg-pushdown metadata); absent in
    // pre-round-12 manifests — readers must treat a missing entry as
    // "count unknown", never as zero
    val rowCounts = lines.filter(_.startsWith("frows="))
      .map(_.substring(6).split('|'))
      .collect { case Array(f, n) => f -> n.toLong }
      .toMap
    // storage-partitioning metadata (round-12 SPJ): the cluster column
    // plus one encoded value per file
    val clusterBy = lines.collectFirst {
      case l if l.startsWith("clusterby=") => l.substring(10)
    }
    val parts = lines.filter(_.startsWith("fpart="))
      .map(_.substring(6).split('|'))
      .collect { case Array(f, v) => f -> v }
      .toMap
    // per-file per-column non-null counts + overflow-guarded integral
    // sums (round-12 SUM/COUNT(col) pushdown; absent = unknown)
    def perFileCol(prefix: String): Map[String, Map[String, Long]] =
      lines.filter(_.startsWith(prefix))
        .map(_.substring(prefix.length).split('|'))
        .collect { case Array(f, c, n) => (f, c, n.toLong) }
        .groupBy(_._1)
        .map { case (f, rs) => f -> rs.map(r => r._2 -> r._3).toMap }
    // schema-evolution field counts (round-14 ADD COLUMN); absent = the
    // file encodes the full current schema
    val arity = lines.filter(_.startsWith("farity="))
      .map(_.substring(7).split('|'))
      .collect { case Array(f, n) => f -> n.toInt }
      .toMap
    // column DEFAULT literals (round-14 ADD COLUMN DEFAULT): applied at
    // read to files whose arity predates the column
    val defaults = lines.filter(_.startsWith("coldef="))
      .map(_.substring(7).split('|'))
      .collect { case Array(c, d) =>
        c -> new String(b64.decode(d), "UTF-8") }
      .toMap
    // bloom sidecar coverage + table-sticky index config (round-14)
    val blooms = lines.filter(_.startsWith("fbloom="))
      .map(_.substring(7).split('|'))
      .collect { case Array(f, c) => f -> c }
      .groupBy(_._1).map { case (f, cs) => f -> cs.map(_._2).toSeq }
    val bloomConf = lines.collectFirst {
      case l if l.startsWith("bloomconf=") =>
        val Array(cols, bits) = l.substring(10).split('|')
        (cols.split(',').toSeq, bits.toInt)
    }
    // merge-on-read deletion vectors (round-14)
    val dvs = lines.filter(_.startsWith("fdv="))
      .map(_.substring(4).split('|'))
      .collect { case Array(f, p, n) => f -> (p, n.toLong) }
      .toMap
    val m = Manifest(gen,
      DataType.fromJson(one("schema")).asInstanceOf[StructType],
      lines.filter(_.startsWith("file=")).map(_.substring(5)),
      one("job"), one("disposition"), stats, rowCounts, clusterBy, parts,
      perFileCol("fnn="), perFileCol("fsum="), arity, defaults,
      blooms, bloomConf, dvs)
    parsedManifests.synchronized {
      parsedManifests.put((root, gen),
        CachedManifest(status.getLen, status.getModificationTime, m))
    }
    Some(m)
  }

  /** The latest committed manifest (or `generation`'s); a table with none
    * is the standard missing-manifest error. */
  def current(root: String, generation: Option[Long] = None): Manifest =
    readManifest(root, generation).getOrElse(throw new IllegalArgumentException(
      s"graft-warehouse table at $root has no committed manifest"))

  /** THE commit path: every manifest generation and every job-state
    * transition of the table goes through here. Logs `opening` to
    * `_jobs/<jobId>`, runs `body` with a `publish` that swaps in one new
    * generation, then logs `DONE` — or `ERROR <msg>` and rethrows, leaving
    * whatever `body` did not publish invisible. */
  private[graft] def job[T](root: String, jobId: String, opening: String)(
      body: (Manifest => Unit) => T): T = {
    val f = fs(root)
    logJobState(f, root, jobId, opening)
    try {
      var published = false
      val out = body { m =>
        require(!published, s"job $jobId publishes one generation only")
        writeManifest(f, root, m)
        published = true
      }
      logJobState(f, root, jobId, "DONE")
      out
    } catch {
      case e: Throwable =>
        logJobState(f, root, jobId, s"ERROR ${e.getMessage}")
        throw e
    }
  }

  /** Drops a job's `_staging/<jobId>` upload directory. */
  private[sources] def dropStaging(root: String, jobId: String): Unit =
    fs(root).delete(new Path(root, s"_staging/$jobId"), true): Unit

  /** A load job that will not commit: its staged files go, and its log
    * ends `ABORTED`. */
  private[sources] def abort(root: String, jobId: String): Unit = {
    dropStaging(root, jobId)
    logJobState(fs(root), root, jobId, "ABORTED")
  }

  private def writeManifest(f: FileSystem, root: String, m: Manifest): Unit = {
    val dir = new Path(root, "_manifest")
    f.mkdirs(dir)
    val tmp = new Path(dir, s".manifest-${m.generation}.tmp")
    val out = new DataOutputStream(f.create(tmp, true))
    try {
      val b64 = java.util.Base64.getEncoder
      val statLines = for {
        (f, cols) <- m.stats.toList.sortBy(_._1)
        (c, st) <- cols.toList.sortBy(_._1)
        if !c.contains("|") // '|' is the stats-line separator
      } yield st match {
        case ColStat.Longs(lo, hi) => s"stats=$f|$c|$lo|$hi"
        case ColStat.Strs(lo, hi) =>
          s"sstats=$f|$c|${b64.encodeToString(lo)}|" +
            hi.map(b64.encodeToString).getOrElse("*")
      }
      val rowLines = m.rows.toList.sortBy(_._1)
        .collect { case (f, n) if !f.contains("|") => s"frows=$f|$n" }
      val partLines = m.parts.toList.sortBy(_._1)
        .collect { case (f, v) if !f.contains("|") => s"fpart=$f|$v" }
      val arityLines = m.arity.toList.sortBy(_._1)
        .collect { case (f, n) if !f.contains("|") => s"farity=$f|$n" }
      val defaultLines = m.defaults.toList.sortBy(_._1)
        .collect { case (c, d) if !c.contains("|") =>
          s"coldef=$c|${b64.encodeToString(d.getBytes("UTF-8"))}" }
      val clusterLine = m.clusterBy.map(c => s"clusterby=$c").toList
      val bloomLines = (for {
        (f, cs) <- m.blooms.toList.sortBy(_._1) if !f.contains("|")
        c <- cs.sorted if !c.contains("|")
      } yield s"fbloom=$f|$c") ++
        m.bloomConf.map { case (cs, bits) =>
          s"bloomconf=${cs.mkString(",")}|$bits" }.toList
      val dvLines = m.dvs.toList.sortBy(_._1).collect {
        case (f, (p, n)) if !f.contains("|") && !p.contains("|") =>
          s"fdv=$f|$p|$n"
      }
      def perFileCol(prefix: String,
          mm: Map[String, Map[String, Long]]): List[String] = for {
        (f, cols) <- mm.toList.sortBy(_._1) if !f.contains("|")
        (c, n) <- cols.toList.sortBy(_._1) if !c.contains("|")
      } yield s"$prefix$f|$c|$n"
      val body = (s"schema=${m.schema.json}" ::
        s"job=${m.jobId}" ::
        s"disposition=${m.disposition}" ::
        (clusterLine ++ m.files.map(p => s"file=$p") ++ statLines ++
          rowLines ++ partLines ++ arityLines ++ defaultLines ++
          bloomLines ++ dvLines ++ perFileCol("fnn=", m.nonNull) ++
          perFileCol("fsum=", m.sums)))
        .mkString("", "\n", "\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    val dst = new Path(dir, s"manifest-${m.generation}")
    require(f.rename(tmp, dst),
      s"cannot commit manifest generation ${m.generation}")
  }

  /** Job observability (`job.result()`'s state surface): one log file per
    * job under `_jobs/`, appended a state line per transition. */
  private def logJobState(f: FileSystem, root: String, jobId: String,
      state: String): Unit = {
    val p = new Path(root, s"_jobs/$jobId")
    val prior =
      if (f.exists(p)) {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } else ""
    val out = f.create(p, true)
    try out.write((prior + state + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  def jobStates(root: String, jobId: String): Seq[String] = {
    val f = fs(root)
    val p = new Path(root, s"_jobs/$jobId")
    if (!f.exists(p)) Nil
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
  }

  def jobs(root: String): Seq[String] = {
    val f = fs(root)
    val dir = new Path(root, "_jobs")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
  }
}

/** Staged-row codec: schema-driven, null-byte + value per field. Covers
  * the warehouse surface the reference loads (strings, integral/floating
  * numerics, bool, timestamp, date, binary); anything else fails loudly at
  * write time — no silent coercion into a lossy encoding.
  */
object WarehouseCodec {
  val Magic: Int = 0x47524f57 // "GROW"

  def writeRow(out: DataOutputStream, row: InternalRow,
      schema: StructType): Unit = {
    out.writeByte(1) // row marker
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) out.writeByte(0)
      else {
        out.writeByte(1)
        schema(i).dataType match {
          case BooleanType => out.writeBoolean(row.getBoolean(i))
          case ByteType => out.writeByte(row.getByte(i))
          case ShortType => out.writeShort(row.getShort(i))
          case IntegerType | DateType => out.writeInt(row.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            out.writeLong(row.getLong(i))
          case FloatType => out.writeFloat(row.getFloat(i))
          case DoubleType => out.writeDouble(row.getDouble(i))
          case StringType =>
            val b = row.getUTF8String(i).getBytes
            out.writeInt(b.length); out.write(b)
          case BinaryType =>
            val b = row.getBinary(i)
            out.writeInt(b.length); out.write(b)
          case t => throw new UnsupportedOperationException(
            s"graft-warehouse cannot stage ${t.simpleString} " +
              s"(column ${schema(i).name})")
        }
      }
      i += 1
    }
  }

  /** Projected read: decode only the fields whose full-schema ordinal maps
    * to a slot (≥ 0) in the pruned output row; everything else is
    * BYTE-SKIPPED — fixed widths skip in O(1), var-width fields skip by
    * their length prefix, so a 2-of-40-column projection never allocates
    * the other 38 (the column-pruning contract of the DSv2 scan).
    *
    * `arity` is the file's schema-evolution field count: the file encodes
    * only the first `arity` fields of `fullSchema`; columns appended by a
    * later ADD COLUMN decode as their `tail` value — the column's DEFAULT
    * in catalyst representation, or null when none (a fresh
    * GenericInternalRow's slots already hold null, so the null-fill is
    * just the loop bound; only live defaults cost a write).
    *
    * Returns null at clean EOF (the writer never splits a row across a
    * flush, so EOF can only fall on a row boundary).
    */
  def readRowProjected(in: DataInputStream, fullSchema: StructType,
      required: StructType, slot: Array[Int], arity: Int,
      tail: Array[Any]): InternalRow = {
    val marker = in.read()
    if (marker == -1) return null
    val row = new GenericInternalRow(required.length)
    var i = arity
    while (i < fullSchema.length) {
      val s = slot(i)
      if (s >= 0 && tail(i) != null) row.update(s, tail(i))
      i += 1
    }
    i = 0
    while (i < arity) {
      val s = slot(i)
      if (in.readByte() == 0) {
        if (s >= 0) row.setNullAt(s)
      } else fullSchema(i).dataType match {
        case BooleanType =>
          if (s >= 0) row.setBoolean(s, in.readBoolean()) else skip(in, 1)
        case ByteType =>
          if (s >= 0) row.setByte(s, in.readByte()) else skip(in, 1)
        case ShortType =>
          if (s >= 0) row.setShort(s, in.readShort()) else skip(in, 2)
        case IntegerType | DateType =>
          if (s >= 0) row.setInt(s, in.readInt()) else skip(in, 4)
        case LongType | TimestampType | TimestampNTZType =>
          if (s >= 0) row.setLong(s, in.readLong()) else skip(in, 8)
        case FloatType =>
          if (s >= 0) row.setFloat(s, in.readFloat()) else skip(in, 4)
        case DoubleType =>
          if (s >= 0) row.setDouble(s, in.readDouble()) else skip(in, 8)
        case StringType =>
          val n = in.readInt()
          if (s >= 0) {
            val b = new Array[Byte](n); in.readFully(b)
            row.update(s, UTF8String.fromBytes(b))
          } else skip(in, n)
        case BinaryType =>
          val n = in.readInt()
          if (s >= 0) {
            val b = new Array[Byte](n); in.readFully(b)
            row.update(s, b)
          } else skip(in, n)
        case t => throw new UnsupportedOperationException(t.simpleString)
      }
      i += 1
    }
    row
  }

  private def skip(in: DataInputStream, n: Int): Unit = {
    var left = n.toLong
    while (left > 0) {
      val k = in.skip(left)
      if (k <= 0) { in.readByte(); left -= 1 } // skip() may return 0
      else left -= k
    }
  }
}
