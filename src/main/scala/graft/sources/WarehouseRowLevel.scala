package graft.sources

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL row-level DML (round-14): `UPDATE`, `MERGE INTO`, and the
  * row-level `DELETE` fallback as GROUP-BASED COPY-ON-WRITE operations —
  * Spark's `SupportsRowLevelOperations` protocol bound to the warehouse
  * commit machinery:
  *
  *  1. the operation's SCAN plans the candidate files under the pushed
  *     condition — the same zone-map + bloom pruning as any read, so an
  *     `UPDATE ... WHERE band = 3` scans (and therefore rewrites) only
  *     the files whose zones can match, never the table;
  *  2. Spark's rewrite feeds every row of those files through the
  *     modification (SET exprs / merge clauses / delete filter) and
  *     writes the survivors back through the ordinary staged task
  *     writers (cluster split + bloom sidecars inherited);
  *  3. the commit REPLACES exactly the scanned files with the output
  *     staged in the table's own `_staging/<jobId>`, in one atomic
  *     manifest generation — the same replace commit every other rewrite
  *     publishes through ([[WarehouseRewrite.commitReplace]]): every
  *     other file carries by reference with all its metadata, time travel
  *     keeps the pre-image, and the change data feed classifies the
  *     commit like any other CoW generation.
  *
  * At 100 TB this is the `UPDATE`/`MERGE` cost model a real table format
  * promises: IO proportional to the files the predicate can touch, one
  * metadata swap, no service.
  */
class WarehouseRowLevelOperation(root: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  // the files the operation's scan planned = the groups being replaced;
  // planInputPartitions runs (driver-side) before any task writes, and
  // commit runs after all of them — the ordering the protocol guarantees
  @volatile private var scannedFiles: List[String] = Nil

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new WarehouseScanBuilder(root,
      planListener = Some(fs => scannedFiles = fs))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new WarehouseReplaceGroupsWrite(root, info, cmd,
            () => scannedFiles)
      }
    }
}

class WarehouseReplaceGroupsWrite(root: String, info: LogicalWriteInfo,
    cmd: RowLevelOperation.Command, scanned: () => List[String])
    extends BatchWrite {
  private val schema = info.schema()
  private val (clusterBy, bloomConf) = WarehouseLoadJob.resolveLayout(
    root, schema, "WRITE_APPEND", None, None)
  private val jobId = s"${cmd.toString.toLowerCase}_sql_" +
    java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DataWriterFactory =
    new WarehouseReplaceWriterFactory(
      new WarehouseWriterFactory(root, s"$root/_staging/$jobId", schema,
        clusterBy, bloomConf), schema.length)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val disposition = cmd match {
      case RowLevelOperation.Command.UPDATE => "UPDATE_COW"
      case RowLevelOperation.Command.DELETE => "DELETE_COW"
      case RowLevelOperation.Command.MERGE => "MERGE"
    }
    val m = WarehouseMeta.current(root)
    val replaced = scanned().toSet
    WarehouseRewrite.commitReplace(root, m, jobId, "RUNNING", disposition,
        !replaced(_)) {
      require(m.schema.simpleString == schema.simpleString,
        s"row-level $jobId: schema drift — table has " +
          s"${m.schema.simpleString}, write has ${schema.simpleString}")
      val bad = replaced.filterNot(m.files.toSet)
      require(bad.isEmpty, s"row-level $jobId: replaced files not in " +
        s"generation ${m.generation}: ${bad.take(3).mkString(",")}")
      WarehouseLoadJob.stagedFiles(messages)
    }: Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    WarehouseMeta.abort(root, jobId)
}

/** ReplaceData rows arrive PREFIXED with Spark's `__row_operation`
  * marker column (RowDeltaUtils: every arriving row is a write — deletes
  * are upstream absences); this factory strips the marker by viewing
  * each row at ordinal offset 1 before the ordinary staged writer sees
  * it. The view is allocation-free per row (one mutable wrapper per
  * writer). */
class WarehouseReplaceWriterFactory(inner: DataWriterFactory,
    dataCols: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write
        .DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val view = new OffsetInternalRow(1, dataCols)
    new org.apache.spark.sql.connector.write
      .DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      override def write(
          record: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        // a row narrower than marker+data would be a protocol drift —
        // fail loudly instead of writing shifted garbage
        require(record.numFields >= dataCols + 1,
          s"row-level write expected >=${dataCols + 1} fields " +
            s"(__row_operation + data), got ${record.numFields}")
        view.row = record
        w.write(view)
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** An InternalRow view shifting every ordinal by `offset` (field i reads
  * delegate field i+offset). */
class OffsetInternalRow(offset: Int, n: Int)
    extends org.apache.spark.sql.catalyst.InternalRow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, Decimal}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}

  var row: InternalRow = _
  override def numFields: Int = n
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only view")
  override def copy(): InternalRow =
    throw new UnsupportedOperationException(
      "OffsetInternalRow is a streaming write view — never copied")
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    row.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getInterval(i: Int): CalendarInterval =
    row.getInterval(i + offset)
  override def getVariant(i: Int): VariantVal = row.getVariant(i + offset)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i + offset, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util
      .ArrayData = row.getArray(i + offset)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util
      .MapData = row.getMap(i + offset)
  override def get(i: Int, dataType: DataType): AnyRef =
    row.get(i + offset, dataType)
  override def getGeography(i: Int): org.apache.spark.unsafe.types
      .GeographyVal = row.getGeography(i + offset)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types
      .GeometryVal = row.getGeometry(i + offset)
}
