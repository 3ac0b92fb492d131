package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL CATALOG over the warehouse table format (round-14): registers the
  * `graft-warehouse` tables as a Spark `TableCatalog`, so the whole
  * engine surface is reachable from plain SQL —
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE TABLE graft.db.orders (k BIGINT, v DOUBLE, band BIGINT)
  *     PARTITIONED BY (band)                  -- the clusterBy layout
  *   INSERT INTO graft.db.orders ...          -- a load job (atomic gen)
  *   SELECT * FROM graft.db.orders VERSION AS OF 3   -- time travel
  *   SELECT * FROM graft.db.orders TIMESTAMP AS OF '...'
  *   ALTER TABLE graft.db.orders ADD COLUMN tag BIGINT  -- zero-IO
  *   ALTER TABLE graft.db.orders RENAME COLUMN v TO val -- zero-IO
  *   DELETE FROM graft.db.orders WHERE band = 0  -- metadata, CoW fallback
  *   TRUNCATE / INSERT OVERWRITE              -- logical truncate
  * }}}
  *
  * Identifiers map to paths: `graft.<ns...>.<table>` lives at
  * `<warehouse>/<ns...>/<table>`; a table IS its directory (manifest +
  * data), a namespace IS a directory — the catalog holds no state of its
  * own, so any driver pointing at the same warehouse root sees the same
  * tables (the same no-catalog-service discipline as the load-job
  * boundary; multi-driver commit arbitration stays out of scope).
  *
  * `CREATE TABLE` commits an EMPTY generation 0 (disposition `CREATE`),
  * so the declared schema + layout govern every later load's drift
  * checks, `PARTITIONED BY (col)` records the identity transform as the
  * `clusterBy` layout (appends cluster-split with no options — the
  * write path inherits it), and table properties `bloomFilters` /
  * `bloomBits` arm the point-lookup index from the first row in.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires the 'warehouse' option (root path)"))
  }

  override def name(): String = catalogName

  private def fs = WarehouseMeta.fs(warehouse)

  private def tablePath(ident: Identifier): String = {
    // `ALTER TABLE ... RENAME TO graft.db.z` hands the TARGET ident with
    // the catalog name still leading its namespace — strip it so both
    // `RENAME TO db.z` and the fully-qualified form land at the same path
    val ns = ident.namespace() match {
      case parts if parts.length >= 2 && parts.head == catalogName =>
        parts.tail
      case parts => parts
    }
    (warehouse +: (ns :+ ident.name())).mkString("/")
  }

  private def nsPath(ns: Array[String]): String =
    (warehouse +: ns).mkString("/")

  private def isTable(p: String): Boolean =
    fs.exists(new Path(p, "_manifest"))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(nsPath(namespace))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(dir).collect {
      case st if st.isDirectory &&
          isTable(s"${nsPath(namespace)}/${st.getPath.getName}") =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    WarehouseMeta.readManifest(p) match {
      case Some(m) => new WarehouseTable(p, m.schema)
      case None => throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    }
  }

  /** `VERSION AS OF <generation>` — time travel straight off the
    * generation-numbered manifest. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    val gen = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"version '$version' is not a generation number")
    }
    WarehouseMeta.readManifest(p, Some(gen)) match {
      case Some(m) => new WarehouseTable(p, m.schema, Some(gen))
      case None => throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    }
  }

  /** `TIMESTAMP AS OF` — the latest generation whose manifest committed
    * at or before the timestamp (manifest files are written once and
    * atomically renamed, so their mtime IS the commit time). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = tablePath(ident)
    val dir = new Path(p, "_manifest")
    if (!fs.exists(dir))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val tsMillis = timestampMicros / 1000L
    val gens = WarehouseMeta.generations(p).filter { g =>
      fs.getFileStatus(new Path(dir, s"manifest-$g"))
        .getModificationTime <= tsMillis
    }
    require(gens.nonEmpty,
      s"no committed generation of $p at or before timestamp " +
        s"$timestampMicros (earliest retained commit is later)")
    loadTable(ident, gens.max.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = tablePath(ident)
    if (isTable(p))
      throw new TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    val clusterBy = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references.length == 1 =>
        Some(t.references()(0).fieldNames.mkString("."))
      case other => throw new UnsupportedOperationException(
        s"graft-warehouse supports PARTITIONED BY (<one column>) as the " +
          s"cluster layout; got ${other.mkString(", ")}")
    }
    clusterBy.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY column $c not in the table schema"))
      require(WarehousePart.SupportedTypes(f.dataType),
        s"PARTITIONED BY $c: unsupported type ${f.dataType.simpleString}")
    }
    val bloomConf = Option(properties.get("bloomFilters")).map { cols =>
      (cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        Option(properties.get("bloomBits")).map(_.toInt)
          .getOrElse(WarehouseBloom.DefaultBits))
    }
    val jobId = s"create-${java.util.UUID.randomUUID().toString.take(8)}"
    WarehouseMeta.job(p, jobId, "PENDING create") { publish =>
      publish(Manifest(0L, schema, Nil, jobId, "CREATE",
        clusterBy = clusterBy, bloomConf = bloomConf))
    }
    new WarehouseTable(p, schema)
  }

  /** ALTER TABLE: ADD COLUMN (with optional DEFAULT) and RENAME COLUMN
    * route to the zero-IO manifest evolutions; everything else refuses
    * (honest — the codec is positional and files are immutable). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        val default = Option(add.defaultValue()).map(_.getSql)
        WarehouseEvolve.addColumn(p, add.fieldNames()(0), add.dataType(),
          default): Unit
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "nested RENAME COLUMN is not supported")
        WarehouseEvolve.renameColumn(p, ren.fieldNames()(0),
          ren.newName()): Unit
      case prop: TableChange.SetProperty
          if prop.property() == "comment" ||
            prop.property().startsWith("owner") => () // cosmetic, accept
      case other => throw new UnsupportedOperationException(
        s"graft-warehouse ALTER does not support $other (files are " +
          "immutable and the codec positional: only ADD COLUMN and " +
          "RENAME COLUMN are zero-IO evolutions)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else {
      // drop-and-recreate at the same path restarts generations at 0;
      // long-lived readers are protected by the manifest cache's
      // (len, mtime) validation
      fs.delete(new Path(p), true)
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!isTable(from))
      throw new NoSuchTableException((oldIdent.namespace() :+ oldIdent.name()).toSeq)
    if (isTable(to))
      throw new TableAlreadyExistsException((newIdent.namespace() :+ newIdent.name()).toSeq)
    require(fs.rename(new Path(from), new Path(to)),
      s"cannot rename $from to $to")
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).collect {
      case st if st.isDirectory && !isTable(st.getPath.toString) &&
          !st.getPath.getName.startsWith("_") =>
        Array(st.getPath.getName)
    }
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Array.empty // one level of namespaces is plenty for a path catalog
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(new Path(nsPath(namespace))) &&
        !isTable(nsPath(namespace)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path(nsPath(namespace))): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-warehouse namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val p = new Path(nsPath(namespace))
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty " +
          "(use CASCADE)")
    fs.delete(p, true)
  }
}
