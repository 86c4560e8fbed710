package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog,
  SupportsNamespaces, Table, TableCatalog, TableCatalogCapability,
  TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.CowTable

/** Name-based SQL catalog over a warehouse directory of graft tables —
  * the piece that makes the SQL surface complete without temp views:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/warehouse")
  *
  *   CREATE NAMESPACE graft.lake;
  *   CREATE TABLE graft.lake.users (id BIGINT, v DOUBLE)
  *     USING graft PARTITIONED BY (p)
  *     TBLPROPERTIES ('keyCols'='id', 'precombineField'='v');
  *   INSERT INTO graft.lake.users VALUES (1, 0.5);   -- keyed upsert
  *   MERGE INTO graft.lake.users t USING src s ON t.id = s.id ...;
  *   SELECT * FROM graft.lake.users VERSION AS OF 3; -- time travel
  *   DROP TABLE graft.lake.users;
  * }}}
  *
  * Layout: `warehouse/<namespace...>/<table>` — each table directory is a
  * normal graft table (`_commits/` timeline), interchangeable with the
  * path-based API. Table properties at creation, TBLPROPERTIES or
  * OPTIONS (the names a first `write`/`writeStream` to a path takes):
  * `keyCols` (required), `partitionCols` (or `PARTITIONED BY` identity
  * transforms), `precombineField`, `storageType` ('cow' | 'mor') and
  * every [[graft.table.TableProps]] field ([[graft.table.TableProps.parse]]:
  * `keepCommits`, `numBuckets`, `clusterCols`, `trackCommitVersions`,
  * `fileIndex`, `statsCols`, `bloomCols`, `compactEvery`,
  * `checkConstraints`, `deleteVectors`). Time travel maps
  * `VERSION AS OF v` onto the retained commit timeline and
  * `TIMESTAMP AS OF t` onto manifest commit times (newest commit at or
  * before t). Schema changes ride the table format's additive evolution
  * on write, plus the metadata-only DDL of [[alterTable]]: `ADD
  * COLUMNS`, `ALTER COLUMN ... TYPE` safe widening, `DROP COLUMN`,
  * `RENAME COLUMN` (field-id-stamped tables) and `SET TBLPROPERTIES`
  * ([[graft.table.CowTable.alterProps]]).
  *
  * MOR tables serve the READ-OPTIMIZED view through SQL (Hudi `_ro`
  * semantics, same contract as the path source): log appends become
  * visible at compaction; [[graft.table.MorTable.realtime]] is the merged
  * view. Tables that track commit versions expose the stamp column in
  * their declared schema — INSERT statements name their columns.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  /** Column DEFAULT values: Spark's analyzer fills omitted columns and
    * the DEFAULT keyword from the `CURRENT_DEFAULT`/`EXISTS_DEFAULT`
    * field metadata it stamps at CREATE — the catalog only has to
    * declare the capability and preserve that metadata through the
    * manifest schema round trip (field-id stamping merges metadata,
    * never replaces it).
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark = SparkSession.active
  private def fs = warehouse.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, n) => new Path(p, n))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)

  // ----------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => CowTable.existsAt(spark, p.toString))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    CowTable.existsAt(spark, tablePath(ident).toString)

  override def loadTable(ident: Identifier): Table = {
    val base = tablePath(ident).toString
    if (!CowTable.existsAt(spark, base)) throw new NoSuchTableException(ident)
    GraftDataSource.tableFor(spark, base,
      CowTable.openManifest(spark, base), CaseInsensitiveStringMap.empty(),
      acceptAnySchema = false)
  }

  /** SQL time travel: `VERSION AS OF v` (any retained commit). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = tablePath(ident).toString
    if (!CowTable.existsAt(spark, base)) throw new NoSuchTableException(ident)
    GraftDataSource.tableFor(spark, base,
      CowTable.openManifest(spark, base, Some(version.toLong)),
      CaseInsensitiveStringMap.empty(), acceptAnySchema = false)
  }

  /** SQL time travel: `TIMESTAMP AS OF t` — newest retained commit at or
    * before `t` (Spark hands the resolved timestamp in MICROseconds).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = tablePath(ident).toString
    if (!CowTable.existsAt(spark, base)) throw new NoSuchTableException(ident)
    val v = CowTable.open(spark, base)
      .versionAtTimestamp(Math.floorDiv(timestamp, 1000L))
    GraftDataSource.tableFor(spark, base,
      CowTable.openManifest(spark, base, Some(v)),
      CaseInsensitiveStringMap.empty(), acceptAnySchema = false)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // identity PARTITIONED BY transforms win over a partitionCols property
    val partitionCols = info.partitions().toSeq.map {
      case t if t.name == "identity" =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables partition by identity columns only, got $other")
    }
    val t = CowTable.openOrCreate(spark, tablePath(ident).toString,
      info.properties().asScala.toMap, partitionCols)
    t.createEmpty(info.schema())
    loadTable(ident)
  }

  /** `ALTER TABLE`: exactly the table format's metadata-only evolutions —
    * `ADD COLUMNS` (nullable, appended), `ALTER COLUMN ... TYPE` (safe
    * widening), `DROP COLUMN` (shadowed until
    * [[graft.table.CowTable.purgeDroppedColumns]] rewrites the old
    * files; re-adds of the name are refused meanwhile) and
    * `RENAME COLUMN` (field-id-stamped tables only — files resolve the
    * column by its stable parquet field id, so the name change is pure
    * metadata; [[graft.table.CowTable.renameColumn]]) — each applied as
    * a schema commit with no data IO at any table size. Everything else
    * (repositioning, nullability changes) fails loudly: those need a
    * full rewrite, and silently rewriting 100 TB behind a DDL statement
    * is the wrong default.
    */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    val base = tablePath(ident).toString
    if (!CowTable.existsAt(spark, base)) throw new NoSuchTableException(ident)
    def top(names: Array[String], what: String): String = {
      if (names.length != 1) throw new UnsupportedOperationException(
        s"ALTER TABLE: nested $what (${names.mkString(".")}) is unsupported")
      names(0)
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      if (a.position() != null) throw new UnsupportedOperationException(
        "ALTER TABLE ADD COLUMNS: FIRST/AFTER positions are unsupported " +
          "(columns append; stored files carry no column ids to remap)")
      // a DEFAULT on an ADDED column promises existing rows the default
      // (EXISTS_DEFAULT) — but old files read back null-filled here, so
      // accepting it would serve nulls where the DDL promised a value.
      // Refuse rather than be silently wrong; CREATE-time defaults work.
      if (a.defaultValue() != null) throw new UnsupportedOperationException(
        "ALTER TABLE ADD COLUMNS with DEFAULT is unsupported (existing " +
          "rows read the new column as NULL, not the default; declare " +
          "defaults at CREATE TABLE, or backfill with UPDATE)")
      val meta = Option(a.comment()).map(c =>
        new MetadataBuilder().putString("comment", c).build())
        .getOrElse(Metadata.empty)
      StructField(top(a.fieldNames(), "column add"), a.dataType(),
        nullable = a.isNullable, metadata = meta)
    }
    val widens = changes.collect { case u: TableChange.UpdateColumnType =>
      top(u.fieldNames(), "column type change") -> u.newDataType()
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      top(d.fieldNames(), "column drop")
    }
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      top(r.fieldNames(), "column rename") -> r.newName()
    }
    val setProps = changes.collect {
      case sp: TableChange.SetProperty => sp.property -> sp.value
    }
    val rest = changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn]
      || c.isInstanceOf[TableChange.UpdateColumnType]
      || c.isInstanceOf[TableChange.DeleteColumn]
      || c.isInstanceOf[TableChange.RenameColumn]
      || c.isInstanceOf[TableChange.SetProperty])
    if (rest.nonEmpty) throw new UnsupportedOperationException(
      "graft ALTER TABLE supports ADD COLUMNS, safe type widening, " +
        "DROP/RENAME COLUMN and SET TBLPROPERTIES (mutable knobs) only; " +
        "got: " + rest.map(_.getClass.getSimpleName).mkString(", "))
    if (adds.nonEmpty || widens.nonEmpty || drops.nonEmpty)
      CowTable.open(spark, base).alterSchema(adds, widens, drops)
    renames.foreach { case (from, to) =>
      CowTable.open(spark, base).renameColumn(from, to)
    }
    if (setProps.nonEmpty)
      CowTable.open(spark, base).alterProps(setProps.toMap)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!CowTable.existsAt(spark, p.toString)) false
    else fs.delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    fs.mkdirs(nsPath(to.namespace))
    if (!fs.rename(tablePath(from), tablePath(to)))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ------------------------------------------------------- functions

  /** The catalog serves exactly one function: the key-hash `bucket`
    * transform ([[GraftBucketFunction]]). Spark resolves a bucketed
    * scan's reported `KeyGroupedPartitioning(bucket(n, keys))` through
    * this hook — the step that lets two co-bucketed graft tables join
    * storage-partitioned, with no shuffle.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  // ------------------------------------------------------ procedures

  /** Table-maintenance stored procedures under the `system` namespace
    * (`CALL <cat>.system.compact(table => 'ns.t')` — the Iceberg CALL
    * surface; see [[GraftProcedures]] for the full set). The `table`
    * argument is a catalog-relative dotted name.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system"))
    def pathOf(ref: String): String = ref.split('.')
      .foldLeft(warehouse)((a, n) => new Path(a, n)).toString
    val p =
      if (known) GraftProcedures.load(ident.name, ref => {
        val path = pathOf(ref)
        if (!CowTable.existsAt(spark, path))
          throw new NoSuchTableException(
            Identifier.of(ref.split('.').dropRight(1),
              ref.split('.').last))
        CowTable.open(spark, path)
      }, pathOf)
      else None
    p.getOrElse(throw new RuntimeException(
      s"no such procedure: ${ident.namespace.mkString(".")}.${ident.name} " +
        s"(known: system.{${GraftProcedures.names.mkString(", ")}})"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) || namespace.isEmpty)
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse).filter(_.isDirectory)
      .filterNot(s => CowTable.existsAt(spark, s.getPath.toString))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .filterNot(s => CowTable.existsAt(spark, s.getPath.toString))
      .map(s => namespace :+ s.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit =
    fs.mkdirs(nsPath(namespace))

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) false
    else {
      if (!cascade && fs.listStatus(dir).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(dir, true)
    }
  }
}
