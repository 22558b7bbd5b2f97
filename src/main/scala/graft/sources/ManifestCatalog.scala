package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException,
  NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.ManifestStore

/** A [[TableCatalog]] over [[ManifestStore]] tables — name-based SQL DDL
  * for the table format, so the catalog surface matches the reference's
  * information_schema introspection (streamlit_frontend.py:440-444 lists
  * the DuckDB catalog's tables) without per-statement path plumbing:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.ManifestCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE TABLE graft.gold.crashes (k BIGINT, v STRING)   -- no OPTIONS
  *   INSERT INTO graft.gold.crashes SELECT ...
  *   SELECT * FROM graft.gold.crashes VERSION AS OF 3       -- time travel
  *   SHOW TABLES IN graft.gold
  *   DROP TABLE graft.gold.crashes
  * }}}
  *
  * Layout is directory-per-name under the warehouse root:
  * `warehouse/<ns...>/<table>` — a directory IS a table iff it holds a
  * `_manifest` subdirectory, and every other directory is a namespace.
  * The table's schema lives in the manifest itself (every commit
  * records it), so `CREATE TABLE` is one [[ManifestStore.createEmpty]]
  * CAS publish and `loadTable` is one manifest read: the catalog adds NO
  * metadata store beside the table format, and therefore no second
  * source of truth to drift. Table properties that aren't derivable from
  * the manifest (`statscols` — the stats-bearing column declaration
  * every SQL commit inherits) live in one `_manifest/_props` sidecar
  * written at create time.
  *
  * `VERSION AS OF` resolves through [[TableCatalog.loadTable(Identifier,String)]]
  * to a frozen [[ManifestTable]] snapshot — the planner-integrated time
  * travel the `versionAsOf` OPTION provides, now in native SQL syntax.
  */
class ManifestCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _
  private var fs: FileSystem = _

  override def name(): String = catalogName

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs a warehouse: set spark.sql.catalog.$name.warehouse"))
    warehouse = new Path(w)
    fs = warehouse.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    // the default namespace must resolve for `USE <catalog>`
    fs.mkdirs(new Path(warehouse, "default"))
  }

  override def defaultNamespace(): Array[String] = Array("default")

  private def spark: SparkSession = SparkSession.active

  /** `/` would escape the warehouse tree; reject rather than encode. */
  private def checkName(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != ".." && !part.startsWith("_"),
      s"invalid catalog object name: '$part'")
    part
  }

  private def nsPath(namespace: Array[String]): Path =
    namespace.map(checkName).foldLeft(warehouse)(new Path(_, _))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), checkName(ident.name()))

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_manifest"))

  private def propsPath(p: Path): Path = new Path(p, "_manifest/_props")

  private def readProps(p: Path): Map[String, String] = {
    val f = propsPath(p)
    if (!fs.exists(f)) return Map.empty
    val in = fs.open(f)
    try {
      val props = new java.util.Properties()
      props.load(in)
      props.asScala.toMap
    } finally in.close()
  }

  private def writeProps(p: Path, props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val out = fs.create(propsPath(p), true)
    try {
      val jp = new java.util.Properties()
      props.foreach { case (k, v) => jp.setProperty(k, v) }
      jp.store(out, null)
    } finally out.close()
  }

  private def statsColsOf(props: Map[String, String]): Seq[String] =
    props.get("statscols").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  // ---- TableCatalog -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .sortBy(_.name())
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, None)

  /** `SELECT ... FROM t VERSION AS OF <v>` — a frozen read-only snapshot. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toLong))

  private def loadAt(ident: Identifier, versionAsOf: Option[Long]): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val path = dir.toString
    val snap = versionAsOf match {
      case Some(v) => ManifestStore.snapshotAt(spark, path, v).getOrElse(
        throw new IllegalArgumentException(
          s"version $v of ${ident.name()} is not resolvable — never " +
            "committed, or vacuumed past the retention window"))
      case None => ManifestStore.current(spark, path).getOrElse(
        throw new NoSuchTableException(ident))
    }
    new ManifestTable(path, snap.logicalSchema, statsColsOf(readProps(dir)),
      versionAsOf)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables are segment-organized (cluster() for layout) — " +
        "PARTITIONED BY is not supported")
    val dir = tablePath(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(ident)
    fs.mkdirs(dir.getParent)
    // CREATE races resolve in createEmpty's CAS publish — one winner
    try ManifestStore.createEmpty(spark, dir.toString, schema)
    catch { case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("already exists") =>
      throw new TableAlreadyExistsException(ident)
    }
    val props = properties.asScala
    val statsCols = props.get(TableCatalog.OPTION_PREFIX + "statscols")
      .orElse(props.get("statscols"))
    writeProps(dir, statsCols.map("statscols" -> _).toMap)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val path = dir.toString
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "ALTER TABLE ADD COLUMNS: nested fields are not supported")
        ManifestStore.addColumn(spark, path, add.fieldNames()(0), add.dataType())
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "ALTER TABLE RENAME COLUMN: nested fields are not supported")
        ManifestStore.renameColumn(spark, path, ren.fieldNames()(0), ren.newName())
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "ALTER TABLE ALTER COLUMN TYPE: nested fields are not supported")
        ManifestStore.widenColumn(spark, path, upd.fieldNames()(0), upd.newDataType())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "ALTER TABLE DROP COLUMN: nested fields are not supported")
        ManifestStore.dropColumn(spark, path, del.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) false
    else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    // Spark hands RENAME TO's target through unstripped: a catalog-qualified
    // `RENAME TO cat.ns.t` arrives with the catalog name as the leading
    // namespace segment — drop it rather than materialize a `cat/` subtree
    val target =
      if (newIdent.namespace().headOption.contains(catalogName))
        Identifier.of(newIdent.namespace().drop(1), newIdent.name())
      else newIdent
    val to = tablePath(target)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to),
      s"renameTable: filesystem rename $from -> $to failed")
  }

  // ---- SupportsNamespaces -------------------------------------------------

  private def childNamespaces(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !isTableDir(st.getPath))
      .map(_.getPath.getName).sorted

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(warehouse).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!fs.exists(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    childNamespaces(dir).map(n => namespace :+ n).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val dir = nsPath(namespace)
    fs.exists(dir) && !isTableDir(dir)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString)
      .asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(catalogName +: namespace)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = nsPath(namespace)
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(catalogName +: namespace)
    fs.delete(dir, true)
  }
}
