package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin (§2.12 extension surface): a [[TableCatalog]] over the
  * manifest table format, so the engine's own tables are addressable as
  * `<catalog>.<namespace>.<table>` from PLAIN SQL — `CREATE TABLE`,
  * `INSERT INTO`, `INSERT OVERWRITE`, `SELECT`, `DROP TABLE` all resolve
  * through this class to [[ManifestTable]]s under a warehouse directory.
  * This is the remaining DSv2 integration point after the read connector,
  * the write connector, and the commit protocol: name resolution. At
  * scale the identifier→path map is a metastore call; here it is
  * `warehouse/namespace/table`. Table EXISTENCE is a committed version:
  * the catalog asks [[ManifestSink]] to resolve the table exactly as a
  * reader would (newest footer-valid `manifest.v<N>.json`), and CREATE
  * commits an empty v1. Every DDL change (CREATE, ALTER) is an ordinary
  * commit through the sink's one compare-and-swap, so catalog and
  * DataFrame writers on one table never disagree on its protocol.
  *
  * Configure:
  *   spark.sql.catalog.<name> = graft.sources.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = <dir>
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  private def exists(dir: String): Boolean = ManifestSink.latestVersion(dir) > 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = Paths.get(s"$warehouse/${namespace.mkString("/")}")
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(ns)
    try s.iterator().asScala
      .filter(p => exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = pathOf(ident)
    ManifestSink.readManifest(dir) match {
      case Some((schema, _)) => new ManifestTable(dir, schema)
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** SQL time travel: `SELECT … FROM <cat>.<ns>.<tbl> VERSION AS OF n`
    * routes here — the snapshot log the sink already retains
    * (manifest.v<N>.json) IS the version history, so the lakehouse SQL
    * idiom works against any past commit. Timestamp-based travel
    * (`TIMESTAMP AS OF`) is not offered: the manifest records no commit
    * wall-clock (determinism contract — no wall-clock anywhere).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = pathOf(ident)
    // numeric → retained snapshot; otherwise a WAP BRANCH name (the
    // Iceberg idiom: SELECT … VERSION AS OF 'staging' audits the staged
    // state through plain SQL before publish)
    version.toIntOption match {
      case Some(v) =>
        // absent, expired, in-flight and torn versions all resolve to None
        val st = ManifestSink.readState(dir, Some(v))
          .getOrElse(throw new NoSuchTableException(ident))
        new ManifestTable(dir, st.schema, pinnedVersion = Some(v))
      case None =>
        val st = ManifestSink.readBranchState(dir, version)
          .getOrElse(throw new NoSuchTableException(ident))
        new ManifestTable(dir, st.schema, pinnedBranch = Some(version))
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = pathOf(ident)
    // TableCatalog contract (ADVICE r6): CREATE of an existing table must
    // throw, not silently reset the table's current manifest — direct API
    // use and DDL paths that skip the exists-check both land here
    if (exists(dir))
      throw new TableAlreadyExistsException(ident)
    // CREATE = publish an empty snapshot; existence IS a committed version
    ManifestSink.writeManifest(dir, schema, Seq.empty)
    new ManifestTable(dir, schema)
  }

  /** Schema evolution, lakehouse-style: ADD COLUMN publishes a new
    * snapshot carrying the WIDENED schema while every data file stays
    * untouched — files written before the change simply have fewer TSV
    * fields, and the reader null-fills the new trailing columns
    * (`ManifestSink.decode`). Only top-level ADD COLUMN is supported;
    * drops/renames/retypes would need per-file column remapping.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = pathOf(ident)
    def widen(sch: StructType): StructType = changes.foldLeft(sch) {
      case (acc, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          "only top-level ADD COLUMN is supported")
        acc.add(StructField(add.fieldNames.head, add.dataType, nullable = true))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other")
    }
    // a read-modify-write commit: a racing writer's files are kept
    val v = ManifestSink.commit(dir)((_, prior) =>
      prior.map(p => p.copy(schema = widen(p.schema))))
      .getOrElse(throw new NoSuchTableException(ident))
    new ManifestTable(dir, ManifestSink.readState(dir, Some(v)).get.schema)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(pathOf(ident))
    if (!exists(dir.toString)) false
    else {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // map filesystem preconditions to the TableCatalog contract exceptions
    // (ADVICE r6) instead of surfacing raw NoSuchFileException
    if (!exists(pathOf(oldIdent)))
      throw new NoSuchTableException(oldIdent)
    if (exists(pathOf(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(Paths.get(pathOf(newIdent)).getParent)
    Files.move(Paths.get(pathOf(oldIdent)), Paths.get(pathOf(newIdent)))
    ()
  }

  // ---- namespaces: plain directories under the warehouse ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Array.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(p => Array(p.getFileName.toString)).toArray
      finally s.close()
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(Paths.get(s"$warehouse/${namespace.mkString("/")}"))

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(s"$warehouse/${namespace.mkString("/")}"))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = Paths.get(s"$warehouse/${namespace.mkString("/")}")
    if (!Files.isDirectory(dir)) false
    else {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
      true
    }
  }
}
