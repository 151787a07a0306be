package graft.sources.replay

import java.io.File
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-replay`'s CATALOG plugin — the last rung of the DataSource V2
  * ladder: replay logs addressed as catalog TABLES instead of paths, so
  * a SQL-only user writes
  *
  * {{{
  *   SET spark.sql.catalog.graft_replay = graft.sources.replay.ReplayCatalog
  *   SET spark.sql.catalog.graft_replay.root = /data/replay
  *   SELECT * FROM graft_replay.billing.deposits VERSION AS OF 3
  *   SELECT * FROM graft_replay.billing.deposits TIMESTAMP AS OF '2026-08-16 12:00:00'
  *   INSERT INTO graft_replay.billing.deposits SELECT ...
  * }}}
  *
  * and Spark's own time-travel syntax resolves through the log's
  * snapshot chain ([[TableCatalog.loadTable(Identifier,String)]] →
  * `asOfVersion`; the timestamp overload resolves the highest snapshot
  * whose `#committed` stamp is at or before the asked instant — the
  * Iceberg semantics on the one-file manifest protocol).
  *
  * Layout is the filesystem, on purpose: a NAMESPACE is a directory
  * under `root`, a TABLE is a log directory (recognized by its
  * `_manifest`) — the catalog holds no state of its own, so there is
  * nothing to migrate or desynchronize; every table operation is the
  * corresponding directory operation and the manifest protocol keeps
  * each table's commits atomic. All tables share the connector's fixed
  * deposit-frame schema (a log catalog, not a general warehouse —
  * `createTable` validates rather than stores the schema).
  */
class ReplayCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var root: File = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = new File(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root=<dir>")))
  }
  override def name(): String = catName

  private def dirOf(ns: Array[String], table: String): File =
    ns.foldLeft(root)(new File(_, _)) match { case d => new File(d, table) }
  private def dirOf(ident: Identifier): File = dirOf(ident.namespace(), ident.name())
  /** A table IS a directory with a manifest (path-written logs count). */
  private def isLog(f: File): Boolean =
    f.isDirectory && new File(f, ReplayLog.ManifestName).isFile

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = namespace.foldLeft(root)(new File(_, _))
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(isLog).map(f => Identifier.of(namespace, f.getName)).sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean = isLog(dirOf(ident))

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <n>` — the snapshot id, exactly as the path API's
    * `asOfVersion` option. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft-replay versions are snapshot numbers; got '$version'")
      }))

  /** `TIMESTAMP AS OF <t>` (micros from Spark) — highest snapshot
    * committed at or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!isLog(dir)) throw new NoSuchTableException(ident)
    load(ident, Some(ReplayLog.resolveVersionAt(dir.getPath, timestampMicros)))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = dirOf(ident)
    if (!isLog(dir)) throw new NoSuchTableException(ident)
    new ReplayTable(dir.getPath, maxSegmentsPerTrigger = None, asOfVersion = asOf)
  }

  /** CREATE TABLE: makes an EMPTY log (manifest with no segments, so
    * reads return zero rows and the first INSERT appends through the
    * ordinary commit protocol). The schema is fixed by the wire format —
    * an explicit column list must match it; partitioning is the log's
    * own segment layout, not declarable. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "graft-replay tables are segment-partitioned by the writer; PARTITIONED BY is not declarable")
    if (schema.nonEmpty) {
      val got = schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = ReplaySource.Schema.fields.map(f => (f.name, f.dataType)).toSeq
      require(got == want,
        s"graft-replay tables have the fixed schema ${ReplaySource.Schema.simpleString}; got ${schema.simpleString}")
    }
    val dir = dirOf(ident)
    val ns = dir.getParentFile
    if (!ns.isDirectory) throw new NoSuchNamespaceException(ident.namespace())
    // A pre-existing NON-EMPTY manifest-less dir is some other use of
    // the name (a namespace with content) — refuse rather than convert
    // it into a table. A pre-existing EMPTY dir is the debris of a
    // CREATE that crashed between mkdir and the manifest write; the
    // retry completes it (otherwise the name is bricked: CREATE fails
    // on mkdir forever and DROP won't touch a non-table).
    if (dir.isDirectory &&
        Option(dir.listFiles()).getOrElse(Array.empty).nonEmpty)
      throw new IllegalStateException(
        s"cannot create table ${ident.name()}: $dir exists and is not empty")
    if (!dir.isDirectory && !dir.mkdir())
      throw new IllegalStateException(s"cannot create $dir")
    graft.DurableFile.replace(new File(dir, ReplayLog.ManifestName),
      Seq(ReplayLog.committedHeader(System.currentTimeMillis())))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft-replay tables have a fixed schema; ALTER TABLE is not supported")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isLog(dir)) false
    else { graft.operators.Maintenance.deleteRecursively(dir); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = dirOf(from)
    if (!isLog(src)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val dst = dirOf(to)
    if (!dst.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(to.namespace())
    if (!src.renameTo(dst))
      throw new IllegalStateException(s"cannot rename $src to $dst")
  }

  // ---- namespaces -------------------------------------------------------

  private def nsDir(ns: Array[String]): File = ns.foldLeft(root)(new File(_, _))

  override def listNamespaces(): Array[Array[String]] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isLog(f))
      .map(f => Array(f.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = nsDir(namespace)
    if (!d.isDirectory || isLog(d)) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isLog(f))
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = nsDir(namespace)
    namespace.isEmpty || (d.isDirectory && !isLog(d))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsDir(namespace).getPath).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    if (!d.mkdirs() && !d.isDirectory)
      throw new IllegalStateException(s"cannot create namespace dir $d")
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-replay namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory || isLog(d)) false
    else if (cascade) { graft.operators.Maintenance.deleteRecursively(d); true }
    else {
      val empty = Option(d.listFiles()).forall(_.isEmpty)
      if (!empty)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
      d.delete()
    }
  }
}
