package graft.spark.v2

import graft.table.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.collection.JavaConverters._

/** Filesystem-backed DSv2 catalog (reference: SparkCatalog.java:61 over
  * FileSystemCatalog): `<warehouse>/<namespace>/<table>` directories, each
  * a graft table. Register with
  * `spark.sql.catalog.graft = graft.spark.v2.GraftCatalog` and
  * `spark.sql.catalog.graft.warehouse = <dir>`, then plain SQL works:
  * CREATE/ALTER/DROP TABLE, SELECT, INSERT [OVERWRITE], DELETE, TRUNCATE.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {

  // FunctionCatalog: the bucket transform reported by scans resolves here,
  // enabling storage-partitioned joins between same-bucket-spec tables
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private var catalogName: String = _
  protected var warehouse: Path = _
  protected var user: String = "anonymous"
  protected var password: String = ""
  protected def spark: SparkSession = SparkSession.active
  protected def fs = warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse"))
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse"))
    user = Option(options.get("user")).getOrElse("anonymous")
    password = Option(options.get("password")).getOrElse("")
    fs.mkdirs(warehouse)
  }

  // ---------------- privileges (reference: PrivilegedCatalog.java) -------

  /** File-based grants under `<warehouse>/.privilege/`; a no-op until
    * `CALL sys.init_file_based_privilege(...)` creates the state file.
    * Identity comes from the catalog options `user` / `password`
    * (reference passes the same through catalog options).
    */
  def privileges: graft.core.PrivilegeManager =
    new graft.core.PrivilegeManager(warehouse, spark.sessionState.newHadoopConf())

  def currentUser: String = user

  /** Authenticate the catalog's configured identity (a no-op until
    * privileges are initialized). Privilege procedures MUST call this
    * before dispatch: `PrivilegeManager.mutate` only checks that the
    * actor is an admin by NAME, so skipping authentication would let any
    * session claiming `user=root` administer grants without the password.
    */
  def authenticateCurrentUser(): Unit = privileges.authenticate(user, password)

  protected def checked(priv: String, ident: Identifier): Unit = {
    val p = privileges
    p.authenticate(user, password)
    p.check(user, priv, ident.namespace().mkString("."), ident.name())
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  protected def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, s))

  protected def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())

  // ---------------- namespaces ----------------

  override def listNamespaces(): Array[Array[String]] = {
    val ls = fs.listStatus(warehouse).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName))
    if (ls.exists(_.sameElements(Array("default")))) ls
    else ls :+ Array("default")
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default")) ||
      fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = privileges
    p.authenticate(user, password)
    p.check(user, graft.core.Privilege.CreateDatabase, namespace.mkString("."))
    if (namespaceExists(namespace) && !namespace.sameElements(Array("default")))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = privileges
    p.authenticate(user, password)
    p.check(user, graft.core.Privilege.DropDatabase, namespace.mkString("."))
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace not empty: ${namespace.mkString(".")}")
    fs.delete(nsPath(namespace), true)
  }

  // ---------------- tables ----------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) {
      if (namespace.sameElements(Array("default"))) return Array.empty
      throw new NoSuchNamespaceException(namespace.toSeq)
    }
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => GraftTable.exists(spark, new Path(p, n).toString))
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(spark, tablePath(ident).toString)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftSparkTable(spark, GraftTable.load(spark, tablePath(ident).toString), ident,
      acl = priv => checked(priv, ident))
  }

  /** Time travel: SELECT ... VERSION AS OF <snapshotId|tagName|branchName>.
    * A tag wins over a same-named branch; a branch resolves to its head
    * snapshot (branch snapshots share manifests/data with main).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident).toString)
    val snap = version.toLongOption match {
      case Some(id) => t.store.readSnapshot(id)
      case None if t.store.listTags.exists(_._1 == version) => t.store.readTag(version)
      case None if t.store.listBranches.contains(version) =>
        t.store.ofBranch(version).latestSnapshot.getOrElse(
          throw new IllegalArgumentException(s"branch $version has no snapshot"))
      case None => t.store.readTag(version) // fall through for the error message
    }
    GraftSparkTable(spark, t, ident, Some(snap))
  }

  /** Time travel: SELECT ... TIMESTAMP AS OF — latest snapshot at or before. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident).toString)
    val tsMs = timestamp / 1000 // Spark passes micros
    val snap = t.store.snapshotAtOrBefore(tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or before ${new java.sql.Timestamp(tsMs)}"))
    GraftSparkTable(spark, t, ident, Some(snap))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    checkCreateTable(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    doCreateTable(ident, schema, partitions, properties)
  }

  protected def checkCreateTable(ident: Identifier): Unit = {
    val p = privileges
    p.authenticate(user, password)
    p.check(user, graft.core.Privilege.CreateTable, ident.namespace().mkString("."))
  }

  /** Create without the registry duplicate check — subclasses whose
    * registry commit IS the atomic duplicate check (HMS) register first and
    * then call this (`GraftTable.create`'s schema-exists require remains
    * the filesystem backstop).
    */
  protected def doCreateTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    val partitionKeys = partitions.toSeq.map { t =>
      if (t.name() == "identity" && t.references().length == 1)
        t.references()(0).fieldNames().mkString(".")
      else throw new UnsupportedOperationException(s"partition transform $t " +
        "(only identity partitioning; bucketing comes from the 'bucket' property)")
    }
    val primaryKeys = props.get("primary-key").toSeq.flatMap(graft.core.TableSchema.columnList)
    val reserved = Set("primary-key", "provider", "owner", "location",
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL)
    val t = GraftTable.create(spark, tablePath(ident).toString, schema,
      partitionKeys, primaryKeys, props -- reserved -- reserved.map(_.toLowerCase))
    GraftSparkTable(spark, t, ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    checked(graft.core.Privilege.AlterTable, ident)
    val t = GraftTable.load(spark, tablePath(ident).toString)
    // TableChange fieldNames() are PATHS: ("person","city") addresses a
    // field inside a struct — joined to the dotted form the evolution API
    // takes (nested children carry their own field ids; SchemaEvolution)
    // ColumnPosition anchors are bare sibling names (same parent as the
    // moved column) — exactly what moveColumnT takes.
    // The whole TableChange batch folds into ONE schema commit (reference:
    // SchemaManager.commitChanges applies the SchemaChange list atomically)
    // so a failure partway through a multi-change ALTER alters nothing.
    import graft.core.TableSchema
    def moveT(path: String,
        pos: TableChange.ColumnPosition): Seq[TableSchema => TableSchema] =
      pos match {
        case _: TableChange.First => Seq(t.moveColumnT(path, None))
        case after: TableChange.After => Seq(t.moveColumnT(path, Some(after.column())))
        case _ => Nil
      }
    val ops: Seq[TableSchema => TableSchema] = changes.toSeq.flatMap {
      case a: TableChange.AddColumn =>
        val path = a.fieldNames().mkString(".")
        t.addColumnT(path, a.dataType(), a.isNullable) +:
          Option(a.position()).toSeq.flatMap(moveT(path, _))
      case r: TableChange.RenameColumn =>
        Seq(t.renameColumnT(r.fieldNames().mkString("."), r.newName()))
      case d: TableChange.DeleteColumn =>
        Seq(t.dropColumnT(d.fieldNames().mkString(".")))
      case u: TableChange.UpdateColumnType =>
        Seq(t.updateColumnTypeT(u.fieldNames().mkString("."), u.newDataType()))
      case n: TableChange.UpdateColumnNullability =>
        Seq(t.updateColumnNullabilityT(n.fieldNames().mkString("."), n.nullable()))
      case c: TableChange.UpdateColumnComment =>
        Seq(t.updateColumnCommentT(c.fieldNames().mkString("."),
          Option(c.newComment()).filter(_.nonEmpty)))
      case p: TableChange.UpdateColumnPosition =>
        moveT(p.fieldNames().mkString("."), p.position())
      case p: TableChange.SetProperty => Seq(t.setOptionT(p.property(), p.value()))
      case p: TableChange.RemoveProperty => Seq(t.removeOptionT(p.property()))
      case other => throw new UnsupportedOperationException(s"ALTER: $other")
    }
    if (ops.nonEmpty) t.evolveBatch(ops)
    GraftSparkTable(spark, GraftTable.load(spark, tablePath(ident).toString), ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    checked(graft.core.Privilege.DropTable, ident)
    if (!tableExists(ident)) return false
    fs.delete(tablePath(ident), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(tablePath(newIdent).getParent)
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename failed: $oldIdent -> $newIdent")
  }
}
