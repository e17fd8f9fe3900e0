package graft.spark.v2

import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import java.util

/** Session-catalog wrapper (reference: SparkGenericCatalog.java — Spark's
  * `spark_catalog` replaced by a catalog that serves graft tables natively
  * and DELEGATES everything else to the built-in session catalog). Register
  * with:
  *
  * {{{
  * spark.sql.catalog.spark_catalog = graft.spark.v2.GraftSessionCatalog
  * }}}
  *
  * `CREATE TABLE ... USING graft` then lives in the session catalog's own
  * metastore (listable, droppable, default-located under the warehouse dir)
  * while reads/writes/row-level commands resolve through [[GraftSparkTable]];
  * parquet/csv/other-provider tables pass through untouched.
  */
class GraftSessionCatalog extends DelegatingCatalogExtension {

  private def spark: SparkSession = SparkSession.active

  private def isGraftProvider(properties: util.Map[String, String]): Boolean =
    Option(properties.get(TableCatalog.PROP_PROVIDER)).exists(_.equalsIgnoreCase("graft"))

  /** The metastore-recorded location of a table (works for both managed
    * defaults and explicit LOCATION clauses).
    */
  private def locationOf(t: Table): Option[String] =
    Option(t.properties().get(TableCatalog.PROP_LOCATION))

  override def loadTable(ident: Identifier): Table = {
    val t = super.loadTable(ident)
    val provider = Option(t.properties().get(TableCatalog.PROP_PROVIDER))
    if (provider.exists(_.equalsIgnoreCase("graft"))) {
      val loc = locationOf(t).getOrElse(
        throw new IllegalStateException(s"graft table $ident has no location"))
      // `CREATE TABLE ... USING graft` records the metastore entry through
      // the delegate session catalog, which cannot lay the table down —
      // materialize the graft layout from that entry on first access
      if (!GraftTable.exists(spark, loc)) materialize(t, loc)
      GraftSparkTable(spark, GraftTable.load(spark, loc), ident)
    } else t
  }

  private def materialize(t: Table, loc: String): Unit = {
    import scala.collection.JavaConverters._
    val props = t.properties().asScala.toMap
    val partitionKeys = t.partitioning().toSeq.collect {
      case tr if tr.name() == "identity" && tr.references().length == 1 =>
        tr.references()(0).fieldNames().mkString(".")
    }
    // `CREATE TABLE ... USING graft OPTIONS (...)` arrives through the V1
    // path with each option recorded under the "option." property prefix —
    // honor them exactly like TBLPROPERTIES instead of silently dropping
    // them (an OPTIONS-declared primary-key table materializing as a plain
    // append table would change write/read semantics with no error)
    val fromOptions = props.collect {
      case (k, v) if k.length > TableCatalog.OPTION_PREFIX.length &&
          k.startsWith(TableCatalog.OPTION_PREFIX) =>
        k.substring(TableCatalog.OPTION_PREFIX.length) -> v
    }
    val merged = fromOptions ++ props // TBLPROPERTIES win on a key collision
    val primaryKeys = merged.get("primary-key").toSeq.flatMap(graft.core.TableSchema.columnList)
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      "primary-key", "path", "transient_lastDdlTime")
    val options = (merged -- reserved)
      .filterNot { case (k, _) => k.startsWith("option.") || k.startsWith("spark.sql.") }
    GraftTable.create(spark, loc, t.schema(),
      partitionKeys, primaryKeys, options)
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val t = super.loadTable(ident)
    if (Option(t.properties().get(TableCatalog.PROP_PROVIDER))
        .exists(_.equalsIgnoreCase("graft"))) {
      val loc = locationOf(t).get
      val gt = GraftTable.load(spark, loc)
      val snap = version.toLongOption match {
        case Some(id) => gt.store.readSnapshot(id)
        case None => gt.store.readTag(version)
      }
      GraftSparkTable(spark, gt, ident, Some(snap))
    } else super.loadTable(ident, version)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (!isGraftProvider(properties)) return super.createTable(ident, schema, partitions, properties)
    // register in the session metastore first (gives the default managed
    // location + catalog listing), then lay the graft table down at that
    // location
    super.createTable(ident, schema, partitions, properties)
    val registered = super.loadTable(ident)
    val loc = locationOf(registered).getOrElse(
      throw new IllegalStateException(s"no location assigned for $ident"))
    try {
      val partitionKeys = partitions.toSeq.map { t =>
        if (t.name() == "identity" && t.references().length == 1)
          t.references()(0).fieldNames().mkString(".")
        else throw new UnsupportedOperationException(s"partition transform $t")
      }
      import scala.collection.JavaConverters._
      val props = properties.asScala.toMap
      val primaryKeys = props.get("primary-key").toSeq.flatMap(graft.core.TableSchema.columnList)
      val reserved = Set("primary-key", "provider", "owner", "location",
        TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL)
      val t = GraftTable.create(spark, loc, schema, partitionKeys, primaryKeys,
        props -- reserved -- reserved.map(_.toLowerCase))
      GraftSparkTable(spark, t, ident)
    } catch {
      case e: Throwable => super.dropTable(ident); throw e
    }
  }

  // FunctionCatalog: scans of graft PK tables report a bucket(n, pk)
  // KeyGroupedPartitioning whose function resolves through the TABLE'S
  // catalog — without this override, Spark delegates to the metastore
  // function registry, which rejects the transform's empty namespace and
  // fails EVERY select on a bucketed graft table in spark_catalog once
  // `spark.sql.sources.v2.bucketing.enabled` is on (the Spark 4 default).
  // Everything that is not the graft bucket function still delegates.
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name == "bucket") GraftBucketFunction
    else super.loadFunction(ident)
}
