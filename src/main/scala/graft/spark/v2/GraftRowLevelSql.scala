package graft.spark.v2

import graft.table.GraftTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.SparkShims

/** Row-level SQL that Spark's own rewrites do not plan for graft tables.
  * UPDATE and MERGE on primary-key tables are not here: their relation
  * supports Spark's delta protocol ([[GraftDeltaSparkTable]]), so Spark
  * plans them as a WriteDelta itself.
  *
  * The rule replaces a resolved UpdateTable over an append table with an
  * eager copy-on-write command (reference: the analysis-rule approach of
  * paimon-spark, UpdatePaimonTableCommand.scala:38). Resolved attribute
  * references are rebound BY NAME against the table's frames, which is
  * exact because they expose the table schema unchanged.
  */
case class GraftRowLevelSqlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftOf(plan: LogicalPlan): Option[GraftTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSparkTable] =>
        r.table.asInstanceOf[GraftSparkTable].table
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftOf(target).exists(!_.isPrimaryKeyed) =>
      GraftUpdateCommand(graftOf(target).get, assignments, condition)
    // dynamic INSERT OVERWRITE (spark.sql.sources.partitionOverwriteMode =
    // dynamic): Spark has no V1 fallback for OverwritePartitionsDynamicExec,
    // so — like the reference's PaimonDynamicPartitionOverwriteCommand.scala
    // :42 — the logical node is replaced with an eager command driving the
    // library's dynamic overwrite (replace exactly the partitions present
    // in the new data, one OVERWRITE commit)
    case o: OverwritePartitionsDynamic
        if o.query.resolved && graftOf(o.table).isDefined =>
      GraftDynamicOverwriteCommand(graftOf(o.table).get, o.query)
    case _ => plan
  }
}

/** INSERT OVERWRITE under dynamic partition-overwrite mode on a Graft
  * table. The resolved query already projects to the table schema (Spark's
  * output resolution), so the command only materializes and hands off.
  */
case class GraftDynamicOverwriteCommand(
    table: GraftTable,
    query: LogicalPlan) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    table.overwrite(SparkShims.ofRows(spark, query), dynamic = true)
    Nil
  }
}

/** UPDATE t SET ... WHERE ... over a Graft append table. */
case class GraftUpdateCommand(
    table: GraftTable,
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  private def byName(e: Expression) = SparkShims.column(e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  })

  override def run(spark: SparkSession): Seq[Row] = {
    // nested assignment keys (SET person.age = ...) arrive as
    // GetStructField chains — emit the dotted path; RowLevelOps folds it
    // into a whole-root struct rebuild
    def keyName(e: Expression): String = e match {
      case k: AttributeReference => k.name
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        keyName(g.child) + "." + g.extractFieldName
      case other => other.sql
    }
    val sets = assignments.map(a => keyName(a.key) -> byName(a.value)).toMap
    table.update(condition.map(byName)
      .getOrElse(org.apache.spark.sql.functions.lit(true)), sets)
    Nil
  }
}
