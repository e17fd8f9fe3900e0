package graftbench

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The spans a query goes through: frame building (analysis, and the
  * table's own `toDF` as a child), physical planning, execution.
  */
final class Ops(rec: Recorder, ls: LayerStats) {
  def collect(df: => DataFrame): Array[Row] = {
    val d = rec.span("spark", "frame")(df)
    rec.span("spark", "plan")(d.queryExecution.executedPlan)
    val rows = rec.span("spark", "exec")(d.collect())
    ls.executed(d)
    rows
  }

  /** The table handle's current frame (snapshot read and scan set-up). */
  def toDF(t: GraftTable): DataFrame = rec.span("table", "toDF")(t.toDF)

  /** In traced rounds, times the table's manifest fold on its warm handle. */
  def plan(t: GraftTable): Unit =
    if (rec.traced) rec.span("core", "liveFiles") {
      t.store.latestSnapshot.foreach(t.store.liveFiles)
    }
}

/** Walks physical plans through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper
