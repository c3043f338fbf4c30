package graft.plans

import org.apache.spark.sql.{DataFrame, ExperimentalMethods}
import org.apache.spark.sql.catalyst.expressions.AttributeReference

import org.apache.spark.sql.graftshim.ColumnBridge

/** User-facing entry for the custom as-of plan node: resolves the
  * column references against the analyzed children, registers the
  * planner strategy and the filter-pushdown rule once per session
  * (public `spark.experimental` hooks, so no session extension is
  * needed), and returns a DataFrame over the custom logical node.
  */
object AsOfApi {

  def asOfJoinPlanned(left: DataFrame, right: DataFrame, key: String,
                      timeCol: String, idCol: String, payload: String): DataFrame = {
    val spark = left.sparkSession
    install(spark.experimental)
    val lp = ColumnBridge.analyzed(left)
    // rename right columns behind fresh aliases: keeps this node's
    // captured references valid even when left/right share lineage
    // (the analyzer's relation dedup rewrites subtree ids, but alias
    // ids introduced here survive)
    import org.apache.spark.sql.functions.col
    val rp = ColumnBridge.analyzed(
      right.select(right.columns.map(c => col(c).as(s"graft_r_$c")): _*))
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val pay = attr(rp, s"graft_r_$payload")
    val out = AttributeReference(s"${payload}_asof", pay.dataType, nullable = true)()
    val node = AsOfJoinNode(lp, rp,
      attr(lp, key), attr(rp, s"graft_r_$key"),
      attr(lp, timeCol), attr(rp, s"graft_r_$timeCol"),
      attr(lp, idCol), attr(rp, s"graft_r_$idCol"), pay, out)
    ColumnBridge.ofRows(spark, node)
  }

  /** Appends the strategy and the rule to the session's hooks at most
    * once. The check and the append hold the session's
    * `ExperimentalMethods` lock, so concurrent callers can neither
    * both append nor drop each other's append. */
  private def install(ex: ExperimentalMethods): Unit =
    ex.synchronized {
      if (!ex.extraStrategies.contains(AsOfStrategy))
        ex.extraStrategies = ex.extraStrategies :+ AsOfStrategy
      if (!ex.extraOptimizations.contains(PushFilterThroughAsOf))
        ex.extraOptimizations = ex.extraOptimizations :+ PushFilterThroughAsOf
    }
}
