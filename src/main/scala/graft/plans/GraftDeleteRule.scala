package graft.plans

import graft.sources.GraftRelation
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** SQL `DELETE FROM t WHERE ...` over graft tables. Spark parses DELETE
  * for every table but only executes it for v2 sources — a v1 relation
  * dies in CheckAnalysis. This resolution rule intercepts the analyzed
  * `DeleteFromTable` whose target is a [[GraftRelation]] (a catalog table
  * created with `USING graft`, or a path-based temp view over one) before
  * that check and lowers it to [[GraftDeleteCommand]], which runs the
  * copy-on-write `ManifestTable.delete`: only files holding matching rows
  * rewrite, untouched files carry into the new snapshot byte-identical,
  * prior versions stay readable (time travel), and the whole change is
  * one atomic manifest publish.
  *
  * Scope: conditions containing subqueries are left alone (the check
  * then fails them loudly as before) — a DELETE ... IN (SELECT ...) needs
  * a join-shaped rewrite, not a filter pushed at a snapshot read.
  */
object GraftDeleteRule extends Rule[LogicalPlan] {

  private def graftOf(p: LogicalPlan): Option[GraftRelation] = p match {
    case SubqueryAlias(_, child) => graftOf(child)
    case l: LogicalRelation => l.relation match {
      case g: GraftRelation => Some(g)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // fire only once the WHOLE node is resolved (condition included):
    // lowering earlier would freeze unresolved attributes inside a leaf
    // command, where the analyzer can never reach them again
    case d @ DeleteFromTable(table, condition)
        if d.resolved &&
          !condition.exists(_.isInstanceOf[SubqueryExpression]) =>
      graftOf(table) match {
        case Some(rel) => GraftDeleteCommand(rel.tablePath, condition)
        case None => plan
      }
    case _ => plan
  }
}

/** Runnable form of the lowered DELETE. The condition re-anchors on the
  * snapshot `ManifestTable.delete` reads by attribute NAME (the analyzed
  * expression's ids belong to the relation instance the rule saw, not the
  * fresh read) — sound because a graft snapshot read exposes exactly the
  * table's columns, so names are unambiguous.
  *
  * The encoding follows the session's one DML knob,
  * `spark.graft.dml.mode` (`ManifestTable.DmlModeKey`), read up front so
  * a mistyped value fails before any work: `cow` (the default) rewrites
  * the touched files (`ManifestTable.delete`); `mor` and `eq` record the
  * deleted rows' positions as deletion vectors with no file rewrite
  * (`ManifestTable.deleteVectorized`) — a DELETE must read the rows it
  * matches, so positions are the cheapest removal eq can record too,
  * exactly as for UPDATE. Both land on identical visible rows through
  * the same landing step; the knob chooses the write-amplification trade.
  */
case class GraftDeleteCommand(path: String, condition: Expression)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val byName = condition.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
    val pred = org.apache.spark.sql.graft.bridge.toColumn(byName)
    val table = graft.sources.ManifestTable
    if (table.dmlMode(spark) == "cow") table.delete(spark, path, pred): Unit
    else table.deleteVectorized(spark, path, pred): Unit
    // same invalidation as GraftRelation.insert: cached catalog relations
    // pin their snapshot; the next query must re-resolve to a fresh one
    spark.sessionState.catalog.invalidateAllCachedTables()
    Nil
  }
}
