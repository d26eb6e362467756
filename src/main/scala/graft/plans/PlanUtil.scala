/** Plan-level helpers that need the private[sql] surface — same
  * placement rationale as AsOfJoin/VecExpressions.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

object PlanUtil {

  /** Re-wrap an already-materialized frame (a localCheckpoint) in a
    * fresh LogicalRDD carrying DEFAULT stats, severing the estimated
    * size-in-bytes lineage.
    *
    * Why this exists: `Dataset.localCheckpoint` rewrites the new
    * LogicalRDD's stats from the pre-checkpoint plan
    * (`LogicalRDD.rewriteStatsAndConstraints`), and the size-only
    * estimator multiplies child sizes at every inner/outer join
    * (`SizeInBytesOnlyStatsPlanVisitor.visitJoin` → `default`). A
    * synchronous fixpoint loop that checkpoints every round therefore
    * SQUARES the BigInt estimate per round — after ~20 rounds the
    * stats are million-digit integers and each subsequent checkpoint
    * burns minutes of driver CPU in BigInteger Toom-Cook
    * multiplication (measured: the 32-round trussness peel at sf0.001
    * spent 20+ minutes in stats estimation; with the reset it runs in
    * seconds). Loops that broadcast by explicit hint lose nothing: the
    * default stats only matter for auto-broadcast decisions the loop
    * never delegates to the optimizer (checkpointed LogicalRDDs carry
    * no row counts either way — broadcast decisions in loops are
    * driver-measured counts).
    */
  def resetStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession.asInstanceOf[ClassicSession]
    session.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** SQL `text` run over the given frames, each bound to its name: a
    * one-part table name that `frames` binds reads that frame's plan
    * (in FROM clauses, CTE bodies and IN/EXISTS/scalar/LATERAL subqueries
    * alike), so the query never looks at the session catalog and leaves
    * nothing in it. Unbound names pass through, so CTE names resolve as
    * CTEs. A frame referenced twice is re-instanced by the analyzer.
    */
  def bind(s: SparkSession, text: String)(frames: (String, DataFrame)*): DataFrame = {
    val byName = frames.toMap
    def bound(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _) if byName.contains(name) =>
        SubqueryAlias(name, byName(name).queryExecution.analyzed)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, d, depth) =>
          (n, bound(d).asInstanceOf[SubqueryAlias], depth) })
    }
    val session = s.asInstanceOf[ClassicSession]
    Dataset.ofRows(session, bound(session.sessionState.sqlParser.parsePlan(text)))
  }
}
