package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, ExpressionSet, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}

/** A stored generation known to hold each `keys` tuple at most once —
  * the reference merges a node's fragments at write time
  * (NodeAttrIndex.cs:183-232, a read-modify-write with `Distinct`), so
  * a read never deduplicates again. graft merges on read instead; this
  * marker tells the planner which generation that merge already ran
  * over (only [[graft.api.Engine]]'s own compactions are marked).
  *
  * The marker only declares `distinctKeys`; it changes no rows and
  * plans as its child. Its `references` are the child's whole output,
  * so column pruning never drops a key column from below it.
  */
case class DistinctGeneration(keys: Seq[String], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet
  override lazy val distinctKeys: Set[ExpressionSet] = {
    val ks = child.output.filter(a => keys.contains(a.name))
    if (ks.size == keys.size) Set(ExpressionSet(ks)) else Set.empty
  }
  override protected def withNewChildInternal(c: LogicalPlan)
      : DistinctGeneration = copy(child = c)
}

object DistinctGeneration {
  /** True when `spark.sql.extensions` (the value given) loads
    * [[graft.GraftExtensions]], whose strategy plans the marker — a
    * session without it has no plan for one. */
  def planned(extensions: Option[String]): Boolean =
    extensions.exists(_.split(',').map(_.trim)
      .contains(classOf[graft.GraftExtensions].getName))

  /** `df` marked distinct on `keys`; unmarked if its session could not
    * plan the marker. The caller vouches that the keys are distinct. */
  def mark(df: DataFrame, keys: Seq[String]): DataFrame =
    if (!planned(df.sparkSession.conf.getOption("spark.sql.extensions"))) df
    else org.apache.spark.sql.GraftInternals.ofRows(df.sparkSession,
      DistinctGeneration(keys, df.queryExecution.logical))
}

/** Plans the marker as its child, and an `Aggregate` whose child is
  * already distinct on a subset of its grouping as a `ProjectExec`: each
  * group then holds one row, and over one row `min(x) = x`. Only plain
  * `min`s qualify as its aggregate functions (Complete, no FILTER, not
  * DISTINCT); an empty grouping never does (a global aggregate over no
  * rows still emits one). A strategy rather than an optimizer rule: a
  * literal id filter empties the pending put branches of the merge
  * union only in the optimizer's late LocalRelation batch, after
  * injected rules ran. */
class DistinctGenerationStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DistinctGeneration(_, child) => planLater(child) :: Nil
    case a: Aggregate if a.groupingExpressions.nonEmpty && !a.isStreaming &&
        a.child.distinctKeys.exists(
          _.subsetOf(ExpressionSet(a.groupingExpressions))) &&
        a.aggregateExpressions.forall(_.collect {
          case e: AggregateExpression => e
        }.forall(plainMin)) =>
      // the rest of the output is over grouping columns (a collapsed
      // projection may alias or extract from them), the same per row
      val perRow = a.aggregateExpressions.map(_.transformDown {
        case AggregateExpression(Min(x), _, _, _, _) => x
      }.asInstanceOf[NamedExpression])
      ProjectExec(perRow, planLater(a.child)) :: Nil
    case _ => Nil
  }

  private def plainMin(e: AggregateExpression): Boolean = e match {
    case AggregateExpression(_: Min, Complete, false, None, _) => true
    case _ => false
  }
}
