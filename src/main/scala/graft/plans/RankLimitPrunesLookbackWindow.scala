package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Extends Spark's `InferWindowGroupLimit` (SPARK-37099) to MIXED windows.
  *
  * Spark inserts a [[WindowGroupLimit]] below a Window only when EVERY
  * window expression is rank-like, so the common analytics shape
  *
  * {{{
  *   ... window(sum(x) over (partition p order o rows -2..current) as s,
  *              row_number() over (partition p order o)       as rn)
  *   ... filter rn <= k
  * }}}
  *
  * (the PRQL `group (sort | window rolling:n | derive row_number)` +
  * `filter rn <= k` lowering — q10 et al.) sorts and windows the WHOLE
  * relation and filters after. But the filter's rank bound still licenses
  * pruning: `rank <= k` retains a PREFIX of every group in window order,
  * and a window expression whose frame never looks PAST the current row
  * (RowFrame, upper bound <= CURRENT ROW) reads only rows that are
  * themselves inside that prefix — so every retained row's frame contents,
  * and therefore every window value the filter can ever see, are identical
  * with or without the pruning. Forward-looking frames (lead,
  * unbounded-following aggregates) and RANGE frames (a tie-partner beyond
  * the rank bound can sit inside a range frame) disqualify the rewrite.
  *
  * The inserted node is Spark's own WindowGroupLimit, which plans as a
  * Partial group-limit BEFORE the window exchange and a Final one after —
  * per-group top-k rows cross the shuffle instead of every row.
  *
  * Gated like `InferWindowGroupLimit`: `spark.sql.optimizer.
  * windowGroupLimitThreshold` = -1 disables the rule, and a limit above
  * the threshold is not inserted. The rule runs in the fixed-point
  * operator batch, so a WindowGroupLimit it inserted earlier may sit
  * under a Project by the next iteration; that still counts as present.
  */
object RankLimitPrunesLookbackWindow extends Rule[LogicalPlan] {

  /** frame upper bound never past the current row */
  private def lookbackFrame(frame: Expression): Boolean = frame match {
    case SpecifiedWindowFrame(RowFrame, _, CurrentRow) => true
    case SpecifiedWindowFrame(RowFrame, _, upper) if upper.foldable =>
      upper.eval() match {
        case i: Int  => i <= 0
        case l: Long => l <= 0L
        case _       => false
      }
    case _ => false
  }

  /** the function must read ONLY its frame: aggregates and offset
    * functions do; rank-like read the prefix their frame spans; but
    * SizeBasedWindowFunctions (ntile, percent_rank, cume_dist) read the
    * TOTAL partition row count regardless of frame — pruning would
    * change them, so anything not whitelisted disqualifies the plan */
  private def frameBoundedFn(fn: Expression): Boolean = fn match {
    case _: SizeBasedWindowFunction => false
    case _: Rank | _: DenseRank | _: RowNumber => true
    case _: aggregate.AggregateExpression => true
    case _: OffsetWindowFunction => true
    case _ => false
  }

  private def lookbackOnly(ne: NamedExpression): Boolean = {
    val wes = ne.collect { case we: WindowExpression => we }
    wes.nonEmpty && wes.forall(we =>
      frameBoundedFn(we.windowFunction) &&
        lookbackFrame(we.windowSpec.frameSpecification))
  }

  private def isRankLike(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(_: Rank | _: DenseRank | _: RowNumber, _), _) => true
    case _ => false
  }

  /** a WindowGroupLimit directly below, or below Projects only */
  @scala.annotation.tailrec
  private def limited(p: LogicalPlan): Boolean = p match {
    case _: WindowGroupLimit => true
    case Project(_, child) => limited(child)
    case _ => false
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case filter @ Filter(cond, window @ Window(exprs, part, order, child, _))
        if order.nonEmpty && !limited(child) &&
          exprs.exists(isRankLike) && !exprs.forall(isRankLike) &&
          exprs.forall(lookbackOnly) =>
      val limits = exprs.flatMap {
        case alias @ Alias(WindowExpression(
            rankFn @ (_: Rank | _: DenseRank | _: RowNumber), _), _) =>
          InferWindowGroupLimit.extractLimits(cond, alias.toAttribute)
            .map(limit => (limit, rankFn))
        case _ => None
      }
      // limits are >= 1, so a threshold of -1 admits none
      limits.filter(_._1 >= 1).sortBy(_._1).headOption match {
        case Some((limit, rankFn)) if limit <= conf.windowGroupLimitThreshold =>
          filter.copy(child = window.copy(child =
            WindowGroupLimit(part, order, rankFn, limit, child)))
        case _ => filter
      }
  }
}
