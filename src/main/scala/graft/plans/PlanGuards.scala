package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-hygiene guards (reference scope: none — beyond-reference; the
  * `SparkSessionExtensions` plugin tier the function registry already
  * uses, applied to PLANS instead of expressions). On a shared
  * 1000-executor platform the two queries that take a cluster down are
  * almost never exotic — they are the accidental cartesian product (a
  * forgotten join condition multiplies two fact tables) and the
  * unpartitioned window (every row of a 100 TB table funneled through
  * ONE task). Both are visible in the plan before a single byte is
  * read, so a platform should refuse them at planning time, not page
  * someone at 3am. These rules do exactly that.
  *
  * Two tiers, matching where each smell is reliably visible:
  * - The GLOBAL-WINDOW guard is an analysis check rule (the Window
  *   node's empty partitionSpec is final at analysis).
  * - The CARTESIAN guard is an optimizer rule: only there are join
  *   strategy hints normalized onto the Join node itself, and only
  *   there is the plan clear of the analyzer's INTERNAL condition-less
  *   scaffolding (`Dataset.join(using)` analyzes a bare Inner join to
  *   disambiguate columns before attaching the real condition — an
  *   analysis-time guard would reject every USING join).
  *
  * Deliberate uses stay expressible: a scalar cross join (the
  * library's own idiom `crossJoin(broadcast(oneRowAgg))`) passes
  * because the broadcast HINT marks intent, and session-level
  * opt-outs (`spark.graft.guards.allowCartesian` /
  * `allowGlobalWindow`) unlock a console session that genuinely needs
  * a global window over a provably tiny funnel.
  *
  * Wiring: `graft.Session.build(…, guards = true)` installs them on
  * the CLI session (`Main`, `Demo`); on a cluster,
  * `spark.sql.extensions=graft.plans.GraftGuards`. A violation throws
  * [[PlanGuards.GuardViolation]] naming the offending node.
  */
class GraftGuards extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectCheckRule(spark => PlanGuards.checkWindows(spark))
    ext.injectOptimizerRule(spark => new PlanGuards.CartesianGuard(spark))
  }
}

object PlanGuards {

  val AllowCartesianKey = "spark.graft.guards.allowCartesian"
  val AllowGlobalWindowKey = "spark.graft.guards.allowGlobalWindow"

  final class GuardViolation(msg: String) extends RuntimeException(msg)

  private def flag(spark: SparkSession, key: String): Boolean =
    spark.conf.getOption(key).exists(_.equalsIgnoreCase("true"))

  /** Analysis check: refuse window functions with no PARTITION BY. */
  def checkWindows(spark: SparkSession)(plan: LogicalPlan): Unit =
    if (!flag(spark, AllowGlobalWindowKey)) plan.foreach {
      case w: Window if w.partitionSpec.isEmpty =>
        throw new GuardViolation(
          s"[graft.guards] window function with no PARTITION BY — every " +
            s"row funnels through one task at any scale. Partition the " +
            s"window, reduce to a provably tiny frame first, or set " +
            s"$AllowGlobalWindowKey=true for this session.\n" +
            s"${w.simpleString(3)}")
      case _ =>
    }

  /** Optimizer-tier check: refuse condition-less inner/cross joins
    * carrying no join-strategy hint on either side. Pure check — the
    * plan is returned unchanged, so the rule is trivially idempotent
    * inside the optimizer's fixed-point batch.
    */
  final class CartesianGuard(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (!flag(spark, AllowCartesianKey)) plan.foreach {
        case j @ Join(_, _, Cross | Inner, None, hint)
            if hint.leftHint.flatMap(_.strategy).isEmpty
              && hint.rightHint.flatMap(_.strategy).isEmpty =>
          throw new GuardViolation(
            s"[graft.guards] condition-less ${j.joinType} join with no " +
              s"broadcast hint — an accidental cartesian product " +
              s"multiplies both inputs. Add a join condition, broadcast() " +
              s"the scalar side, or set $AllowCartesianKey=true for this " +
              s"session.\n${j.simpleString(3)}")
        case _ =>
      }
      plan
    }
  }
}
