package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{FloatDot, IntervalPairStats, WindowMin}

/** SparkSessionExtensions installer for the engine's custom Catalyst
  * pieces — the build-time injection path (the runtime path is the
  * `register` method on each function object, for an existing session):
  *
  *   graft.Session.local(4, "spark.sql.extensions" -> classOf[GraftExtensions].getName)
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * The codegen expressions are injected: `graft_dot` (float-array dot
  * product), `graft_window_min` (sliding-window minima, the winnowing
  * kernel) and `graft_interval_pairs`. Per SURVEY.md §4.2, every operator
  * the reference implies is expressible with built-in Catalyst plans, so
  * no custom Rule[LogicalPlan] is injected — this class is the place one
  * would plug in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatDot.build(children)))
    e.injectFunction((
      FunctionIdentifier("graft_window_min"),
      new ExpressionInfo(classOf[WindowMin].getName, "graft_window_min"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WindowMin.build(children)))
    e.injectFunction((
      FunctionIdentifier("graft_interval_pairs"),
      new ExpressionInfo(classOf[IntervalPairStats].getName, "graft_interval_pairs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        IntervalPairStats.build(children)))
  }
}
