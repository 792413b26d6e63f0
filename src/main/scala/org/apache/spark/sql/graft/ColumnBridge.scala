package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ catalyst-Expression converters —
  * the standard extension-point shim for libraries that ship native
  * Catalyst expressions (Spark 4 moved `Column` to a connect-agnostic API;
  * the classic converters live behind `private[sql]`). This is the only
  * file in the repo that reaches into the spark package namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the `private[sql]` streaming execution internals: the last
  * micro-batch's EXECUTED physical plan of a finished StreamingQuery.
  * Lets the plan audit budget the streaming twins' shuffles exactly like
  * the batch queries (round-9 ask #8) — `IncrementalExecution` is the
  * real per-batch plan, including the state-store operators and whatever
  * Exchanges feed them.
  */
object StreamingBridge {
  def lastExecutedPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString)
      case s: org.apache.spark.sql.execution.streaming.runtime.StreamExecution =>
        Option(s.lastExecution).map(_.executedPlan.toString)
      case _ => None
    }
}

/** Bridge to `private[sql] Dataset.ofRows` — lets the plan audit re-wrap a
  * logical subtree (e.g. the build side of a whitelisted non-equi join) as
  * a DataFrame and count it, asserting the broadcast relation really is
  * the ≤16-row centroid / demo set rather than exempting a whole query.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge to the `private[spark]` listener-bus drain: block until every
  * queued listener event has been delivered. graft.Bench attributes
  * executor CPU time to individual queries by snapshotting a
  * task-metrics listener's counter around each timed run — but listener
  * delivery is ASYNC (events post to the bus and drain on their own
  * thread), so without a drain barrier the tail of query N's task-end
  * events lands in query N+1's CPU window. Best-effort by design: a
  * drain that exceeds the timeout mis-attributes a few task-ends to the
  * neighbor query rather than failing the whole benchmark.
  */
object ListenerBridge {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext,
                     timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** Bridge to the `private[sql]` compilation-error factory, so the
  * SQL-registered graft functions raise the SAME AnalysisException
  * (error class WRONG_NUM_ARGS) as every built-in on a wrong-arity call —
  * a raw `require` surfaced as IllegalArgumentException, which tooling
  * that catches AnalysisException treats as an internal failure.
  */
object ErrorsBridge {
  def wrongNumArgs(name: String, expected: Int, actual: Int): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected.toString), actual)
}
