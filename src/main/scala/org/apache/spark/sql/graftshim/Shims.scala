package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4 split `Column` into the
  * connect-agnostic API (a `ColumnNode`) and made the classic
  * converters `private[sql]`; extension libraries bridge from an
  * `org.apache.spark.sql` subpackage — the established pattern for
  * custom-Expression integrations.
  */
object Shims {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Free the storage blocks behind a `localCheckpoint(true)`-ed
    * Dataset. `Dataset.unpersist` only clears CacheManager entries, not
    * the RDD-level cache a local checkpoint lives in — the checkpointed
    * plan is a bare `LogicalRDD` whose RDD must be unpersisted directly.
    * Call ONLY after every consumer of the checkpoint has materialized:
    * the lineage is truncated, so evicted blocks cannot be recomputed.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until every event posted so far has reached the
    * listeners: listener events arrive asynchronously, and the bus is
    * `private[spark]`. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
