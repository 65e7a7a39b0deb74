package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** A long aggregate over a plan, computed by the action that already
  * runs it (an eager checkpoint, a write) instead of by a job of its
  * own:
  *
  * {{{
  * val (counted, rows) = Observed(df, count(lit(1)))
  * p(counted)                 // the checkpoint computes the metric
  * require(rows() > 0, ...)
  * }}}
  *
  * The metric covers exactly the rows that reach the observation
  * point. Read it only after that action has returned: the value
  * arrives through the session's listener bus, so the read waits for
  * it, and fails after ten minutes rather than block forever on a plan
  * whose action never ran. */
object Observed {
  private val patience = 10.minutes

  def apply(df: DataFrame, metric: Column): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, metric.as("value")),
      () => Await.result(obs.future, patience).getLong(0))
  }
}
