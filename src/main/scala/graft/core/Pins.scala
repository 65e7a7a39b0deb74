package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.Shims

/** The one owner of `localCheckpoint` lifetimes. A scope holds the
  * eager checkpoints its body takes and frees them, newest first,
  * when the body exits — normally or by an exception:
  *
  * {{{
  * Pins.scope { p =>
  *   val sh = p(df.select(...))         // pinned until the scope exits
  *   sh.join(...).localCheckpoint(true) // sealed result: reads no pin
  * }
  * }}}
  *
  * A checkpoint truncates lineage, so freeing one under a live
  * consumer loses data. The scope therefore checks its result: a
  * `Dataset` whose analyzed plan still reads a pin the scope is about
  * to free is refused with an `IllegalStateException` naming that pin.
  * The check inspects the plan only and runs no Spark job.
  *
  * Pins may be taken from a streaming `foreachBatch` thread (a lazy
  * set forced inside a micro-batch), so the held list is guarded.
  */
final class Pins private {
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Eager `localCheckpoint(true)` of `df`, owned by this scope. */
  def apply(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Adopt a frame that is already a local checkpoint. */
  def own(df: DataFrame): DataFrame = {
    require(Pins.rddId(df).isDefined,
      "Pins.own takes a local checkpoint; this frame's plan is not a " +
        s"bare LogicalRDD: [${df.columns.mkString(", ")}]")
    held.synchronized(held += df)
    df
  }

  /** Free one pin before the scope exits — for rolling loops whose
    * previous state is superseded once the next one materializes. */
  def release(df: DataFrame): Unit = {
    held.synchronized {
      val i = held.indexWhere(_ eq df)
      require(i >= 0, "Pins.release of a frame this scope does not hold")
      held.remove(i)
    }
    Shims.unpersistLocalCheckpoint(df)
  }

  private def checkResult(result: Any): Unit = result match {
    case ds: Dataset[_] =>
      val reads = ds.queryExecution.analyzed
        .collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet
      held.synchronized(held.zipWithIndex.find { case (h, _) =>
        Pins.rddId(h).exists(reads)
      }).foreach { case (h, i) =>
        throw new IllegalStateException(
          s"Pins.scope result still reads pin ${i + 1} (rdd " +
            s"${Pins.rddId(h).get}, columns [${h.columns.mkString(", ")}]" +
            "), which the scope frees on exit; seal the result with " +
            "localCheckpoint(true) or hold the pin in the caller's scope")
      }
    case _ => ()
  }

  private def close(): Unit = held.synchronized {
    held.reverseIterator.foreach(Shims.unpersistLocalCheckpoint)
    held.clear()
  }
}

object Pins {
  /** Run `body` with a fresh scope; free everything it holds on exit. */
  def scope[T](body: Pins => T): T = {
    val p = new Pins
    try {
      val result = body(p)
      p.checkResult(result)
      result
    } finally p.close()
  }

  /** Whether `df` is a bare local checkpoint — a frame [[Pins.own]]
    * accepts. */
  def isCheckpoint(df: DataFrame): Boolean = rddId(df).isDefined

  private def rddId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }
}
