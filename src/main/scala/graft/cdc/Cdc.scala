package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diff-and-log CDC engine — the reference system's signature pattern.
  *
  * Every pipeline step in the reference funnels through one generic
  * helper set: compare the original frame against the transformed frame
  * field by field (null-safe), emit one audit entry per changed field,
  * bump a per-row modification counter by the number of changed fields,
  * and write back only the changed rows
  * (ref `src/tagminder/core/tm_changes.py:41-177`, update-SQL builder
  * `src/tagminder/core/tm_db.py:580-596`, null-safe change expression
  * `scripts/pipeline/20-normalize-dates.py:230-237`).
  *
  * Spark-first re-expression: a single equi-join on the key plus pure
  * Column expressions (null-safe `<=>`, `explode` of per-field structs) —
  * whole-stage codegen end to end, no UDFs, no driver-side row loops.
  * At scale the join is a co-partitioned self-style join (orig and next
  * usually share lineage, so Catalyst reuses the exchange), and the
  * changelog is an append-only sink.
  */
object Cdc {

  /** Values are compared and logged as strings — the reference's core
    * table is stringly typed (`tags2db.py:645-650`), and its changelog
    * stores old/new as TEXT (`tm_db.py:142-151`).
    *
    * @return (changedRows, changelog)
    *   changedRows: key, new values for `cols`, and `__sqlmodded` =
    *     number of changed fields (ref `NULLIF(?,0)` convention).
    *   changelog: key, column, old_value, new_value, script.
    */
  def diffAndLog(
      orig: DataFrame,
      next: DataFrame,
      keyCol: String,
      cols: Seq[String],
      script: String,
      logNoops: Boolean = false): (DataFrame, DataFrame) = {
    val oSel = orig.select(
      col(keyCol) +: cols.map(c => col(c).cast("string").as(s"__o_$c")): _*)
    val nSel = next.select(
      col(keyCol) +: cols.map(c => col(c).cast("string").as(s"__n_$c")): _*)
    val j = oSel.join(nSel, Seq(keyCol))

    val nChanged = cols
      .map(c => when(!(col(s"__o_$c") <=> col(s"__n_$c")), 1).otherwise(0))
      .reduce(_ + _)
    val changedRows = j
      .withColumn("__sqlmodded", nChanged)
      .filter(col("__sqlmodded") > 0)
      .select(col(keyCol) +: cols.map(c => col(s"__n_$c").as(c))
        :+ col("__sqlmodded"): _*)

    val entries = array(cols.map(c => struct(
      lit(c).as("column"),
      col(s"__o_$c").as("old_value"),
      col(s"__n_$c").as("new_value"),
      (!(col(s"__o_$c") <=> col(s"__n_$c"))).as("changed"))): _*)
    // `logNoops` reproduces scripts that write an audit entry even when
    // the value is unchanged — the reference's summary counts those
    // old==new writes separately as a per-script regression signal
    // (tm_changelog.py:125-140 `noop_entries`, 184-191 noop_by_script).
    val exploded = j.select(col(keyCol).as("key"), explode(entries).as("e"))
    val changelog = (if (logNoops) exploded
                     else exploded.filter(col("e.changed")))
      .select(
        col("key"),
        col("e.column").as("column"),
        col("e.old_value").as("old_value"),
        col("e.new_value").as("new_value"),
        lit(script).as("script"))
    (changedRows, changelog)
  }

  /** M3: audit CDC for out-of-band (manual) edits. The reference uses a
    * SQLite AFTER UPDATE trigger (`tags2db.py:673-737`); Spark has no
    * triggers — the replacement is a snapshot diff against the last
    * known state, logged under the trigger's script tag. */
  def auditSnapshotDiff(lastKnown: DataFrame, current: DataFrame,
                        keyCol: String, cols: Seq[String]): DataFrame =
    diffAndLog(lastKnown, current, keyCol, cols, "TRIGGER_AUDIT")._2

  /** M7: changelog schema migration — backfill key-less (rowid-keyed)
    * changelog rows to the stable key via a lookup join (ref
    * `tm_db.py:154-250`: rename → create → copy with rowid→path
    * backfill → drop). */
  def migrateChangelog(oldLog: DataFrame, rowidToKey: DataFrame): DataFrame =
    oldLog.join(rowidToKey, Seq("rowid"), "left")
      .select(
        coalesce(col("key"), concat(lit("rowid:"), col("rowid"))).as("key"),
        col("column"), col("old_value"), col("new_value"), col("script"))

  /** Changelog summary — counts per (script, column) plus add/delete/
    * modify classification and the no-op class (ref
    * `tm_changelog.py:101-258`). A no-op entry (old null-safe-equal to
    * new) is a script writing a value that was already there — the
    * reference tracks these per script as a regression signal
    * (`tm_changelog.py:125-140, 184-191`); they are excluded from every
    * change class and from n_rows. */
  def summarize(changelog: DataFrame): DataFrame = {
    val changed = !(col("old_value") <=> col("new_value"))
    changelog
      .groupBy("script", "column")
      .agg(
        sum(when(changed, 1).otherwise(0)).as("n_changes"),
        countDistinct(when(changed, col("key"))).as("n_rows"),
        sum(when(changed && col("old_value").isNull
          && col("new_value").isNotNull, 1).otherwise(0)).as("n_add"),
        sum(when(changed && col("old_value").isNotNull
          && col("new_value").isNull, 1).otherwise(0)).as("n_delete"),
        sum(when(changed && col("old_value").isNotNull
          && col("new_value").isNotNull, 1).otherwise(0)).as("n_modify"),
        sum(when(!changed, 1).otherwise(0)).as("n_noop"))
  }
}
