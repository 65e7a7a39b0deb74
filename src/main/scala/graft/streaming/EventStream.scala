package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming path for incremental ingest (§2.11): the
  * reference's `--new-files` / `--modified-files` modes are micro-batch
  * file-source semantics (ref `scripts/ingest/tags2db.py:955-1019`), and
  * its harvest loaders are bounded-memory single-pass scans with batch
  * commits (ref `harvest_mb_recordings.py:36-38`). The idiomatic Spark
  * upgrade is a file-source stream with `Trigger.AvailableNow`:
  * exactly-once new-file pickup, checkpointed progress, identical
  * transform expressions to the batch path ([[graft.queries.StreamQueries]]).
  */
object EventStream {

  /** Streaming read over a parquet directory with the events schema
    * taken from a footer (file streams need an explicit schema;
    * [[graft.core.Tables.parquet]] reads it without a Spark job).
    * `ts` is normalized to long epoch nanos exactly as the batch
    * chokepoint does ([[graft.core.Tables.normalizeEventTs]] — the
    * fixture's physical timestamp precision has varied across
    * generations), so streaming and batch twins stay expression-
    * identical downstream. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.core.Tables.parquet(spark, dir).schema
    graft.core.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir))
  }

  /** Event-time hourly aggregate with a watermark — same expressions as
    * the batch `st_hourly_window` query; late data beyond 2 hours is
    * dropped instead of re-opening state (bounded state at scale).
    * `ts` may arrive as long nanos (nanosAsLong read) — converted to a
    * proper timestamp for the watermark. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts",
        if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("v_cents"))
      .select(col("w.start").cast("long").as("hour_start"),
        col("event_type"), col("n"), col("v_cents"))

  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState: counts
    * gap-delimited sessions per user, carrying (events, sessions, last
    * timestamp) across micro-batches. `ts` is long nanos. Events inside
    * one micro-batch are sorted in memory per group (bounded by batch
    * size); across batches the state's last-timestamp stitches
    * sessions. Batch equivalent: the `st_sessions` query (lag + flag
    * cumsum) — the streaming path must agree with it on a single
    * AvailableNow pass, which EventStreamSpec asserts. */
  def sessionize(events: DataFrame, gapNanos: Long)(
      implicit spark: SparkSession): Dataset[UserSessions] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val ts = it.map(_._2).toArray.sorted
          var (nEv, nSes, last) =
            state.getOption.getOrElse((0L, 0L, Long.MinValue))
          ts.foreach { t =>
            nEv += 1
            if (last == Long.MinValue || t - last > gapNanos) nSes += 1
            last = t
          }
          state.update((nEv, nSes, last))
          Iterator(UserSessions(user, nEv, nSes))
      }
  }

  /** Streaming exact dedup — the dedup family's streaming arm: one
    * surviving event per key, with per-key state expiring at the
    * watermark horizon (bounded state at 100 TB/day rates; an unbounded
    * `dropDuplicates` would accrete state forever). Batch twin:
    * `st_dedup` (per-key first-event summary); EventStreamSpec asserts
    * the streamed survivor key set equals the batch key set. The
    * SURVIVOR ROW per key is whichever arrives first — arbitrary under
    * re-ordering, which is why this variant stays spec-only; the
    * deterministic, oracle-hashable form is [[dedupPinned]]. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withColumn("ts_ev",
        if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts"))
      .withWatermark("ts_ev", "2 hours")
      .dropDuplicatesWithinWatermark(keyCols)

  case class DedupSummary(user_id: Long, event_type: String, n_dups: Long,
                          first_ts: Long, keeper: Long)

  /** Deterministic streaming dedup: per (user_id, event_type) key,
    * carry (count, min event-time, min event_id) across micro-batches
    * and emit the updated per-key summary each batch — the SURVIVOR is
    * PINNED (min event-time for `first_ts`, min id for `keeper`, each
    * an independent min like the batch aggregate), so the answer is
    * identical under any arrival order or batch split, unlike
    * [[dedupStream]]'s first-arrival keeper. This is what puts the
    * last streaming operator under the driver's hash gate
    * (`st_dedup_stream` hashes against the batch `st_dedup` oracle).
    *
    * `first_ts` is emitted in micros (`min(ts) div 1000`) to match the
    * batch twin's precision contract. State is three longs per live
    * key with NoTimeout — right for an AvailableNow catch-up run over
    * a bounded key space; a continuous deployment over an unbounded
    * key stream would add an event-time timeout to expire keys past
    * the watermark (the [[dedupStream]] trade, applied here). */
  def dedupPinned(events: DataFrame)(
      implicit spark: SparkSession): Dataset[DedupSummary] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("long"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[(Long, String, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, minTs, minId) =
            state.getOption.getOrElse((0L, Long.MaxValue, Long.MaxValue))
          it.foreach { case (_, _, ts, id) =>
            n += 1
            if (ts < minTs) minTs = ts
            if (id < minId) minId = id
          }
          state.update((n, minTs, minId))
          Iterator(DedupSummary(key._1, key._2, n,
            Math.floorDiv(minTs, 1000L), minId))
      }
  }

  /** Stream-stream click→purchase attribution join: every purchase
    * pairs with each of the user's clicks in the preceding
    * `windowSql` interval. Both sides carry a watermark and the join
    * condition bounds event time on both ends, so Spark can expire
    * click state past `watermark + window` and purchase state past
    * the watermark — bounded state at any rate, the canonical
    * stream-stream join shape. The same function body serves the
    * batch twin (`st_attrib_join`): on batch frames the watermark is
    * a no-op and the join is an ordinary interval join.
    *
    * `lag_us` is emitted in microseconds (not nanos): the parquet
    * events are nanosecond-stamped, but micro is the precision every
    * engine in the gate can see. */
  def attributeJoin(events: DataFrame,
                    windowSql: String = "1 hour"): DataFrame = attributeJoin(
    events.filter(col("event_type") === "click"),
    events.filter(col("event_type") === "purchase"), windowSql)

  /** Two-argument form for genuinely separate click/purchase streams. */
  def attributeJoin(clicks: DataFrame, purchases: DataFrame,
                    windowSql: String): DataFrame = {
    def evTs(df: DataFrame, out: String): DataFrame = df
      .withColumn(out,
        if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts"))
    val c = evTs(clicks, "c_ts")
      .select(col("event_id").as("click_id"), col("user_id"), col("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val p = evTs(purchases, "p_ts")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("__puser"), col("p_ts"))
      .withWatermark("p_ts", "2 hours")
    c.join(p,
        col("user_id") === col("__puser") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"interval $windowSql"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Incremental new-rows pickup (SURVEY §2.11's nominated upgrade of
    * the s7 batch anti-join, ref `tags2db.py:955-977` `--new-files`):
    * a stream of candidate rows anti-joined against the existing key
    * set. Stream-static left-anti is fully supported by micro-batch
    * execution — each batch probes the static side with the identical
    * expressions as the batch query, so stream == batch by
    * construction (EventStreamSpec asserts it on an AvailableNow
    * pass). At scale the static side is a broadcast or shuffled hash
    * probe per micro-batch; no streaming state accrues. */
  def newRowsAntiJoin(incoming: DataFrame, existing: DataFrame,
                      inKey: String, exKey: String): DataFrame =
    incoming.join(existing, col(inKey) === col(exKey), "left_anti")

  /** Modified-rows pickup, s7's sibling (ref `tags2db.py:980-1019`
    * `--modified-files`): stream rows whose counterpart in the
    * existing set satisfies `changed` (e.g. a newer mod-time) — a
    * stream-static left-semi with the identical expressions as the s8
    * batch query. Same execution shape as [[newRowsAntiJoin]]: static
    * side probed per micro-batch, no streaming state. */
  def modifiedSemiJoin(incoming: DataFrame, existing: DataFrame,
                       changed: Column): DataFrame =
    incoming.join(existing, changed, "left_semi")

  /** One-shot catch-up run (processes all available input, then stops) —
    * the Trigger.AvailableNow analogue of the reference's incremental
    * import. Caller supplies the sink via `foreachBatch`. */
  def runAvailableNow(agg: DataFrame, checkpoint: String,
      mode: String = "update")(
      sink: (DataFrame, Long) => Unit): Unit = {
    val q: DataStreamWriter[Row] = agg.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) => sink(batch, id) }
    q.start().awaitTermination()
  }

  /** Streaming keyed-MERGE sink: each micro-batch folds into a
    * versioned parquet store with the same deterministic upsert as the
    * batch path ([[graft.sources.AlibStore.upsert]]) — the streaming
    * twin of the reference's incremental `--new-files` import loop
    * (ref `tags2db.py:955-1019`: scan new files, merge into alib,
    * commit). Versioned subdirectories (`v0`, `v1`, …) make each fold
    * atomic — a batch never overwrites the store it is reading —
    * and micro-batches run sequentially, so the fold order is the
    * stream order. On a real cluster the store would be a Delta/Iceberg
    * table and the fold a MERGE; the versioned-parquet form keeps the
    * same semantics on plain files. */
  final class UpsertStore(spark: SparkSession, dir: String,
                          initial: DataFrame, key: String,
                          tieBreak: Seq[String] = Nil) {
    @volatile private var v = 0
    initial.write.mode("overwrite").parquet(s"$dir/v0")

    /** The foreachBatch sink. */
    def sink(batch: DataFrame, id: Long): Unit = synchronized {
      val cur = spark.read.parquet(s"$dir/v$v")
      graft.sources.AlibStore.upsert(cur, batch, key, tieBreak)
        .write.mode("overwrite").parquet(s"$dir/v${v + 1}")
      v += 1
    }

    /** Store state after the last completed fold. */
    def current: DataFrame = spark.read.parquet(s"$dir/v$v")
  }
}
