package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.core.{Observed, Pins}

/** Incremental aggregate maintenance — the pattern that keeps a
  * 100 TB pipeline's rollups fresh WITHOUT rescanning the corpus:
  * aggregates whose state is mergeable (sum, count-as-sum, min, max,
  * and anything built from them — avg = sum/count, coverage ratios,
  * per-key firsts/lasts) can be maintained as partial-aggregate
  * tables, with each ingest batch contributing its own partial and a
  * key-wise merge producing exactly the full recompute's answer.
  * This is Spark's own map-side partial aggregation lifted to the
  * PIPELINE level: the "map side" is yesterday's materialized rollup,
  * the "reduce" is one config-table-sized merge per batch.
  *
  * The merge is associative and commutative by construction, so batch
  * arrival order, batch boundaries, and replays of an idempotent
  * upsert sink all yield the same table — the same argument the
  * streaming twins (st_s7_new etc.) make for joins, applied to
  * aggregation state.
  */
object Incremental {

  /** Retract documents from a per-doc fact snapshot — the REMOVAL
    * side of the maintenance story ([[graft.operators.Search
    * .mergeTfSnapshots]] / [[graft.operators.TextAnalysis
    * .mergeKnSnapshots]] grow an index; this shrinks it for data
    * takedowns, right-to-be-forgotten requests, or a quarantined
    * source). Both snapshot families consist ONLY of rows that
    * derive from their own doc's text (tf cells / bigram counts plus
    * the per-doc marker), and every corpus rollup (N, df, dl, idf,
    * context counts, fertilities, type totals) derives DOWNSTREAM in
    * the shared scorer — so one anti-join IS the complete
    * retraction: the result is row-for-row the snapshot a fresh
    * build over the remaining docs would produce, and the
    * family's validator still holds (one marker per surviving doc).
    * One shuffle-on-id pass over the snapshot, no text rescanned;
    * ids absent from the snapshot retract vacuously. */
  def retractDocs(snapshot: DataFrame, removeIds: DataFrame,
                  idCol: String = "doc_id"): DataFrame =
    // no distinct(): an anti-join is unaffected by duplicate
    // right-side keys, and the dedup would be a wasted shuffle
    snapshot.join(removeIds.select(col(idCol)), Seq(idCol), "left_anti")

  /** Subtract a retracted batch's partial from a maintained rollup —
    * the INVERSE of [[mergeRollups]], defined only for SUM-mergeable
    * state: sums form a group (every count has an inverse), so
    * subtracting the retracted slice's partial is exact — key-for-key
    * the rollup a fresh pass over the remaining corpus builds. Keys
    * full-outer join; rows whose every sum reaches zero drop;
    * NEGATIVE sums (a batch retracted twice, or never merged in)
    * stay visible for the caller's validator rather than being
    * silently swallowed.
    *
    * What is NOT retractable this way — and not by any other
    * one-pass trick: min/max state (the retracted row might BE the
    * min, and the runner-up was never kept) and the distinct-set /
    * sketch family (gram sets, HLL, Bloom — membership carries no
    * multiplicity, so deletion needs counting state, the standard
    * sketch-theory caveat). Those artifacts retract by recount over
    * the survivors, or by switching to their counted variants (the
    * line-count tables here, a counting Bloom filter in general).
    *
    * POISON-PRESERVING: a null sum CELL on a PRESENT row (the
    * corruption marker [[loadRollupStore]] deliberately emits, as
    * opposed to the join null of a key absent from one side)
    * propagates to a null result that survives the zero filter — a
    * blind coalesce here would turn the poison into 0 and drop the
    * row, silently erasing one step downstream exactly the
    * corruption the fold surfaced, and the caller's validator would
    * never see it. Presence markers keep the two null kinds
    * distinguishable across the full-outer join. */
  def subtractRollups(total: DataFrame, removed: DataFrame,
                      keys: Seq[String],
                      sums: Seq[String]): DataFrame = {
    require(sums.nonEmpty, "need at least one sum column")
    val tot = total.withColumn("__graft_pt", lit(1))
    val rm = sums.foldLeft(removed)((df, c) =>
        df.withColumnRenamed(c, s"__graft_rm_$c"))
      .withColumn("__graft_pr", lit(1))
    def cell(c: String): Column = {
      val poisoned =
        (col("__graft_pt").isNotNull && col(c).isNull) ||
          (col("__graft_pr").isNotNull && col(s"__graft_rm_$c").isNull)
      when(poisoned, lit(null).cast(LongType))
        .otherwise(coalesce(col(c), lit(0L))
          - coalesce(col(s"__graft_rm_$c"), lit(0L))).as(c)
    }
    tot.join(rm, keys, "full_outer")
      .select(keys.map(col) ++ sums.map(cell): _*)
      .filter(anyLiveSum(sums))
  }

  /** Merge mergeable partial rollups: union all partials and
    * re-aggregate with each column's merge function.
    *
    * @param specs (column, fn) with fn one of "sum" (also merges
    *              counts), "min", "max". */
  def mergeRollups(partials: Seq[DataFrame], keys: Seq[String],
                   specs: Seq[(String, String)]): DataFrame = {
    require(partials.nonEmpty, "need at least one partial rollup")
    require(specs.nonEmpty, "need at least one merge spec")
    def mergeFn(c: String, fn: String): Column = fn match {
      // EVERY arm is POISON-PRESERVING, as in loadRollupStore: plain
      // sum()/min()/max() skip null cells, so a poisoned key arriving
      // from the fold or from subtractRollups (the merge-after-
      // subtract composition the update paths run) — or a corrupt
      // externally-landed partial with a null min/max cell — would
      // silently launder to the other partials' value alone and the
      // caller's validator would never see the corruption the fold
      // surfaced. (A key ABSENT from a partial contributes no row at
      // all, which is the legitimate case; only a PRESENT row's null
      // cell poisons.)
      case "sum" => poisonedSum(c)
      case "min" => poisonedAgg(c, min(col(c)))
      case "max" => poisonedAgg(c, max(col(c)))
      case other =>
        throw new IllegalArgumentException(
          s"not a mergeable aggregate: $other (column $c)")
    }
    val aggs = specs.map { case (c, fn) => mergeFn(c, fn) }
    partials.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------------------------
  // Durable snapshot store: the per-doc fact snapshots (tfSnapshot /
  // knSnapshot rows) persisted as a BATCH-PARTITIONED parquet layout,
  // dir/batch=<n>/ — the ivfPq persistence discipline applied to the
  // text-index families. The merge story becomes durable: each crawl
  // batch lands as its OWN partition directory (a commit never
  // rewrites landed data — append-only at the file level, the
  // production contract), a restart reloads the full index from disk
  // with no state to rebuild (every corpus rollup derives downstream
  // in the shared scorers), and the batch column keeps per-crawl
  // provenance for audits and for partition-scoped retraction.
  // ------------------------------------------------------------------

  /** Read a store with the batch partition column pinned to LONG:
    * partition-value inference would type small batch ids as INT and
    * long-literal pruning predicates would then cast the COLUMN,
    * defeating partition pruning on exactly the path built for it.
    * The data schema comes from a footer ([[graft.core.Tables.parquet]]),
    * so the read starts no Spark job. */
  private def readStore(spark: SparkSession, dir: String): DataFrame = {
    finishSwap(spark, dir)
    graft.core.Tables.parquet(spark, dir, StructField("batch", LongType))
  }

  /** The optional id→batch MANIFEST living beside a fact store: one
    * skinny (id, batch) row per doc per batch, the refinement
    * [[retractFromSnapshotStore]]'s discovery scales on — with it, a
    * takedown finds its touched partitions by probing a table that is
    * doc-count-sized instead of reading the id column of EVERY store
    * partition (at 100 TB the difference between a manifest lookup
    * and a full-store column scan per retraction). */
  private def manifestPath(dir: String): String = dir + "__manifest"

  /** Where a compaction lands its fold before [[swapIntoPlace]]. */
  private def compactTmp(dir: String): String = dir + "__compact_tmp"

  /** Complete a compaction swap that a crash cut between its delete
    * and its rename, for the store and for its manifest: where the
    * layout is absent and its tempdir holds a committed fold
    * (`_SUCCESS`), rename the fold into place. Listing only, no Spark
    * job. A fold without the marker was cut mid-write while the old
    * layout still existed, so it is never renamed in. */
  private def finishSwap(spark: SparkSession, dir: String): Unit =
    Seq(dir, manifestPath(dir)).foreach { d =>
      val (fs, target) = fsFor(spark, d)
      val tmp = new org.apache.hadoop.fs.Path(compactTmp(d))
      if (!fs.exists(target) &&
          fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
        require(fs.rename(tmp, target),
          s"could not rename the completed compaction $tmp into $d")
    }

  /** Validation TIERS for the store entry points. Every write path
    * keeps its REFUSALS at both levels (empty/duplicate/null-id
    * guards, delete-or-die — those protect against destroying or
    * corrupting landed state and are cheap); what tiers is the
    * post-write CERTIFICATION — the exact-sync probes
    * ([[verifyBatchSync]], the manifest/store symmetric diffs) that
    * prove the operation's independent writes landed consistent.
    *   - "full": certify every operation as it lands — the audit
    *     posture, and what every oracle-gated lifecycle query runs.
    *   - "recovery": operational writes only; certification is
    *     DEFERRED to crash-recovery/audit time, when the deployment
    *     runs [[validateSnapshotStoreManifest]] once over the store
    *     instead of per commit (a production ingest validates on
    *     recovery, not per operation — the sync probes exist to
    *     catch lost-cache-block plan divergence, which is rare and
    *     repairable by [[compactSnapshotStore]]'s rebuild).
    * Both levels land BYTE-IDENTICAL stores on a crash-free run —
    * the claim the `inc_store_levels` oracle row proves. */
  private def requireLevel(validate: String): Unit =
    require(validate == "full" || validate == "recovery",
      s"unknown validation level '$validate' - use 'full' (certify " +
        "per operation) or 'recovery' (defer certification to " +
        "crash-recovery/audit time)")

  private def fsFor(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** A manifest EXISTS only when its last write job committed — the
    * `_SUCCESS` marker, not bare directory existence: a crash during
    * the manifest write leaves the directory created (job setup)
    * but unmarked, and counting that half-written state as a
    * manifest would let the next commit pass the guard and seed a
    * manifest missing every earlier batch's ids — the silent
    * retraction miss. Unmarked ⇒ manifest-less: retraction falls
    * back to the full scan and a manifested commit refuses loudly
    * until the init is retried. (A deployment that disables success
    * markers fails loud the same way — every manifested commit
    * refuses — never silent.) */
  private def hasManifest(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsFor(spark, manifestPath(dir))
    fs.exists(p) && fs.exists(
      new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** Delete-or-die: the callers' delete is load-bearing (a stale
    * manifest surviving a reset under-approximates silently), and
    * Hadoop filesystems report failure by RETURN VALUE as well as by
    * exception — swallowing a false here would be the silent miss.
    * [[swapIntoPlace]] makes the same requirement of its delete. */
  private def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    if (fs.exists(p)) require(fs.delete(p, true),
      s"could not delete $path - refusing to continue past a stale " +
        "layout that would silently survive")
  }

  /** Initialize (or RESET) a snapshot store with the first batch as
    * partition 0. The overwrite mode is PINNED static per-write:
    * reset semantics must not depend on the session default (a
    * session running dynamic overwrite globally — a common ETL
    * config — would otherwise leave stale batch partitions behind
    * the "reset", silently double-counting every later fold). The
    * snapshot must be nonempty: a zero-partition parquet layout is
    * unreadable, the same refusal [[graft.operators.Quantization
    * .ivfPqRemoveBatch]] makes for its layout. The input pins once —
    * the emptiness check is a row count observed during that same
    * checkpoint, so it starts no job of its own and still refuses
    * before anything is deleted or overwritten. The one refusal here
    * that keeps a job of its own is a manifested init's null-id check
    * ([[requireNoNullIds]]), which must also fire before the deletes.
    *
    * @param manifestIdCol when set, also create the id→batch
    *   manifest from this column's distinct values — the opt-in for
    *   fact stores retracted by id ([[retractFromSnapshotStore]]
    *   then scopes discovery to the manifest); leave None for
    *   rollup-partial layouts, which retract by tombstone append and
    *   never by id. ANY init first DELETES an existing manifest,
    *   BEFORE the store overwrite: a stale previous-generation
    *   manifest beside a re-inited store would under-approximate the
    *   new corpus — the silent retraction miss — so every crash
    *   window of a reset leaves a manifest-LESS store whose
    *   retraction falls back to the exact full scan (and, for a
    *   manifested intent, whose next commit refuses loudly until the
    *   init is retried). */
  def initSnapshotStore(snap: DataFrame, dir: String,
                        manifestIdCol: Option[String] = None,
                        validate: String = "full"): Unit = {
    requireLevel(validate)
    // init pins with an EAGER localCheckpoint, not withPinned's lazy
    // persist, deliberately: init OVERWRITES dir, and the rebuild
    // path retractFromSnapshotStore's refusal recommends feeds the
    // store's own loaded data back in — a lazily-cached input would
    // have the overwrite delete the very files the write job still
    // needs to compute from (old store destroyed, replacement
    // unrecoverable). The checkpoint freezes the bytes BEFORE
    // anything destructive. The fault-tolerance trade (checkpoint
    // blocks die with an executor) is the right one here: init is
    // the rare full rebuild, and its retry is cheap next to a
    // destroyed store. Append-only commits keep the recomputable
    // persist (they never delete what their input may read).
    Pins.scope { p =>
      val (counted, rows) = Observed(snap, count(lit(1)))
      val pinned = p(counted)
      require(rows() > 0,
        s"refusing to init $dir from an empty snapshot - a " +
          "zero-partition layout is unreadable")
      // EVERY refusal must fire before anything destructive: a
      // rejected init (null ids) that had already deleted the old
      // manifest and overwritten the store would report failure
      // while leaving the previous corpus destroyed and the tainted
      // data serving
      val manifestIds = manifestIdCol.map { id =>
        val ids = pinned.select(col(id)).distinct()
        requireNoNullIds(ids, id, dir)
        ids
      }
      // a leftover compaction fold goes before the reset touches the
      // store: were the overwrite below cut with `dir` deleted,
      // finishSwap would otherwise rename that stale fold in as the
      // store
      Seq(dir, manifestPath(dir)).foreach(d =>
        deleteIfExists(pinned.sparkSession, compactTmp(d)))
      // neutralize FIRST (see scaladoc): no ordering of store and
      // manifest writes can otherwise keep a reset's crash windows
      // out of the silent-miss class
      deleteIfExists(pinned.sparkSession, manifestPath(dir))
      pinned.withColumn("batch", lit(0L))
        .write.option("partitionOverwriteMode", "static")
        .partitionBy("batch").mode("overwrite").parquet(dir)
      manifestIds.foreach { ids =>
        ids.withColumn("batch", lit(0L))
          .write.option("partitionOverwriteMode", "static")
          .partitionBy("batch").mode("overwrite")
          .parquet(manifestPath(dir))
      }
    }
    // post-write sync check (see verifyBatchSync), OUTSIDE the pin:
    // the probe deliberately reads what landed on DISK, so holding
    // the corpus-scale pinned snapshot alive through it would be
    // pure memory pressure. Tiers with `validate` (see
    // [[requireLevel]]): the recovery level defers this
    // certification to audit time.
    if (validate == "full") manifestIdCol.foreach(_ =>
      validateSnapshotStoreManifest(snap.sparkSession, dir))
  }

  /** Pin-once for the APPEND-ONLY write paths, respecting a
    * caller's own cache: persist only when the frame is not already
    * cached, and unpersist only what this call persisted — blindly
    * unpersisting would evict a caller-held cache (persist returns
    * the same Dataset), silently forcing every later caller use to
    * recompute. persist, NOT localCheckpoint: a local checkpoint
    * truncates lineage, so an executor lost mid-write fails the
    * whole operation unrecoverably, where a cached-with-lineage
    * plan recomputes the lost partitions and self-heals. NOT for
    * destructive overwrites whose input may read the target
    * ([[initSnapshotStore]] keeps the eager checkpoint for exactly
    * that — see its comment). The recompute caveat — a
    * non-deterministic plan can recompute differently across the
    * writes sharing the pin — is closed loudly by the post-write
    * sync checks ([[verifyBatchSync]], the landed-partition
    * check). */
  private def withPinned[A](df: DataFrame)(f: DataFrame => A): A = {
    val mine = df.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val pinned = if (mine) df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else df
    try f(pinned) finally if (mine) pinned.unpersist()
  }

  /** Post-write sync check on the JUST-written batch: manifest and
    * store writes each materialize the pinned plan, and a cache
    * block lost between them recomputes from lineage — for a
    * non-deterministic snapshot plan the two writes could land
    * DIFFERENT id sets, store rows the manifest never recorded, the
    * silent retraction miss. One [[symmetricDiffCount]] job over
    * only the new partition's two id projections (not the whole
    * store) turns that into a loud failure at the commit that
    * caused it. */
  private def verifyBatchSync(spark: SparkSession, dir: String,
                              batch: Long, id: String): Unit = {
    val s = spark.read.parquet(s"$dir/batch=$batch")
      .select(col(id)).distinct()
    val m = spark.read
      .parquet(s"${manifestPath(dir)}/batch=$batch").select(col(id))
    val bad = symmetricDiffCount(s, m)
    require(bad == 0,
      s"batch $batch of $dir landed with $bad id(s) differing " +
        "between store and manifest - a cache block lost mid-commit " +
        "recomputed a non-deterministic snapshot plan differently " +
        s"across the two writes; delete both batch=$batch " +
        "partitions and retry (or compactSnapshotStore to rebuild " +
        "the manifest)")
  }

  /** Count of keys whose multiplicities differ between two frames
    * with the same columns — ONE job (union with +1/-1 weights,
    * group by the row, any nonzero sum is a divergence), zero iff
    * the multisets are equal. Null-safe by grouping semantics (a
    * null groups with itself), where an equi-join would never match
    * a null against itself and report byte-identical layouts as
    * diverged; and one scan of each side, where a two-directional
    * exceptAll would scan both twice. */
  private def symmetricDiffCount(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq
    a.withColumn("__graft_w", lit(1L))
      .unionByName(b.withColumn("__graft_w", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__graft_w")).as("__graft_w"))
      .filter(col("__graft_w") =!= 0L).count()
  }

  /** Append a crawl batch's snapshot partial as its own partition
    * directory — landed batches are never rewritten. The batch id
    * must be FRESH: re-committing an id would duplicate its docs'
    * markers and counts (the exact corruption
    * [[graft.operators.Search.validateTfSnapshot]] detects), so the
    * store refuses loudly; the check reads partition VALUES only
    * (directory listing, no data scan). An EMPTY snapshot refuses
    * too: it would write no partition, and the batch id would
    * silently never land.
    *
    * An unmanifested commit has one consumer, the append, so nothing
    * is pinned: the append counts its own rows, and an empty one —
    * which, partitioned by batch, writes no data file — refuses at
    * the landed-partition check after it. A manifested commit keeps
    * its pin, since two writes consume it, and so keeps its emptiness
    * probe as a job of its own, run before the manifest write; its
    * null-id check ([[requireNoNullIds]]) and, for a retried batch id,
    * the manifest residue probe keep their own jobs too.
    *
    * @param manifestIdCol must be set iff the store maintains a
    *   manifest (the guard below): a manifest missing one batch's
    *   ids would silently scope every future retraction PAST that
    *   batch — retracted rows would keep serving, the exact failure
    *   class the manifest's validator exists to catch. */
  def commitSnapshotBatch(snap: DataFrame, dir: String, batch: Long,
                          manifestIdCol: Option[String] = None,
                          validate: String = "full"): Unit = {
    requireLevel(validate)
    val spark = snap.sparkSession
    // the cheap guards run BEFORE the snapshot materializes: an
    // orchestrator replaying an already-landed batch id — the exact
    // case the duplicate guard exists for — must be refused by a
    // directory listing, not after paying the dominant-cost snapshot
    // aggregation
    commitGuards(spark, dir, batch, manifestIdCol)
    val empty = s"refusing to commit an empty snapshot partial as " +
      s"batch $batch of $dir - it would write no partition and the " +
      "batch id would silently never land"
    if (manifestIdCol.isEmpty) writeCommit(snap, dir, batch, None,
      onEmpty = Some(empty))
    else {
      // pin once: the emptiness probe and both writes share one
      // materialization (withPinned: lineage kept, caller caches
      // respected)
      withPinned(snap) { pinned =>
        require(!pinned.isEmpty, empty)
        // ...and the guards run AGAIN right before the writes: the
        // early check ran before the dominant-cost build, which
        // would otherwise leave a replay window as wide as the whole
        // materialization — re-listing shrinks it back to the write
        // itself (this is a window, not a lock: concurrent commits
        // of the same batch id were never supported)
        commitGuards(spark, dir, batch, manifestIdCol)
        writeCommit(pinned, dir, batch, manifestIdCol,
          onEmpty = Some(recomputedEmpty(batch, dir)))
      }
    }
    // outside the pin (see initSnapshotStore): the sync probe reads
    // only what landed on disk — the corpus-scale pin's last real
    // consumer is the write above. Tiers with `validate`: the
    // recovery level skips the per-commit probe and certifies the
    // whole store once at audit time ([[requireLevel]]).
    if (validate == "full")
      manifestIdCol.foreach(id => verifyBatchSync(spark, dir, batch, id))
  }

  /** The landed batch ids of a store, from the FILESYSTEM alone — a
    * directory listing of `batch=<n>` partitions that hold at least
    * one data file. Semantically the set `readStore(...)
    * .select("batch").distinct()` returns (Spark's file index also
    * ignores empty partition directories and `_`/`.`-prefixed
    * files), but with zero Spark jobs: the commit guards run TWICE
    * per commit and were paying a full-store file-index job each —
    * pure listing work answered by listing (guide §1.2: don't
    * compute what a metadata probe already knows). */
  private def landedBatches(spark: SparkSession,
                            dir: String): Set[Long] = {
    val (fs, p) = fsFor(spark, dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.matches("batch=-?\\d+"))
      .map(n => (n.stripPrefix("batch=").toLong, n))
      .filter { case (_, n) =>
        fs.listStatus(new org.apache.hadoop.fs.Path(p, n)).exists(st =>
          st.isFile && {
            val f = st.getPath.getName
            !f.startsWith("_") && !f.startsWith(".")
          })
      }
      .map(_._1).toSet
  }

  /** The listing-only commit preconditions (manifest two-sided guard
    * + fresh batch id). Listing-only for real since r17: the landed
    * batch ids come from [[landedBatches]]' filesystem probe, not a
    * Spark job over the store's file index. */
  private def commitGuards(spark: SparkSession, dir: String,
                           batch: Long,
                           manifestIdCol: Option[String]): Unit = {
    // the listing-only landedBatches treats a missing dir as "no
    // batches landed", which is the right answer for the duplicate
    // guard but must NOT let a commit against a never-inited (or
    // mistyped) dir silently birth a partial store — the old
    // readStore probe failed loudly on PATH_NOT_FOUND and this keeps
    // that refusal (r17 advice)
    finishSwap(spark, dir)
    val (fs, p) = fsFor(spark, dir)
    require(fs.exists(p),
      s"$dir does not exist - initSnapshotStore creates it; " +
        "refusing to commit into a store that was never initialized")
    val manifested = hasManifest(spark, dir)
    require(manifested == manifestIdCol.isDefined,
      if (manifested)
        s"$dir maintains an id manifest - pass manifestIdCol so " +
          "this commit maintains it too; a manifest missing this " +
          "batch's ids would silently scope future retractions " +
          "past the batch (retracted rows would keep serving)"
      else
        s"manifestIdCol passed but $dir has no manifest - " +
          "initSnapshotStore(manifestIdCol = Some(...)) creates it")
    require(!landedBatches(spark, dir).contains(batch),
      s"batch $batch already committed to $dir - re-committing " +
        "would duplicate markers and counts")
  }

  /** The write tail shared by [[commitSnapshotBatch]] and
    * [[retractFromRollupStore]]. The store append counts its rows as
    * it writes; `onEmpty` is the refusal for a zero-row append (which,
    * partitioned by batch, writes no data file), or None where a
    * zero-row append is a legitimate no-op (a vacuous tombstone).
    * MANIFEST first, store second — the crash-direction
    * choice: dying between the two leaves the manifest claiming a
    * batch the store never landed, which fails LOUD downstream (a
    * retraction touching those ids refuses on the missing
    * partition; the validator trips; compactSnapshotStore's rebuild
    * repairs). The reverse order would leave the manifest MISSING a
    * landed batch's ids, and a future retraction would silently
    * scope past them — retracted rows kept serving. */
  private def writeCommit(snap: DataFrame,
                          dir: String, batch: Long,
                          manifestIdCol: Option[String],
                          onEmpty: Option[String]): Unit = {
    val spark = snap.sparkSession
    manifestIdCol.foreach { id =>
      val residuePath = s"${manifestPath(dir)}/batch=$batch"
      val (fs, residue) = fsFor(spark, residuePath)
      if (fs.exists(residue)) {
        // the residue probe is the one guard that still needs the
        // store's DATA (served ids), so the reader constructs only
        // on this rare branch — the hot path stays listing-only
        val store = readStore(spark, dir)
        // a manifest partition under this batch id is deletable
        // retry-residue ONLY if it came from a crashed commit of
        // this same batch — whose ids, by the manifest-first
        // order, never landed in the store. Ids the store already
        // SERVES mean this partition is real data drifted by some
        // OTHER crash (e.g. a compaction that died before its
        // manifest rebuild, after which callers restart numbering
        // at 1): deleting it would convert that loud
        // over-approximation into the silent retraction miss —
        // refuse and point at the rebuild. The probe short-
        // circuits on the first served id.
        val claimed = spark.read.parquet(residuePath)
          .select(col(id))
        require(store.select(col(id))
          .join(claimed, Seq(id), "left_semi").isEmpty,
          s"manifest batch $batch of $dir holds ids the store " +
            "already serves - not a crashed-commit residue; " +
            "compactSnapshotStore rebuilds the manifest exactly")
        // delete-or-die (the deleteIfExists invariant): a false
        // return would let the append land NEW ids beside the
        // residue, and the sync check would then fail with the
        // wrong (non-determinism) diagnosis
        deleteIfExists(spark, residuePath)
      }
      val ids = snap.select(col(id)).distinct()
      requireNoNullIds(ids, id, dir)
      ids.withColumn("batch", lit(batch))
        .write.partitionBy("batch").mode("append")
        .parquet(manifestPath(dir))
    }
    val (counted, rows) = Observed(snap, count(lit(1)))
    counted.withColumn("batch", lit(batch))
      .write.partitionBy("batch").mode("append").parquet(dir)
    // the landed-partition check: an empty append writes no
    // partition directory, so the batch id would silently never land
    // (manifested stores additionally get verifyBatchSync). The row
    // count came with the append; the rest is one directory
    // existence test.
    if (rows() == 0) require(onEmpty.isEmpty, onEmpty.get)
    else {
      val (sfs, sdir) = fsFor(spark, s"$dir/batch=$batch")
      require(sfs.exists(sdir), recomputedEmpty(batch, dir))
    }
  }

  /** A pinned commit whose append wrote no partition: a cache block
    * lost after the emptiness probe can recompute a non-deterministic
    * plan EMPTY. */
  private def recomputedEmpty(batch: Long, dir: String): String =
    s"batch $batch of $dir wrote no partition directory - the " +
      "snapshot plan recomputed empty after its emptiness probe " +
      "(non-deterministic plan + lost cache block?); retry the " +
      "commit with a deterministic plan"

  /** Null ids are refused at every manifested WRITE: the retraction
    * machinery discovers touched partitions and rewrites survivors
    * by EQUI-join on the id, which never matches null — a null-id
    * row in a manifested store would be permanently un-retractable
    * by id, the exact silent-miss class the manifest exists to
    * prevent. (Unmanifested stores may carry them; their callers
    * retract by whole-corpus recount or rebuild.) */
  private def requireNoNullIds(ids: DataFrame, id: String,
                               dir: String): Unit =
    require(ids.filter(col(id).isNull).isEmpty,
      s"refusing to write a null $id into the manifest of $dir - a " +
        "null id can never be retracted by id (equi-join discovery " +
        "cannot match it); scrub null-id rows before the commit")

  /** Load the full snapshot from a store — row-for-row the
    * [[mergeRollups]]-free union-merge of every committed batch
    * (per-doc facts never reconcile, they append), ready for the
    * shared scorers ([[graft.operators.Search.bm25TopKIndexed]] /
    * [[graft.operators.TextAnalysis.knScoreFromSnapshot]]). */
  def loadSnapshotStore(spark: SparkSession, dir: String): DataFrame =
    readStore(spark, dir).drop("batch")

  /** Fold a fact store's batch partitions into a single batch-0
    * layout — the same planning-cost bound [[compactRollupStore]]
    * puts on the rollup store, for the per-doc fact families: a
    * long-lived store accumulates one partition directory per crawl
    * (plus one per retraction rewrite), and past some count the
    * per-partial listing dominates read planning. Result-invisible
    * to readers ([[loadSnapshotStore]] drops the batch column), and
    * crash-safe by the shared tempdir swap. The ONE thing compaction
    * discards is per-crawl provenance: every row lands in batch 0
    * and the batch-id space resets (callers restart numbering at 1),
    * exactly as [[graft.operators.Quantization.ivfPqRetrain]] resets
    * the cell layout — compaction is the one sanctioned rewrite of
    * the append-only contract. On a manifested store the id→batch
    * manifest REBUILDS from the folded data (exact by construction —
    * every id maps to batch 0), which doubles as the repair for any
    * crash-residue drift [[validateSnapshotStoreManifest]] reports. */
  def compactSnapshotStore(spark: SparkSession, dir: String): Unit = {
    val tmp = compactTmp(dir)
    // NOT routed through initSnapshotStore: its pin-once checkpoint
    // would materialize a corpus-sized copy before the write — here
    // the fold is a pure scan→write stream into tmp (no
    // self-overwrite, so no barrier; a leftover tmp from a crashed
    // compaction is simply overwritten). The emptiness probe is one
    // cheap limit-1 job; the store invariants (init and commit
    // refuse empty, retraction refuses to empty a partition) make it
    // unreachable, but a zero-partition tmp must never swap in.
    val cur = readStore(spark, dir).drop("batch")
    require(!cur.isEmpty,
      s"refusing to compact $dir - the store folded to zero rows " +
        "and a zero-partition layout is unreadable")
    val manifested = hasManifest(spark, dir)
    val manifestId: Option[String] =
      if (manifested)
        Some(readStore(spark, manifestPath(dir)).columns
          .filterNot(_ == "batch").head)
      else None
    // EVERY refusal fires before anything destructive (the init
    // ordering): a store that drifted a null id in (externally-
    // landed partitions) refuses with the scrub diagnosis HERE,
    // while the old layout and its manifest are still intact —
    // refusing after the swap would leave a rewritten store beside
    // a stale old-batch manifest, and silently blessing the null
    // into the rebuilt manifest would hand the validator's
    // recommended repair a non-converging loop
    manifestId.foreach(id =>
      requireNoNullIds(cur.select(col(id)), id, dir))
    cur.withColumn("batch", lit(0L))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("batch").mode("overwrite").parquet(tmp)
    swapIntoPlace(spark, tmp, dir)
    manifestId.foreach { id =>
      val mtmp = compactTmp(manifestPath(dir))
      // null-free by the pre-swap guard above — one derivation, one
      // write, sourced from the FOLDED store
      readStore(spark, dir).select(col(id)).distinct()
        .withColumn("batch", lit(0L))
        .write.option("partitionOverwriteMode", "static")
        .partitionBy("batch").mode("overwrite").parquet(mtmp)
      swapIntoPlace(spark, mtmp, manifestPath(dir))
    }
  }

  /** Retract documents from a store at the FILE level — [[retractDocs]]
    * with the REWRITE scoped to the batch partitions that actually
    * hold the retracted ids (dynamic partition overwrite, the
    * [[graft.operators.Quantization.ivfPqRemoveBatch]] pattern).
    * Discovery scope: on a MANIFESTED store (see
    * [[initSnapshotStore]]'s manifestIdCol) the touched batches come
    * from one probe of the doc-count-sized id→batch manifest —
    * nothing of the store itself is read outside the touched
    * partitions; without a manifest, discovery falls back to
    * reading the id column of every partition (one skinny column
    * scan). Either way only the rewrite — the expensive part, full
    * rows — touches full partitions. The manifest rewrites AFTER the
    * store (its touched partitions drop the retracted ids): a crash
    * between the two leaves the manifest OVER-approximating — the
    * safe direction, a later retraction rewrites a partition
    * needlessly and the stale rows self-heal out; never the silent
    * miss. The
    * survivors materialize BEFORE the overwrite (the rewrite reads
    * the directories it replaces), and a retraction that would EMPTY
    * a batch directory is refused — dynamic overwrite cannot delete
    * a partition it writes no rows for, so the stale directory would
    * silently survive; rebuild the store ([[initSnapshotStore]])
    * when a whole batch must go. (The same refusal fires — with this
    * message — when a crashed commit left the manifest claiming a
    * batch the store never landed; [[compactSnapshotStore]]'s
    * manifest rebuild repairs that.) Ids absent from the store
    * retract vacuously. */
  def retractFromSnapshotStore(spark: SparkSession, dir: String,
                               removeIds: DataFrame,
                               idCol: String = "doc_id",
                               validate: String = "full"): Unit = {
    requireLevel(validate)
    val cur = readStore(spark, dir)
    val ids = removeIds.select(col(idCol))
    val manifested = hasManifest(spark, dir)
    // ONE discovery chain over whichever source scopes it — the two
    // branches differing only in the frame keeps a future fix to
    // the join or the collect from drifting between them
    val discoverFrom =
      if (manifested) readStore(spark, manifestPath(dir)) else cur
    val touched = discoverFrom.join(ids, Seq(idCol), "left_semi")
      .select("batch").distinct().collect().map(_.getLong(0))
    if (touched.isEmpty) return
    Pins.scope { p =>
      val survivors = p(cur.filter(col("batch").isin(touched: _*))
        .join(ids, Seq(idCol), "left_anti"))
      val remaining = survivors.select("batch").distinct().count()
      require(remaining == touched.length,
        s"retraction would empty ${touched.length - remaining} batch " +
          s"partition(s) of $dir - dynamic overwrite cannot delete " +
          "them; rebuild the store without the batch instead")
      survivors.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").mode("overwrite").parquet(dir)
      if (manifested) {
        Pins.scope { pm =>
          pm(readStore(spark, manifestPath(dir))
              .filter(col("batch").isin(touched: _*))
              .join(ids, Seq(idCol), "left_anti"))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").mode("overwrite")
            .parquet(manifestPath(dir))
        }
        // post-rewrite sync check, SCOPED to the touched partitions
        // (the verifyBatchSync discipline applied to retraction):
        // the store and manifest rewrites anti-join two SEPARATE
        // reads against the caller's id frame, and a
        // non-deterministic removeIds plan recomputed between the
        // two barriers could land DIFFERENT survivor sets — rows
        // the manifest no longer claims, the silent-miss class.
        // Tiers with `validate`: recovery defers to audit time.
        if (validate == "full") {
          val sp = readStore(spark, dir)
            .filter(col("batch").isin(touched: _*))
            .select(col(idCol), col("batch")).distinct()
          val mp = readStore(spark, manifestPath(dir))
            .filter(col("batch").isin(touched: _*))
            .select(col(idCol), col("batch"))
          val bad = symmetricDiffCount(sp, mp)
          require(bad == 0,
            s"retraction left $bad (id, batch) pair(s) differing " +
              s"between store and manifest in the touched " +
              s"partitions of $dir - a non-deterministic removeIds " +
              "plan recomputed differently across the two rewrites; " +
              "compactSnapshotStore rebuilds the manifest exactly")
        }
      }
    }
  }

  /** The raw store WITH its batch partition column — for sibling
    * operators whose composed certifiers need per-batch provenance
    * ([[graft.operators.Dedup.certifyBandStore]] folds manifest sync,
    * roster completeness and per-id structure into ONE aggregation,
    * which must see each row's batch). Everything else reads through
    * [[loadSnapshotStore]]. */
  private[operators] def readStoreWithBatch(spark: SparkSession,
                                            dir: String): DataFrame =
    readStore(spark, dir)

  /** The store's id→batch manifest as a DataFrame — the skinny
    * roster of every id the store claims to hold. Beyond retraction
    * discovery (its reason to exist), this is the natural
    * `expectedIds` source for artifact-completeness validators
    * ([[graft.operators.Dedup.validateMinHashBands]]'s roster
    * argument): a doc whose rows were ALL lost is invisible to
    * per-present-id structural checks, but its manifest row — written
    * transactionally beside the store — still names it. Refuses on a
    * manifest-less store (same contract as
    * [[validateSnapshotStoreManifest]]). */
  def loadSnapshotStoreManifest(spark: SparkSession,
                                dir: String): DataFrame = {
    require(hasManifest(spark, dir),
      s"$dir has no id manifest to load - initSnapshotStore " +
        "with manifestIdCol creates one")
    readStore(spark, manifestPath(dir))
  }

  /** Assert a manifested store's id→batch manifest is exactly in
    * sync with the store — the loud detector for the one silent
    * corruption a manifest can carry: a MISSING (id, batch) pair
    * scopes every future retraction past that id's partition, so the
    * retracted rows would keep serving while the takedown reports
    * success. Also refuses null ids outright — the id-keyed
    * retraction machinery can never target them (see the write-side
    * guard). One [[symmetricDiffCount]] job over the two skinny
    * (id, batch) projections; run it after any crash-recovery and
    * before trusting a long-lived store's retraction path. Repair
    * is [[compactSnapshotStore]], whose manifest rebuild is exact
    * by construction.
    *
    * @return the manifest it certified, so per-serve callers that
    *         also need the id roster ([[loadSnapshotStoreManifest]]'s
    *         completeness-validator use) read the parquet once, not
    *         twice per certification point. */
  def validateSnapshotStoreManifest(spark: SparkSession,
                                    dir: String): DataFrame = {
    require(hasManifest(spark, dir),
      s"$dir has no id manifest to validate - initSnapshotStore " +
        "with manifestIdCol creates one")
    val m = readStore(spark, manifestPath(dir))
    val idCol = m.columns.filterNot(_ == "batch") match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"manifest of $dir must hold exactly (id, batch) - found " +
          other.mkString(", "))
    }
    // a null id is refused OUTRIGHT, not validated as in-sync: the
    // retraction machinery discovers and rewrites by EQUI-join on
    // the id, which never matches null — a null-id row in a
    // manifested store is permanently un-retractable by id, the
    // silent-miss class itself, so it must fail loud here and at
    // every manifested write
    require(m.filter(col(idCol).isNull).isEmpty,
      s"manifest of $dir holds null ids - a null id can never be " +
        "retracted by id (equi-join discovery cannot match it); " +
        "scrub the null-id rows and rebuild the store")
    val sp = readStore(spark, dir).select(col(idCol), col("batch"))
      .distinct()
    val mp = m.select(col(idCol), col("batch"))
    val bad = symmetricDiffCount(sp, mp)
    if (bad != 0) {
      // pick the tailored diagnosis ONLY on the failure path — on a
      // clean pass the manifest is null-free (checked above) and the
      // multisets are equal, so the store is provably null-free too
      // and the extra store scan would be pure waste. A store-side
      // null needs its own message: the generic pointer at the
      // compaction rebuild would recommend a repair that (correctly)
      // refuses the same nulls.
      require(sp.filter(col(idCol).isNull).isEmpty,
        s"store $dir holds null-id rows - un-retractable by id and " +
          "not repairable by compaction (the rebuild refuses the " +
          "same nulls); scrub the null-id rows and rebuild the store")
      throw new IllegalArgumentException(
        s"requirement failed: manifest out of sync with $dir: $bad " +
          "(id, batch) pair(s) differ - a manifest missing ids lets " +
          "future retractions MISS their partitions (retracted rows " +
          "keep serving); compactSnapshotStore rebuilds it exactly")
    }
    m
  }

  // ------------------------------------------------------------------
  // Append-only ROLLUP store: sum-mergeable rollups (line-count
  // tables, df tables — [[mergeRollups]] state) persisted as batch
  // partitions of PARTIALS, merged on read. This is the THIRD storage
  // discipline alongside the per-doc fact store above (which rewrites
  // touched partitions on retraction) and the IVF-PQ layout (which
  // rewrites touched cells): here NOTHING is ever rewritten — a
  // commit appends a partial, and a RETRACTION appends the retracted
  // slice's partial NEGATED (sums form a group, so tombstone rows
  // cancel exactly; [[subtractRollups]] expressed as an append). The
  // write path therefore never contends with readers, the natural
  // fit when commit availability matters more than read cost; the
  // read pays one key-wise fold over all partials, and
  // [[compactRollupStore]] folds the partitions back to a single
  // batch-0 layout when partial count starts to dominate planning.
  // Choose the FACT store when rows must carry per-doc provenance;
  // choose this when the state is a sum.
  // ------------------------------------------------------------------

  /** Row-survives-the-fold predicate shared by [[subtractRollups]]
    * and [[loadRollupStore]]: any sum nonzero — or NULL, which must
    * ride through to the caller's validator rather than silently
    * falling out of a `=!= 0` filter. */
  private def anyLiveSum(sums: Seq[String]): Column =
    sums.map(c => col(c).isNull || col(c) =!= 0L).reduce(_ || _)

  /** Poison-preserving sum aggregate shared by [[loadRollupStore]]
    * and [[mergeRollups]]: a key with ANY null input cell aggregates
    * to null (the corruption marker), where Spark's `sum()` would
    * skip the null and silently understate. */
  private def poisonedSum(c: String): Column =
    when(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)),
      lit(0L)) > 0L, lit(null).cast(LongType))
      .otherwise(sum(col(c))).as(c)

  /** The same any-null-input-poisons-to-null wrapper for the other
    * merge arms ([[mergeRollups]]' min/max): the null result takes
    * the wrapped aggregate's own type, so the arm works for any
    * orderable column. */
  private def poisonedAgg(c: String, agg: Column): Column =
    when(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)),
      lit(0L)) > 0L, lit(null))
      .otherwise(agg).as(c)

  /** Fold a rollup store to its current table: key-wise sum over
    * every committed partial (tombstones cancel), rows whose every
    * sum is zero drop — exactly the table [[mergeRollups]] /
    * [[subtractRollups]] over the same partials would build, which
    * is the inc_boiler_store oracle's claim. Negative sums (a slice
    * retracted twice, or one never committed) survive the fold for
    * the caller's validator, as in [[subtractRollups]].
    *
    * The fold POISONS (the shared [[poisonedSum]], which
    * [[mergeRollups]]' sum arm uses too): a plain `sum()` IGNORES
    * null cells, so a corrupt externally-landed partial would
    * silently understate (or, fully-null, vanish into the zero
    * filter) and the validators — hardened to count nulls as bad —
    * could never see it. A key with any null cell folds to a null
    * sum, survives the filter, and trips the caller's validator
    * loudly. */
  def loadRollupStore(spark: SparkSession, dir: String,
                      keys: Seq[String],
                      sums: Seq[String]): DataFrame = {
    require(sums.nonEmpty, "need at least one sum column")
    readStore(spark, dir).drop("batch")
      .groupBy(keys.map(col): _*)
      .agg(poisonedSum(sums.head), sums.tail.map(poisonedSum): _*)
      .filter(anyLiveSum(sums))
  }

  /** Retract a slice from a rollup store WITHOUT rewriting anything:
    * append the slice's partial with every sum NEGATED — tombstone
    * rows that cancel key-wise at [[loadRollupStore]] time. An EMPTY
    * slice lands no batch (the [[retractDocs]] /
    * [[retractFromSnapshotStore]] convention — a quarantined source
    * whose docs carried no countable lines writes nothing): its
    * append, partitioned by batch, writes no data file, and the row
    * count observed during that append tells the landed-partition
    * check not to refuse. The caller contract is
    * [[subtractRollups]]'s (the slice must be a sub-multiset of what
    * the store counted; violating it drives merged sums negative for
    * the validator to catch), plus the store's fresh-batch-id rule —
    * checked by listing BEFORE the slice materializes, so a replayed
    * retraction refuses cheaply and even a vacuous one refuses under
    * a duplicate id (the id namespace stays honest either way). */
  def retractFromRollupStore(removedPartial: DataFrame, dir: String,
                             keys: Seq[String], sums: Seq[String],
                             batch: Long): Unit = {
    require(sums.nonEmpty, "need at least one sum column")
    // the listing-only guards run right before the append, the one
    // action that materializes the partial: a replayed retraction
    // with an already-landed batch id refuses by listing, vacuous or
    // not
    commitGuards(removedPartial.sparkSession, dir, batch, None)
    writeCommit(removedPartial.select(keys.map(col) ++
        sums.map(c => (-col(c)).as(c)): _*), dir, batch, None,
      onEmpty = None)
  }

  /** Fold all partials into a single batch-0 layout — bounds the
    * partition count a long-lived store accumulates (reads stay
    * one-fold cheap; planning stops paying per-partial listing).
    * Crash-safe by a tempdir SWAP, not an in-place overwrite: the
    * fold lands ON DISK at `<dir>__compact_tmp` while the store is
    * still intact, and only then does the old layout delete and the
    * tempdir rename into place — a crash before the swap loses
    * nothing, and a crash between the delete and the rename leaves
    * the complete folded store at the tempdir path, which the next
    * read or commit renames into place ([[finishSwap]]; the error
    * path cannot silently lose landed state, unlike an in-place
    * overwrite whose only copy of the fold would die with the JVM).
    * A store whose partials have fully cancelled folds to zero rows
    * and the init refuses — rebuild from source when everything is
    * retracted. */
  def compactRollupStore(spark: SparkSession, dir: String,
                         keys: Seq[String], sums: Seq[String]): Unit = {
    val tmp = compactTmp(dir)
    // the fold reads dir; the write targets tmp — no self-overwrite,
    // so no checkpoint barrier is needed (and a leftover tmp from a
    // crashed compaction is simply overwritten)
    initSnapshotStore(loadRollupStore(spark, dir, keys, sums), tmp)
    swapIntoPlace(spark, tmp, dir)
  }

  /** Compaction-SCHEDULING stats for a batch-partitioned store (fact
    * or rollup) — the monitoring numbers that decide when
    * [[compactSnapshotStore]] / [[compactRollupStore]] pays for
    * itself, the [[graft.operators.Quantization.ivfPqImbalance]]
    * role played for the store families. One row per landed batch:
    * its row count, its tombstone rows (any negated sum — rollup
    * stores only; pass `sums = Nil` for a fact store, whose
    * retraction rewrites instead of appending), its share of the
    * store, plus the store-level columns repeated on every row —
    * batch count, max/avg row skew, tombstone mass (the share of
    * rows that exist only to cancel others at fold time), and the
    * `compact_due` verdict against the caller's thresholds: too many
    * partials (planning pays per-partition listing; the read pays a
    * wider fold) or too much tombstone mass (rows scanned that
    * contribute nothing). Thresholds are arguments, not policy baked
    * in — a store ingesting hourly tolerates more partials than one
    * ingesting monthly.
    *
    * Scale shape: one partial-aggregated count per batch partition
    * (batch is the partition column, so the group-by shuffles
    * key-count-sized partials only); the windows then run over the
    * BATCH-COUNT-sized aggregate — config-class by the store
    * contract — so the single-partition window is a rows-not-data
    * global, never a corpus-wide one. */
  def storeStats(spark: SparkSession, dir: String,
                 sums: Seq[String] = Nil,
                 maxBatches: Int = 32,
                 maxTombstoneShare: Double = 0.10): DataFrame = {
    require(maxBatches > 0, s"need positive maxBatches: $maxBatches")
    // a NULL sum cell counts as tombstone mass too: null is the
    // store's corruption marker (see poisonedSum), and `col < 0`
    // alone would let when() read the null as false — the monitoring
    // number silently disagreeing with the fold/validator state it
    // exists to schedule maintenance for
    val tombstone: Column =
      if (sums.isEmpty) lit(false)
      else sums.map(c => col(c) < 0 || col(c).isNull).reduce(_ || _)
    val perBatch = readStore(spark, dir)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(tombstone, 1L).otherwise(0L)).as("neg_rows"))
    val w = Window.partitionBy(lit(0))
    perBatch
      .withColumn("batch_share",
        round(col("n_rows").cast("double") / sum("n_rows").over(w), 6))
      .withColumn("n_batches", count(lit(1)).over(w))
      .withColumn("max_batch_rows", max("n_rows").over(w))
      .withColumn("skew", round(
        max("n_rows").over(w).cast("double") / avg("n_rows").over(w), 6))
      .withColumn("tombstone_share", round(
        sum("neg_rows").over(w).cast("double") / sum("n_rows").over(w),
        6))
      .withColumn("compact_due",
        col("n_batches") >= maxBatches ||
          col("tombstone_share") >= maxTombstoneShare)
  }

  /** The crash-safe tail both compactions share: delete the old
    * layout, rename the already-landed fold into its place. A crash
    * before the delete loses nothing (the store is untouched); a
    * crash between the delete and the rename leaves the complete
    * folded store at the tempdir path, and the next [[readStore]] or
    * commit renames it into place ([[finishSwap]]). No failure point
    * can silently lose landed state, unlike an in-place overwrite
    * whose only copy of the fold would die with the JVM.
    *
    * The guarantee is scoped to ATOMIC-RENAME filesystems (HDFS,
    * POSIX — where a directory rename is one metadata operation).
    * On an object store (s3a and kin) `rename` is a client-side
    * copy-then-delete, so a crash mid-rename can leave `dir`
    * holding a PARTIAL layout that looks complete; deployments
    * there should swap via a committed pointer/manifest (e.g. a
    * table format's atomic metadata commit) rather than this
    * directory rename. */
  private def swapIntoPlace(spark: SparkSession, tmp: String,
                            dir: String): Unit = {
    // fsFor resolves the filesystem FROM the path (a FileSystem.get
    // on the default scheme would hit the wrong FS for qualified
    // paths)
    val (fs, target) = fsFor(spark, dir)
    require(fs.delete(target, true),
      s"compaction could not delete $dir for the swap - the folded " +
        s"store is intact at $tmp")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), target),
      s"compaction could not rename $tmp into $dir - the folded " +
        s"store is intact at $tmp; the next read or commit renames " +
        "it into place")
  }
}
