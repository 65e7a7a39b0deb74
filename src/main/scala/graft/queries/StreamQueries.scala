package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exprs, Fixtures, Pins, Tables => T}

/** Event-time windowed aggregation (§2.11). The reference is batch-only;
  * these are the batch equivalents of the Structured Streaming jobs in
  * [[graft.streaming.EventStream]] (same `window()` expressions — the
  * streaming path is exercised in tests with Trigger.AvailableNow).
  * Window starts are emitted as epoch seconds so the oracle compare is
  * precision-independent (events.parquet is nanosecond-stamped; Spark
  * reads microseconds).
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Run an AvailableNow streaming query ONCE per (application,
    * dataset, name), append each micro-batch to a scratch parquet
    * sink, and return the sink path; later callers read the
    * materialized result. The catalog entry keeps bench iterations
    * from re-running the stream (a checkpoint replay would process
    * zero new files — correct but misleading to time) and keeps two
    * concurrent constructions from racing on one checkpoint.
    * `transform` runs INSIDE foreachBatch on each micro-batch before
    * the sink write — the place for logic Structured Streaming cannot
    * express on the stream itself (window functions, multi-stage
    * aggregation), legal whenever the per-batch result depends only on
    * that batch's rows plus static frames. `build` turns the staged
    * input dir into the stream; by default a plain file stream under
    * `srcFile`'s schema. */
  private def materializedStream(s: SparkSession, d: String, name: String,
      srcFile: String, mode: String = "append",
      transform: DataFrame => DataFrame = identity)(
      build: String => DataFrame = fileStream(s, d, srcFile)): String =
    staged(s, d, name, srcFile) { (in, base) =>
      // append sinks accumulate batches; a complete-mode sink holds
      // the full result each batch, so the LAST overwrite wins
      graft.streaming.EventStream.runAvailableNow(build(in), s"$base/ckpt",
        mode) { (b, _) =>
        Pins.scope { p =>
          val out = transform(b)
          // an operator that seals its output (a bare local
          // checkpoint) leaves the sink the only handle to it: free
          // it once the batch has landed
          if (Pins.isCheckpoint(out)) p.own(out)
          out.write
            .mode(if (mode == "complete") "overwrite" else "append")
            .parquet(s"$base/out")
        }
      }
    }

  /** A file stream over the staged input dir `in`, under the schema of
    * the dataset's `srcFile` (read from its footer, no Spark job). */
  private def fileStream(s: SparkSession, d: String, srcFile: String)(
      in: String): DataFrame =
    s.readStream.schema(T.parquet(s, s"$d/$srcFile").schema).parquet(in)

  /** The staging both stream runners share, once per (application,
    * dataset, name): copy the dataset's `srcFile` into `<base>/in`,
    * start `<base>/out` and `<base>/ckpt` empty, let `run` fill
    * `<base>/out`, and return that path. */
  private def staged(s: SparkSession, d: String, name: String,
      srcFile: String)(run: (String, String) => Unit): String =
    Fixtures.get(s, d, s"stream_$name") {
      import java.nio.file.{Files, Paths}
      val base = Fixtures.dir(s, d, s"stream_$name")
      // the file stream source lists a DIRECTORY; the fixture tables
      // are single files — stage the arriving table into the scratch
      // input dir (at scale this dir IS the landing zone new files
      // drop into between AvailableNow catch-up runs)
      val in = s"$base/in"
      Files.createDirectories(Paths.get(in))
      // REPLACE_EXISTING: a failed earlier build in this JVM leaves
      // the staged file behind without a catalog entry; the retry must
      // not trip over it
      Files.copy(Paths.get(s"$d/$srcFile"), Paths.get(s"$in/$srcFile"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // same retry hazard for the sink and checkpoint: foreachBatch
      // is at-least-once, so resuming a half-written append sink from
      // a leftover checkpoint can double-append a replayed micro-batch
      // into `out` — and the cached result would feed the oracle
      // hash duplicated rows. No catalog entry ⇒ this build owns the
      // dirs; start them empty.
      Fixtures.deleteTree(s"$base/out")
      Fixtures.deleteTree(s"$base/ckpt")
      run(in, base)
      s"$base/out"
    }

  /** The two-run shape of the lifecycle twins: era A's AvailableNow
    * run over `srcFile` (stream `<name>A`), then `between` (the
    * lifecycle mutation), then era B's run (stream `<name>B`); returns
    * both runs' rows. Each era's transform is taken by name and built
    * only when its run starts, so era B's state is first read after
    * the mutation.
    *
    * `between` runs after run A has served and UNCONDITIONALLY, never
    * inside a lazy serve state: the streams memoize, so a retried
    * invocation may skip both runs, and a mutation hidden in era B's
    * lazy initializer would then never land, or (a commit against a
    * store a failed attempt already committed to) refuse forever in
    * this JVM. Callers that mutate a store reset it before run A, so
    * every invocation lands the mutation exactly once. */
  private def twoRuns(s: SparkSession, d: String, name: String,
      eraA: => DataFrame => DataFrame, eraB: => DataFrame => DataFrame,
      between: => Unit = (),
      srcFile: String = "documents.parquet"): DataFrame = {
    val run1 = materializedStream(s, d, name + "A", srcFile,
      transform = eraA)()
    between
    val run2 = materializedStream(s, d, name + "B", srcFile,
      transform = eraB)()
    T.parquet(s, run1).unionByName(T.parquet(s, run2))
  }

  /** Shared body of the IVF-PQ lifecycle twins (st_inc_ivfpq_add /
    * st_inc_ivfpq_remove): persist a starting layout, serve era A's
    * query slice (every 20th vector) from it, apply the lifecycle
    * mutation (add / remove) between the runs, then serve era B
    * (every 20th + 10) from the mutated layout. One index load per
    * ERA, not per micro-batch (the codebook collects and the file
    * listing snapshots at load time). The starting layout persists
    * before run A, so a prior invocation's mutated state resets.
    * Per-query work is index-static, so micro-batch splits cannot
    * change results. */
  private def ivfPqLifecycleTwin(s: SparkSession, d: String,
      scratch: String,
      startCodes: DataFrame => DataFrame,
      mutateBetweenRuns: String => Unit): DataFrame = {
    val Q = graft.operators.Quantization
    val dir = Fixtures.dir(s, d, s"st$scratch")
    val idx0 = LlmQueries.sharedIvfPqIndex(s, d)
    Q.persistIvfPqIndex(idx0.copy(codes = startCodes(idx0.codes)), dir)
    lazy val idxA = Q.loadIvfPqIndex(s, dir)
    lazy val idxB = Q.loadIvfPqIndex(s, dir)
    def serve(idx: => graft.operators.Quantization.IvfPqIndex,
              era: Int)(batch: DataFrame): DataFrame =
      Q.ivfPqSearch(batch.filter(col("vec_id") % 20 === era * 10),
        "vec_id", "embedding", idx, nprobe = 2, topK = 3)
    twoRuns(s, d, scratch, serve(idxA, 0), serve(idxB, 1),
        between = mutateBetweenRuns(dir), srcFile = "embeddings.parquet")
      .orderBy("qid", "rank")
  }

  /** [[materializedStream]]'s FOLD variant: instead of writing each
    * micro-batch, `step` folds it into a running state frame (e.g. a
    * maintained rollup), and the FINAL state is what materializes.
    * The state localCheckpoints every batch so the plan never chains
    * across batches. */
  private def materializedFold(s: SparkSession, d: String, name: String,
      srcFile: String, step: (Option[DataFrame], DataFrame) => DataFrame)(
      build: String => DataFrame = fileStream(s, d, srcFile)): String =
    staged(s, d, name, srcFile) { (in, base) =>
      // the scope owns every fold state: each batch's checkpoint
      // replaces (and releases) the previous one, and the final
      // state is freed once it is on disk
      Pins.scope { p =>
        var state: Option[DataFrame] = None
        graft.streaming.EventStream.runAvailableNow(build(in),
          s"$base/ckpt", "append") { (b, _) =>
          val next = p(step(state, b))
          state.foreach(p.release)
          state = Some(next)
        }
        state.getOrElse(s.emptyDataFrame)
          .write.mode("overwrite").parquet(s"$base/out")
      }
    }

  val defs: Map[String, Q] = Map(
    // S7's streaming twin AS AN ORACLE ROW: the incremental new-rows
    // pickup run through Trigger.AvailableNow micro-batches (file
    // source → stream-static left-anti → parquet sink), checked
    // against the BATCH query's oracle — the trigger/layout must never
    // change answers (the s18 argument, applied to time instead of
    // directory layout). The spec-level stream==batch assert
    // (EventStreamSpec) remains; this row puts the property under the
    // driver's hash gate.
    "st_s7_new" -> ((s, d) => {
      val out = materializedStream(s, d, "s7", "part.parquet") { in =>
        graft.streaming.EventStream.newRowsAntiJoin(
            fileStream(s, d, "part.parquet")(in),
            T.lineitem(s, d).filter(col("l_quantity") > 45),
            "p_partkey", "l_partkey")
          .select("p_partkey")
      }
      T.parquet(s, out).orderBy("p_partkey")
    }),

    // The watermarked hourly-window aggregation as an oracle row: the
    // streaming run (event-time window + 2h watermark, complete mode)
    // hashes against the BATCH st_hourly_window oracle — same contract
    // as st_s7_new, for a stateful aggregation instead of a
    // stream-static join.
    "st_hourly_stream" -> ((s, d) => {
      val out = materializedStream(s, d, "hourly", "events.parquet",
        mode = "complete") { in =>
        graft.streaming.EventStream.hourlyAgg(
          graft.streaming.EventStream.readEvents(s, in))
      }
      T.parquet(s, out).orderBy("hour_start", "event_type")
    }),

    // Custom stateful sessionization (flatMapGroupsWithState) as an
    // oracle row: the streaming session counts hash against the batch
    // st_sessions oracle (lag + flag cumsum) — puts the hand-rolled
    // state machine itself under the driver's hash gate.
    "st_sessions_stream" -> ((s, d) => {
      val out = materializedStream(s, d, "sessions", "events.parquet") {
        in =>
          implicit val ss: SparkSession = s
          graft.streaming.EventStream.sessionize(
            graft.streaming.EventStream.readEvents(s, in),
            gapNanos = 1800000000000L).toDF()
      }
      T.parquet(s, out).orderBy("user_id")
    }),

    // The stream-stream attribution join as an oracle row: two
    // watermarked streaming views over one file source joined with
    // event-time bounds, hashed against the batch st_attrib_join
    // oracle.
    "st_attrib_stream" -> ((s, d) => {
      val out = materializedStream(s, d, "attrib", "events.parquet") { in =>
        graft.streaming.EventStream.attributeJoin(
          graft.streaming.EventStream.readEvents(s, in))
      }
      T.parquet(s, out).orderBy("purchase_id", "click_id")
    }),

    // The DETERMINISTIC streaming dedup as an oracle row: per-key
    // pinned-survivor summary (count, min event-time, min id) via
    // flatMapGroupsWithState, hashed against the batch st_dedup
    // oracle — the last streaming operator brought under the hash
    // gate (dropDuplicatesWithinWatermark keeps an arbitrary
    // survivor; this path pins it).
    "st_dedup_stream" -> ((s, d) => {
      val out = materializedStream(s, d, "dedup", "events.parquet") { in =>
        implicit val ss: SparkSession = s
        graft.streaming.EventStream.dedupPinned(
          graft.streaming.EventStream.readEvents(s, in)).toDF()
      }
      T.parquet(s, out).orderBy("user_id", "event_type")
    }),

    // Cross-corpus duplicate-span detection as a streaming twin — the
    // operator a 100 TB ingest pipeline actually runs continuously:
    // incoming micro-batches (doc_id % 5 = 0, the d37 split) probe the
    // MATERIALIZED existing-gram set (built once from the static side,
    // localCheckpointed — a production deployment keeps this table on
    // disk and appends to it as batches commit). The interval merge is
    // a window function, inexpressible on a stream, so it runs inside
    // foreachBatch via `transform` — safe because every incoming doc's
    // grams derive from its own row (micro-batch-local by
    // construction; see Dedup.crossDupSpansAgainst). Hashed against
    // the BATCH d37 oracle verbatim.
    "st_cross_spans" -> ((s, d) => Pins.scope { p =>
      lazy val seen = p(graft.operators.Dedup.existingGramSet(
        T.documents(s, d).filter(col("doc_id") % 5 =!= 0), "text"))
      val out = materializedStream(s, d, "xspans", "documents.parquet",
        transform = batch =>
          graft.operators.Dedup.crossDupSpansAgainst(
            batch.filter(col("doc_id") % 5 === 0), seen,
            "doc_id", "text"))()
      T.parquet(s, out).orderBy("doc_id", "span_start")
    }),

    // Cross-corpus NEAR-dup (prefix-filtered exact Jaccard) as a
    // streaming twin — the third leg of the continuous-ingest screen
    // family (exact spans: st_cross_spans; bench overlap:
    // st_decontam_stream; near-dup: this). The existing side
    // materializes ONCE as a PrefixCrossIndex (shingle sets + the df
    // table the shared prefix order keys on); each micro-batch probes
    // it, and per-incoming-row work depends only on that row plus the
    // index, so batch splits cannot change the result. Hashed against
    // the BATCH d47 oracle (= d26's pairwise SQL) verbatim.
    "st_cross_near" -> ((s, d) => Pins.scope { p =>
      lazy val idx = {
        val i = graft.operators.Dedup.prefixCrossIndex(
          T.documents(s, d).filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", k = 5, theta = 0.5)
        i.frames.foreach(p.own)
        i
      }
      val out = materializedStream(s, d, "xnear", "documents.parquet",
        transform = batch =>
          graft.operators.Dedup.prefixCrossJaccardAgainst(
            batch.filter(col("doc_id") % 7 === 0), idx,
            "doc_id", "text"))()
      T.parquet(s, out).orderBy("in_id", "ex_id")
    }),

    // ANN SERVING as a streaming run: the IVF-PQ index builds ONCE
    // from the static corpus (codebooks driver-held, codes
    // checkpointed — what a deployment persists), and query
    // micro-batches probe it via ivfPqSearch; per-query work depends
    // only on that query's vector plus the static index, so batch
    // splits cannot change results. Hashed against the BATCH d51
    // oracle verbatim.
    "st_ann_probe" -> ((s, d) => {
      lazy val idx = LlmQueries.sharedIvfPqIndex(s, d)
      val out = materializedStream(s, d, "annprobe", "embeddings.parquet",
        transform = batch => graft.operators.Quantization.ivfPqSearch(
          batch.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          idx, nprobe = 2, topK = 3))()
      T.parquet(s, out).orderBy("qid", "rank")
    }),

    // Cross-corpus LINE dedup as a streaming twin — the fourth ingest
    // screen (exact spans, bench overlap, near-dup, and now
    // boilerplate lines): the existing corpus's boilerplate table
    // materializes once, incoming micro-batches drop any line in it;
    // per-row work depends only on the row plus the static set, so
    // batch splits cannot change results. Hashed against the BATCH
    // d64 oracle verbatim.
    "st_line_dedup" -> ((s, d) => Pins.scope { p =>
      def planted(df: DataFrame) = LlmQueries.boilerPlanted(df)
      lazy val set = p(graft.operators.Dedup.boilerplateLineSet(
        planted(T.documents(s, d)).filter(col("doc_id") % 5 =!= 0),
        "text", minCount = 3))
      val out = materializedStream(s, d, "xlines", "documents.parquet",
        transform = batch =>
          graft.operators.Dedup.lineDedupAgainst(
            planted(batch.filter(col("doc_id") % 5 === 0)), set,
            "doc_id", "text"))()
      T.parquet(s, out).orderBy("doc_id")
    }),

    // The boilerplate screen with the set REFRESHED BETWEEN
    // AvailableNow catch-up runs — what a production ingest actually
    // does as existing-corpus batches commit: era A's line-count
    // partial screens the first incoming run; before the second run,
    // era B's partial merges in (Incremental.mergeRollups — counts
    // are sum-mergeable, no text rescanned) and the refreshed set
    // screens the rest. Each incoming doc is screened by exactly one
    // era's set (doc_id parity), so the composite is deterministic
    // and the oracle states both sets explicitly.
    "st_inc_boiler" -> ((s, d) => Pins.scope { p =>
      def planted(df: DataFrame) = LlmQueries.boilerPlanted(df)
      lazy val partA = p(graft.operators.Dedup.lineCountPartial(
        planted(T.documents(s, d)
          .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 0)),
        "text"))
      lazy val partB = p(graft.operators.Dedup.lineCountPartial(
        planted(T.documents(s, d)
          .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 =!= 0)),
        "text"))
      lazy val setA = p(graft.operators.Dedup.boilerplateFromCounts(
        partA, minCount = 3))
      lazy val setAB = p(graft.operators.Dedup.boilerplateFromCounts(
        graft.operators.Dedup.mergeLineCounts(Seq(partA, partB)),
        minCount = 3))
      def screen(set: DataFrame, era: Int)(batch: DataFrame) =
        graft.operators.Dedup.lineDedupAgainst(
          planted(batch.filter(col("doc_id") % 5 === 0
            && col("doc_id") % 2 === era)), set, "doc_id", "text")
      twoRuns(s, d, "incboil", screen(setA, era = 0), screen(setAB, era = 1))
        .orderBy("doc_id")
    }),

    // The boilerplate screen RETRACTED between catch-up runs —
    // inc_boiler_remove in its streaming shape: era A's incoming
    // docs (evens) are screened with the FULL existing counts, the
    // quarantined %7==1 slice's partial subtracts between the runs
    // (subtractLineCounts, validated), and era B's incoming (odds)
    // probe the reduced set. The banner is planted on the
    // quarantined docs, two innocents, and ALL incoming docs — so
    // era A cuts it (count >= 3) while era B KEEPS it (count falls
    // to 2): the un-learning lands mid-stream, and each era's result
    // depends only on (own doc, static era set).
    "st_inc_boiler_remove" -> ((s, d) => {
      val D = graft.operators.Dedup
      def planted(df: DataFrame) =
        LlmQueries.bannerPlanted(df, col("doc_id") % 5 === 0)
      // checkpoints are pinned as they materialize, so a run that
      // fails early frees only what actually exists (the st_inc_kn
      // cleanup discipline)
      Pins.scope { p =>
        lazy val countsFull = p(D.lineCountPartial(
          planted(T.documents(s, d).filter(col("doc_id") % 5 =!= 0)),
          "text"))
        lazy val setFull = p(D.boilerplateFromCounts(countsFull,
          minCount = 3))
        lazy val setRet = {
          val sub = D.subtractLineCounts(countsFull,
            D.lineCountPartial(
              planted(T.documents(s, d)
                .filter(col("doc_id") % 5 =!= 0
                  && col("doc_id") % 7 === 1)), "text"))
          D.validateLineCounts(sub)
          p(D.boilerplateFromCounts(sub, minCount = 3))
        }
        // set taken BY NAME: on a warm (memoized-stream) re-invocation
        // the transforms never run, so the count/subtract/validate
        // chain must not be forced either — the by-name + lazy-val
        // pairing the sibling twins use
        def screen(set: => DataFrame, era: Int)(batch: DataFrame) =
          D.lineDedupAgainst(
            planted(batch.filter(col("doc_id") % 5 === 0
              && col("doc_id") % 2 === era)), set, "doc_id", "text")
        twoRuns(s, d, "boilrm", screen(setFull, 0), screen(setRet, 1))
          .orderBy("doc_id")
      }
    }),

    // The boilerplate screen served from the DURABLE ROLLUP STORE
    // across catch-up runs — st_inc_boiler_remove with every count
    // table read from DISK (the st_inc_bm25_store discipline applied
    // to the append-only rollup layout): two crawl eras COMMIT their
    // count partials as batch partitions, era A's incoming docs
    // (evens) screen against the store's key-wise fold (== the full
    // counts), the quarantined %7==1 slice lands BETWEEN the runs as
    // a TOMBSTONE append (its partial negated — no landed partition
    // rewritten), the store then COMPACTS (the production fold
    // cadence), and era B's incoming (odds) screen against the
    // reloaded folded counts (== the subtracted recount: the banner
    // un-learns mid-stream). What serves is only ever what is ON
    // DISK, each era's folded table is validated, and the result
    // must hash-match the st_inc_boiler_remove oracle VERBATIM —
    // the disk round-trip, the tombstone mechanics AND the
    // compaction are result-invisible under micro-batch splits too.
    "st_inc_boiler_store" -> ((s, d) => {
      val D = graft.operators.Dedup
      def planted(df: DataFrame) =
        LlmQueries.bannerPlanted(df, col("doc_id") % 5 === 0)
      def existing = planted(T.documents(s, d)
        .filter(col("doc_id") % 5 =!= 0))
      val store = MaintainedArtifacts.boilerStore(s,
        Fixtures.dir(s, d, "st_boilstore"))
      Pins.scope { p =>
        // init resets the layout, so everything lands fresh
        store.eras(existing)
        // each era's screen set folds the ON-DISK store once, is
        // validated during its pin, and every micro-batch probes it
        lazy val setFull = store.boilerplate(p, minCount = 3)
        lazy val setRet = store.boilerplate(p, minCount = 3)
        def screen(set: => DataFrame, era: Int)(batch: DataFrame) =
          D.lineDedupAgainst(
            planted(batch.filter(col("doc_id") % 5 === 0
              && col("doc_id") % 2 === era)), set, "doc_id", "text")
        // the takedown lands BETWEEN the runs as a tombstone append,
        // and the store compacts before era B serves: both must be
        // invisible next to the in-memory subtraction the oracle
        // replays
        twoRuns(s, d, "boilst", screen(setFull, 0), screen(setRet, 1),
            between = {
              store.retract(existing.filter(col("doc_id") % 7 === 1))
              store.compact()
            })
          .orderBy("doc_id")
      }
    }),

    // The LSH BAND STORE serving across catch-up runs — the
    // inc_lsh_store lifecycle in its streaming shape (the
    // st_inc_bm25_store discipline applied to the near-dup screen):
    // the existing corpus's banded rows commit as two manifested
    // batch partitions BEFORE the first run, era A's incoming docs
    // (evens among the %5==0 slice) near-dup-screen each micro-batch
    // against the ON-DISK bands, the %3==1 takedown lands at the
    // FILE level between the runs and the store COMPACTS (manifest
    // rebuilt exactly — the production fold cadence), and era B's
    // incoming (odds) screen against the reloaded survivors: planted
    // partners of retracted docs stop flagging mid-stream, survivor
    // partners keep flagging. Per-batch work is (batch rows + static
    // store + static corpus texts) only, so micro-batch splits
    // cannot change a row; the result must hash-match the
    // era-parameterized inc_lsh_store replays VERBATIM.
    "st_inc_lsh_store" -> ((s, d) => {
      import MaintainedArtifacts.Lsh
      val D = graft.operators.Dedup
      def planted(df: DataFrame) = LlmQueries.lshPlanted(df)
      def existing = planted(T.documents(s, d)
        .filter(col("doc_id") % 5 =!= 0))
      val store = MaintainedArtifacts.bandStore(s,
        Fixtures.dir(s, d, "st_lshstore"))
      store.eras(existing)
      Pins.scope { p =>
        // each era certifies then PINS the on-disk band table once (a
        // checkpoint: era A's screen must keep reading pre-retraction
        // bands, and the pin keeps per-batch probes off repeated
        // parquet reads); the load's one-job certification licenses
        // the screens below to skip their per-MICRO-BATCH band-range
        // job (storedCertified: the pinned table is immutable per era)
        lazy val bandsA = p(store.load(p))
        lazy val bandsB = p(store.load(p))
        // per micro-batch the operator checkpoints its candidates and
        // output; it frees the candidates itself, and the sink frees
        // the sealed output once the batch has landed
        def screen(bands: => DataFrame, era: Int)(batch: DataFrame) =
          D.lshScreenAgainst(
            planted(batch.filter(col("doc_id") % 5 === 0
              && col("doc_id") % 2 === era)),
            bands, existing, "doc_id", "text", Lsh.k, theta = 0.7,
            Lsh.numPerm, Lsh.bands, storedCertified = true)
        // the takedown + compaction land BETWEEN the runs
        twoRuns(s, d, "lshst", screen(bandsA, 0), screen(bandsB, 1),
            between = {
              store.retract(existing.filter(col("doc_id") % 3 === 1))
              store.compact()
            })
          .orderBy("in_id", "ex_id")
      }
    }),

    // The KN LM RETRACTED between catch-up runs — inc_kn_remove in
    // its streaming shape: era A's probes (every 16th) score from
    // the full-corpus LM, the %5==4 docs retract between the runs
    // (retractDocs, validated), and era B's probes (16k+8) score
    // from the reduced LM — probes that are themselves retracted
    // (24, 104, ...) vanish from era B, the takedown visible
    // mid-stream. Frozen era score tables, so micro-batch splits
    // cannot change a row.
    "st_inc_kn_remove" -> ((s, d) => {
      val TA = graft.operators.TextAnalysis
      Pins.scope { p =>
        lazy val snapFull = p(TA.knSnapshot(
          T.documents(s, d), "doc_id", "text"))
        lazy val scoresFull = p.own(TA.knScoreFromSnapshot(snapFull))
        lazy val scoresRet = {
          val ret = p(graft.operators.Incremental.retractDocs(
            snapFull,
            T.documents(s, d).filter(col("doc_id") % 5 === 4)
              .select("doc_id")))
          TA.validateKnSnapshot(ret)
          p.own(TA.knScoreFromSnapshot(ret))
        }
        def serve(scores: => DataFrame, era: Int)(batch: DataFrame) =
          batch.filter(col("doc_id") % 16 === era * 8)
            .select("doc_id")
            .join(scores, Seq("doc_id"))
        twoRuns(s, d, "knrm", serve(scoresFull, 0), serve(scoresRet, 1))
          .orderBy("doc_id")
      }
    }),

    // The BM25 index RETRACTED between catch-up runs —
    // inc_bm25_remove in its streaming shape: era A's query slice
    // (every 80th doc) serves from the full tf snapshot, the %10==3
    // docs retract between the runs (retractDocs, validated), and
    // era B's slice (80k+40 — all %10==0, so the probe pool itself
    // never shrinks) serves from the reduced index. The batch
    // inc_bm25_remove row pins the probed-but-retracted property;
    // this twin pins the mid-stream landing.
    "st_inc_bm25_remove" -> ((s, d) => {
      val S = graft.operators.Search
      Pins.scope { p =>
        lazy val tfFull = p(S.tfSnapshot(
          T.documents(s, d), "doc_id", "text"))
        lazy val tfRet = {
          val r = p(graft.operators.Incremental.retractDocs(tfFull,
            T.documents(s, d).filter(col("doc_id") % 10 === 3)
              .select("doc_id")))
          S.validateTfSnapshot(r)
          r
        }
        def serve(tf: => DataFrame, era: Int)(batch: DataFrame) =
          S.bm25TopKIndexed(tf,
            batch.filter(col("doc_id") % 80 === era * 40)
              .select(col("doc_id").as("qid"),
                LlmQueries.bm25Qtext(col("text")).as("qtext")),
            "qid", "qtext", k = 5, materialize = false)
        twoRuns(s, d, "bm25rm", serve(tfFull, 0), serve(tfRet, 1))
          .orderBy("qid", "rank")
      }
    }),

    // The BM25 index refreshed between catch-up runs — the
    // append-only postings maintenance (inc_bm25_refresh) in its
    // streaming shape: era A of the query stream serves from the
    // era-A tf snapshot, the era-B partial union-merges in
    // (mergeTfSnapshots — per-doc independence, validated), and era
    // B serves from the merged snapshot. The probe set is a PER-ROW
    // predicate (every 80th doc per era), so per-query results
    // depend only on (own qtext, static snapshot) and micro-batch
    // splits cannot change them.
    "st_inc_bm25" -> ((s, d) => Pins.scope { p =>
      val S = graft.operators.Search
      lazy val tfA = p(S.tfSnapshot(
        T.documents(s, d).filter(col("doc_id") % 2 === 0),
        "doc_id", "text"))
      lazy val tfAB = {
        val merged = p(S.mergeTfSnapshots(Seq(tfA,
          S.tfSnapshot(
            T.documents(s, d).filter(col("doc_id") % 2 =!= 0),
            "doc_id", "text"))))
        S.validateTfSnapshot(merged)
        merged
      }
      // materialize = false: the sink write consumes the result once
      // — an output localCheckpoint per micro-batch would leak a
      // storage block per batch for the JVM lifetime (the st_ann
      // pattern); qtext comes from the ONE shared rule so the twin
      // can never drift from the batch oracle's ws[1:6]
      def serve(tf: => DataFrame, era: Int)(batch: DataFrame) =
        S.bm25TopKIndexed(tf,
          batch.filter(col("doc_id") % 80 === era * 40)
            .select(col("doc_id").as("qid"),
              LlmQueries.bm25Qtext(col("text")).as("qtext")),
          "qid", "qtext", k = 5, materialize = false)
      twoRuns(s, d, "incbm25", serve(tfA, 0), serve(tfAB, 1))
        .orderBy("qid", "rank")
    }),

    // The DURABLE tf store fed by the stream — inc_bm25_store's
    // streaming shape, st_inc_bm25 with the in-memory merge replaced
    // by the batch-partitioned parquet layout: crawl era A
    // INITIALIZES the store before the first AvailableNow run's
    // probes serve from the LOADED index, era B's partial
    // file-commits as its own partition directory between runs, the
    // store then COMPACTS (the production fold cadence), and era B's
    // probes serve from the reloaded FOLDED store. What serves is
    // only ever what is ON DISK (a restart between crawls loses
    // nothing), the validator certifies each loaded state, and the
    // result must hash-match the st_inc_bm25 oracle VERBATIM — the
    // disk round-trip AND the compaction are result-invisible under
    // micro-batch splits too.
    "st_inc_bm25_store" -> ((s, d) => {
      val S = graft.operators.Search
      val store = MaintainedArtifacts.tfStore(s,
        Fixtures.dir(s, d, "st_tfstore"))
      Pins.scope { p =>
        // init resets the layout, so the commit between the runs
        // always lands fresh and the query stays idempotent
        store.init(T.documents(s, d).filter(col("doc_id") % 2 === 0))
        // each era's loaded store pins ONCE (the st_inc_bm25 snapshot-
        // checkpoint discipline): every micro-batch's serve derives
        // postings/dl/df/scalars from the snapshot, and an unpinned
        // load would re-read the store parquet for each subplan of
        // each micro-batch
        lazy val tfA = p(store.load(p))
        lazy val tfAB = p(store.load(p))
        // materialize = false, as in st_inc_bm25: the sink write
        // consumes each micro-batch's result once
        def serve(tf: => DataFrame, era: Int)(batch: DataFrame) =
          S.bm25TopKIndexed(tf,
            batch.filter(col("doc_id") % 80 === era * 40)
              .select(col("doc_id").as("qid"),
                LlmQueries.bm25Qtext(col("text")).as("qtext")),
            "qid", "qtext", k = 5, materialize = false)
        // era B's partial file-commits BETWEEN the runs, and the
        // store COMPACTS before era B serves: the production ingest
        // loop folds accumulated crawl partitions on a cadence, and
        // the fold must be invisible to the next era's probes — era
        // B serves the folded single-partition layout and still
        // hash-matches the st_inc_bm25 oracle
        twoRuns(s, d, "incbm25store", serve(tfA, 0), serve(tfAB, 1),
            between = {
              store.commit(
                T.documents(s, d).filter(col("doc_id") % 2 =!= 0))
              store.compact()
            })
          .orderBy("qid", "rank")
      }
    }),

    // The health run store fed by the stream — rp_health_runs in its
    // streaming shape: the pre-crawl corpus lands via the first
    // AvailableNow run and its aggregate-only capture is APPENDED to
    // the `_SNAP_runs` store (run 0, resetting the store); the new
    // crawl lands via the second run and the full-corpus capture
    // appends as run 1; the delta then diffs the two STORED rows.
    // Each snapshot is a pure aggregate of the rows landed so far,
    // so micro-batch splits inside a run cannot change it, and the
    // result must hash-match the batch rp_health_runs replay.
    "st_health_runs" -> ((s, d) => {
      def ingest(name: String, pred: org.apache.spark.sql.Column) =
        materializedStream(s, d, name, "documents.parquet",
          transform = _.filter(pred)
            .select("doc_id", "text", "lang"))()
      val runA = ingest("healthA", col("doc_id") % 10 =!= 9)
      val dir = Fixtures.dir(s, d, "healthruns_st")
      graft.core.Snapshots.appendRun(
        LlmQueries.corpusHealth(T.parquet(s, runA)),
        "crawl_000", 0, dir, overwrite = true)
      val runB = ingest("healthB", col("doc_id") % 10 === 9)
      graft.core.Snapshots.appendRun(
        LlmQueries.corpusHealth(
          T.parquet(s, runA).unionByName(T.parquet(s, runB))),
        "crawl_001", 1, dir)
      LlmQueries.healthRunsDelta(
        graft.core.Snapshots.loadRunStore(s, dir))
    }),

    // The KN bigram LM refreshed between catch-up runs — the
    // inc_kn_refresh maintenance in its streaming shape: era A's
    // probe docs (every 16th, even — docs the era-A snapshot
    // counted) read their scores from the even-half LM, the odd-half
    // knSnapshot partial union-merges in (mergeKnSnapshots,
    // validated), and era B's probes (16k+5, odd — scoreable only
    // after the merge) read from the merged LM. Each era's score
    // table is a frozen localCheckpoint, so a probe row's result
    // depends only on (own doc_id, static era LM) and micro-batch
    // splits cannot change it.
    "st_inc_kn" -> ((s, d) => {
      val TA = graft.operators.TextAnalysis
      // every block this query pins is held by this scope and freed on
      // exit (the d86/d87/inc_kn_refresh cleanup discipline); pinning
      // happens inside the lazy initializers so a run that fails early
      // frees only what was actually materialized. Both era outputs
      // are parquet on disk by the time the scope exits.
      Pins.scope { p =>
        lazy val snapA = p(TA.knSnapshot(
          T.documents(s, d).filter(col("doc_id") % 2 === 0),
          "doc_id", "text"))
        lazy val scoresA = p.own(TA.knScoreFromSnapshot(snapA))
        // merged lives in its own scope: freed as soon as the era-B
        // scores are sealed, or if the validator or the scorer throws
        lazy val scoresAB = Pins.scope { pm =>
          val merged = pm(TA.mergeKnSnapshots(Seq(snapA,
            TA.knSnapshot(
              T.documents(s, d).filter(col("doc_id") % 2 =!= 0),
              "doc_id", "text"))))
          TA.validateKnSnapshot(merged)
          p.own(TA.knScoreFromSnapshot(merged))
        }
        def serve(scores: => DataFrame, era: Int)(batch: DataFrame) =
          batch.filter(col("doc_id") % 16 === era * 5)
            .select("doc_id")
            .join(scores, Seq("doc_id"))
        twoRuns(s, d, "inckn", serve(scoresA, 0), serve(scoresAB, 1))
          .orderBy("doc_id")
      }
    }),

    // The DURABLE KN store fed by the stream — inc_kn_store's
    // streaming shape, st_inc_kn with the in-memory snapshots
    // replaced by the batch-partitioned layout: era A initializes
    // the store and its probes score under the LOADED even-half LM,
    // era B's partial file-commits between runs and its probes score
    // under the reloaded merged LM. Validators certify each loaded
    // state; must hash-match the st_inc_kn oracle VERBATIM.
    "st_inc_kn_store" -> ((s, d) => {
      val TA = graft.operators.TextAnalysis
      val store = MaintainedArtifacts.knStore(s,
        Fixtures.dir(s, d, "st_knstore"))
      Pins.scope { p =>
        store.init(T.documents(s, d).filter(col("doc_id") % 2 === 0))
        lazy val scoresA = p.own(TA.knScoreFromSnapshot(store.load(p)))
        lazy val scoresAB = p.own(TA.knScoreFromSnapshot(store.load(p)))
        def serve(scores: => DataFrame, era: Int)(batch: DataFrame) =
          batch.filter(col("doc_id") % 16 === era * 5)
            .select("doc_id")
            .join(scores, Seq("doc_id"))
        twoRuns(s, d, "incknstore", serve(scoresA, 0), serve(scoresAB, 1),
            between = store.commit(
              T.documents(s, d).filter(col("doc_id") % 2 =!= 0)))
          .orderBy("doc_id")
      }
    }),

    // The PER-SITE boilerplate screen refreshed between catch-up runs
    // — the st_inc_boiler pattern with (group, line) keys: era A's
    // per-lang partial (thresholded alone) screens the first incoming
    // run; era B's partial sum-merges in before the second. Per-site
    // templates arriving incrementally is the production ingest shape
    // inc_grouped_boiler batch-gates; this is its streaming twin.
    "st_inc_grouped_boiler" -> ((s, d) => Pins.scope { p =>
      val boiler = "copyright example site all rights reserved"
      def planted(df: DataFrame) = df.select(col("doc_id"), col("lang"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\n" + boiler)))
          .otherwise(col("text")).as("text"))
      lazy val partA = p(graft.operators.Dedup.groupedLineCountPartial(
        planted(T.documents(s, d)
          .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 === 0)),
        "lang", "text"))
      lazy val partB = p(graft.operators.Dedup.groupedLineCountPartial(
        planted(T.documents(s, d)
          .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 2 =!= 0)),
        "lang", "text"))
      // the sets are not pinned: the screen's shuffled join reads each
      // in its own scan (setAB's merge shuffle included), so a pin
      // would add a job
      lazy val setA = graft.operators.Dedup
        .groupedBoilerplateFromCounts(partA, minCount = 3)
      lazy val setAB = graft.operators.Dedup
        .groupedBoilerplateFromCounts(
          graft.operators.Dedup.mergeGroupedLineCounts(
            Seq(partA, partB)), minCount = 3)
      def screen(set: => DataFrame, era: Int)(batch: DataFrame) =
        graft.operators.Dedup.groupedLineDedupAgainst(
          planted(batch.filter(col("doc_id") % 5 === 0
            && col("doc_id") % 2 === era)), set, "doc_id", "lang",
          "text")
      twoRuns(s, d, "incgboil", screen(setA, era = 0),
          screen(setAB, era = 1))
        .orderBy("doc_id")
    }),

    // The GRAM-set screen refreshed between catch-up runs — the
    // st_inc_boiler pattern on the exact-span table: era A's distinct
    // gram set screens the first incoming run; era B's partial
    // distinct-unions in (mergeGramSets — idempotent/associative/
    // commutative, so the merged set IS the full recompute) before
    // the second.
    "st_inc_grams" -> ((s, d) => Pins.scope { p =>
      lazy val exist = T.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      lazy val setA = p(graft.operators.Dedup.existingGramSet(
        exist.filter(col("doc_id") % 2 === 0), "text"))
      lazy val setM = p(graft.operators.Dedup.mergeGramSets(Seq(setA,
        graft.operators.Dedup.existingGramSet(
          exist.filter(col("doc_id") % 2 =!= 0), "text"))))
      def screen(set: => DataFrame, era: Int)(batch: DataFrame) =
        graft.operators.Dedup.crossDupSpansAgainst(
          batch.filter(col("doc_id") % 5 === 0
            && col("doc_id") % 2 === era), set, "doc_id", "text")
      twoRuns(s, d, "incgram", screen(setA, era = 0), screen(setM, era = 1))
        .orderBy("doc_id", "span_start")
    }),

    // The PREFIX-cross index refreshed between catch-up runs: built
    // on era A, refreshed with era B (refreshPrefixCrossIndex — df
    // counts merge, prefixes re-derive, no text rescanned) before
    // the second incoming run. The prefix filter is LOSSLESS, so the
    // oracle states the pairwise truth per era directly.
    "st_inc_prefix" -> ((s, d) => Pins.scope { p =>
      def held(i: graft.operators.Dedup.PrefixCrossIndex) = {
        i.frames.foreach(p.own)
        i
      }
      lazy val exist = T.documents(s, d).filter(col("doc_id") % 7 =!= 0)
      lazy val idxA = held(graft.operators.Dedup.prefixCrossIndex(
        exist.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        k = 5, theta = 0.5))
      lazy val idxM = held(graft.operators.Dedup.refreshPrefixCrossIndex(
        idxA, exist.filter(col("doc_id") % 2 =!= 0), "doc_id", "text"))
      def screen(idx: => graft.operators.Dedup.PrefixCrossIndex,
                 era: Int)(batch: DataFrame) =
        graft.operators.Dedup.prefixCrossJaccardAgainst(
          batch.filter(col("doc_id") % 7 === 0
            && col("doc_id") % 2 === era), idx, "doc_id", "text")
      twoRuns(s, d, "incpref", screen(idxA, era = 0), screen(idxM, era = 1))
        .orderBy("in_id", "ex_id")
    }),

    // The persisted ANN index APPENDED between catch-up runs — the
    // st_inc_prefix pattern applied to the index artifact: era A of
    // the query stream serves from the base-only layout, then
    // ivfPqAddBatch appends the held-out vectors' codes (FROZEN
    // codebooks — the FAISS `add` path), and era B serves from the
    // appended layout. Per-query results depend only on (query
    // vector, layout), so micro-batch splits cannot change them; the
    // oracle states each era's truth via the d51 replay with the
    // corpus restricted to what that era's layout had encoded.
    "st_inc_ivfpq_add" -> ((s, d) =>
      // the base-only layout persists before run1 (idempotent reset);
      // the add — encode-only, append-only, reading none of the
      // existing codes — lands between the AvailableNow runs
      ivfPqLifecycleTwin(s, d, "ivfadd",
        startCodes = _.filter(col("nid") % 10 =!= 3),
        mutateBetweenRuns = dir =>
          graft.operators.Quantization.ivfPqAddBatch(
            T.embeddings(s, d).filter(col("vec_id") % 10 === 3),
            "vec_id", "embedding", dir))),

    // The REMOVAL between catch-up runs — inc_ivfpq_remove in its
    // streaming shape (the retraction twin of st_inc_ivfpq_add): era
    // A's query slice serves the FULL layout, the FAISS-style
    // remove_ids lands between the AvailableNow runs (only the
    // affected cell dirs rewritten, layout re-validated), and era
    // B's slice serves the reduced layout. One index load per era
    // (idxB's file-listing snapshot is first forced inside run2's
    // transform — AFTER the removal); per-query work is index-static
    // so micro-batch splits cannot change results. Oracle = the
    // parameterized d51 replay per era: frozen full-corpus training
    // in BOTH eras (remove does not retrain), survivor-only scoring
    // in era B.
    "st_inc_ivfpq_remove" -> ((s, d) =>
      // the FULL layout persists before run1 (idempotent reset); the
      // retraction — only the affected cell dirs rewritten, layout
      // re-certified — lands between the AvailableNow runs
      ivfPqLifecycleTwin(s, d, "ivfrm",
        startCodes = identity,
        mutateBetweenRuns = { dir =>
          graft.operators.Quantization.ivfPqRemoveBatch(
            T.embeddings(s, d).filter(col("vec_id") % 10 === 3)
              .select("vec_id"),
            "vec_id", dir)
          graft.operators.Quantization.validateIvfPqCodes(s, dir)
        })),

    // Benchmark decontamination as a streaming twin — the other screen
    // a continuous ingest pipeline runs on every arriving batch: the
    // bench-gram set is tiny and static (broadcast inside
    // Dedup.decontaminate), incoming micro-batches probe it, and the
    // per-doc hit count aggregates inside foreachBatch — safe because
    // every doc's grams derive from its own row, so the per-batch
    // groupBy equals the global one (the st_cross_spans argument).
    // Hashed against the BATCH d18 oracle verbatim.
    "st_decontam_stream" -> ((s, d) => Pins.scope { p =>
      lazy val bench = p(T.documents(s, d)
        .filter(col("doc_id") % 37 === 0)
        .select(concat_ws(" ",
          slice(split(col("text"), "\\s+"), 1, 15)).as("btext")))
      val out = materializedStream(s, d, "decontam", "documents.parquet",
        transform = batch =>
          graft.operators.Dedup.decontaminate(
            batch, "doc_id", "text", bench, "btext"))()
      T.parquet(s, out).orderBy("doc_id")
    }),

    // S8's streaming twin as an oracle row — stream-static left-semi
    // on the modified-rows condition, same contract as st_s7_new.
    "st_s8_modified" -> ((s, d) => {
      val out = materializedStream(s, d, "s8", "orders.parquet") { in =>
        graft.streaming.EventStream.modifiedSemiJoin(
            fileStream(s, d, "orders.parquet")(in),
            T.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey")
              && datediff(col("l_shipdate").cast("date"),
                col("o_orderdate").cast("date")) > 100)
          .select("o_orderkey")
      }
      T.parquet(s, out).orderBy("o_orderkey")
    }),
    // Incremental aggregate maintenance: two disjoint batch partials
    // (event_id mod 10 split) merged key-wise must equal the full
    // recompute — the pattern that keeps a 100 TB rollup fresh
    // without rescanning the corpus. The oracle IS the full
    // recompute, so the merge's exactness is the thing checked.
    "inc_rollup_merge" -> ((s, d) => {
      val ev = T.events(s, d)
      def partial(f: org.apache.spark.sql.Column) = ev.filter(f)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(Exprs.cents(col("value"))).as("v_cents"),
          expr("min(ts) div 1000").as("first_us"),
          expr("max(ts) div 1000").as("last_us"))
      graft.operators.Incremental.mergeRollups(
          Seq(partial(col("event_id") % 10 < 8),
            partial(col("event_id") % 10 >= 8)),
          Seq("user_id", "event_type"),
          Seq("n" -> "sum", "v_cents" -> "sum",
            "first_us" -> "min", "last_us" -> "max"))
        .orderBy("user_id", "event_type")
    }),

    // The maintained-rollup pattern as a STREAMING run: each
    // micro-batch's partial aggregate folds into the running state
    // via the same mergeRollups the batch row uses — associativity
    // makes the result batch-boundary-independent, and the final
    // state hashes against the full-recompute oracle verbatim.
    "st_inc_rollup" -> ((s, d) => {
      def partial(df: DataFrame) = df
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(Exprs.cents(col("value"))).as("v_cents"),
          expr("min(ts) div 1000").as("first_us"),
          expr("max(ts) div 1000").as("last_us"))
      val out = materializedFold(s, d, "increl", "events.parquet",
        step = (st, b) => st match {
          case None => partial(b)
          case Some(prev) => graft.operators.Incremental.mergeRollups(
            Seq(prev, partial(b)), Seq("user_id", "event_type"),
            Seq("n" -> "sum", "v_cents" -> "sum",
              "first_us" -> "min", "last_us" -> "max"))
        }) { in =>
        // readEvents normalizes ts to long epoch nanos on the stream
        graft.streaming.EventStream.readEvents(s, in)
      }
      T.parquet(s, out).orderBy("user_id", "event_type")
    }),

    // Fixed-N-per-stratum sampling as a folded streaming run: keeping
    // the N lowest md5 ranks per stratum is a semilattice (min-N), so
    // per-batch top-Ns merged and re-ranked equal the global top-N —
    // the deterministic streaming sampler, hashed against the BATCH
    // d25 oracle verbatim.
    "st_sample_n" -> ((s, d) => {
      def topn(df: DataFrame) = graft.operators.Mixing.sampleN(
        df.select("doc_id", "lang"), "doc_id", "lang", nPer = 25)
      val out = materializedFold(s, d, "samplen", "documents.parquet",
        step = (st, b) => st match {
          case None => topn(b)
          case Some(prev) => topn(prev.unionByName(topn(b)))
        })()
      T.parquet(s, out).orderBy("doc_id")
    }),

    // Mergeable DISTINCT-COUNT maintenance via HLL sketches (the
    // DataSketches functions, codegen'd built-ins): per-batch sketches
    // union to EXACTLY the single-pass sketch (register-max is
    // associative), so incremental distinct counts never rescan. The
    // oracle states the two checkable truths — the exact distinct
    // count, that merged == single-pass, and that the estimate lands
    // within 5% of exact (lgK=12's ~1.6% typical error, with margin).
    // Mergeable MEMBERSHIP maintenance via Bloom filters — the third
    // sketch family (HLL distinct, CMS frequency, Bloom membership),
    // closing the maintained-screen set: per-era bit arrays OR into
    // BIT-IDENTICAL the single-pass filter (same size/seeds), asserted
    // by byte equality of the serialized sketches; the screen itself
    // probes incoming lines with the codegen'd BloomFilterMightContain
    // and the no-false-negative guarantee is asserted per doc against
    // the exact membership join (which is also what the oracle can
    // see — flagged counts include fpp noise and stay sketch-side).
    "inc_bloom_screen" -> ((s, d) => {
      val boiler = "subscribe to our newsletter for updates today"
      val src = T.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\n" + boiler)))
          .otherwise(col("text")).as("text"))
      def lines(df: DataFrame) = df
        .select(col("doc_id"),
          explode(split(col("text"), "\n")).as("ln"))
        .select(col("doc_id"), trim(col("ln")).as("k"))
        .filter(col("k") =!= "")
      val exist = lines(src.filter(col("doc_id") % 5 =!= 0))
      import graft.operators.RuntimeFilter
      def bytesOf(df: DataFrame) =
        RuntimeFilter.bloomFilterFor(df, "k", expectedItems = 200000L)
      def read(b: Array[Byte]) =
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(b))
      val mergedSketch = read(bytesOf(
        exist.filter(col("doc_id") % 2 === 0)))
      mergedSketch.mergeInPlace(read(bytesOf(
        exist.filter(col("doc_id") % 2 =!= 0))))
      val mergedBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        mergedSketch.writeTo(bos); bos.toByteArray
      }
      val mergeExact =
        java.util.Arrays.equals(mergedBytes, bytesOf(exist))
      val exSet = exist.select(col("k")).distinct()
        .withColumn("__in", lit(true))
      lines(src.filter(col("doc_id") % 5 === 0))
        .join(exSet, Seq("k"), "left")
        .withColumn("__hit",
          RuntimeFilter.mightContain(mergedBytes, col("k")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("__in"), 1L).otherwise(0L)).as("n_in_existing"),
          min(when(col("__in") && !col("__hit"), 0)
            .otherwise(1)).equalTo(1).as("no_false_negatives"))
        .withColumn("merge_exact", lit(mergeExact))
        .select("doc_id", "n_lines", "n_in_existing", "merge_exact",
          "no_false_negatives")
        .orderBy("doc_id")
    }),

    // Mergeable HEAVY-HITTER maintenance via Count-Min sketches
    // (Cormode & Muthukrishnan 2005): per-batch sketches merge by
    // counter addition, which — same width/depth/seed — is EXACTLY
    // the single-pass sketch, so the boilerplate/hot-token watchlist
    // a continuous ingest feeds never rescans. The oracle states the
    // exact top-20 counts plus the two always-true properties: merge
    // exactness (deterministic counter addition) and the CMS
    // no-underestimate guarantee. The probed key set is the exact
    // top-20 (driver-sized by construction, the MLlib-shape
    // exception); the sketches are driver-held KB-scale arrays.
    "inc_cms_heavyhitters" -> ((s, d) => {
      import s.implicits._
      val toks = T.documents(s, d).select(col("doc_id"),
        explode(graft.operators.TextAnalysis.wordTokens(
          lower(col("text")))).as("t"))
      def sk(f: org.apache.spark.sql.Column) = toks.filter(f)
        .stat.countMinSketch("t", eps = 0.001, confidence = 0.99,
          seed = 42)
      val merged = sk(col("doc_id") % 10 < 8)
      merged.mergeInPlace(sk(col("doc_id") % 10 >= 8))
      val full = toks.stat.countMinSketch("t", eps = 0.001,
        confidence = 0.99, seed = 42)
      val top = toks.groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t")).limit(20).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      top.map { case (t, n) =>
        (t, n, merged.estimateCount(t) == full.estimateCount(t),
          merged.estimateCount(t) >= n)
      }.toSeq.toDF("token", "exact_n", "merge_exact",
        "no_underestimate")
        .orderBy(col("exact_n").desc, col("token"))
    }),

    "inc_hll_distinct" -> ((s, d) => {
      val ev = T.events(s, d)
      def sk(f: org.apache.spark.sql.Column) = ev.filter(f)
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = sk(col("event_id") % 10 < 8)
        .unionByName(sk(col("event_id") % 10 >= 8))
        .groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk"))
        .select(col("event_type"),
          hll_sketch_estimate(col("sk")).as("est_merged"))
      val full = ev.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("est_full"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("nd"))
      merged.join(full, "event_type").join(exact, "event_type")
        .select(col("event_type"), col("nd"),
          (col("est_merged") === col("est_full")).as("merge_exact"),
          (abs(col("est_merged") - col("nd"))
            <= col("nd").cast("double") * 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    // `ts` arrives as long nanos (nanosAsLong read); the hour bucket is
    // exact integer arithmetic — equivalent to window(ts, "1 hour") on a
    // timestamp column, with no sub-second precision hazards.
    "st_hourly_window" -> ((s, d) => T.events(s, d)
      .groupBy((expr("ts div 3600000000000") * 3600).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Exprs.cents(col("value"))).as("v_cents"))
      .orderBy("hour_start", "event_type")),

    "st_user_daily" -> ((s, d) => T.events(s, d)
      .groupBy(col("user_id"),
        date_add(to_date(lit("1970-01-01")),
          expr("ts div 86400000000000").cast("int")).as("day"))
      .agg(count(lit(1)).as("n"), sum(Exprs.cents(col("value"))).as("v_cents"))
      .orderBy("user_id", "day")),

    // Batch twin of the streaming dedup (dropDuplicatesWithinWatermark):
    // deterministic per-key first-event summary. The streaming path
    // keeps one arbitrary survivor per key; the spec compares key sets.
    "st_dedup" -> ((s, d) => T.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_dups"),
        // micros, not nanos: DuckDB reads TIMESTAMP(NANOS) at micro
        // precision, so the oracle can only see epoch_us
        expr("min(ts) div 1000").as("first_ts"),
        min(col("event_id")).as("keeper"))
      .orderBy("user_id", "event_type")),

    // Batch twin of the stream-stream attribution join (identical
    // function body; watermarks are no-ops on batch frames). The
    // streaming path is asserted equal in EventStreamSpec.
    "st_attrib_join" -> ((s, d) =>
      graft.streaming.EventStream.attributeJoin(T.events(s, d))
        .orderBy("purchase_id", "click_id")),

    // Gap-delimited sessionization (30 min), batch form: lag + flag
    // cumsum. The stateful-streaming twin is EventStream.sessionize
    // (flatMapGroupsWithState), asserted equal in EventStreamSpec.
    "st_sessions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      T.events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull
            || col("ts") - col("prev") > 1800000000000L, 1).otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("new_s")).as("n_sessions"))
        .orderBy("user_id")
    }),
  )

  val sql: Map[String, String] = Map(
    // the BATCH d37 oracle verbatim: stream == batch by contract
    "st_cross_spans" -> LlmQueries.sql("d37_cross_spans"),
    // the BATCH d18 oracle verbatim: stream == batch by contract
    "st_decontam_stream" -> LlmQueries.sql("d18_decontaminate"),
    // the BATCH d47 oracle verbatim (= d26's pairwise SQL): the
    // prefix lemma + batch invariance make stream == batch
    "st_cross_near" -> LlmQueries.sql("d47_prefix_cross"),
    // the full recompute — the folded stream state must equal it
    "st_inc_rollup" ->
      """SELECT user_id, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents,
        |CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
        |CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    // the BATCH d25 oracle verbatim: min-N mergeability makes the
    // folded stream equal the one-pass sample
    "st_sample_n" -> LlmQueries.sql("d25_sample_n"),
    // the BATCH d51 oracle verbatim: static index + per-query
    // independence make stream == batch
    "st_ann_probe" -> LlmQueries.sql("d51_ivfpq"),
    // the BATCH d64 oracle verbatim: static boilerplate set +
    // per-row independence make stream == batch
    "st_line_dedup" -> LlmQueries.sql("d64_cross_line_dedup"),
    // the refresh-between-runs composite stated explicitly: even
    // incoming docs screen against era A's set, odd ones against the
    // merged (era A + era B = full existing) set — merged partials ==
    // full recompute is what makes exM below d64's `ex` verbatim
    "st_inc_boiler" ->
      """WITH src AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |  THEN text || chr(10) ||
        |    'subscribe to our newsletter for updates today'
        |  ELSE text END AS text FROM documents),
        |exA AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0 AND doc_id % 2 = 0)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |exM AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM src
        |  WHERE doc_id % 5 = 0),
        |l AS (SELECT doc_id, u.i AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, unnest([{'i': x, 'ln': a[x+1]}
        |    FOR x IN range(0, len(a))]) AS u FROM ls)),
        |k AS (SELECT doc_id, pos, ln,
        |  (trim(ln) = '' OR CASE WHEN doc_id % 2 = 0
        |    THEN a.k IS NULL ELSE m.k IS NULL END) AS keep
        |  FROM l LEFT JOIN exA a ON trim(ln) = a.k
        |  LEFT JOIN exM m ON trim(ln) = m.k)
        |SELECT doc_id,
        |COALESCE(string_agg(ln, chr(10) ORDER BY pos)
        |  FILTER (WHERE keep), '') AS text,
        |CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the retraction twin of st_inc_boiler: evens probe the FULL
    // existing screen, odds the screen recounted over the surviving
    // corpus (subtracted counts == fresh recount is the claim); the
    // banner plant mirrors the Spark side — on all incoming docs,
    // the quarantined slice, and two innocents
    "st_inc_boiler_remove" ->
      """WITH src AS (SELECT doc_id, (CASE WHEN doc_id % 4 = 0
        |  THEN text || chr(10) ||
        |    'subscribe to our newsletter for updates today'
        |  ELSE text END) ||
        |  (CASE WHEN doc_id % 7 = 1 OR doc_id = 2 OR doc_id = 9
        |      OR doc_id % 5 = 0
        |   THEN chr(10) ||
        |     'temporary campaign banner from the quarantined source'
        |   ELSE '' END) AS text FROM documents),
        |exF AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |exR AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 1)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM src
        |  WHERE doc_id % 5 = 0),
        |l AS (SELECT doc_id, u.i AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, unnest([{'i': x, 'ln': a[x+1]}
        |    FOR x IN range(0, len(a))]) AS u FROM ls)),
        |k AS (SELECT doc_id, pos, ln,
        |  (trim(ln) = '' OR CASE WHEN doc_id % 2 = 0
        |    THEN f.k IS NULL ELSE r.k IS NULL END) AS keep
        |  FROM l LEFT JOIN exF f ON trim(ln) = f.k
        |  LEFT JOIN exR r ON trim(ln) = r.k)
        |SELECT doc_id,
        |COALESCE(string_agg(ln, chr(10) ORDER BY pos)
        |  FILTER (WHERE keep), '') AS text,
        |CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // era-parameterized inc_lsh_store replays, unioned: era A (even
    // incoming) screens against everyone, era B (odd incoming)
    // against the %3<>1 survivors — serving from the durable band
    // store across catch-up runs, with the file-level takedown and
    // the compaction landing between them, is result-invisible
    "st_inc_lsh_store" ->
      ("SELECT * FROM (\n" +
        LlmQueries.lshStoreSql("TRUE", "a.doc_id % 2 = 0") +
        "\n) UNION ALL SELECT * FROM (\n" +
        LlmQueries.lshStoreSql("b.doc_id % 3 <> 1",
          "a.doc_id % 2 <> 0") +
        "\n) ORDER BY in_id, ex_id"),
    // the st_inc_boiler_remove replay VERBATIM: serving the screen
    // from the durable rollup store — committed partials folded for
    // era A, the tombstone-subtracted THEN compacted fold for era B
    // — must be result-invisible relative to the in-memory
    // count/subtract chain
    "st_inc_boiler_store" ->
      """WITH src AS (SELECT doc_id, (CASE WHEN doc_id % 4 = 0
        |  THEN text || chr(10) ||
        |    'subscribe to our newsletter for updates today'
        |  ELSE text END) ||
        |  (CASE WHEN doc_id % 7 = 1 OR doc_id = 2 OR doc_id = 9
        |      OR doc_id % 5 = 0
        |   THEN chr(10) ||
        |     'temporary campaign banner from the quarantined source'
        |   ELSE '' END) AS text FROM documents),
        |exF AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |exR AS (SELECT trim(ln) AS k FROM (
        |  SELECT unnest(string_split(text, chr(10))) AS ln FROM src
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 1)
        |  WHERE trim(ln) <> '' GROUP BY trim(ln)
        |  HAVING COUNT(*) >= 3),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM src
        |  WHERE doc_id % 5 = 0),
        |l AS (SELECT doc_id, u.i AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, unnest([{'i': x, 'ln': a[x+1]}
        |    FOR x IN range(0, len(a))]) AS u FROM ls)),
        |k AS (SELECT doc_id, pos, ln,
        |  (trim(ln) = '' OR CASE WHEN doc_id % 2 = 0
        |    THEN f.k IS NULL ELSE r.k IS NULL END) AS keep
        |  FROM l LEFT JOIN exF f ON trim(ln) = f.k
        |  LEFT JOIN exR r ON trim(ln) = r.k)
        |SELECT doc_id,
        |COALESCE(string_agg(ln, chr(10) ORDER BY pos)
        |  FILTER (WHERE keep), '') AS text,
        |CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the retraction twin of st_inc_kn: era A scores from the
    // full-corpus LM, era B from the LM over the surviving docs —
    // probes that are themselves retracted vanish from era B
    "st_inc_kn_remove" ->
      ("SELECT * FROM (" +
        LlmQueries.knLmSqlEra("TRUE", "doc_id % 16 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.knLmSqlEra("doc_id % 5 <> 4", "doc_id % 16 = 8") +
        ")\nORDER BY doc_id"),
    // the retraction twin of st_inc_bm25: era A against the full
    // index, era B (probes 80k+40 — all %10==0, outside the
    // retracted set, so the era replay's probe pool is unaffected)
    // against the survivors
    "st_inc_bm25_remove" ->
      ("SELECT * FROM (" +
        LlmQueries.bm25SqlEra("TRUE", "doc_id % 80 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.bm25SqlEra("doc_id % 10 <> 3", "doc_id % 80 = 40") +
        ")\nORDER BY qid, rank"),
    // the era-split gram screen stated directly: even incoming docs
    // probe era A's distinct gram set, odd ones the full set (merged
    // partials == full recompute by distinct-union idempotence)
    "st_inc_grams" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |  string_split_regex(text, '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |gi AS (SELECT doc_id, u.s AS s, u.h AS h FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(ws) < 8 THEN []
        |    ELSE [{'s': x, 'h': md5(array_to_string(ws[x:x+7], chr(1)))}
        |          FOR x IN range(1, len(ws) - 6)] END) AS u
        |  FROM w WHERE doc_id % 5 = 0)),
        |geA AS (SELECT DISTINCT h FROM (
        |  SELECT unnest(CASE WHEN len(ws) < 8 THEN []
        |    ELSE [md5(array_to_string(ws[x:x+7], chr(1)))
        |          FOR x IN range(1, len(ws) - 6)] END) AS h
        |  FROM w WHERE doc_id % 5 <> 0 AND doc_id % 2 = 0)),
        |geM AS (SELECT DISTINCT h FROM (
        |  SELECT unnest(CASE WHEN len(ws) < 8 THEN []
        |    ELSE [md5(array_to_string(ws[x:x+7], chr(1)))
        |          FOR x IN range(1, len(ws) - 6)] END) AS h
        |  FROM w WHERE doc_id % 5 <> 0)),
        |r AS (SELECT doc_id, s, s + 7 AS e FROM gi JOIN geA USING (h)
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, s, s + 7 AS e FROM gi JOIN geM USING (h)
        |  WHERE doc_id % 2 <> 0),
        |m AS (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id
        |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  AS pe FROM r),
        |x AS (SELECT doc_id, s, e, SUM(CASE WHEN pe IS NULL OR s > pe + 1
        |  THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s) AS grp
        |  FROM m)
        |SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
        |CAST(MAX(e) AS INT) AS span_end,
        |CAST(MAX(e) - MIN(s) + 1 AS INT) AS span_tokens
        |FROM x GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    // the era-split BM25 truth via the surgically re-targeted d24
    // replay: era A queries (every 80th doc) score against the even
    // half's index, era B queries (every 80th + 40) against the full
    // merged index
    "st_inc_bm25" ->
      ("SELECT * FROM (" +
        LlmQueries.bm25SqlEra("doc_id % 2 = 0", "doc_id % 80 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.bm25SqlEra("TRUE", "doc_id % 80 = 40") +
        ")\nORDER BY qid, rank"),
    // the st_inc_bm25 replay VERBATIM: serving from the durable
    // store must be result-invisible relative to the in-memory merge
    // — including era B serving the COMPACTED (folded) layout
    "st_inc_bm25_store" ->
      ("SELECT * FROM (" +
        LlmQueries.bm25SqlEra("doc_id % 2 = 0", "doc_id % 80 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.bm25SqlEra("TRUE", "doc_id % 80 = 40") +
        ")\nORDER BY qid, rank"),
    // the st_inc_kn replay VERBATIM, for the same store-invisibility
    // claim on the LM side
    "st_inc_kn_store" ->
      ("SELECT * FROM (" +
        LlmQueries.knLmSqlEra("doc_id % 2 = 0", "doc_id % 16 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.knLmSqlEra("TRUE", "doc_id % 16 = 5") +
        ")\nORDER BY doc_id"),
    // the stream lands the same two crawls the batch query snapshots,
    // so the stored-runs delta is the SAME replay verbatim
    "st_health_runs" -> LlmQueries.HealthRunsSql,
    // the era-split KN truth via the surgically re-targeted d77
    // replay: era A probes (every 16th doc, even) score under the
    // even-half LM, era B probes (16k+5, odd) under the full merged
    // LM — disjoint probe sets, one global doc order
    "st_inc_kn" ->
      ("SELECT * FROM (" +
        LlmQueries.knLmSqlEra("doc_id % 2 = 0", "doc_id % 16 = 0") +
        ")\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.knLmSqlEra("TRUE", "doc_id % 16 = 5") +
        ")\nORDER BY doc_id"),
    // the era-split per-(lang, line) truth: even incoming docs probe
    // era A's per-lang screen, odd ones the merged (= full) screen
    "st_inc_grouped_boiler" ->
      """WITH src AS (SELECT doc_id, lang, CASE WHEN doc_id % 4 = 0
        |  THEN text || chr(10) ||
        |    'copyright example site all rights reserved'
        |  ELSE text END AS text FROM documents),
        |ls AS (SELECT doc_id, lang, string_split(text, chr(10)) AS a
        |  FROM src),
        |l AS (SELECT doc_id, lang, u.i AS pos, u.ln AS ln FROM (
        |  SELECT doc_id, lang, unnest([{'i': x, 'ln': a[x+1]}
        |    FOR x IN range(0, len(a))]) AS u FROM ls)),
        |cA AS (SELECT lang, trim(ln) AS k FROM l
        |  WHERE trim(ln) <> '' AND doc_id % 5 <> 0 AND doc_id % 2 = 0
        |  GROUP BY lang, trim(ln) HAVING COUNT(*) >= 3),
        |cM AS (SELECT lang, trim(ln) AS k FROM l
        |  WHERE trim(ln) <> '' AND doc_id % 5 <> 0
        |  GROUP BY lang, trim(ln) HAVING COUNT(*) >= 3),
        |inc AS (SELECT * FROM l WHERE doc_id % 5 = 0),
        |kA AS (SELECT doc_id, inc.lang AS lang, pos, ln,
        |  (trim(ln) = '' OR cA.k IS NULL) AS keep
        |  FROM inc LEFT JOIN cA ON inc.lang = cA.lang
        |    AND trim(inc.ln) = cA.k WHERE doc_id % 2 = 0),
        |kB AS (SELECT doc_id, inc.lang AS lang, pos, ln,
        |  (trim(ln) = '' OR cM.k IS NULL) AS keep
        |  FROM inc LEFT JOIN cM ON inc.lang = cM.lang
        |    AND trim(inc.ln) = cM.k WHERE doc_id % 2 <> 0),
        |k AS (SELECT * FROM kA UNION ALL SELECT * FROM kB)
        |SELECT doc_id, lang,
        |COALESCE(string_agg(ln, chr(10) ORDER BY pos)
        |  FILTER (WHERE keep), '') AS text,
        |CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |  AS n_removed
        |FROM k GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    // the era-split IVF-PQ truth via the parameterized d51 replay:
    // era A queries (every 20th) against the base-only layout (codes
    // absent for the %10=3 held-out slice), era B queries (every
    // 20th + 10) against the appended union layout — frozen
    // codebooks make the replay's train chain identical in both
    "st_inc_ivfpq_add" ->
      ("SELECT * FROM (" +
        LlmQueries.d51PrefixWith(queryPred = "id % 20 = 0",
          corpusPred = "nid % 10 <> 3") +
        "\nSELECT qid, CAST(rank AS INT) AS rank, nid, dist_micros" +
        " FROM r WHERE rank <= 3)\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.d51PrefixWith(queryPred = "id % 20 = 10") +
        "\nSELECT qid, CAST(rank AS INT) AS rank, nid, dist_micros" +
        " FROM r WHERE rank <= 3)\nORDER BY qid, rank"),
    // the retraction twin: era A against the FULL layout, era B
    // against the survivors — training identical in both (frozen
    // codebooks; remove does not retrain)
    "st_inc_ivfpq_remove" ->
      ("SELECT * FROM (" +
        LlmQueries.d51PrefixWith(queryPred = "id % 20 = 0") +
        "\nSELECT qid, CAST(rank AS INT) AS rank, nid, dist_micros" +
        " FROM r WHERE rank <= 3)\nUNION ALL\nSELECT * FROM (" +
        LlmQueries.d51PrefixWith(queryPred = "id % 20 = 10",
          corpusPred = "nid % 10 <> 3") +
        "\nSELECT qid, CAST(rank AS INT) AS rank, nid, dist_micros" +
        " FROM r WHERE rank <= 3)\nORDER BY qid, rank"),
    // the era-split pairwise truth directly (prefix filtering is
    // lossless, so index internals never appear): even incoming pairs
    // against era-A existing only, odd against all existing
    "st_inc_prefix" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |  CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |  ELSE [array_to_string(ws[x:x+4], ' ')
        |        FOR x IN range(1, len(ws) - 3)] END)) AS s FROM w),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS in_id, b.doc_id AS ex_id,
        |  COUNT(*) AS shared
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  AND a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |  AND (a.doc_id % 2 <> 0 OR b.doc_id % 2 = 0)
        |  GROUP BY 1, 2)
        |SELECT in_id, ex_id,
        |ROUND(shared*1.0/(ca.n + cb.n - shared), 6) AS jac
        |FROM pairs JOIN cnt ca ON in_id = ca.doc_id
        |JOIN cnt cb ON ex_id = cb.doc_id
        |WHERE shared*1.0/(ca.n + cb.n - shared) >= 0.5
        |ORDER BY in_id, ex_id""".stripMargin,
    // per-doc exact line counts and membership plus the two
    // always-true Bloom properties (bit-identical merge; no false
    // negatives) — flagged counts stay sketch-side by design
    "inc_bloom_screen" ->
      """WITH src AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |  THEN text || chr(10) ||
        |    'subscribe to our newsletter for updates today'
        |  ELSE text END AS text FROM documents),
        |l AS (SELECT doc_id, trim(ln) AS k FROM (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS ln
        |  FROM src) WHERE trim(ln) <> ''),
        |ex AS (SELECT DISTINCT k FROM l WHERE doc_id % 5 <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN ex.k IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_in_existing,
        |TRUE AS merge_exact, TRUE AS no_false_negatives
        |FROM l LEFT JOIN ex ON l.k = ex.k
        |WHERE doc_id % 5 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the exact top-20 token counts plus the two always-true CMS
    // properties (merge exactness; no underestimation)
    "inc_cms_heavyhitters" ->
      """WITH t AS (SELECT unnest(list_filter(
        |  string_split_regex(lower(text), '\s+'), v -> v <> '')) AS t
        |  FROM documents),
        |c AS (SELECT t, COUNT(*) AS n FROM t GROUP BY t
        |  ORDER BY n DESC, t LIMIT 20)
        |SELECT t AS token, CAST(n AS BIGINT) AS exact_n,
        |TRUE AS merge_exact, TRUE AS no_underestimate
        |FROM c ORDER BY exact_n DESC, token""".stripMargin,
    // the exact distinct count plus the two always-true properties the
    // sketch composition guarantees (union exactness; 5% error bound)
    "inc_hll_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd,
        |TRUE AS merge_exact, TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the full recompute — merged partials must equal it exactly
    "inc_rollup_merge" ->
      """SELECT user_id, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents,
        |CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
        |CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    // the BATCH s7/s8 oracles verbatim: stream == batch by contract
    "st_s7_new" ->
      """SELECT p_partkey FROM part WHERE NOT EXISTS (
        |SELECT 1 FROM lineitem
        |WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin,
    "st_s8_modified" ->
      """SELECT o_orderkey FROM orders WHERE EXISTS (
        |SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |AND date_diff('day', CAST(o_orderdate AS DATE),
        |  CAST(l_shipdate AS DATE)) > 100)
        |ORDER BY o_orderkey""".stripMargin,
    "st_hourly_stream" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "st_sessions_stream" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM (
        |SELECT user_id, CASE WHEN prev IS NULL
        |  OR epoch_ns(ts) - epoch_ns(prev) > 1800000000000 THEN 1 ELSE 0
        |  END AS new_s FROM (
        |SELECT user_id, ts, LAG(ts, 1) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS prev FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "st_attrib_stream" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |AND c.event_type = 'click' AND p.event_type = 'purchase'
        |AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,
    "st_hourly_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "st_user_daily" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,
    // the batch st_dedup oracle verbatim: stream == batch by contract
    "st_dedup_stream" ->
      """SELECT user_id, event_type, COUNT(*) AS n_dups,
        |CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_ts,
        |MIN(event_id) AS keeper
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    "st_dedup" ->
      """SELECT user_id, event_type, COUNT(*) AS n_dups,
        |CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_ts,
        |MIN(event_id) AS keeper
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    "st_attrib_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |AND c.event_type = 'click' AND p.event_type = 'purchase'
        |AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,
    "st_sessions" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM (
        |SELECT user_id, CASE WHEN prev IS NULL
        |  OR epoch_ns(ts) - epoch_ns(prev) > 1800000000000 THEN 1 ELSE 0
        |  END AS new_s FROM (
        |SELECT user_id, ts, LAG(ts, 1) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS prev FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
