package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan dumps, in two modes.
  *
  * `sbt "runMain graft.PlanDump [sfDir]"` generates PLANS.md:
  * formatted physical-plan digests for the flagship queries, so the
  * "is this the plan you'd want at 100 TB" audit is a readable
  * artifact instead of a scattering of `.explain` calls. PlanSpec
  * ASSERTS the key properties (broadcast choices, pushdown, no nested
  * loops); this file lets a reviewer see the full shape — every join
  * strategy, every Exchange, the codegen span boundaries — per query.
  * sfDir defaults to sf0.001; plans are scale-independent apart from
  * AQE thresholds.
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> q1,q2,..."` writes
  * each named query's full `.explain("formatted")` to
  * `<outDir>/<query>_<suffix>.txt` — the optimization-round evidence
  * artifact (`plans/r<N>/<query>_{before,after}.txt`); sfDir comes
  * from SPARK_GRAFT_SF_DIR (default sf0.001). Lifecycle queries that
  * return an eager checkpoint show a checkpoint scan as their final
  * plan; for those, the interesting plans are the operator fragments,
  * which [[fragments]] registers under `frag_*` names.
  */
object PlanDump {

  /** (query, why this plan matters at scale). */
  private val Flagships: Seq[(String, String)] = Seq(
    "q1_pricing_summary" ->
      ("One scan, filter pushed to parquet, partial+final hash " +
        "aggregation; the whole pre-shuffle pipeline is one " +
        "WholeStageCodegen span."),
    "j1_broadcast_lookup" ->
      "Dimension lookup stays a BroadcastHashJoin — zero fact shuffle.",
    "s17_bucketed_join" ->
      ("Both sides bucketed on the join key: SortMergeJoin with NO " +
        "Exchange on either side; only the final rollup shuffles."),
    "g1_similarity_edges" ->
      ("Co-occurrence edges via one map-side-combinable collect_set " +
        "shuffle + map-side pair explosion — two Exchanges total, " +
        "half the previous join formulation's. Round 8: the edge " +
        "build runs ONCE per (application, dataset) and materializes " +
        "to scratch parquet shared by the whole g-family — g1 reads " +
        "it whole, g4 and the g2/g3 labels build read the weight≥3 " +
        "subset as a scan-side filter. The plan below is therefore a " +
        "parquet scan of the materialized table when dumped after a " +
        "prior call, or the first-call build.\n\n" +
        "**Bench attribution (g-family)**: whichever g-query runs " +
        "FIRST in a suite pays the one-time edge build; g2 " +
        "additionally pays the CC fixpoint + labels write on its " +
        "first call, g3 reads those labels, g4 runs star contraction " +
        "over the shared edges. In-suite per-query seconds are " +
        "family-order-dependent: g2's number is \"edge read + " +
        "fixpoint + labels write\", NOT a per-query CC cost (round " +
        "7's apparent 6.6→10.4 s \"regression\" was exactly this " +
        "materialization moving into g2). Measured solo " +
        "(BENCH_SOLO_r9.json, sf0.1): g2 4.09 s first call vs 0.12 s " +
        "memoized re-read."),
    "d5_minhash_lsh" ->
      ("MinHash signatures fused into one codegen'd expression at the " +
        "scan; only (id, band, hash) rows shuffle to the LSH buckets. " +
        "Round 9: each (band, hash) bucket is capped at 64 members " +
        "before the self-join (rank window on the same key the join " +
        "shuffles on — no extra exchange), bounding clone-group " +
        "candidates at O(m·B) instead of O(m²); BENCH_SF1_r9.json " +
        "records the uncapped path diverging (1.7→8.9 s as one clone " +
        "group grows 500→4000) while the capped path stays flat " +
        "(~1.5 s)."),
    "d18_decontaminate" ->
      ("Corpus side never shuffles: benchmark n-gram hashes broadcast, " +
        "matches filtered at the scan, only survivors aggregate."),
    "aj_asof_click" ->
      ("As-of join with NO join node: union + one keyed window " +
        "(single Exchange) carries the latest build payload forward."),
    "rj_signup_window" ->
      ("Interval join as a bucketed cell equi-join — SortMergeJoin on " +
        "the cell key with the containment predicate residual, never " +
        "a BroadcastNestedLoopJoin."),
    "sk_salted_join" ->
      ("Hot fact keys spread over (key, salt) buckets; the dim side " +
        "replicates n ways. Same rows as the plain join, bounded " +
        "reducer size."),
    "d10_emb_neardup" ->
      ("Embedding near-dup through sign-LSH buckets: candidates meet " +
        "on bucket keys, exact cosine re-scores — no all-pairs join."),
    "w5_topk_group" ->
      ("Per-group top-k as partial ObjectHashAggregate — k-sized " +
        "buffers cross the shuffle, no Window, no full-group sort."),
    "a19_pivot_wide" ->
      ("Pivot with a pinned value list: one map-side-combinable " +
        "aggregation pass, no driver-side distinct-value scan."),
    "d29_kmeans" ->
      ("k-means assignment round: driver-held centroids shipped into " +
        "a codegen'd argmax-cosine projection — the final round is " +
        "ONE scan with zero shuffles; only the (cluster, dim) " +
        "centroid aggregation between rounds shuffles, and it " +
        "carries k x d rows. At k ≤ 64 the centroids inline as " +
        "literals (constant-folded, oracle-mirrorable); above that " +
        "they ride the plan as a codegen reference object " +
        "(NearestCentroidExpr) so generated source stays " +
        "constant-size at any nlist. The input projection is " +
        "localCheckpointed once per call (freed on exit), so each " +
        "Lloyd round scans checkpoint blocks, not source lineage — " +
        "the scan below reads the checkpoint RDD on iterations ≥ 2."),
    "pl_infer_works" ->
      ("Work-inference waterfall: three broadcast-probe pair builds " +
        "unioned and checkpointed ONCE, one shared corroboration " +
        "semi-join + two-level aggregation, one ranking window. " +
        "Measured solo (BENCH_SOLO_r9.json, sf0.1, `runMain " +
        "graft.Bench --solo`, post-regeneration fixtures): **3.70 s " +
        "warm / 3.78 s cold-context** — cold≈warm because the loop's " +
        "earlier entries already paid codegen; the first-session " +
        "artifact (git 5cc8f10) pinned the fresh-context gap at " +
        "~7.8 s of compilation, which is also what the in-suite " +
        "number (~13-19 s across rounds) keeps re-measuring on top " +
        "of suite GC attribution. The plan shape (no fact re-scan, " +
        "no unkeyed join, single window) is the one that matters at " +
        "100x."),
    "d32_bm25_maxscore" ->
      ("Impact-ordered BM25 (max-score/WAND family): champion lists " +
        "per term (WindowGroupLimit pre-trims map-side), candidates " +
        "scored over a doc-semi-joined postings subset, a Fagin " +
        "threshold certificate per query, exact-probe fallback. The " +
        "barriered index (perPost/qTerms localCheckpoints) appears as " +
        "LogicalRDD scans — every join beyond the cached one-row " +
        "scalar attach is keyed (PlanSpec asserts programmatically; " +
        "textual BNLJ greps double-count cached-subtree " +
        "restatements). On this synthetic corpus the certificate " +
        "fires 0/128 times (near-uniform impacts — the adversarial " +
        "case, measured via bm25MaxScoreCertificates), so d32 " +
        "in-suite ≈ d24 + candidate overhead; the pruned path wins " +
        "on skewed-impact corpora, and the certificate is the " +
        "per-corpus selector."),
    "d33_semdedup" ->
      ("SemDeDup semantic dedup: the k-means assignment ships as the " +
        "same dispatched expression as d29 (literal argmax at k ≤ 64, " +
        "codegen reference object above), the per-vector centroid " +
        "similarity comes from a BROADCAST (cluster → centroid) join " +
        "— constant plan size at any k — and all pairwise cosine work " +
        "is cluster-local: the probe side is the per-cluster " +
        "`clusterCap` best-ranked prefix (WindowGroupLimit pre-trims " +
        "map-side before the exchange), so candidate volume is " +
        "O(cluster·cap), never O(cluster²). The paper's own scale " +
        "contract (raise k until clusters fit a worker) is the " +
        "remaining knob; the cap converts quantizer failure from a " +
        "job-killer into a documented miss mode."),
    "d34_dup_spans" ->
      ("Exact duplicate-substring spans (EXACTSUBSTR as rolling " +
        "8-gram runs): the ONLY dedup-family member with no self-join " +
        "at all — per-position gram hashes from one fused codegen " +
        "expression at the scan (PositionalNgramsExpr; the naive " +
        "explode-then-slice carries the whole token array into every " +
        "gram row, O(tokens²) bytes per doc, and an interpreted " +
        "md5-per-gram HOF was still 5×: 13.9 → 0.73 s solo-warm at " +
        "sf0.1 across the two rewrites, BENCH_SOLO_r9.json), then gram-hash partial-count " +
        "aggregation (map-side combine absorbs boilerplate hot keys: " +
        "a billion-fold repeated license line arrives as one partial " +
        "row per map task), a broadcast join-back of the " +
        "frequent-hash set (linear in occurrences), and one per-doc " +
        "window for the interval merge. Output linear in corpus size " +
        "by construction — the 100 TB shape the suffix-array " +
        "original cannot distribute. The hash never leaves the " +
        "operator, so the oracle's md5 keys are equivalent gram-" +
        "equality classes (the d4 blocking precedent)."),
    "d38_bigram_lm" ->
      ("Corpus-bigram LM quality score (Laplace-smoothed transitions), " +
        "hash-rekeyed: one fused codegen scan emits per-row " +
        "(context-hash, bigram-hash) pairs (PositionalNgramsExpr ×2 + " +
        "zip_with — the Generate explodes 16-byte long structs, never " +
        "token strings), so the postings aggregation, the corpus " +
        "bigram/context rollups, the one-row V broadcast and the " +
        "scoring join all exchange longs. The string-struct " +
        "formulation this replaced shuffled every token twice as " +
        "UTF-8 and solo-benched 6.7 s warm at sf0.1; this shape runs " +
        "**1.2 s warm** (BENCH_SOLO_r9.json at git 5cc8f10 — the " +
        "artifact was later refreshed to the regenerated fixtures' " +
        "suite-top set) — 1.4× the unigram " +
        "score, which is the honest floor for touching every " +
        "transition. Hashing is operator-internal (d4/d34 w.h.p. " +
        "precedent), so the string-keyed DuckDB oracle is unchanged. " +
        "The operator checkpoints its (small) result eagerly and " +
        "frees the postings blocks, so the tree below is the " +
        "post-materialization read — the join/rollup shape lives " +
        "inside the checkpoint (TextAnalysis.bigramLmScore; pass " +
        "materialize = false to inspect it lazily)."),
    "g5_pagerank" ->
      ("Weighted PageRank over the shared weight≥3 similarity graph: " +
        "5 fixed power rounds, each ONE keyed aggregation shuffle on " +
        "dst against the once-checkpointed symmetrized edge+outweight " +
        "table (the repartition(src) is reused by every round's " +
        "contribution join); N rides as a one-row broadcast scalar " +
        "checkpointed once. Per-edge contributions round to integer " +
        "micros before the long sum — aggregation order cannot " +
        "perturb a bit, which is what lets the 5-layer unrolled-CTE " +
        "oracle hash-match and the spec assert bit-equality under " +
        "repartitioning. Measured solo (BENCH_SOLO_r9.json, sf0.1, " +
        "post-regeneration fixtures): " +
        "**4.10 s warm / 5.60 s cold** — the warm number is ~0.8 " +
        "s/round of checkpoint+shuffle latency on a tiny graph (the " +
        "per-round fixed cost a 1000-executor run amortizes); the " +
        "cold number includes the first-call cc_edges memo build the " +
        "whole g-family shares. The fixpoint is inherently eager " +
        "(per-round checkpoints), so the tree below is the final " +
        "ranks read — the per-round shape is the contribution join + " +
        "dst aggregation described above (GraphOps.pageRank)."),
    "st_attrib_stream" ->
      ("The stream-stream attribution join run THROUGH Structured " +
        "Streaming (Trigger.AvailableNow file source → two " +
        "watermarked views → event-time-bounded join → parquet " +
        "sink), hashed against the batch oracle. Both sides carry a " +
        "2h watermark and the join bounds event time on both ends, " +
        "so click state expires past watermark+window and purchase " +
        "state past the watermark — bounded state at any rate, the " +
        "canonical stream-stream shape. The result materializes once " +
        "per (application, dataset); later calls read the scratch " +
        "parquet, so the plan below is the memoized read when dumped " +
        "after a prior call. Measured solo (BENCH_SOLO_r9.json, " +
        "sf0.1, post-regeneration fixtures): **11.81 s first call / " +
        "0.29 s memoized** — the " +
        "in-suite ~7-9.5 s is one-time micro-batch bring-up " +
        "(checkpoint + sink write + stream machinery), not a " +
        "per-query cost; it is also the suite's #1 row, which is why " +
        "the attribution is pinned here."),
    "d42_prefix_jaccard" ->
      ("PPJoin-family prefix filtering as plan shapes: output-" +
        "identical to d4's full inverted index (the oracle is the " +
        "same pairwise SQL — losslessness is itself oracle-checked), " +
        "but the quadratic candidate self-join runs over each " +
        "document's (1−θ)·n RAREST shingles only (global df order, " +
        "one skinny agg + one per-doc rank window), with the length " +
        "filter θ·na ≤ nb ≤ na/θ applied inside the join condition. " +
        "Boilerplate shingles (df in the millions on a real crawl) " +
        "rank LAST, so they fall out of every prefix instead of " +
        "being hard-dropped by dfCap — candidate volume shrinks by " +
        "the square of the prefix fraction with zero misses, where " +
        "d4's only defense is lossy df capping. Two extra skinny " +
        "shuffles (df agg + rank window over 32-byte rows) buy a " +
        "quadratically smaller join — the trade that wins exactly " +
        "when the corpus, not the prep, is the bottleneck. Measured " +
        "(BENCH_SF1_r9.json prefix_vs_full_jaccard_probe, " +
        "boilerplate-heavy corpus): full blocking 7.6 s at n=8k " +
        "diverging to 49.0 s at n=16k while the prefix path stays " +
        "flat at ~1.2 s — 44× at 16k docs and widening quadratically. " +
        "The cross-corpus sibling (d47, Dedup.prefixCrossJaccard) " +
        "applies the same lemma to the incremental-ingest join with " +
        "the order keyed on existing-side df — novel shingles rank " +
        "rarest, and the df table is reusable across ingest batches."),
    "d51_ivfpq" ->
      ("IVF-PQ (FAISS IndexIVFPQ / IVFADC): coarse k-means cells + PQ " +
        "residual codes + nprobe-bounded ADC. The corpus side shuffles " +
        "(cell, m codes) per vector — never vectors; both codebooks " +
        "are driver-held literals; the per-(query, cell) LUT is " +
        "broadcast-sized; and the cell-keyed scoring join touches " +
        "nprobe/nlist of the corpus per query. The final plan below " +
        "reads the checkpointed result — the load-bearing claim is " +
        "measured, not asserted: BENCH_SF1_r10.json's " +
        "ivfpq_prune_probe pins the MARGINAL per-query scoring cost " +
        "at 7.8 ms vs the full ADC scan's 154 ms on a fixed 40k " +
        "corpus (~20×, beyond the 8× corpus-share bound because the " +
        "full path's rank window also shrinks). Training cost is " +
        "query-count-independent and amortizes across ingest batches."),
    "d50_bpe_train" ->
      ("BPE merge-loop training: the corpus collapses to the " +
        "word-count VOCABULARY once (Heaps-law sublinear), then every " +
        "merge round is one vocab-sized pair aggregation + a one-row " +
        "driver collect + a scan-side boundary-correct symbol fold " +
        "(applyMerge — a pair never fuses where the next symbol " +
        "merely starts with its right element), with the vocab " +
        "localCheckpointed per round so the plan stays constant-size " +
        "at any merge count. Measured at 10× text " +
        "(BENCH_SF1_r10.json): 4.6 → 5.8 s — ratio 1.26, the " +
        "vocab-bound shape doing exactly what it promises; the " +
        "round-11 fold lands at the same 4.57 s sf0.1 cost as the " +
        "replaced literal replace."),
    "d67_pack_sequences" ->
      ("Concat-and-cut sequence packing: the per-doc placement table " +
        "of budget-token training windows needs ONE global exclusive " +
        "prefix sum over id order — the naive Window.orderBy(id) is " +
        "the classic single-partition scale-killer, so the operator " +
        "runs the two-level scan instead: per-bucket sums (map-side " +
        "combinable aggregation on id div stride), an exclusive " +
        "prefix window over the config-sized bucket TABLE (the only " +
        "unpartitioned window, over ~corpus/stride skinny rows), " +
        "broadcast offsets joined back, and a per-bucket PARTITIONED " +
        "window finishing the sum over bounded partitions. " +
        "Stride-invariance (spec-asserted at 1/3/1000/8192) is the " +
        "distributed-correctness proof: any bucketing yields the " +
        "global cumsum."),
    "d54_quality_lr" ->
      ("Hashed-BoW logistic quality classifier: one tokenize+hash " +
        "pass builds the checkpointed (id, bucket, x) feature table; " +
        "each GD step is a map-side weighted sum keyed on id (weights " +
        "inlined as a literal map) plus a dims-row gradient " +
        "aggregation collected to the driver; scoring reuses the " +
        "same keyed-sum shape. No shuffle ever carries more than the " +
        "skinny feature table; text is read once."),
    "pl_title_suffix" ->
      ("The only >25% common-subset movement in round 9 (1.04 → " +
        "1.84 s in-suite), pinned in round 10: BENCH_SOLO_r10.json " +
        "measures cold 3.72 s / warm 0.93 s in a non-first solo slot " +
        "(the first-slot run reads 7.56 s — one-time JVM/parquet/" +
        "codegen bring-up, the same artifact r9 documented for " +
        "st_attrib_stream). The plan is unchanged from r8 — one scan " +
        "→ a single Project holding the whole guarded-regex branch " +
        "tree → the final orderBy's range exchange + sort — so the " +
        "in-suite delta sits inside the documented 2-4× in-suite/" +
        "solo attribution band, not a plan regression. Whole-stage " +
        "codegen's subexpression elimination collapses the repeated " +
        "suffix regexp_extract across branches at runtime, which the " +
        "0.93 s warm number reflects."),
    "inc_ivfpq_add" ->
      ("FAISS-style add for the persisted IVF-PQ index: the query's " +
        "final serve is what the plan shows — the probe LUT " +
        "broadcast-joins the (cell, s, c) codes scan, and dynamic " +
        "partition pruning restricts the scan to the probed cell " +
        "directories of the APPENDED layout. The add itself is one " +
        "scan-side encode pass over only the new batch (coarse " +
        "assign → residual → m sub-assigns, all in one Project) plus " +
        "a partitioned append touching only the landed cells — " +
        "corpus-size-independent, no shuffle, no read of existing " +
        "codes. The encode halves (cellResiduals/subCodes) are the " +
        "SAME code the build runs, so add-then-search equals the " +
        "union build bit-for-bit (oracle-gated vs d51 verbatim)."),
    "d79_recipe_to_shards" ->
      ("The recipe→shards endgame: a config-sized temperature-plan " +
        "collect feeds per-stratum keep rates as a literal map " +
        "(scan-side filter — no shuffle for sampling), the salted " +
        "split cut is a second scan-side md5 predicate, then the d67 " +
        "two-level prefix sum places sequences and the s20 " +
        "repartition(shard)+partitionBy write lands one task per " +
        "shard. Corpus text is read once for the plan math " +
        "(aggregate-only) and once for the pack+write; at 100 TB " +
        "every stage is either config-sized or the d67/s20 " +
        "shapes already audited."),
    "d82_gopher_ngrams" ->
      ("Gopher's full Table-A1 n-gram repetition battery — the " +
        "suite's heaviest text kernel, with its tuning story " +
        "measured, not guessed: a fused all-n single-explode variant " +
        "benched 2.4× SLOWER at sf0.1 (per-row 9-long struct arrays " +
        "defeat parquet scan streaming), so the shape is per-n " +
        "streamed passes over ONE localCheckpointed token table; the " +
        "dup counts ride a WINDOW on the (doc, gram-hash) key the " +
        "rows already shuffle on (replacing a join-back took the 10× " +
        "ratio 4.16 → 2.88), and the shuffle carries 8-byte xxhash64 " +
        "gram keys, never the gram text (2.88 → 2.83, and the " +
        "exchange width is what matters at 100 TB). r17: the " +
        "top-{2,3,4} winner is a partial-aggregable " +
        "min(struct(-count, gram)) — map-side combine replaces the " +
        "per-doc row_number sort — and the dup passes hash each " +
        "token window in place (chained xxhash64 over the tokens), " +
        "so no per-window gram string is ever allocated (solo warm " +
        "8.7 → 4.5 s at sf0.1). Hash identity is " +
        "operator-internal w.h.p. (the d4/d34 precedent) so the " +
        "string-keyed oracle is unchanged. Solo pins: cold 7.61 / " +
        "warm 4.56 s at sf0.1 (BENCH_SOLO_r12.json)."),
    "d84_gopher_full_gate" ->
      ("The COMPLETE Gopher gate: the d52 shape rules conjoined with " +
        "d82's repetition battery at the paper's thresholds — a " +
        "doc-keyed join of two gate-green kernels, so the plan is " +
        "exactly their plans plus one keyed join; no new exchange " +
        "shapes. The cost is the battery's (see d82); the gate adds " +
        "~0.4 s in-suite. This is the per-doc keep decision a " +
        "Gopher-style pipeline actually applies, and the d86 " +
        "curation flagship composes THIS def (not a copy)."),
    "d86_curation_e2e" ->
      ("The full curation DAG as one query: markup strip (line-" +
        "preserving) → C4 line/page rules → the d84 Gopher gate → " +
        "PII redaction → source-priority exact dedup → the " +
        "boilerplate line screen → 8-gram decontamination → the d79 " +
        "recipe→shards tail, with a funnel row per stage and the " +
        "last row read back from the real shard files. Every stage " +
        "is the shared gate-green kernel; each stage output " +
        "localCheckpoints once (freed on exit), so the funnel " +
        "aggregation reads checkpoint blocks instead of re-deriving " +
        "the chain 10×, and downstream stages scan a flat lineage — " +
        "the scan/filter stages are scan-side projections, the " +
        "dedup/screen stages are the d72/d64 keyed-aggregation " +
        "shapes, and the tail is d79's config-sized plan. At 100 TB " +
        "this is N sequential passes with nothing wider than the " +
        "per-stage kernels already audited; the funnel rows are " +
        "one-row aggregates riding the same checkpoints.\n\n" +
        "**Bench attribution (round 14)**: the query now ALSO appends " +
        "two aggregate-only corpusHealth captures (raw + curated) to " +
        "the run-keyed health store as its last act — two extra " +
        "multi-kernel aggregation jobs invisible in the returned " +
        "funnel, worth ~3 s in-suite at sf0.1. Cross-round " +
        "comparisons against BENCH_QUERIES_r13.json's 13.4 s must " +
        "attribute the delta to the captures, not the DAG: solo warm " +
        "r14 is 13.14 s (BENCH_SOLO_r14.json) vs the r13 in-suite " +
        "13.4 s. Round 14 also adds the d88 near-dup variant; this " +
        "entry's plan is the checkpoint-staged exact-dedup shape."),
    "d89_takedown_sweep" ->
      ("The retraction surface composed as ONE compliance operation: " +
        "a quarantined source leaves every maintained artifact in a " +
        "single query — each family through its own gate-green " +
        "remove path with its validator run, one audit row per " +
        "artifact (rows + mass, before/after). Every stage is the " +
        "shared kernel (retractDocs anti-joins — on the per-doc " +
        "snapshots AND, since r16, the LSH band table — count-table " +
        "subtractions, the prefix re-derivation, the cell-scoped " +
        "layout rewrite); the audit rows are one-row aggregates " +
        "riding the per-family snapshots, checkpointed once and " +
        "freed on exit (the d86 funnel discipline). At 100 TB the " +
        "sweep's cost is the SUM of the family retraction costs " +
        "already measured individually (BENCH_SF1_r14.json) — " +
        "nothing here is wider than its own family's shape, and the " +
        "one-query form is what makes the audit trail atomic: either " +
        "every artifact forgot the source and the row set says so, " +
        "or the query failed loudly."),
    "d90_crawl_commit" ->
      ("d89's add-side mirror: a newly crawled batch commits into " +
        "every maintained artifact in one query — mergeTfSnapshots, " +
        "mergeKnSnapshots, mergeLineCounts (global + per-site), " +
        "refreshPrefixCrossIndex, the LSH band-table union (r16's " +
        "7th artifact, with its m-rows-per-id validator), " +
        "ivfPqAddBatch — each with its " +
        "validator run and one audit row per artifact (rows + mass, " +
        "before/after), plus the delta_screen row: the incoming " +
        "batch re-screened against the boilerplate table the commit " +
        "JUST refreshed, so a banner crossing the threshold only " +
        "after the merge drops from the batch that brought it. At " +
        "100 TB the commit's cost is the SUM of the family merge " +
        "costs measured individually: the merges are key-wise " +
        "rollup unions over skinny partials (no text rescanned), " +
        "the prefix refresh re-derives only the postings window, " +
        "the FAISS add encodes the batch against frozen codebooks " +
        "and appends landed cells only, and the screen join keys on " +
        "8-byte line hashes. Together with d89 the maintained-" +
        "corpus lifecycle closes at the composed level in both " +
        "directions."),
    "d91_recrawl_update" ->
      ("The lifecycle verb d89 (delete) and d90 (create) leave " +
        "open: a re-crawled slice comes back with CHANGED content " +
        "and supersedes its old rows in every maintained artifact " +
        "in one query. No artifact has an in-place update — an " +
        "update IS retract-old + merge-new, each side the already-" +
        "audited kernel (anti-join retraction + partial merge for " +
        "the tf/KN snapshots, subtract + merge for the count " +
        "tables, retract + refresh for the prefix index, " +
        "anti-join + re-band for the LSH band table (r16), " +
        "remove_ids + add for the IVF-PQ layout — the re-fetched " +
        "page embeds differently, codebooks stay frozen). Cost at " +
        "100 TB = the delete sweep + the commit sweep over ONLY " +
        "the re-crawled slice — no artifact rescans the corpus, " +
        "and the update_in/update_out audit rows prove the " +
        "supersede flows through the SERVED postings in both " +
        "directions. Oracle: every (rows, mass) pair replayed from " +
        "TWO fresh builds — retract-then-merge == a rebuild that " +
        "only ever saw the new content."),
    "inc_bm25_store" ->
      ("The BM25 index made restart-durable: the tf snapshot lands " +
        "as a batch-partitioned parquet layout (dir/batch=N — each " +
        "crawl era its own partition directory, landed data never " +
        "rewritten), reloads with NO state to rebuild (df/dl/idf " +
        "derive downstream in the shared scorer), and retracts at " +
        "the FILE level: only partitions holding retracted ids " +
        "rewrite via dynamic partition overwrite (the " +
        "ivfPqRemoveBatch pattern), with an empty-partition refusal " +
        "and a survivors-first materialization barrier. Finally the " +
        "store COMPACTS: every batch partition folds into one " +
        "batch-0 layout via the crash-safe tempdir swap (the fold " +
        "lands on disk before the old layout deletes — no failure " +
        "point loses landed state). All three phases are hash-gated " +
        "against the existing replays VERBATIM - the disk " +
        "round-trip, the file-level retraction, AND the compaction " +
        "must be result-invisible. Each loaded snapshot pins ONCE " +
        "before serving (measured: the unpinned cut re-read the " +
        "store parquet per perPostFrom subplan, 12.4 -> 9.5 s at " +
        "sf0.1). At 100 TB: commits are pure appends (no reader " +
        "contention), the batch column keeps per-crawl provenance, " +
        "retraction discovers its touched partitions from the " +
        "id→batch MANIFEST (one doc-count-sized probe — nothing of " +
        "the store is read outside the touched partitions; " +
        "manifest-less stores fall back to the skinny full-store id " +
        "scan; measured in BENCH_MANIFEST_r14.json with the honest " +
        "note that sandbox-scale numbers are overhead-dominated and " +
        "the win is the 24x-and-growing touched-row asymmetry), and " +
        "the compaction cadence bounds the per-partial listing cost " +
        "planning pays. The manifest is guarded on both sides (a " +
        "manifested store refuses a manifest-less commit), its " +
        "crash residue only ever over-approximates, every commit " +
        "runs a post-write per-batch sync check, and " +
        "validateSnapshotStoreManifest re-certifies exact " +
        "(id, batch) sync on every load. r17: the commit guards' " +
        "landed-batch probe is a filesystem listing (no Spark job), " +
        "and the serve's df/dl derivations ride windows on the " +
        "term/doc keys — two postings-sized exchanges instead of " +
        "three plus two join-backs, output term-partitioned for the " +
        "probe join (28 → 20 Exchange nodes on the serve fragment, " +
        "plans/r17/frag_bm25_serve_*)."),
    "inc_boiler_store" ->
      ("The append-only ROLLUP store - the third storage " +
        "discipline, completing the taxonomy (fact stores rewrite " +
        "touched partitions, the IVF-PQ layout rewrites touched " +
        "cells, a rollup store rewrites NOTHING): count partials " +
        "append as batch partitions, a takedown appends the " +
        "quarantined slice's partial NEGATED (sums form a group - " +
        "tombstones cancel key-wise at read time), the load is one " +
        "key-wise fold, and compaction folds the partials back to " +
        "one batch when partial count starts to dominate planning. " +
        "Three phases hash-gated: committed == the planted d64 " +
        "replay, retracted AND compacted == the inc_boiler_remove " +
        "replay verbatim twice (append-only retraction == the " +
        "subtraction == a fresh count; compaction reader-" +
        "invisible). At 100 TB this is the shape for high-commit-" +
        "rate rollups: writers never contend with readers, the " +
        "read-side fold is one shuffle over skinny 16-byte rows, " +
        "and the compaction cadence bounds partial count."),
    "inc_ivfpq_remove" ->
      ("FAISS-style remove_ids for the persisted layout — the " +
        "RETRACTION path (takedowns, right-to-be-forgotten) closing " +
        "the index lifecycle alongside add and retrain. The plan " +
        "below is the post-removal serve: identical to inc_ivfpq_add" +
        "'s (broadcast LUT join + DPP-pruned cell scan) because the " +
        "layout shape is unchanged — which is the point. The remove " +
        "itself is one column-pruned (nid, cell) pass to find " +
        "affected cells (collected — at most nlist values), then a " +
        "barriered dynamic-partition-overwrite of ONLY those cells " +
        "(emptied cells' directories deleted; emptying the whole " +
        "layout is refused loudly — that is a rebuild). Untouched " +
        "cells are never read or rewritten, so the rewrite cost " +
        "scales with the removed share's cell footprint, not the " +
        "corpus. Codebooks stay frozen (as in FAISS); a shrinking " +
        "corpus surfaces in d80's imbalance number, which schedules " +
        "the retrain. Remove-then-search == a build that never " +
        "encoded the vectors (oracle: full-corpus training, " +
        "survivor-only scoring). Measured: BENCH_SOLO_r14.json / " +
        "BENCH_SF1_r14.json."),
    "d87_ivfpq_retrain" ->
      ("The IVF-PQ lifecycle's RARE amortized pass (FAISS retrain " +
        "semantics): the query proves before/after in one row set, " +
        "so it deliberately runs TWO full Lloyd trainings plus two " +
        "index builds — each the d29/d51 shapes (centroids as " +
        "driver-held literals or codegen reference objects, one " +
        "(cluster, dim) aggregation per round, per-call checkpoints " +
        "freed on exit). The full re-encode is one scan-side pass " +
        "over (cell, m codes) rows — never raw vectors — and the " +
        "layout overwrite compacts appended cell dirs as a side " +
        "effect. At 100 TB this runs once per drift threshold " +
        "(d80's imbalance factor schedules it), amortized across " +
        "every serve in between; the plan below is the final " +
        "imbalance comparison reading checkpointed cell stats. Solo " +
        "pins + 10× row: BENCH_SOLO_r14.json / BENCH_SF1_r14.json."),
    "inc_kn_refresh" ->
      ("The KN bigram LM's maintenance path: per-doc (h1, h2) count " +
        "partials union-merge exactly (doc-disjoint batches — " +
        "mergeKnSnapshots is a unionByName, ZERO recompute of landed " +
        "batches), the disjointness validator is one skinny " +
        "two-count aggregation, and every corpus rollup (context " +
        "counts, both fertilities, the type total) derives " +
        "DOWNSTREAM in the shared scorer — so an incremental crawl " +
        "pays only its own batch's tokenize + the rollup " +
        "re-aggregation over 8-byte hash pairs, never a corpus " +
        "re-read. The plan is the d77 scoring tail over a LogicalRDD " +
        "(the merged snapshot checkpoint): postings aggregation, two " +
        "skinny fertility rollups, a one-row type-total broadcast, " +
        "and the per-doc re-join on the hash pair."),
    "rp_health_runs" ->
      ("The persisted `_SNAP_runs` discipline (ref tm_snapshots.py): " +
        "each crawl APPENDS a one-row aggregate-only health capture " +
        "under a monotone run_seq; the delta dashboard diffs the two " +
        "latest STORED rows read from DISK — the \"before\" side is " +
        "never recomputed, so the dashboard's cost is " +
        "history-independent however many crawls accumulate. The " +
        "store is run-count-sized, so its run roster (one aggregate " +
        "row per run_seq) collects to the driver as config-class " +
        "data — the literal-rate-map license — and the two LATEST " +
        "DISTINCT seqs are selected, so a crawl that crashed before " +
        "appending leaves a seq gap without silently emptying the " +
        "delta. lastTwoRuns guards the silent-corruption paths " +
        "loudly: a single-run store (empty delta), several run_ids " +
        "sharing one seq, exact duplicate rows inside a run, and — " +
        "via the per-append stamp appendRun writes — a same-run " +
        "re-append whose recomputed values DRIFTED between attempts " +
        "all fail with a message, the validateKnSnapshot " +
        "discipline."),
    "inc_store_levels" ->
      ("Validation TIERS for the durable fact store: the manifested " +
        "init + commit + takedown lifecycle runs TWICE, once per " +
        "level — `full` pays an exact-sync certification probe per " +
        "operation (the audit posture every other store query runs), " +
        "`recovery` runs the operational writes only and defers " +
        "certification to ONE audit-time " +
        "validateSnapshotStoreManifest pass, the production-ingest " +
        "posture. Refusals (empty/duplicate/null-id, delete-or-die) " +
        "stay at both levels; both stores serve the %16 probe and " +
        "each phase must hash-equal the inc_bm25_remove replay — the " +
        "tiers differ in WHEN certification runs, never in what " +
        "lands. A deliberate PROOF query: ~2x a single store " +
        "lifecycle by construction (two full lifecycles + one audit " +
        "pass + two serves), so its suite time reads near " +
        "inc_bm25_store's and that is the expected shape, not a " +
        "regression."),
    "st_inc_boiler_store" ->
      ("The rollup store's streaming twin, closing the durable-twin " +
        "matrix: two AvailableNow catch-up eras serve the " +
        "boilerplate screen from the DISK fold of the append-only " +
        "store, with the tombstone retraction AND a compaction " +
        "landing BETWEEN the runs. The plan per era is the d64-style " +
        "screen over a LogicalRDD (the era's materialized " +
        "micro-batches) joined against the store fold — one key-wise " +
        "sum over the batch partitions with zeros dropping; the " +
        "oracle is st_inc_boiler_remove VERBATIM, so tombstone " +
        "cancellation and the fold-to-one-batch are both proven " +
        "result-invisible to a caught-up streaming reader. Store " +
        "mutations run unconditionally OUTSIDE the memoized stream " +
        "lazies (the r14 retry-brick lesson)."),
    "inc_ivfpq_manifest" ->
      ("The ANN layout's nid→cell manifest under the oracle gate: " +
        "the inc_ivfpq_remove lifecycle on a layout persisted WITH " +
        "its manifest, so takedown DISCOVERY probes one " +
        "doc-count-sized (nid, cell) table (affectedCells' manifest " +
        "branch) instead of scanning every cell directory's nid " +
        "column — at production nlist-in-the-thousands the " +
        "difference between one skinny semi-join and a full-layout " +
        "column scan per takedown. The removal rewrites the manifest " +
        "AFTER the codes (crash windows over-approximate and " +
        "self-heal, never silently miss), the sync validator " +
        "re-certifies before serving, and the oracle is the " +
        "inc_ivfpq_remove replay VERBATIM: the manifest changes " +
        "where discovery READS, never what it finds."),
    "inc_lsh_store" ->
      ("The near-dup screen's MAINTAINED artifact — the one family " +
        "whose incremental story still recomputed corpus signatures " +
        "per batch: the (doc, band, bucket-hash) table lives in the " +
        "generic manifested fact store, and a crawl batch screens by " +
        "banding ITSELF, probing the stored buckets, and " +
        "exact-rescoring only the candidate pairs (existing text " +
        "read for candidate ids only, via semi-join pushdown). " +
        "Per-batch cost scales with the batch and its collision set, " +
        "never the corpus — at 100 TB the stored bands are the only " +
        "corpus-sized input, pre-banded once, scanned skinny. Phases " +
        "prove commit (fold == full build, by per-doc independence " +
        "of band hashes) and file-level retraction (planted partners " +
        "of quarantined docs stop flagging; survivors keep " +
        "flagging) against the full pairwise Jaccard replay at " +
        "θ=0.7, where banding's miss rate is ≈2e-8. Round 17: a " +
        "third 'compacted' phase (fold-to-one-batch == the retracted " +
        "replay VERBATIM) and full per-phase certification — the " +
        "structural 64-rows-per-id check PLUS the manifest-roster " +
        "completeness check (a wholly-missing doc, invisible to " +
        "per-present-id counts, refuses via one anti-join against " +
        "the store's own id→batch manifest). Both are proof cost on " +
        "skinny tables, not plan changes to the screen."),
    "st_inc_lsh_store" ->
      ("The LSH band store served across AvailableNow catch-up runs: " +
        "era A's incoming micro-batches screen against the ON-DISK " +
        "pre-takedown bands (pinned once per era), the %3==1 " +
        "takedown lands at the file level between the runs and the " +
        "store compacts (manifest rebuilt exactly), era B screens " +
        "the reloaded survivors. Per-batch work is (batch rows + " +
        "static pinned bands + static corpus texts), so micro-batch " +
        "splits cannot change a row; oracle == the era-parameterized " +
        "inc_lsh_store replays VERBATIM. Store mutations run " +
        "unconditionally outside the memoized stream lazies (the " +
        "retry discipline)."),
    "rp_store_stats" ->
      ("Store compaction SCHEDULING — the d80 imbalance-factor role " +
        "for both store families: per-batch rows/tombstones/share " +
        "plus store-level batch count, max/avg skew, and tombstone " +
        "mass, with a compact_due verdict against caller thresholds " +
        "(here ≥3 partials or ≥10% tombstone mass). The per-batch " +
        "aggregate shuffles key-count-sized partials only (batch is " +
        "the partition column), and the windows run over the " +
        "BATCH-COUNT-sized aggregate — config-class by the store " +
        "contract, so the single-partition window is a " +
        "rows-not-data global. The oracle recomputes every number " +
        "from the batch definitions over documents, which also " +
        "re-proves WHAT each store holds after its takedown: fact " +
        "partitions shrank in place, rollup tombstones landed " +
        "whole."),
    "d92_store_ingest" ->
      ("THE STORE-SERVED INGEST FLAGSHIP — the production " +
        "composition the per-family lifecycle rows prove only " +
        "piecewise: one crawl batch screened end-to-end FROM the " +
        "durable stores (LSH band facts + grouped-boiler rollup, " +
        "committed once from two existing-corpus eras, then only " +
        "SERVED), a takedown landing mid-sequence (file-level band " +
        "partition rewrite + a negated-partial tombstone append), " +
        "and every touched store re-certified before each serve " +
        "(manifest sync, band structure + manifest-roster " +
        "completeness, fold non-negativity). Stage order IS the " +
        "documented production discipline: exact dedup first — " +
        "collapsing clone groups so the band probe's buckets stay " +
        "small by construction (the lshScreenAgainst hot-bucket " +
        "mitigation, exercised here: the %500==10 verbatim clones " +
        "never reach the probe) — then the stored-band near-dup " +
        "screen, the rollup-fold boilerplate screen, and the d15 " +
        "quality floor. At 100 TB the batch pays batch-sized banding " +
        "+ its collision set + one skinny pre-banded corpus read; " +
        "no corpus text is touched except candidate rows via " +
        "semi-join pushdown. The oracle replays BOTH phases' full " +
        "chains from the corpus definitions, so hash equality " +
        "proves store-served == recomputed-from-scratch across the " +
        "composed loop — and the funnel flips at stages 2-4 prove " +
        "the takedown flowed through every downstream screen. NO " +
        "streaming twin, deliberately: stage 1 (batch-scoped exact " +
        "dedup, min-id keeper) is not micro-batch-split-invariant — " +
        "which duplicates a micro-batch sees depends on the split — " +
        "so a twin would prove a different operator; the two " +
        "store-serving stages already have their own twins " +
        "(st_inc_lsh_store, st_inc_grouped_boiler, " +
        "st_inc_boiler_store)."))

  /** Named plan FRAGMENTS for queries whose returned frame is an
    * eager checkpoint (the final `explain` would show only an RDD
    * scan): each entry builds the dominant lazy sub-plan of the
    * query so the exchange/join shape is visible and diffable. */
  private def fragments(s: SparkSession, d: String)
      : Map[String, () => DataFrame] = {
    import org.apache.spark.sql.functions._
    val T = graft.core.Tables
    Map(
      "frag_bm25_serve" -> (() => {
        // the serve plan inc_bm25_store / inc_store_levels run per
        // phase: perPost derivation + probe join + top-k window over
        // a tf snapshot (lazy here so the whole chain shows)
        val docs = T.documents(s, d)
        val tf = graft.operators.Search.tfSnapshot(docs, "doc_id", "text")
        val q = docs.filter(col("doc_id") % 16 === 3)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 8))
              .as("qtext"))
        graft.operators.Search.bm25TopKIndexed(tf, q, "qid", "qtext",
          k = 5, materialize = false)
      }),
      "frag_lsh_screen" -> (() => {
        // the collision probe + candidate re-score of
        // lshScreenAgainst, lazy (the operator checkpoints eagerly)
        val docs = T.documents(s, d)
        val existing = docs.filter(col("doc_id") % 5 =!= 0)
        val incoming = docs.filter(col("doc_id") % 5 === 0)
        val stored = graft.operators.Dedup.minHashBands(existing,
          "doc_id", "text", k = 5)
        val inB = graft.operators.Dedup.minHashBands(incoming,
          "doc_id", "text", k = 5)
        graft.operators.Dedup.lshVerify(
          graft.operators.Dedup.lshCandidates(inB, stored, "doc_id"),
          incoming, existing, "doc_id", "text", k = 5, theta = 0.7)
      }),
      "frag_minhash_bands" -> (() =>
        graft.operators.Dedup.minHashBands(
          T.documents(s, d).limit(0), "doc_id", "text", k = 5)))
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  def main(args: Array[String]): Unit = {
    val snapshot = args.length >= 3
    val sfDir = (if (snapshot) sys.env.get("SPARK_GRAFT_SF_DIR")
      else args.headOption).getOrElse("/root/testdata/sf0.001")
    val spark = Bench.sessionBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (snapshot) snapshots(spark, sfDir, args(0), args(1), args(2))
    else plansMd(spark, sfDir)
    spark.stop()
  }

  private def snapshots(spark: SparkSession, sfDir: String,
                        outDir: String, suffix: String,
                        names: String): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    val frags = fragments(spark, sfDir)
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df =
        if (frags.contains(name)) frags(name)()
        else SparkEntry.queries(name)(spark, sfDir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        explain(df))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
  }

  private def plansMd(spark: SparkSession, sfDir: String): Unit = {
    def formatted(df: DataFrame): String = {
      val s = explain(df)
      // keep the operator tree + the scan details (pushdown evidence);
      // drop the long per-operator field dumps for readability
      val i = s.indexOf("\n\n(1)")
      val (tree, details) = if (i < 0) (s, "") else (s.take(i), s.drop(i))
      val scanDetails = details.split("\n\n")
        .filter(b => b.contains("PushedFilters") || b.contains("ReadSchema"))
        .map(_.linesIterator
          .filter(l => l.startsWith("(") || l.contains("PushedFilters") ||
            l.contains("ReadSchema") || l.contains("Location"))
          .mkString("\n"))
      (tree.trim +: scanDetails.toSeq).mkString("\n\n")
    }

    val out = new StringBuilder
    out ++= "# PLANS — flagship physical plans (generated by " +
      "`graft.PlanDump`)\n\n"
    out ++= "Digest per query: the `explain(\"formatted\")` operator " +
      "tree plus the\nparquet-scan detail blocks (pushdown/pruning " +
      "evidence). Regenerate with\n`sbt \"runMain graft.PlanDump\"` " +
      "after plan-affecting changes; PlanSpec\nasserts the " +
      "load-bearing properties, this file is for human review.\n"
    Flagships.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      out ++= s"\n## $name\n\n$why\n\n```\n${formatted(df)}\n```\n"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${Flagships.size} queries)")
  }
}
