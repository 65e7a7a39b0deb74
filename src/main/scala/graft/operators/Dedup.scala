package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pins

/** Deduplication for training-data pipelines: exact (hash group-by),
  * n-gram Jaccard (lossless inverted-index blocking), MinHash-LSH
  * (banded candidate generation + exact re-score), SimHash.
  *
  * Scale design: nothing here is all-pairs. Exact dedup is one
  * hash-partitioned aggregation on the fingerprint. Near-dup candidate
  * generation is an inverted-index self-join on shingles (lossless: any
  * pair with Jaccard > 0 shares a shingle) or on LSH band buckets
  * (probabilistic, tunable miss rate); only candidates are re-scored.
  */
object Dedup {

  /** Word k-shingles of a text column, distinct, as an array column. */
  def shingles(text: Column, k: Int): Column = {
    val ws = filter(split(text, "\\s+"), t => t =!= "")
    array_distinct(
      when(size(ws) < k, array(array_join(ws, " ")))
        .otherwise(transform(sequence(lit(1), size(ws) - (k - 1)),
          i => array_join(slice(ws, i, lit(k)), " "))))
  }

  /** Distinct 64-bit hashes of the word k-shingles, computed by the
    * one-pass codegen'd [[graft.functions.HashedShinglesExpr]]
    * (shorter-than-k texts get a single whole-text shingle, mirroring
    * [[shingles]]). Set semantics match [[shingles]] + per-shingle
    * hashing w.h.p. (collisions ~n²/2⁶⁴); the fused scan replaces four
    * per-element interpreted HOFs that dominated near-dup cost. */
  def hashedShingles(text: Column, k: Int): Column =
    graft.functions.NativeExpressions.hashedShingles(text, k)

  /** Exact dedup: group on the content fingerprint, keep the smallest id
    * as the canonical survivor (deterministic keeper policy — ref keeps
    * min mtime/rowid, `scripts/reports/97-...py:9-22`). One shuffle on
    * the hash — the canonical 100 TB dedup shape. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact dedup with SOURCE PRECEDENCE — the multi-dump curation rule
    * (Dolma §2.1 / RefinedWeb keep docs from the preferred dump when
    * the same content appears in several crawls/sources): the
    * canonical survivor of each content fingerprint is the copy from
    * the highest-priority source (lowest rank in `priority`; sources
    * not listed rank after every listed one), with the lowest id
    * breaking ties — `min(struct(rank, id))`, the [[lineDedup]]
    * survivor idiom. Same single fingerprint-keyed shuffle as
    * [[exactDedup]]; the priority table is a literal map, scan-side.
    *
    * @return (fp, keeper, keeper_source, n_copies, n_sources). */
  def priorityDedup(df: DataFrame, idCol: String, textCol: String,
                    sourceCol: String,
                    priority: Map[String, Int]): DataFrame = {
    require(priority.nonEmpty, "need at least one source priority")
    // Int.MaxValue is the unlisted-source sentinel: a listed source
    // carrying it would TIE with unlisted ones, breaking the
    // documented 'unlisted sources rank after every listed one'
    // contract — reject rather than silently reorder
    require(priority.values.forall(_ < Int.MaxValue),
      "priority ranks must be < Int.MaxValue (reserved for unlisted)")
    val rank = coalesce(
      try_element_at(typedlit(priority), col(sourceCol)),
      lit(Int.MaxValue))
    df.select(col(idCol), col(sourceCol),
        TextAnalysis.fingerprint(col(textCol)).as("fp"),
        rank.as("__rk"))
      .groupBy("fp")
      .agg(
        min(struct(col("__rk"), col(idCol), col(sourceCol))).as("__w"),
        count(lit(1)).as("n_copies"),
        countDistinct(col(sourceCol)).as("n_sources"))
      .select(col("fp"), col("__w").getField(idCol).as("keeper"),
        col("__w").getField(sourceCol).as("keeper_source"),
        col("n_copies"), col("n_sources"))
  }

  /** Candidate pairs sharing ≥1 k-shingle (lossless blocking), with
    * exact Jaccard ≥ `theta`. Output: (id_a, id_b, jac) with id_a<id_b.
    *
    * The join key is the shingle, so co-occurrence lists shuffle by
    * shingle hash; `dfCap` drops shingles appearing in more than that
    * many docs (stop-shingles) — at a high threshold this stays
    * lossless in practice while bounding the quadratic per-key blowup.
    *
    * `materialize = true` (default) eagerly checkpoints the pair output
    * and frees the shingle-set blocks — merely calling the operator runs
    * a job, but nothing leaks into the session. `false` keeps the plan
    * fully lazy (cache-barriered against CollapseProject, nothing
    * eager) for plan inspection and composition with limits/filters —
    * but the internal shingle-set cache then has no caller-reachable
    * handle and stays resident until `spark.catalog.clearCache()`, so
    * production callers should keep the default (round-4 advice
    * measured 2-17× pollution on later queries from exactly such
    * session-lifetime caches).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int, theta: Double, dfCap: Int = 0,
                   materialize: Boolean = true): DataFrame = Pins.scope { p =>
    // materialize the hashed shingle sets once — the postings explode
    // would otherwise re-run the tokenize+hash lineage.
    val shBase = df
      .select(col(idCol).as("id"), hashedShingles(col(textCol), k).as("hs"))
    val sh = if (materialize) p(shBase) else shBase.cache()
    val posting = postings(sh, dfCap)
    val out = scoredJaccardPairs(posting, posting,
      col("a.id") < col("b.id"), theta, "id_a", "id_b")
    // materialize the (small) pair output; the scope then frees the
    // shingle-set blocks — without this every call leaks its `sh`
    // cache for the session's lifetime (measured 2-17× pollution on
    // unrelated queries running later in the same session)
    if (materialize) out.localCheckpoint(true) else out
  }

  /** Near-dup clusters: [[jaccardPairs]] at `theta` connected by
    * [[GraphOps.connectedComponents]]. Output: one (node, comp) row
    * per clustered doc, `comp` the component's min id; unclustered
    * docs have no row. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int, theta: Double): DataFrame = Pins.scope { p =>
    // the components are an eager checkpoint of their own, so the
    // pair checkpoint is freed once they are built
    val pairs = p.own(jaccardPairs(df, idCol, textCol, k, theta))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    GraphOps.connectedComponents(pairs)
  }

  /** Near-dup survivors: every [[nearDupClusters]] member except its
    * component's min-id keeper is dropped, and unclustered docs all
    * survive. Output: `df`'s rows and columns, non-keepers removed. */
  def nearDupSurvivors(df: DataFrame, idCol: String, textCol: String,
                       k: Int, theta: Double): DataFrame = {
    val drop = nearDupClusters(df, idCol, textCol, k, theta)
      .filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** (id, n, s) posting rows from a shingled frame — the doc's set
    * size rides every posting (8 bytes/row) so the pair aggregation
    * needs no per-side size-lookup joins (two whole shuffles saved). */
  private def postings(sh: DataFrame, dfCap: Int): DataFrame =
    Fuzzy.capPostings(
      sh.select(col("id"), size(col("hs")).as("n"),
        explode(col("hs")).as("s")),
      "s", dfCap)

  /** Shared pair-scoring tail of [[jaccardPairs]]/[[crossDedupNear]]:
    * shingle equi-join under `cond`, shared-count aggregation, exact
    * round-6 Jaccard, theta filter. The oracle SQL of every consumer
    * restates exactly this arithmetic — keep them in lock-step. */
  private def scoredJaccardPairs(postA: DataFrame, postB: DataFrame,
                                 cond: Column, theta: Double,
                                 outA: String, outB: String): DataFrame =
    postA.as("a")
      .join(postB.as("b"), col("a.s") === col("b.s") && cond)
      .groupBy(col("a.id").as(outA), col("b.id").as(outB),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jac",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select(outA, outB, "jac")

  /** One-sided CONTAINMENT near-dup: C(a→b) = |A∩B| / |A| ≥ theta —
    * the asymmetric screen symmetric Jaccard cannot run: a short doc
    * quoted wholesale inside a long one has high containment but
    * Jaccard near |A|/|B| (vanishing as B grows), so quote-farms,
    * aggregator pages, and template-wrapped reposts slip a Jaccard
    * filter entirely. Emits BOTH directions per overlapping pair
    * (src contained-in dst), scored exactly.
    *
    * Same lossless shingle blocking and `dfCap` stop-shingle guard as
    * [[jaccardPairs]]; the pair aggregation runs once per unordered
    * pair and fans out to the two directed rows map-side after the
    * theta-independent shared count is known.
    *
    * @return (src_id, dst_id, containment) with containment ≥ theta. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int, theta: Double,
                       dfCap: Int = 0): DataFrame = Pins.scope { p =>
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    val sh = p(df.select(col(idCol).as("id"),
        hashedShingles(col(textCol), k).as("hs")))
    val posting = postings(sh, dfCap)
    posting.as("a")
      .join(posting.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(explode(array(
        struct(col("ia").as("src_id"), col("ib").as("dst_id"),
          round(col("shared").cast("double") / col("na"), 6)
            .as("containment")),
        struct(col("ib").as("src_id"), col("ia").as("dst_id"),
          round(col("shared").cast("double") / col("nb"), 6)
            .as("containment")))).as("e"))
      .select("e.*")
      .filter(col("containment") >= theta)
      .localCheckpoint(true)
  }

  /** PER-GROUP line dedup — the surgical form of [[lineDedup]]: a
    * line is boilerplate only if it repeats ≥ `minCount` times WITHIN
    * the same group (site/domain/source), which is how site-template
    * text actually repeats — every site has its own nav/footer lines,
    * and a global threshold either misses them (count spread across
    * the corpus is per-site) or over-cuts legitimately common text.
    * The count and occurrence joins key on (group, line-hash), so
    * group cardinality only widens the key space — same two skinny
    * shuffles as the global screen; the canonical survivor is the
    * min(struct(doc, pos)) occurrence WITHIN the group.
    *
    * @return (idCol, groupCol, text, n_removed). */
  def groupedLineDedup(docs: DataFrame, idCol: String,
                       groupCol: String, textCol: String,
                       minCount: Int = 3,
                       delimiter: String = "\n"): DataFrame =
    lineDedupImpl(docs, idCol, Some(groupCol), textCol, minCount,
      delimiter)

  /** Shared body of [[lineDedup]] (no group key) and
    * [[groupedLineDedup]] (count scope = the group): split on
    * `delimiter`, count trimmed-unit hashes within the scope, keep
    * everything below `minCount` plus one canonical
    * min(struct(doc, pos)) survivor per scope, rebuild in order
    * joined with the same delimiter. One implementation so the
    * survivor policy, blank-unit rule, and delimiter semantics can
    * never diverge between the two screens. */
  private def lineDedupImpl(docs: DataFrame, idCol: String,
                            groupCol: Option[String], textCol: String,
                            minCount: Int,
                            delimiter: String): DataFrame = Pins.scope { p =>
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val delim = java.util.regex.Pattern.quote(delimiter)
    val gcols = groupCol.toSeq
    // the count/occurrence join key must be NULL-SAFE on the group:
    // a plain equi-join would never match rows whose group is null,
    // silently deleting every line of a null-group doc (no count ⇒
    // keep = null ⇒ filtered). [[lineGroupKey]] is the ONE encoding
    // of that (isNull, value) struct, shared with the grouped
    // cross-corpus screen tables.
    val gkey = groupCol.map(g => lineGroupKey(g).as("__g")).toSeq
    val lines = p(docs
      .select((col(idCol) +: gcols.map(col)) ++ gkey :+
        posexplode(split(col(textCol), delim)).as(Seq("pos", "ln")): _*)
      .withColumn("key",
        when(trim(col("ln")) === "", lit(null))
          .otherwise(xxhash64(trim(col("ln"))))))
    val countKeys = groupCol.map(_ => "__g").toSeq :+ "key"
    val counts = lines.filter(col("key").isNotNull)
      .groupBy(countKeys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol), col("pos"))).as("ck"))
    val flagged = lines.join(counts, countKeys, "left")
      .withColumn("keep",
        col("key").isNull || col("cnt") < minCount
          || struct(col(idCol), col("pos")) === col("ck"))
    flagged.groupBy((idCol +: gcols).map(col): _*)
      .agg(
        concat_ws(delimiter, transform(
          filter(array_sort(collect_list(struct(col("pos"), col("ln"),
            col("keep")))), e => e.getField("keep")),
          e => e.getField("ln"))).as("text"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
      .localCheckpoint(true)
  }

  /** The EXISTING side of cross-corpus line dedup, materialized once:
    * the xxhash64 keys of trimmed lines occurring ≥ `minCount` times
    * in the existing corpus — the "boilerplate table" a production
    * pipeline maintains and refreshes as batches commit (the
    * [[existingGramSet]] pattern at line granularity). */
  def boilerplateLineSet(existing: DataFrame, textCol: String,
                         minCount: Int = 3): DataFrame =
    boilerplateFromCounts(lineCountPartial(existing, textCol), minCount)

  /** Per-batch PARTIAL of [[boilerplateLineSet]]: trimmed-line
    * xxhash64 keys with their in-batch counts, NO threshold applied.
    * Counts are sum-mergeable, so a production ingest refreshes the
    * boilerplate screen per committed batch by merging partials
    * ([[mergeLineCounts]] / [[Incremental.mergeRollups]]) instead of
    * rescanning the corpus; [[boilerplateFromCounts]] applies the
    * threshold to the merged table. For ANY partition of the corpus
    * into batches, merged partials equal the full recompute —
    * associativity + commutativity of sum (the inc_boilerplate
    * oracle's claim). */
  def lineCountPartial(batch: DataFrame, textCol: String): DataFrame =
    batch
      .select(explode(split(col(textCol), "\n")).as("ln"))
      .filter(trim(col("ln")) =!= "")
      .select(xxhash64(trim(col("ln"))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))

  /** Merge [[lineCountPartial]] tables key-wise (skinny 16-byte rows;
    * one shuffle over the DISTINCT repeated lines, never the text). */
  def mergeLineCounts(partials: Seq[DataFrame]): DataFrame =
    Incremental.mergeRollups(partials, Seq("key"), Seq("cnt" -> "sum"))

  /** Threshold a (merged) line-count table into the boilerplate set
    * [[lineDedupAgainst]] probes. */
  def boilerplateFromCounts(counts: DataFrame,
                            minCount: Int = 3): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    counts.filter(col("cnt") >= minCount).select("key")
  }

  /** Subtract a retracted batch's [[lineCountPartial]] from a
    * maintained line-count table — the REMOVAL side of the screen
    * maintenance (a quarantined source, a takedown): counts are
    * sums, so the subtraction is exact — the result is key-for-key
    * the count table a fresh pass over the remaining corpus builds,
    * and a line whose count falls below the threshold stops being
    * boilerplate, exactly as if its docs had never been counted.
    * Keys whose count reaches zero drop; the full-outer join keeps
    * NEGATIVE rows (a batch retracted twice, or one never merged in)
    * visible for [[validateLineCounts]] instead of silently
    * swallowing the contract violation. One key-wise merge over the
    * two skinny count tables, no text rescanned. */
  def subtractLineCounts(total: DataFrame, removed: DataFrame)
      : DataFrame =
    Incremental.subtractRollups(total, removed, Seq("key"), Seq("cnt"))

  /** [[subtractLineCounts]] with the group in the key — the removal
    * side of the PER-SITE screen ([[mergeGroupedLineCounts]]'s
    * inverse): a quarantined source's docs leave each (group, line)
    * count exactly, so a line stops being that group's template the
    * moment its surviving count falls below the threshold.
    * [[validateLineCounts]] detects contract violations the same way
    * (negative counts kept visible). */
  def subtractGroupedLineCounts(total: DataFrame,
                                removed: DataFrame): DataFrame =
    Incremental.subtractRollups(total, removed, Seq("grp", "key"),
      Seq("cnt"))

  /** Shared body of the count-table validators: bad rows counted in
    * one skinny aggregation (the validateTfSnapshot discipline).
    * NULLs count as bad — `when(cond)` alone would evaluate to null
    * on a null operand and silently fall to the clean branch, which
    * is exactly the externally-assembled-state hole the validators
    * exist to close. */
  private def badRows(c: Column, bad: Column): Column =
    coalesce(sum(when(bad || c.isNull, 1L).otherwise(0L)), lit(0L))

  /** The rows [[validateLineCounts]] refuses (negative or null
    * `cnt`), as one aggregate — for a caller that counts them with
    * `Dataset.observe` during an action it already runs. */
  def badLineCounts: Column = badRows(col("cnt"), col("cnt") < 0L)

  /** [[validateLineCounts]]' refusal, given the count of
    * [[badLineCounts]]. */
  def requireLineCounts(bad: Long): Unit =
    require(bad == 0L,
      s"line-count table corrupt: $bad negative counts - a batch " +
        "was retracted twice or was never merged in")

  /** Assert a (subtracted) line-count table is well-formed: no
    * negative (or null) counts — the loud detector for the
    * [[subtractLineCounts]] caller contract (the retracted batch
    * must be a sub-multiset of what the table counted; retracting
    * twice, or retracting a batch that was never merged in, drives
    * counts negative). One skinny aggregation, the
    * validateTfSnapshot discipline. */
  def validateLineCounts(counts: DataFrame): Unit =
    requireLineCounts(counts.agg(badLineCounts).head.getLong(0))

  /** Null-safe group key shared by the grouped screen tables and
    * [[groupedLineDedupAgainst]] — the [[lineDedupImpl]] struct
    * idiom: a plain equi-join would never match null groups,
    * silently keeping every line of a null-group doc unscreened; the
    * (isNull, value) struct is exact and collision-free. */
  private[graft] def lineGroupKey(groupCol: String): Column =
    struct(col(groupCol).isNull.as("n"),
      coalesce(col(groupCol).cast("string"), lit("")).as("v"))

  /** Per-batch PARTIAL of the PER-GROUP boilerplate screen —
    * [[lineCountPartial]] keyed by (group, line): trimmed-line
    * xxhash64 counts within each group, NO threshold. Sum-mergeable
    * exactly like the global partial, so per-site templates arriving
    * incrementally (the production shape — each crawl batch brings
    * its own sites' boilerplate) refresh the screen by merge instead
    * of corpus rescan. */
  def groupedLineCountPartial(batch: DataFrame, groupCol: String,
                              textCol: String): DataFrame =
    batch
      .select(lineGroupKey(groupCol).as("grp"),
        explode(split(col(textCol), "\n")).as("ln"))
      .filter(trim(col("ln")) =!= "")
      .select(col("grp"), xxhash64(trim(col("ln"))).as("key"))
      .groupBy("grp", "key").agg(count(lit(1)).as("cnt"))

  /** Merge [[groupedLineCountPartial]] tables (group, line)-key-wise
    * — [[mergeLineCounts]] with the group in the key; same
    * associativity/commutativity argument, so merged partials equal
    * the full recompute for ANY batch partition of the corpus. */
  def mergeGroupedLineCounts(partials: Seq[DataFrame]): DataFrame =
    Incremental.mergeRollups(partials, Seq("grp", "key"),
      Seq("cnt" -> "sum"))

  /** Threshold a (merged) grouped line-count table into the
    * per-group boilerplate set [[groupedLineDedupAgainst]] probes. */
  def groupedBoilerplateFromCounts(counts: DataFrame,
                                   minCount: Int = 3): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2: $minCount")
    counts.filter(col("cnt") >= minCount).select("grp", "key")
  }

  /** The EXISTING side of PER-GROUP cross-corpus line dedup in one
    * call — [[boilerplateLineSet]] with a (group, line) key. */
  def groupedBoilerplateLineSet(existing: DataFrame, groupCol: String,
                                textCol: String,
                                minCount: Int = 3): DataFrame =
    groupedBoilerplateFromCounts(
      groupedLineCountPartial(existing, groupCol, textCol), minCount)

  /** Cut every line of `incoming` that appears in ITS OWN GROUP's
    * boilerplate set — the ingest-time form of [[groupedLineDedup]]
    * (per-site templates screen per-site: "breaking news" is
    * boilerplate on a news site, content elsewhere). The join keys
    * on (group, line-hash), so group cardinality only widens the key
    * space — same single skinny shuffle as [[lineDedupAgainst]], and
    * the same per-row-independence argument makes it micro-batch-
    * split-safe. The set is corpus-derived/unbounded, and the join
    * is a shuffled hash join, never a broadcast: a broadcast
    * multi-column (grp, key) relation holds a whole Tungsten page
    * (32 MB at 4 GB and 4 cores) on the Spark driver until the
    * broadcast is cleaned, where a shuffled hash join frees its
    * per-task table with the task.
    *
    * @return (idCol, groupCol, text, n_removed). */
  def groupedLineDedupAgainst(incoming: DataFrame,
                              boilerplate: DataFrame, idCol: String,
                              groupCol: String,
                              textCol: String): DataFrame =
    lineDedupAgainstImpl(incoming, boilerplate.hint("shuffle_hash"), idCol,
      Some(groupCol), textCol)

  /** Cut every line of `incoming` that appears in the existing
    * corpus's [[boilerplateLineSet]] — the ingest-time form of
    * [[lineDedup]] (the existing corpus already holds the canonical
    * copies, so incoming occurrences all drop). Per-incoming-row work
    * depends only on that row's lines and the (static) set — true
    * under ANY join strategy — so micro-batch splits cannot change
    * results: the st_line_dedup streaming twin's contract.
    * Whitespace-only lines always stay.
    *
    * Scale shape: the boilerplate set is CORPUS-DERIVED and therefore
    * unbounded (a web-scale corpus holds 10⁸–10⁹ distinct repeated
    * lines — several GB of 8-byte keys), so the join carries no
    * broadcast hint: AQE picks broadcast only when the set actually
    * fits, and a shuffled left join keyed on the 8-byte hash is safe
    * at any scale.
    *
    * @param passThrough extra input columns carried through the
    *        rebuild unchanged (they join the per-doc groupBy key —
    *        free for columns functionally dependent on the id, e.g.
    *        `lang`), so a pipeline needing them beside the rebuilt
    *        text skips a join back onto its predecessor stage (r18:
    *        one BroadcastHashJoin out of each d86/d88 curation DAG).
    * @return (idCol, passThrough..., text, n_removed) as in
    *        [[lineDedup]]. */
  def lineDedupAgainst(incoming: DataFrame, boilerplate: DataFrame,
                       idCol: String, textCol: String,
                       passThrough: Seq[String] = Nil): DataFrame =
    lineDedupAgainstImpl(incoming, boilerplate, idCol, None, textCol,
      passThrough)

  /** Shared body of [[lineDedupAgainst]] (global set, key = line
    * hash) and [[groupedLineDedupAgainst]] (per-group set, key =
    * (group, line hash)) — ONE implementation so the blank-line
    * rule, join semantics, and rebuild aggregation can never diverge
    * between the two screens (the [[lineDedupImpl]] discipline
    * applied to the cross-corpus pair). */
  private def lineDedupAgainstImpl(incoming: DataFrame,
                                   boilerplate: DataFrame,
                                   idCol: String,
                                   groupCol: Option[String],
                                   textCol: String,
                                   passThrough: Seq[String] = Nil)
      : DataFrame = {
    val gcols = groupCol.toSeq ++ passThrough
    val gkey = groupCol.map(g => lineGroupKey(g).as("grp")).toSeq
    val lines = incoming
      .select((col(idCol) +: gcols.map(col)) ++ gkey :+
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "ln")): _*)
      .withColumn("key",
        when(trim(col("ln")) === "", lit(null))
          .otherwise(xxhash64(trim(col("ln")))))
    val joinKeys = groupCol.map(_ => "grp").toSeq :+ "key"
    lines.join(boilerplate.withColumn("__hit", lit(1)),
        joinKeys, "left")
      .withColumn("keep", col("__hit").isNull)
      .groupBy((idCol +: gcols).map(col): _*)
      .agg(
        concat_ws("\n", transform(
          filter(array_sort(collect_list(struct(col("pos"), col("ln"),
            col("keep")))), e => e.getField("keep")),
          e => e.getField("ln"))).as("text"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Shingle document-frequency statistics — the dfCap / prefix-path
    * TUNING diagnostic for the whole near-dup family (the
    * [[graft.operators.Search.bm25MaxScoreCertificates]] idea applied
    * to dedup): a log2-bucketed df histogram with, per bucket, how
    * many distinct shingles land there and what share of TOTAL
    * POSTINGS they carry. Candidate volume through a shingle is
    * ~df²/2, so a heavy top bucket with few shingles is exactly the
    * boilerplate regime where dfCap loses recall and
    * [[prefixJaccardPairs]] wins; a flat histogram says plain
    * [[jaccardPairs]] is already fine. Two skinny aggregations over
    * the postings — runs at full corpus scale for the price of the
    * df table every candidate generator already builds.
    *
    * @return (df_bucket, n_shingles, n_postings, posting_share) with
    *         df_bucket = floor(log2(df)) computed as the binary-digit
    *         count (integer-exact — a float log2 can land on either
    *         side of a power-of-2 boundary depending on the engine's
    *         libm), ascending. */
  def shingleDfStats(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val dfreq = df
      .select(explode(hashedShingles(col(textCol), k)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val tot = broadcast(dfreq.agg(sum("df").as("__tot")))
    dfreq
      .groupBy((length(bin(col("df"))) - 1).cast("int").as("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"))
      .crossJoin(tot)
      .withColumn("posting_share",
        round(col("n_postings") / col("__tot"), 6))
      .select("df_bucket", "n_shingles", "n_postings", "posting_share")
  }

  /** Cross-corpus NEAR-dup: incoming docs with Jaccard ≥ `theta`
    * against any existing doc — the fuzzy arm of [[crossDedup]] (a new
    * crawl rarely re-serves pages byte-identical; it re-serves them
    * slightly edited). Same lossless shingle blocking as
    * [[jaccardPairs]], but the posting join is strictly
    * incoming × existing, so the existing corpus never self-joins —
    * at 100 TB that asymmetry is the whole point: candidate volume is
    * proportional to the (small) incoming side's shingle overlap, and
    * `dfCap` bounds stop-shingle fan-out per side.
    *
    * `materialize` as in [[jaccardPairs]].
    *
    * @return (in_id, ex_id, jac) pairs with jac ≥ theta. */
  def crossDedupNear(incoming: DataFrame, existing: DataFrame,
                     idCol: String, textCol: String,
                     k: Int, theta: Double, dfCap: Int = 0,
                     materialize: Boolean = true): DataFrame = Pins.scope { p =>
    def shingled(df: DataFrame) = {
      val base = df.select(col(idCol).as("id"),
        hashedShingles(col(textCol), k).as("hs"))
      if (materialize) p(base) else base.cache()
    }
    val shIn = shingled(incoming)
    val shEx = shingled(existing)
    val out = scoredJaccardPairs(postings(shIn, dfCap),
      postings(shEx, dfCap), lit(true), theta, "in_id", "ex_id")
    if (materialize) out.localCheckpoint(true) else out
  }

  /** Prefix-filtered exact Jaccard pairs — the PPJoin-family candidate
    * generation (Chaudhuri et al., ICDE'06 "A Primitive Operator for
    * Similarity Joins"; Bayardo et al., WWW'07; Xiao et al., WWW'08)
    * re-expressed as Spark plan shapes. Output-identical to
    * [[jaccardPairs]] at the same (k, theta): every pair with exact
    * Jaccard ≥ theta, scored identically. What changes is the plan:
    * the quadratic shingle self-join runs over each document's PREFIX
    * only, not its full shingle set.
    *
    * Why it is lossless: order the shingle universe by a global total
    * order (here ascending document frequency, hash tie-break — rarest
    * first). J(A,B) ≥ θ implies |A∩B| ≥ ⌈θ·|A|⌉ and ≥ ⌈θ·|B|⌉, and the
    * classic cross-prefix lemma then guarantees the
    * (n − ⌈θ·n⌉ + 1)-prefixes of A and B share at least one element:
    * if they were disjoint, every common element would sit past the
    * later of the two prefix boundaries, leaving at most ⌈θ·n⌉ − 1 <
    * |A∩B| slots on that side. So joining prefixes finds every
    * qualifying pair, and the exact re-score on the full sets filters
    * the rest — no approximation anywhere.
    *
    * Why it scales where [[jaccardPairs]] strains: the full inverted
    * index joins EVERY posting, so candidate volume is Σ_s df(s)² over
    * all shingles — boilerplate shingles with df in the millions
    * dominate even though they never certify a pair ([[jaccardPairs]]
    * can only drop them wholesale via `dfCap`). Here a document
    * contributes only its ≈(1−θ)·n rarest shingles to the join, and
    * frequent shingles land in late positions ranked AFTER the rare
    * ones, so they fall out of most prefixes instead of being
    * hard-dropped: pruning emerges from the order, loss-free. The
    * length filter (θ·na ≤ nb ≤ na/θ, a direct J ≥ θ consequence)
    * further kills cross-size candidates at the join. At θ=0.7 the
    * prefix is ~30% of postings and candidate volume drops by the
    * SQUARE of that on clone-heavy keys — the difference between a
    * web-scale corpus joining terabytes of postings and joining a
    * bounded sliver.
    *
    * Cost of the exactness: two extra skinny shuffles before the join
    * (the df aggregation and the per-document rank window — (id, n, s,
    * df) rows, 32 bytes each). At fixture scale this overhead exceeds
    * the savings; the operator exists for the corpus where the
    * candidate join, not the prep, is the bottleneck (the sf1 probe
    * quantifies the crossover).
    *
    * @return (id_a, id_b, jac) with id_a < id_b, jac ≥ theta. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int, theta: Double): DataFrame = Pins.scope { p =>
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    val sh = p(df
      .select(col(idCol).as("id"), hashedShingles(col(textCol), k).as("hs")))
    prefixCandidates(sh, theta)
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jac", round(col("shared").cast("double")
        / (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select("id_a", "id_b", "jac")
      .localCheckpoint(true)
  }

  /** Cross-corpus prefix-filtered exact Jaccard — [[prefixJaccardPairs]]'s
    * lemma applied to the incremental-ingest path ([[crossDedupNear]]'s
    * semantics, identical output at the same (k, theta)): incoming and
    * existing prefixes are built under ONE shared total order — ascending
    * document frequency over the EXISTING corpus, shingle-hash
    * tie-break — and only prefixes join. The per-side prefix lengths
    * n − ⌈θ·n⌉ + 1 are lossless because J ≥ θ bounds the overlap by
    * ⌈θ·n⌉ on EACH side, and the cross-prefix lemma's WLOG lands on
    * whichever side's last prefix element ranks earlier — either way
    * the shared-order argument closes (see [[prefixJaccardPairs]]).
    *
    * Keying the order on existing-side df is the operational choice: a
    * shingle the existing corpus has never seen has df 0 — rarest,
    * prefix-resident — which is exactly right for ingest (novel content
    * must generate candidates); boilerplate the corpus already holds in
    * bulk ranks last and falls out of both sides' prefixes. The df
    * table is also reusable across ingest batches, where
    * [[crossDedupNear]]'s only defense (dfCap) re-prices every batch.
    *
    * @return (in_id, ex_id, jac) with jac ≥ theta. */
  /** (id, n, s) posting rows from a (id, hs) shingle-set frame. */
  private def crossPost(sh: DataFrame): DataFrame =
    sh.select(col("id"), size(col("hs")).as("n"),
      explode(col("hs")).as("s"))

  /** Rarest-first (1−θ)·n+1 prefix of each id's postings, ranked by
    * the EXISTING side's df (novel shingles rank rarest). */
  private def crossPrefix(p: DataFrame, dfreq: DataFrame,
                          theta: Double): DataFrame = {
    val minOverlap = ceil(lit(theta) * col("n") - lit(1e-9)).cast("int")
    p.join(dfreq, Seq("s"), "left")
      .withColumn("__df", coalesce(col("df"), lit(0L)))
      .withColumn("__rk", row_number()
        .over(Window.partitionBy("id").orderBy("__df", "s")))
      .filter(col("__rk") <= col("n") - minOverlap + 1)
      .select("id", "n", "s")
  }

  /** The EXISTING side of [[prefixCrossJaccard]], materialized once so
    * a continuous ingest pipeline can probe it per catch-up batch
    * (the [[existingGramSet]] pattern for the near-dup screen): the
    * shingle sets, the df table the shared prefix order keys on, and
    * the existing side's own prefix postings. A production deployment
    * keeps these on disk and refreshes them as batches commit. */
  final case class PrefixCrossIndex(shEx: DataFrame, dfreq: DataFrame,
                                    prefEx: DataFrame, k: Int,
                                    theta: Double) {
    /** The index's three checkpoints, for the caller's [[Pins]] scope
      * to own ([[Pins.own]]): every verb returns fresh ones and leaves
      * the superseded index's frames to the caller. */
    def frames: Seq[DataFrame] = Seq(shEx, dfreq, prefEx)
  }

  def prefixCrossIndex(existing: DataFrame, idCol: String,
                       textCol: String, k: Int,
                       theta: Double): PrefixCrossIndex = {
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    val shEx = existing.select(col(idCol).as("id"),
        hashedShingles(col(textCol), k).as("hs"))
      .localCheckpoint(true)
    val dfreq = crossPost(shEx).groupBy("s")
      .agg(count(lit(1)).as("df")).localCheckpoint(true)
    val prefEx = crossPrefix(crossPost(shEx), dfreq, theta)
      .localCheckpoint(true)
    PrefixCrossIndex(shEx, dfreq, prefEx, k, theta)
  }

  /** Refresh a [[PrefixCrossIndex]] with a newly committed batch
    * WITHOUT rescanning existing text: the batch's shingle table
    * appends to `shEx` (union — already-hashed rows never recompute),
    * its per-shingle counts merge into `dfreq` key-wise
    * ([[Incremental.mergeRollups]] — df counts are sum-mergeable),
    * and only the prefix postings re-derive, because prefix
    * membership depends on the GLOBAL df order — a window over the
    * hash-keyed postings table, no text involved. Equals
    * `prefixCrossIndex(existing ∪ batch)` by construction (sum
    * associativity for df; the postings window is a pure function of
    * (posts, dfreq)) — the inc_prefix_refresh oracle's claim. */
  def refreshPrefixCrossIndex(idx: PrefixCrossIndex, batch: DataFrame,
                              idCol: String,
                              textCol: String): PrefixCrossIndex = Pins.scope { p =>
    // the batch shingle table is internal — everything downstream is
    // re-checkpointed, so holding it would pin one orphaned batch-sized
    // block set per refresh cycle on a long-running driver. The
    // SUPERSEDED index (idx.shEx/dfreq/prefEx) stays the caller's to
    // free: it may still be serving queries.
    val shNew = p(batch.select(col(idCol).as("id"),
        hashedShingles(col(textCol), idx.k).as("hs")))
    val shEx = idx.shEx.unionByName(shNew).localCheckpoint(true)
    val dfNew = crossPost(shNew).groupBy("s")
      .agg(count(lit(1)).as("df"))
    val dfreq = Incremental.mergeRollups(Seq(idx.dfreq, dfNew),
        Seq("s"), Seq("df" -> "sum"))
      .localCheckpoint(true)
    val prefEx = crossPrefix(crossPost(shEx), dfreq, idx.theta)
      .localCheckpoint(true)
    PrefixCrossIndex(shEx, dfreq, prefEx, idx.k, idx.theta)
  }

  /** [[prefixCrossJaccard]] against a pre-built [[prefixCrossIndex]].
    * Per-incoming-row work depends only on that row's shingles and the
    * index (the prefix order keys on the EXISTING side's df), so
    * micro-batch splits of the incoming side cannot change the result
    * — the property the st_cross_near streaming twin asserts. */
  def prefixCrossJaccardAgainst(incoming: DataFrame,
                                idx: PrefixCrossIndex, idCol: String,
                                textCol: String): DataFrame = Pins.scope { p =>
    val theta = idx.theta
    val shIn = p(incoming.select(col(idCol).as("id"),
        hashedShingles(col(textCol), idx.k).as("hs")))
    val cand = crossPrefix(crossPost(shIn), idx.dfreq, theta).as("a")
      .join(idx.prefEx.as("b"),
        col("a.s") === col("b.s")
          && col("b.n").cast("double") >= lit(theta) * col("a.n") - lit(1e-9)
          && col("a.n").cast("double") >= lit(theta) * col("b.n") - lit(1e-9))
      .select(col("a.id").as("in_id"), col("b.id").as("ex_id"))
      .dropDuplicates("in_id", "ex_id")
    cand
      .join(shIn.select(col("id").as("in_id"), col("hs").as("hs_a")),
        Seq("in_id"))
      .join(idx.shEx.select(col("id").as("ex_id"), col("hs").as("hs_b")),
        Seq("ex_id"))
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jac", round(col("shared").cast("double")
        / (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select("in_id", "ex_id", "jac")
      .localCheckpoint(true)
  }

  /** Retract documents from a [[PrefixCrossIndex]] WITHOUT rescanning
    * any text — the removal mirror of [[refreshPrefixCrossIndex]]
    * (a quarantined source leaves the near-dup screen): the
    * retracted docs' already-hashed shingle rows come from the index
    * ITSELF (`shEx` semi-join — no text read), their per-shingle df
    * counts subtract key-wise ([[Incremental.subtractRollups]]; the
    * removed side derives from the index, so counts cannot go
    * negative on a well-formed call), and only the prefix postings
    * re-derive — they depend on the global df order, the same window
    * the refresh pays. Equals `prefixCrossIndex(existing minus
    * removed)` by construction; ids absent from the index retract
    * vacuously. The SUPERSEDED index stays the caller's to free, as
    * with refresh. */
  def retractPrefixCrossIndex(idx: PrefixCrossIndex,
                              removeIds: DataFrame,
                              idCol: String): PrefixCrossIndex = {
    val ids = removeIds.select(col(idCol).as("id"))
    val shRm = idx.shEx.join(ids, Seq("id"), "left_semi")
    val shEx = idx.shEx.join(ids, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val dfreq = Incremental.subtractRollups(idx.dfreq,
        crossPost(shRm).groupBy("s").agg(count(lit(1)).as("df")),
        Seq("s"), Seq("df"))
      .localCheckpoint(true)
    val prefEx = crossPrefix(crossPost(shEx), dfreq, idx.theta)
      .localCheckpoint(true)
    PrefixCrossIndex(shEx, dfreq, prefEx, idx.k, idx.theta)
  }

  /** Retract + refresh in ONE derivation — the UPDATE verb (a
    * re-crawled slice supersedes its old rows, the d91 composition).
    * Identical by construction to
    * `refreshPrefixCrossIndex(retractPrefixCrossIndex(idx, ids), batch)`:
    * shEx = (old minus retracted) ∪ batch, dfreq = merge(subtract(old,
    * retracted), batch) — sum-group associativity — and the prefix
    * postings are a pure function of (posts, dfreq). What the
    * composition NEVER does (r17) is derive the INTERMEDIATE index's
    * prefix postings: the two-call form paid a full postings window +
    * checkpoint (plus two intermediate barriers) for a prefix table
    * the refresh immediately superseded and no consumer ever read.
    * The superseded `idx` frames stay the caller's to free. */
  def updatePrefixCrossIndex(idx: PrefixCrossIndex,
                             removeIds: DataFrame, batch: DataFrame,
                             idCol: String,
                             textCol: String): PrefixCrossIndex = Pins.scope { p =>
    val ids = removeIds.select(col(idCol).as("id"))
    val shRm = idx.shEx.join(ids, Seq("id"), "left_semi")
    val shNew = p(batch.select(col(idCol).as("id"),
        hashedShingles(col(textCol), idx.k).as("hs")))
    val shEx = idx.shEx.join(ids, Seq("id"), "left_anti")
      .unionByName(shNew).localCheckpoint(true)
    val dfreq = Incremental.mergeRollups(Seq(
        Incremental.subtractRollups(idx.dfreq,
          crossPost(shRm).groupBy("s").agg(count(lit(1)).as("df")),
          Seq("s"), Seq("df")),
        crossPost(shNew).groupBy("s").agg(count(lit(1)).as("df"))),
      Seq("s"), Seq("df" -> "sum")).localCheckpoint(true)
    val prefEx = crossPrefix(crossPost(shEx), dfreq, idx.theta)
      .localCheckpoint(true)
    PrefixCrossIndex(shEx, dfreq, prefEx, idx.k, idx.theta)
  }

  /** Assert a [[PrefixCrossIndex]]'s df table is well-formed: no
    * non-positive dfs — the loud detector for externally-assembled
    * or doubly-subtracted df state ([[retractPrefixCrossIndex]]
    * itself derives its removals from the index, so a well-formed
    * call cannot go negative; this guards the manual-assembly paths
    * — the validateLineCounts discipline on the shingle axis). One
    * skinny aggregation over the config-shaped df table. */
  def validatePrefixCrossIndex(idx: PrefixCrossIndex): Unit = {
    val bad = idx.dfreq.agg(badRows(col("df"), col("df") <= 0L)).head
      .getLong(0)
    require(bad == 0L,
      s"prefix-cross index corrupt: $bad non-positive (or null) dfs " +
        "- df state was subtracted twice or assembled from " +
        "overlapping partials")
  }

  def prefixCrossJaccard(incoming: DataFrame, existing: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, theta: Double): DataFrame = Pins.scope { p =>
    require(theta > 0 && theta <= 1, s"theta must be in (0, 1], got $theta")
    def shingled(df: DataFrame) = p(df.select(col(idCol).as("id"),
      hashedShingles(col(textCol), k).as("hs")))
    val shIn = shingled(incoming)
    val shEx = shingled(existing)
    val dfreq = crossPost(shEx).groupBy("s").agg(count(lit(1)).as("df"))
    def prefix(p: DataFrame) = crossPrefix(p, dfreq, theta)
    val cand = prefix(crossPost(shIn)).as("a")
      .join(prefix(crossPost(shEx)).as("b"),
        col("a.s") === col("b.s")
          && col("b.n").cast("double") >= lit(theta) * col("a.n") - lit(1e-9)
          && col("a.n").cast("double") >= lit(theta) * col("b.n") - lit(1e-9))
      .select(col("a.id").as("in_id"), col("b.id").as("ex_id"))
      .dropDuplicates("in_id", "ex_id")
    cand
      .join(shIn.select(col("id").as("in_id"), col("hs").as("hs_a")),
        Seq("in_id"))
      .join(shEx.select(col("id").as("ex_id"), col("hs").as("hs_b")),
        Seq("ex_id"))
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jac", round(col("shared").cast("double")
        / (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select("in_id", "ex_id", "jac")
      .localCheckpoint(true)
  }

  /** Candidate (id_a, id_b) pairs of [[prefixJaccardPairs]] — exposed
    * within the package so the spec can assert the candidate-volume
    * reduction vs full inverted-index blocking, not just end-result
    * equality. `sh` is the (id, hs) shingle-set frame.
    *
    * The ⌈θ·n⌉ ceiling is taken after subtracting 1e-9: binary doubles
    * overshoot products like 0.3 × 10 (= 3.0000000000000004), and an
    * overshot ceiling would SHORTEN the prefix — the lossy direction.
    * The epsilon can only lengthen a prefix by one slot (more
    * candidates, never fewer). The same slack widens the length filter
    * bounds. */
  private[graft] def prefixCandidates(sh: DataFrame,
                                      theta: Double): DataFrame = {
    val post = sh.select(col("id"), size(col("hs")).as("n"),
      explode(col("hs")).as("s"))
    val dfreq = post.groupBy("s").agg(count(lit(1)).as("df"))
    val minOverlap = ceil(lit(theta) * col("n") - lit(1e-9)).cast("int")
    val rk = row_number().over(Window.partitionBy("id").orderBy("df", "s"))
    val prefix = post.join(dfreq, "s")
      .withColumn("__rk", rk)
      .filter(col("__rk") <= col("n") - minOverlap + 1)
      .select("id", "n", "s")
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id")
          && col("b.n").cast("double") >= lit(theta) * col("a.n") - lit(1e-9)
          && col("a.n").cast("double") >= lit(theta) * col("b.n") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** MinHash signature: array of `numPerm` 64-bit min-hashes over a
    * pre-hashed shingle array (`hs`: array<long>), computed by the
    * fused one-pass [[graft.functions.MinHashSigExpr]] (multiply-add
    * bijective permutations — see its scaladoc).
    *
    * IMPORTANT plan-shape note: callers must materialize the result
    * (cache / localCheckpoint) before fanning it out to several
    * consumers — Catalyst's CollapseProject inlines the whole
    * numPerm-way computation into EVERY consumer expression (measured
    * 40× blowup when 64 band hashes each re-derived the signature). */
  def minHashSig(hs: Column, numPerm: Int): Column =
    graft.functions.NativeExpressions.minHashSig(hs, numPerm)

  /** MinHash-LSH near-dup: banded bucketing → candidate pairs → exact
    * Jaccard re-score ≥ theta. With numPerm=256, bands=64 (rows=4) the
    * false-negative rate at J≥0.7 is ≈2e-8 — the banding threshold
    * (1/64)^(1/4)≈0.35 over-generates and the exact re-score filters.
    * Candidates shuffle by band hash; no cartesian product anywhere.
    *
    * `bucketCap` bounds the population of each (band, bucket-hash)
    * bucket before the self-join — the LSH analogue of the shingle
    * paths' `dfCap`. Without it a bucket holding m near-identical docs
    * (boilerplate, licenses, mirrored pages — clone-heavy is the NORM
    * for web corpora) yields m(m−1)/2 candidates, the one quadratic
    * blowup left in the family (the sf1 probe measured 8.08× at 10×
    * rows from exactly this). Buckets above the cap are SAMPLED, not
    * dropped: members are ranked by `xxhash64(band, bh, id)` and the
    * first `bucketCap` kept, so the kept subset re-randomizes per band
    * and a doc dropped in one band survives in others. Miss bound for
    * a clone group of size m > B over b bands: a specific pair
    * co-survives some band with p = 1−(1−(B/m)²)^b (m=100, B=64, b=64
    * → miss ≈ 2e-15; m=1000 → most PAIRS missed but each bucket still
    * contributes a random-B-subset clique per band, so the group stays
    * one connected COMPONENT w.h.p. — what the d11/d12 cluster
    * consumers actually need). Candidate volume is O(b·B·m) per group
    * instead of O(m²). Buckets at or under the cap are untouched, so
    * results are exact (≡ `bucketCap = 0`, uncapped) whenever no
    * bucket exceeds B. Plan cost of the cap: Spark plans the
    * row_number≤B filter as WindowGroupLimit Partial/Final — each map
    * partition pre-trims its buckets to B rows BEFORE the exchange,
    * so the added shuffle of skinny (id, band, bh) rows is itself
    * bucket-capped map-side; the rank window partitions on the same
    * (band, bh) key the self-join uses, so in the sort-merge regime
    * the join reuses that distribution (in the broadcast regime the
    * window's exchange is the only one, where uncapped had none —
    * the price of the bound).
    *
    * `materialize` as in [[jaccardPairs]]: `true` (default) eagerly
    * checkpoints the pair output and frees the shingle/signature
    * blocks; `false` keeps the plan lazy (cache barriers only) for
    * plan inspection — the internal caches then outlive the call (no
    * caller-reachable handle), so production callers should keep the
    * default. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int, theta: Double,
                      numPerm: Int = 256, bands: Int = 64,
                      bucketCap: Int = 64,
                      materialize: Boolean = true): DataFrame = Pins.scope { p =>
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rows = numPerm / bands
    def barrier(d: DataFrame): DataFrame =
      if (materialize) p(d) else d.cache()
    // materialize the hashed shingle sets once: every perm reads `hs`,
    // and without a barrier CollapseProject would re-inline the
    // shingle hashing into all numPerm expressions
    val sh = barrier(df.select(col(idCol).as("id"),
        hashedShingles(col(textCol), k).as("hs"))
      .filter(size(col("hs")) > 0))
    // signature as ONE fused expression pass — no explode, no shuffle,
    // no 256-way aggregation buffers (the previous explode + 256
    // min-aggregate shape cost 4.3s at sf0.1; this runs in ~0.3s).
    // Barriered so the 64 band hashes read the materialized array
    // instead of CollapseProject re-inlining the signature 64×.
    val sig = barrier(
      sh.select(col("id"), minHashSig(col("hs"), numPerm).as("sig")))
    val bandCols = (0 until bands).map(b =>
      xxhash64((b * rows until (b + 1) * rows)
        .map(i => element_at(col("sig"), i + 1)): _*))
    // bands shuffle (id, band, hash) only — the shingle arrays would
    // multiply shuffle volume by `bands` if carried through the join.
    val banded = sig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    // population cap per (band, bh) — see scaladoc. row_number over the
    // per-band rehash keeps a band-independent random B-subset; ties
    // impossible (id is unique within a bucket) so the sample is
    // deterministic.
    val capped =
      if (bucketCap <= 0) banded
      else {
        val w = Window.partitionBy("band", "bh")
          .orderBy(xxhash64(col("band"), col("bh"), col("id")), col("id"))
        banded.withColumn("__r", row_number().over(w))
          .filter(col("__r") <= bucketCap).drop("__r")
      }
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact re-score on the hashed shingle sets (long compares, not
    // string compares; same counts w.h.p. as above)
    val out = cand
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jac", round(col("shared").cast("double")
        / (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select("id_a", "id_b", "jac")
    // materialize the (small) output; the scope then frees the
    // shingle-set and signature blocks (see jaccardPairs)
    if (materialize) out.localCheckpoint(true) else out
  }

  /** The BANDING HALF of [[minHashLshPairs]] as a standalone table —
    * one (id, band, bh) row per document per band, the MAINTAINED
    * serving artifact of the LSH family: persist it (the generic
    * snapshot store fits — per-doc fact rows, id-keyed retraction)
    * and every future crawl batch near-dup-screens against the STORED
    * bands ([[lshScreenAgainst]]) without recomputing a single corpus
    * signature. Band hashes are a deterministic function of (text, k,
    * numPerm, bands), so rows built per era and union-merged equal
    * the full-corpus build row-for-row — the same per-doc-independence
    * argument as the tf/KN snapshots. The signature pass materializes
    * once per call (the CollapseProject hazard — see
    * [[minHashLshPairs]]) and is freed before returning; the output
    * is checkpointed.
    *
    * COVERAGE CONTRACT: every doc with NON-NULL text gets exactly
    * `bands` rows — including empty/whitespace-only texts, whose
    * whole-text fallback shingle ([[hashedShingles]] hashes the
    * zero-token sequence to one deterministic value) keeps them
    * bandable, so the 64·count audit rows and a
    * [[validateMinHashBands]] `expectedIds` roster hold without
    * text-shape caveats. Only NULL-text docs are excluded (nothing
    * to shingle); pass rosters that exclude them the same way, and
    * keep oracles on the non-null slice. */
  def minHashBands(df: DataFrame, idCol: String, textCol: String,
                   k: Int, numPerm: Int = 256,
                   bands: Int = 64): DataFrame = Pins.scope { p =>
    minHashBandsLazy(p, df, idCol, textCol, k, numPerm, bands)
      .localCheckpoint(true)
  }

  /** [[minHashBands]] for callers that immediately hand the band rows
    * to a materializing consumer (a store init/commit, whose write
    * path pins its input itself): returns the LAZY banded plan, so the
    * band table materializes ONCE — in the consumer — instead of
    * paying minHashBands' own output checkpoint first (r17: one fewer
    * 64·N-row materialization per band build). The plan reads an
    * internal signature checkpoint owned by `pins`: the caller's scope
    * must not exit before the banded rows have fully materialized
    * downstream. Same rows, same coverage contract as
    * [[minHashBands]]. */
  def minHashBandsLazy(pins: Pins, df: DataFrame, idCol: String,
                       textCol: String, k: Int, numPerm: Int = 256,
                       bands: Int = 64): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rows = numPerm / bands
    // isNotNull, not size(hs) > 0: non-strict hashedShingles NEVER
    // returns an empty array for non-null text (the whole-text
    // fallback covers < k tokens, zero included), so the two filters
    // admit the same rows — but this spelling makes the exclusion
    // rule (null text only) readable and pushdown-friendly
    val sig = pins(df.filter(col(textCol).isNotNull)
      .select(col(idCol), hashedShingles(col(textCol), k).as("hs"))
      .select(col(idCol), minHashSig(col("hs"), numPerm).as("sig")))
    val bandCols = (0 until bands).map(b =>
      xxhash64((b * rows until (b + 1) * rows)
        .map(i => element_at(col("sig"), i + 1)): _*))
    sig.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  /** Loud structural validator for a maintained band table — the
    * [[graft.operators.Quantization.validateIvfPqCodes]] discipline
    * applied to the LSH artifact: every PRESENT id carries EXACTLY
    * `bands` rows spanning band ids [0, bands), each band id once, or
    * a doc was banded twice (a doubled commit — its collisions double
    * downstream) / a band set is torn (a partial write — its doc
    * under-collides silently) / rows carry foreign LSH parameters / a
    * band repeats while another went missing. The per-id structure
    * checks are [[certifyBandStore]]'s, with its diagnoses. One
    * skinny aggregation.
    *
    * SCOPE: the structural check alone cannot see a doc whose band
    * rows are ALL missing (zero rows ⇒ nothing to count) — pass
    * `expectedIds` (the corpus id roster, or the store manifest) to
    * close that completeness hole with one anti-join. The lifecycle
    * flagships skip it deliberately: their hash-gated audit rows pin
    * the exact doc count against the oracle, so a wholly-missing doc
    * already fails the gate. */
  def validateMinHashBands(bandsTable: DataFrame, idCol: String,
                           bands: Int = 64,
                           expectedIds: Option[DataFrame] = None): Unit = {
    val st = bandStructure(bands)
    val perId = bandsTable.groupBy(col(idCol)).agg(st.head, st.tail: _*)
    // ONE job carries every check (r17): with a roster, the per-id
    // structure full-outer-joins it, and a roster id with no
    // structure row is the completeness failure — the band table
    // scans once, not twice, and each failure class keeps its
    // distinct diagnosis
    val r = expectedIds
      .fold(perId)(ids => ids.select(col(idCol)).distinct()
        .join(perId, Seq(idCol), "full_outer"))
      .agg(countWhere(tornBands(bands)).as("torn"),
        countWhere(repeatedBands(bands)).as("repeated"),
        countWhere(col("__n").isNull).as("missing")).head
    requireBandStructure(r.getLong(0), r.getLong(1), bands)
    val missing = r.getLong(2)
    require(missing == 0,
      s"band table corrupt: $missing expected id(s) carry NO " +
        "band rows at all - a whole band set was lost (the " +
        "structural per-id check cannot see an absent doc); " +
        "re-band the missing docs")
  }

  /** Per-id structure aggregates of a band table, shared by
    * [[validateMinHashBands]] and [[certifyBandStore]]: row count
    * `__n`, distinct band ids `__bd`, and the band-id range
    * `__blo`/`__bhi`. Distinct band ids are counted as set bits of
    * one OR-ed bitmask per 64 band ids: countDistinct would plan an
    * extra (id, band) shuffle, one more stage and job per check,
    * where a bitwise OR is an ordinary partial aggregate. Band ids
    * outside [0, bands) set no bit; [[tornBands]] refuses them. */
  private def bandStructure(bands: Int): Seq[Column] = {
    val distinctBands = (0 until (bands + 63) / 64).map { w =>
      bit_count(coalesce(bit_or(when(shiftright(col("band"), 6) === w,
        call_function("shiftleft", lit(1L), col("band").bitwiseAND(63)))),
        lit(0L)))
    }.reduce(_ + _)
    Seq(count(lit(1)).as("__n"), distinctBands.as("__bd"),
      min("band").as("__blo"), max("band").as("__bhi"))
  }

  /** A present id without exactly `bands` rows spanning [0, bands). */
  private def tornBands(bands: Int): Column =
    col("__n").isNotNull && (col("__n") =!= bands.toLong ||
      col("__blo") =!= 0 || col("__bhi") =!= bands - 1)

  /** A present id whose band ids are not all distinct. */
  private def repeatedBands(bands: Int): Column =
    col("__n").isNotNull && col("__bd") =!= bands.toLong

  private def countWhere(c: Column): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  private def requireBandStructure(torn: Long, repeated: Long,
                                   bands: Int): Unit = {
    require(torn == 0,
      s"band table corrupt: $torn id(s) without exactly $bands " +
        s"band rows spanning [0, ${bands - 1}] - a doc was banded " +
        "twice, a band set is torn, or rows carry foreign LSH " +
        "parameters; re-band the affected docs")
    require(repeated == 0,
      s"band table corrupt: $repeated id(s) repeat a band id - the " +
        s"$bands rows span [0, ${bands - 1}] but one band was " +
        "duplicated while another went missing, so a bucket probe " +
        "on the missing band silently misses; re-band the affected " +
        "docs")
  }

  /** Persist the (k, numPerm, bands) a durable band store was built
    * with — the bookkeeping half of [[lshScreenAgainst]]'s parameter
    * contract: the screen's structural band-range check catches a
    * `bands` drift, but a k or numPerm drift at EQUAL bands is
    * invisible in the rows (same band range, different hashes —
    * every bucket probe silently misses). One-row parquet sidecar
    * beside the store directory (the id-manifest sibling
    * discipline: store maintenance — partition rewrites, compaction
    * swaps — never touches it). Overwritten on re-init, when the
    * params may legitimately change. */
  def writeBandParams(spark: org.apache.spark.sql.SparkSession,
                      dir: String, k: Int, numPerm: Int,
                      bands: Int): Unit =
    spark.range(1)
      .select(lit(k).as("k"), lit(numPerm).as("num_perm"),
        lit(bands).as("bands"))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir + "__band_params")

  /** Refuse loudly unless the [[writeBandParams]] sidecar beside
    * `dir` matches the screen's parameters EXACTLY. A store without
    * a sidecar refuses too: a durable band store must declare its
    * parameters (for a pre-sidecar store, call writeBandParams once
    * with the values it was built with). Run this before every
    * [[lshScreenAgainst]] serve from a durable store — it closes
    * the k/numPerm half of the mismatch contract the structural
    * check cannot see. */
  def requireBandParams(spark: org.apache.spark.sql.SparkSession,
                        dir: String, k: Int, numPerm: Int,
                        bands: Int): Unit = {
    val path = dir + "__band_params"
    require(graft.core.Manifested.exists(spark, path),
      s"band store $dir declares no LSH parameters ($path missing) " +
        "- a parameter-mismatched probe silently misses every " +
        "bucket; writeBandParams once with the store's build values")
    val r = graft.core.Tables.parquet(spark, path)
      .select("k", "num_perm", "bands").head()
    val (sk, sp, sb) = (r.getInt(0), r.getInt(1), r.getInt(2))
    require(sk == k && sp == numPerm && sb == bands,
      s"band store $dir was built at (k=$sk, numPerm=$sp, " +
        s"bands=$sb) but this screen uses (k=$k, numPerm=$numPerm, " +
        s"bands=$bands) - every bucket probe would silently miss; " +
        "screen with the store's parameters or re-band the store")
  }

  /** Full pre-serve certification of a DURABLE band store in ONE
    * Spark job — the composed form of the per-phase posture the
    * lifecycle queries run ([[requireBandParams]] +
    * [[graft.operators.Incremental.validateSnapshotStoreManifest]] +
    * [[validateMinHashBands]] with the manifest roster + the screen's
    * band-range refusal), which previously cost FOUR jobs and THREE
    * full band-table scans per certification point (r17 verdict:
    * per-phase certification was the largest remaining cost in
    * inc_lsh_store/d92). Everything here derives from one per-id
    * aggregation of the store full-outer-joined with the per-id
    * manifest aggregate, so the band table scans ONCE and every
    * failure class keeps a loud, distinct diagnosis:
    *
    *  - null ids (store or manifest) — un-retractable by id;
    *  - roster completeness: a manifest id with NO band rows
    *    (invisible to per-present-id structure checks);
    *  - manifest sync: a store id the manifest never claims, a
    *    duplicated manifest row, or an id whose store batch(es)
    *    disagree with the manifest's — every future retraction
    *    would mis-scope;
    *  - structure: an id without exactly `bands` rows spanning
    *    band ids [0, bands) exactly (banded twice, torn band set,
    *    or band ids from foreign parameters);
    *  - repeated bands: an id with the right count and range whose
    *    band ids are not all distinct — one band duplicated while
    *    another went missing (bands {0, 0, 2} at bands = 3).
    *
    * Strictly STRONGER than the sequence it replaces: the per-id
    * batch agreement also catches an id whose rows tore across two
    * batches into a coincidentally-correct total (the old pair of
    * validators passed that state), and the per-id band range
    * subsumes the screen's global [0, bands) refusal — serve with
    * [[lshScreenAgainst]]`(storedCertified = true)`. Parameter
    * bookkeeping ([[requireBandParams]]) is checked first, so one
    * call is the whole pre-serve contract. */
  def certifyBandStore(spark: org.apache.spark.sql.SparkSession,
                       dir: String, idCol: String, k: Int,
                       numPerm: Int = 256, bands: Int = 64): Unit = {
    requireBandParams(spark, dir, k, numPerm, bands)
    val I = Incremental
    val st = bandStructure(bands)
    val perId = I.readStoreWithBatch(spark, dir)
      .groupBy(col(idCol)).agg(st.head, st.tail ++ Seq(
        min("batch").as("__slo"), max("batch").as("__shi")): _*)
    val mAgg = I.loadSnapshotStoreManifest(spark, dir)
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("__mn"),
        min("batch").as("__mlo"), max("batch").as("__mhi"))
    val r = perId.join(mAgg, Seq(idCol), "full_outer")
      .agg(
        countWhere(col(idCol).isNull).as("nulls"),
        countWhere(col(idCol).isNotNull && col("__n").isNull).as("missing"),
        countWhere(col(idCol).isNotNull && col("__mn").isNull)
          .as("unclaimed"),
        countWhere(col("__n").isNotNull && col("__mn").isNotNull &&
          (col("__mn") =!= 1L || col("__slo") =!= col("__mlo") ||
            col("__shi") =!= col("__mhi"))).as("drifted"),
        countWhere(tornBands(bands)).as("torn"),
        countWhere(repeatedBands(bands)).as("repeated")).head
    val (nulls, missing, unclaimed, drifted, torn, repeated) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    require(nulls == 0,
      s"band store $dir holds null ids - a null id can never be " +
        "retracted by id (equi-join discovery cannot match it); " +
        "scrub the null-id rows and rebuild the store")
    require(missing == 0,
      s"band store $dir corrupt: $missing manifest id(s) carry NO " +
        "band rows at all - a whole band set was lost (invisible " +
        "to the per-present-id structure check); re-band the " +
        "missing docs")
    require(unclaimed == 0,
      s"manifest out of sync with $dir: $unclaimed store id(s) the " +
        "manifest never claims - future retractions would MISS " +
        "their partitions (retracted rows keep serving); " +
        "compactSnapshotStore rebuilds it exactly")
    require(drifted == 0,
      s"manifest out of sync with $dir: $drifted id(s) whose " +
        "manifest rows disagree with the store's batch layout " +
        "(duplicated manifest row or batch drift) - retraction " +
        "would mis-scope; compactSnapshotStore rebuilds it exactly")
    requireBandStructure(torn, repeated, bands)
  }

  /** Ingest-time near-dup screen of an incoming batch against a
    * MAINTAINED band table ([[minHashBands]], usually loaded from a
    * durable store): band the incoming docs, probe the stored bands
    * for bucket collisions, and exact-Jaccard re-score ONLY the
    * candidate pairs — per-batch cost scales with the batch and its
    * collision set, never with the corpus (the corpus contributes one
    * pre-banded table read, and the re-score reads existing TEXT for
    * candidate ids only via a semi-join pushdown). Same guarantee as
    * [[minHashLshPairs]]: at (numPerm=256, bands=64) the banding
    * false-negative rate at J≥0.7 is ≈2e-8, and the exact re-score
    * kills every false positive — so the output equals the full
    * pairwise incoming×existing Jaccard at `theta`, which is what the
    * `inc_lsh_store` oracle row hashes. Output: (in_id, ex_id, jac),
    * jac rounded to 6dp.
    *
    * HOT-BUCKET CAVEAT: the collision probe carries no bucketCap —
    * capping the stored side would break the exact-equality contract
    * above. A clone-heavy bucket (m stored × n incoming copies of one
    * template across 64 bands) therefore produces O(64·m·n) join rows
    * before the dedupe, the quadratic hazard [[minHashLshPairs]]'
    * bucketCap exists for. The production discipline that keeps
    * buckets small BY CONSTRUCTION is running exact dedup
    * ([[exactDedup]] / [[crossDedup]]) before the near-dup screen —
    * the standard pipeline order, which collapses every clone group
    * to one survivor; corpora that skip it should pre-cap the STORED
    * band table once at build time (the sampled-cap discipline, with
    * minHashLshPairs' documented miss bound) rather than per probe.
    *
    * PARAMETER CONTRACT: the stored table must have been built with
    * the SAME (k, numPerm, bands) this screen bands the batch with —
    * a mismatch makes every bucket probe miss and the screen return
    * empty, a silent full-recall failure. The `bands` half is checked
    * structurally before probing (one skinny aggregate: the stored
    * band ids must span exactly [0, bands), which a store built at a
    * different band count cannot) and refuses loudly. A k or numPerm
    * drift at EQUAL bands is invisible in the rows (same band range,
    * different hashes), so durable band stores persist
    * (k, numPerm, bands) beside the store ([[writeBandParams]] at
    * build, [[requireBandParams]] before every serve — wired in
    * every store query); the structural check here is the safety
    * net for bare DataFrames, not the bookkeeping.
    *
    * @param existing the corpus TEXT source the re-score reads
    *                 candidates from — at production, the corpus
    *                 store; only candidate ids' rows are read.
    * @param incomingBands when a caller screens the SAME incoming
    *                 batch against several store states (the
    *                 phase-structured lifecycle queries), pass
    *                 `minHashBands(incoming, idCol, textCol, k,
    *                 numPerm, bands)` built ONCE — the screen then
    *                 skips re-banding the batch per call (r17:
    *                 inc_lsh_store's three phases were paying three
    *                 identical bandings). The frame is caller-owned:
    *                 it must be exactly that expression over the
    *                 same `incoming`, and the caller frees it.
    * @param storedCertified set true ONLY when this serve already
    *                 certified `storedBands` against these parameters
    *                 ([[certifyBandStore]], whose per-id band-range
    *                 check subsumes the global refusal here) — the
    *                 screen then skips its own min/max aggregation
    *                 over the stored table (r18: one full-store scan
    *                 per screen, and one job per MICRO-BATCH in the
    *                 streaming twin). The default keeps the safety
    *                 net for bare DataFrames. */
  def lshScreenAgainst(incoming: DataFrame, storedBands: DataFrame,
                       existing: DataFrame, idCol: String,
                       textCol: String, k: Int, theta: Double,
                       numPerm: Int = 256, bands: Int = 64,
                       incomingBands: Option[DataFrame] = None,
                       storedCertified: Boolean = false)
      : DataFrame = Pins.scope { p =>
    // refuse a parameter-mismatched store BEFORE probing: a store
    // built at bands'≠bands has band ids spanning [0, bands') — the
    // probe would silently miss every bucket (see scaladoc). An
    // EMPTY store is legitimate (first crawl: nothing to collide
    // with), so the range check applies only when rows exist — and
    // only when this serve hasn't ALREADY proven the range through
    // certifyBandStore's per-id check (storedCertified).
    if (!storedCertified) {
      val range = storedBands.agg(min(col("band")).as("lo"),
        max(col("band")).as("hi")).head()
      if (!range.isNullAt(1)) {
        val (lo, hi) = (range.getInt(0), range.getInt(1))
        require(lo == 0 && hi == bands - 1,
          s"stored band table spans band ids [$lo, $hi] but this " +
            s"screen bands at bands=$bands (expected [0, ${bands - 1}])" +
            " - the store was built with different LSH parameters and " +
            "every bucket probe would miss; re-band the store or " +
            "screen with the parameters it was built with")
      }
    }
    val inBands = incomingBands.getOrElse(
      p.own(minHashBands(incoming, idCol, textCol, k, numPerm, bands)))
    // collision probe: skinny (id, band, bh) vs skinny stored rows —
    // candidates deduplicate before any text is touched
    val cand = p(inBands.as("a")
      .join(storedBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col(s"a.$idCol").as("in_id"), col(s"b.$idCol").as("ex_id"))
      .dropDuplicates("in_id", "ex_id"))
    // exact re-score on the hashed shingle sets of the CANDIDATES
    // only: both text reads are semi-join-scoped to candidate ids
    def shingleSets(src: DataFrame, side: String, ids: DataFrame) =
      src.join(ids, col(idCol) === col(side), "left_semi")
        .select(col(idCol).as(side),
          hashedShingles(col(textCol), k).as(s"hs_$side"))
    cand
      .join(shingleSets(incoming, "in_id",
        cand.select("in_id").distinct()), Seq("in_id"))
      .join(shingleSets(existing, "ex_id",
        cand.select("ex_id").distinct()), Seq("ex_id"))
      .withColumn("shared",
        size(array_intersect(col("hs_in_id"), col("hs_ex_id"))))
      .withColumn("jac", round(col("shared").cast("double")
        / (size(col("hs_in_id")) + size(col("hs_ex_id"))
          - col("shared")), 6))
      .filter(col("jac") >= theta)
      .select("in_id", "ex_id", "jac")
      .localCheckpoint(true)
  }

  /** 64-bit SimHash of word tokens: per-token xxhash64, bitwise majority
    * vote. Expressed with integer aggregates over exploded (id, token)
    * pairs — one shuffle, no UDF: for each bit position, sum(±1) and
    * take the sign. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(filter(split(col(textCol), "\\s+"), t => t =!= "")))
        .as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitVotes = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(-1))
        .as(s"b$b")
    }
    val votes = toks.groupBy("id").agg(bitVotes.head, bitVotes.tail: _*)
    val simhash = (0 until 64)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("id"), simhash.as("simhash"))
  }

  /** Engine-portable SimHash: identical bit votes from any engine with
    * md5 — the 64-bit token hash is the first 16 hex chars of
    * `md5(token)`, parsed a hex digit at a time, and the majority-vote
    * signature is re-assembled as a 16-char hex string. Same majority-
    * vote semantics as [[simHash]] (sum of ±1 per bit, ties → 0), but
    * cross-checkable against a SQL oracle, where xxhash64 is not.
    * All expressions (conv / shifts / substr) are codegen'd. */
  def simHashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hexTab = "0123456789abcdef"
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(
          filter(split(col(textCol), "\\s+"), t => t =!= ""))).as("tok"))
      .withColumn("h", substring(md5(col("tok")), 1, 16))
    val digs = (1 to 16).map(p =>
      conv(substring(col("h"), p, 1), 16, 10).cast("int").as(s"d$p"))
    val withDigs = toks.select(col("id") +: digs: _*)
    val votes = (1 to 16).flatMap(p => (0 until 4).map(b =>
      sum(when(shiftright(col(s"d$p"), b).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"v${p}_$b")))
    val agg = withDigs.groupBy("id").agg(votes.head, votes.tail: _*)
    val hexChars = (1 to 16).map { p =>
      val digit = (0 until 4)
        .map(b => when(col(s"v${p}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
      lit(hexTab).substr(digit + 1, lit(1))
    }
    agg.select(col("id"), concat(hexChars: _*).as("simhash"))
  }

  /** Train/test decontamination: flag corpus documents sharing any
    * word n-gram with a benchmark set — the published exact-overlap
    * decontamination rule for pretraining corpora (n=8 words is the
    * conventional window). Window hashing is the fused one-pass
    * [[graft.functions.HashedShinglesExpr]] in strict mode (< n tokens
    * → no windows): one tokenize pass per row, per-window hashing over
    * token hashes (longs) instead of re-slicing string arrays, and the
    * per-doc distinct built in — so the join output needs only a plain
    * count, not a two-phase countDistinct. The hash is join-internal,
    * so the result (id, count) is hash-agnostic. The benchmark side
    * dedupes to a distinct hash set and broadcasts; the corpus side
    * joins BEFORE any deduplication, so the corpus never shuffles at
    * all — the broadcast hash join filters at the scan, and only the
    * matched (id, hash) survivors (vanishingly few at 100 TB) reach
    * the per-doc count shuffle. (Shape history, solo sf0.1: md5-of-
    * concat + corpus-wide distinct 7.0 s → structural xxhash64 5.8 s →
    * join-before-dedup 2.9 s → fused expr 2.1 s.)
    *
    * @return flagged docs only: (idCol, n_hits) — documents sharing at
    *         least one distinct n-gram window with the benchmark. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame = {
    import graft.functions.NativeExpressions.hashedNgrams
    val corpusGrams = corpus
      .select(col(idCol), explode(hashedNgrams(col(textCol), n)).as("__h"))
    val benchGrams = broadcast(bench
      .select(explode(hashedNgrams(col(benchTextCol), n)).as("__h"))
      .distinct())
    // per-doc grams are already distinct (fused expr dedups per row) and
    // the bench side is distinct, so count(*) IS the distinct-window count
    corpusGrams.join(benchGrams, Seq("__h"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }

  /** Decontamination against MULTIPLE benchmark suites at once — the
    * operational report a release review reads: which suite does each
    * contaminated doc overlap, and by how many grams. Real pipelines
    * screen against dozens of benchmarks and must attribute hits per
    * suite (dropping a doc for MMLU overlap is a different decision
    * than for a dev-set leak); running [[decontaminate]] once per
    * suite would rescan the corpus per benchmark, while this keys the
    * ONE broadcast gram table by (gram, bench) and pays a single
    * corpus pass for the whole battery. Bench sides are
    * broadcast-bounded by the [[decontaminate]] contract (eval suites
    * don't scale with the crawl).
    *
    * @param benches (benchIdCol, benchTextCol) rows — one row per
    *                bench document, benchIdCol naming the suite.
    * @return (idCol, bench_id, n_hits) — docs × suites they overlap;
    *         clean docs appear in no row. */
  def decontaminateMulti(corpus: DataFrame, idCol: String,
                         textCol: String, benches: DataFrame,
                         benchIdCol: String, benchTextCol: String,
                         n: Int = 8): DataFrame = {
    import graft.functions.NativeExpressions.hashedNgrams
    val corpusGrams = corpus
      .select(col(idCol), explode(hashedNgrams(col(textCol), n)).as("__h"))
    val benchGrams = broadcast(benches
      .select(col(benchIdCol).as("bench_id"),
        explode(hashedNgrams(col(benchTextCol), n)).as("__h"))
      .distinct())
    corpusGrams.join(benchGrams, Seq("__h"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Incremental (cross-corpus) exact dedup: keep the incoming rows
    * whose normalized-text fingerprint appears nowhere in the existing
    * corpus, then keep one row per surviving fingerprint (min id — the
    * same tie-break as [[exactDedup]]). This is the "dedupe the new
    * crawl against everything already ingested" step of a growing
    * corpus — the existing side never re-deduplicates itself.
    *
    * Scale shape: both sides reduce to (fingerprint[, id]) before
    * touching each other; the anti-join and the keeper-agg shuffle on
    * the fingerprint only, so text never crosses the wire. The
    * existing side aggregates to distinct fingerprints first — the
    * anti-join probes |distinct fps|, not |rows|.
    *
    * @return surviving incoming rows: (idCol, fp). */
  def crossDedup(incoming: DataFrame, existing: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val in = incoming.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val seen = existing
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    in.join(seen, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("fp"))
  }

  /** Exact duplicate-substring spans (Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better", the EXACTSUBSTR path): every word position whose
    * w-gram occurs at least `minCount` times ANYWHERE in the corpus
    * (other docs or the same doc — self-repeated boilerplate counts)
    * is duplicated; contiguous duplicated positions merge into one
    * span. Output: one row per merged span,
    * (idCol, span_start, span_end, span_tokens), 1-based inclusive
    * word indexes. Callers cut or down-weight these ranges; docs
    * shorter than w words yield no spans.
    *
    * The paper builds a corpus-wide suffix array — inherently
    * single-machine. The distributed re-expression is the standard
    * one: fixed-width rolling w-gram keys instead of arbitrary-length
    * suffix matches (a duplicated substring of length ≥ w is exactly a
    * run of duplicated w-grams, so the merged spans coincide with the
    * suffix-array answer for matches ≥ w; shorter matches are below
    * the dedup threshold by construction).
    *
    * Scale design: NO self-join anywhere — unlike pair-based near-dup,
    * output is linear in corpus size by construction. Three keyed
    * shuffles: (1) gram-hash partial-count aggregation (map-side
    * combine absorbs hot boilerplate grams — a billion-fold repeated
    * license line arrives as one partial row per map task); (2) the
    * grams-to-frequent-hashes join, keyed on the hash, output bounded
    * by gram occurrences; (3) the per-doc interval-merge window keyed
    * on id. Gram identity is the fused codegen'd
    * [[graft.functions.PositionalNgramsExpr]] hash (xxhash64 token
    * composition — no per-gram string building; an earlier md5-string
    * formulation was 5-10x slower). The hash never leaves the
    * operator, so the DuckDB oracle's md5-of-joined-words keys are
    * equivalent: both induce the same gram-equality classes w.h.p.
    * (collisions ~n^2/2^64 — the d4 shingle-blocking precedent). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 8, minCount: Int = 2): DataFrame = {
    require(w > 0 && minCount >= 2,
      s"need w > 0 and minCount >= 2: $w, $minCount")
    val grams = positionalGrams(docs, idCol, textCol, w)
    val dupHashes = grams.groupBy("h")
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= minCount)
      .select("h")
    val dup = grams.join(dupHashes, Seq("h"))
      .select(col("id"), col("s"), (col("s") + (w - 1)).as("e"))
    mergeSpans(dup, idCol)
  }

  /** Positional w-gram rows of `docs`: (id, s, h) with s the 1-based
    * window start — one fused codegen scan, small rows only through
    * the Generate (see the [[duplicateSpans]] scaladoc). */
  private def positionalGrams(docs: DataFrame, idCol: String,
                              textCol: String, w: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(graft.functions.NativeExpressions
          .positionalNgramHashes(col(textCol), w)).as(Seq("p", "h")))
      .select(col("id"), (col("p") + 1).as("s"), col("h"))

  /** Classic interval merge of (id, s, e) rows into
    * (idCol, span_start, span_end, span_tokens): a position starts a
    * new span iff it is not covered by (or adjacent to) the running
    * max end of earlier positions; gram starts are unique per doc so
    * the order is total. One keyed shuffle on id. */
  private def mergeSpans(dup: DataFrame, idCol: String): DataFrame = {
    val byS = Window.partitionBy("id").orderBy("s")
    val prevMax = max(col("e"))
      .over(byS.rowsBetween(Window.unboundedPreceding, -1))
    val merged = dup
      .withColumn("__new",
        when(prevMax.isNull || col("s") > prevMax + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(byS))
      .groupBy("id", "__grp")
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
    merged.select(col("id").as(idCol),
      col("span_start"), col("span_end"),
      (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Cross-corpus duplicate-substring spans: merged word ranges of
    * `incoming` docs whose every w-gram occurs anywhere in the
    * EXISTING corpus — the incremental arm of [[duplicateSpans]]
    * (a new crawl re-serves boilerplate the archive already holds;
    * cut the overlap, ingest the rest). The existing side never
    * self-compares, mirroring [[crossDedup]]/[[crossDedupNear]].
    *
    * Scale shape: the existing corpus reduces to DISTINCT gram hashes
    * (8 bytes each, one aggregation shuffle — text never crosses the
    * wire), the incoming grams join keyed on the hash (output bounded
    * by incoming occurrences), then the per-doc interval merge. Unlike
    * [[decontaminateSpans]] the existing side is corpus-sized, so the
    * join is keyed rather than broadcast; candidate volume is still
    * linear — there is no self-join on either side.
    *
    * @return (idCol, span_start, span_end, span_tokens). */
  def crossDupSpans(incoming: DataFrame, existing: DataFrame,
                    idCol: String, textCol: String,
                    w: Int = 8): DataFrame =
    crossDupSpansAgainst(incoming,
      existingGramSet(existing, textCol, w), idCol, textCol, w)

  /** The existing corpus reduced to its DISTINCT w-gram hash set —
    * the materialized half of [[crossDupSpans]]. A continuous ingest
    * pipeline builds this ONCE (and appends to it as batches commit)
    * rather than re-deriving it per catch-up run; the streaming twin
    * (`st_cross_spans`) probes a frame produced here. 8 bytes per
    * distinct gram, one aggregation shuffle — text never crosses the
    * wire. */
  def existingGramSet(existing: DataFrame, textCol: String,
                      w: Int = 8): DataFrame = {
    import graft.functions.NativeExpressions.hashedNgrams
    existing
      .select(explode(hashedNgrams(col(textCol), w)).as("h"))
      .distinct()
  }

  /** Merge [[existingGramSet]] partials from separately committed
    * batches: distinct-union over the 8-byte keys — idempotent,
    * associative, and commutative, so batch boundaries, arrival
    * order, and replays cannot change the set, and merged per-batch
    * sets equal the full recompute (the inc_gram_refresh oracle's
    * claim). Text is scanned once per batch, never again. */
  def mergeGramSets(sets: Seq[DataFrame]): DataFrame = {
    require(sets.nonEmpty, "need at least one gram-set partial")
    sets.reduce(_ unionByName _).distinct()
  }

  /** [[crossDupSpans]] against a pre-built [[existingGramSet]] frame
    * (column `h`): incoming positional grams join the set keyed on
    * the hash, then the per-doc interval merge. Each incoming doc's
    * grams derive from its own row, so the operator is
    * micro-batch-safe: applying it batch-by-batch over a partition of
    * `incoming` yields exactly the rows of applying it once — the
    * property the streaming arm relies on. */
  def crossDupSpansAgainst(incoming: DataFrame, seenGrams: DataFrame,
                           idCol: String, textCol: String,
                           w: Int = 8): DataFrame = {
    val grams = positionalGrams(incoming, idCol, textCol, w)
    mergeSpans(grams.join(seenGrams, Seq("h"))
      .select(col("id"), col("s"), (col("s") + (w - 1)).as("e")), idCol)
  }

  /** Rebuild text with `spans` removed: tokens whose 1-based position
    * falls inside any [span_start, span_end] range of the doc's rows
    * in `spans` are dropped and the survivors rejoin with single
    * spaces — the output is whitespace-NORMALIZED for every doc
    * (spanless docs rejoin too), keeping the transform uniform. This
    * is the "cut the duplicated/contaminated range, keep the doc"
    * step the span operators exist for (Lee et al. 2022 cut, not
    * drop).
    *
    * Scale shape: the span table aggregates to a per-doc sorted range
    * array (small shuffle), then ONE keyed join against the corpus
    * and a per-row indexed HOF filter — the text never explodes to
    * token rows and shuffles exactly once (the rebuild join).
    *
    * @return (idCol, cleaned). */
  def cutSpans(docs: DataFrame, idCol: String, textCol: String,
               spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol).as("id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("sp"))
    val ws = filter(split(col(textCol), "\\s+"), t => t =!= "")
    docs.select(col(idCol).as("id"), ws.as("__ws"))
      .join(sp, Seq("id"), "left")
      .select(col("id").as(idCol),
        array_join(
          filter(col("__ws"), (_, i) =>
            col("sp").isNull || !exists(col("sp"), r =>
              (i + 1) >= r.getField("s") && (i + 1) <= r.getField("e"))),
          " ").as("cleaned"))
  }

  /** WHERE the contamination sits: merged word spans of `corpus` docs
    * whose every w-gram appears in the benchmark suite — the surgical
    * companion to [[decontaminate]] (cut the overlapping range and
    * keep the doc, instead of dropping or manually reviewing it;
    * same spirit as the open n-gram-overlap decontamination tooling
    * around Lee et al. 2022 / Brown et al. 2020 appendix C).
    *
    * Scale shape: identical to [[duplicateSpans]] minus the count
    * aggregation — the bench gram set is DISTINCT and broadcast
    * (benchmark suites are small by definition, the [[decontaminate]]
    * contract), so the corpus never shuffles until the per-doc
    * interval-merge window: ONE keyed exchange total.
    *
    * @return (idCol, span_start, span_end, span_tokens). */
  def decontaminateSpans(corpus: DataFrame, idCol: String,
                         textCol: String, bench: DataFrame,
                         benchTextCol: String, w: Int = 8): DataFrame = {
    import graft.functions.NativeExpressions.hashedNgrams
    val grams = positionalGrams(corpus, idCol, textCol, w)
    val benchGrams = broadcast(bench
      .select(explode(hashedNgrams(col(benchTextCol), w)).as("h"))
      .distinct())
    mergeSpans(grams.join(benchGrams, Seq("h"))
      .select(col("id"), col("s"), (col("s") + (w - 1)).as("e")), idCol)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means topic clusters over the embedding
    * column, then greedy within-cluster removal — a vector is dropped
    * iff some better-ranked vector in the same cluster is cosine-θ
    * close. The preference order is the paper's: ascending similarity
    * to the cluster centroid (far-from-centroid examples survive,
    * maximizing the kept set's diversity), id tie-break. As in the
    * paper's reference implementation, the greedy rule is prefix-based,
    * not component-based: v is removed iff ∃ u with rank(u) < rank(v)
    * and cos(u, v) ≥ θ, whether or not u itself survived (an a–b–c
    * similarity chain keeps only a).
    *
    * Scale design: all pairwise work is cluster-local — the paper's
    * own contract (k is sized so a cluster fits a worker; they run
    * k=50k on LAION). On top of that the PROBE side (the
    * better-ranked u's) is capped at the `clusterCap` best-ranked
    * members per cluster — the [[minHashLshPairs]] bucketCap
    * discipline. A removal is missed only when a vector's every
    * θ-neighbor ranks beyond the cap, i.e. when a single cluster holds
    * > clusterCap mutually-similar members the quantizer failed to
    * split — the fix at scale is raising k, not the cap. Cap inactive
    * (every cluster ≤ clusterCap) ⇒ exact greedy semantics. The
    * row_number≤cap filter plans as WindowGroupLimit, so map
    * partitions pre-trim before the exchange.
    *
    * @return one row per input id: (idCol, cluster, kept). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, theta: Double,
               clusterCap: Int = 4096): DataFrame = Pins.scope { p =>
    require(clusterCap > 0, s"clusterCap must be positive: $clusterCap")
    val a = p.own(Clustering.kMeansWithSim(emb, idCol, vecCol, k, iters))
    val d = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(a.select(col(idCol).as("id"), col("cluster"), col("csim")),
        Seq("id"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("csim").asc, col("id"))))
    val probe = d.filter(col("rnk") <= clusterCap)
      .select(col("cluster"), col("v").as("uv"), col("nrm").as("un"),
        col("rnk").as("urnk"))
    // zero-norm sentinel -2.0 keeps the θ-filter total (NaN sorts
    // HIGH in both engines, which would turn degenerate vectors into
    // universal duplicates)
    val denom = col("un") * col("vn")
    val removed = probe
      .join(d.select(col("cluster"), col("id").as("vid"),
          col("v").as("vv"), col("nrm").as("vn"), col("rnk").as("vrnk")),
        Seq("cluster"))
      .filter(col("urnk") < col("vrnk"))
      .withColumn("cos", when(denom === 0d, lit(-2d))
        .otherwise(round(Similarity.dot(col("uv"), col("vv")) / denom, 6)))
      .filter(col("cos") >= theta)
      .select(col("vid").as("id")).distinct()
    d.join(removed.withColumn("__rm", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        col("__rm").isNull.as("kept"))
      .localCheckpoint(true)
  }

  /** Corpus-wide exact LINE deduplication — the C4 cleanup rule
    * (Raffel et al. 2020 §2.2 removed repeated spans corpus-wide;
    * RefinedWeb and Dolma run the same screen at line granularity):
    * any trimmed line occurring at least `minCount` times across the
    * corpus is boilerplate (cookie banners, nav text, license
    * headers), and every occurrence is cut EXCEPT one canonical
    * survivor — the lowest (doc, position) — so the content itself
    * survives exactly once. Whitespace-only lines are structure, not
    * boilerplate candidates; they always stay. `delimiter` sets the
    * granularity: "\n" (default) is the line screen, "\n\n" the
    * PARAGRAPH screen Dolma/RefinedWeb run — the unit both splits
    * and rejoins on.
    *
    * Scale shape: lines explode map-side with their positions; the
    * corpus-count aggregation and the occurrence join both key on the
    * line's xxhash64 (8 bytes — the full boilerplate STRING never
    * shuffles; per-key counts equal string-keyed counts w.h.p., the
    * d4/d38 precedent), and the rebuild is one doc-keyed aggregation
    * restoring line order. Two skinny shuffles total; the canonical
    * survivor is the `min(struct(doc, pos))` occurrence — struct min
    * is lexicographic, so the key is type-generic (string, long, or
    * any orderable doc id) with no packing/overflow contract.
    *
    * @return (idCol, text, n_removed) — the rebuilt text (kept lines
    *         joined with `\n`; empty string if everything was cut)
    *         and how many lines were removed. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minCount: Int = 3,
                delimiter: String = "\n"): DataFrame =
    lineDedupImpl(docs, idCol, None, textCol, minCount, delimiter)
}
