package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, quality scoring, fingerprinting.
  * All pure Column expressions — whole-stage codegen, no UDFs, so every
  * one of these runs inside the scan stage at 100 TB without a shuffle.
  */
object TextAnalysis {

  /** Whitespace word tokens, empties dropped. */
  def wordTokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(wordTokens(c))

  def distinctTokenCount(c: Column): Column = size(array_distinct(wordTokens(c)))

  /** Count of tokens that appear in `stop` (a small broadcast-safe set). */
  def stopwordHits(c: Column, stop: Seq[String]): Column = {
    val arr = array(stop.map(lit): _*)
    size(filter(wordTokens(lower(c)), t => array_contains(arr, t)))
  }

  private val EnStop = Seq("the", "a", "an", "and", "of", "is", "to", "in")
  private val DeStop = Seq("der", "die", "das", "und", "ist", "nicht")
  private val FrStop = Seq("le", "la", "les", "et", "est", "ne", "pas")
  private val EsStop = Seq("el", "los", "las", "y", "es", "no", "que")

  /** n-gram-free language-ID heuristic: stopword votes per language,
    * highest count wins, earlier language wins ties, 'und' on no
    * evidence. One fused tokenize pass (native LangIdExpr) — the
    * Column formulation re-split the lowercased text once per language
    * set, interpreted. */
  def langIdHeuristic(c: Column): Column =
    graft.functions.NativeExpressions.langId(c,
      Seq("en" -> EnStop, "de" -> DeStop, "fr" -> FrStop, "es" -> EsStop))

  /** All of [[tokenCount]] / [[distinctTokenCount]] / [[meanWordLen]] /
    * [[stopwordRatio]] as ONE fused tokenize pass returning a struct —
    * under whole-stage codegen, subexpression elimination evaluates it
    * once no matter how many fields a projection extracts. */
  def textStats(c: Column): Column =
    graft.functions.NativeExpressions.textStats(c, EnStop)

  /** Quality scoring features (length / punctuation / stopword ratios —
    * the standard pretraining-corpus heuristics). Ratios are exact
    * int/int divisions so results are engine-deterministic. */
  def meanWordLen(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(null)).otherwise(
      length(regexp_replace(c, "\\s+", "")).cast("double") / n)
  }

  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(null)).otherwise(
      (length(c) - length(regexp_replace(c, "\\p{Punct}", ""))).cast("double")
        / length(c))

  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(null))
      .otherwise(stopwordHits(c, EnStop).cast("double") / n)
  }

  /** Document fingerprint: hash of the whitespace-normalized text —
    * the exact-dedup key. md5 keeps it oracle-comparable; at scale
    * xxhash64 halves the width (same plan shape). */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(c, "\\s+", " ")))

  /** BPE-ish subword tokens via one RE2-safe alternation (alnum runs,
    * then every other non-space char individually) — no lookarounds, so
    * the same pattern runs verbatim in SQL oracles. */
  def subwordTokens(c: Column): Column =
    regexp_extract_all(c, lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N} ]"), lit(0))

  /** Adjacent-symbol pair statistics — the counting kernel of BPE
    * tokenizer training (Sennrich, Haddow, Birch 2016, "Neural
    * Machine Translation of Rare Words with Subword Units", ACL):
    * every merge round picks the most frequent adjacent pair; this is
    * round one's candidate table at corpus scale, and the shape every
    * later round repeats over re-segmented words.
    *
    * Scale shape: the corpus first collapses to the VOCABULARY (one
    * word-count shuffle — Heaps-law sublinear in corpus size), then
    * character pairs explode from vocabulary entries weighted by
    * their counts, and a second skinny shuffle rolls pairs up. A
    * 100 TB crawl's pair table is two aggregations over ever-smaller
    * keys; the text itself is read once. Deterministic total order
    * (count desc, pair asc) with a top-N cut.
    *
    * @return (pair, n) — the `topN` most frequent adjacent character
    *         pairs across lowercased whitespace words. */
  def bpePairCounts(docs: DataFrame, textCol: String,
                    topN: Int): DataFrame = {
    val vocab = docs
      .select(explode(wordTokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    vocab.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("wc").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)
  }

  /** Full BPE merge-rule training (Sennrich, Haddow, Birch 2016 §3.2)
    * — the iterative loop [[bpePairCounts]] is one round of: pick the
    * most frequent adjacent symbol pair, fuse it everywhere, repeat.
    * Returns the learned merge table `(step, left_sym, right_sym,
    * merged, n)` in training order — the artifact a tokenizer ships.
    *
    * Corpus → vocabulary ONCE (the Heaps-law-sublinear shuffle), then
    * every round runs on the word-count table: symbols ride as a
    * `|`-delimited string per word, pair counts are a vocab-sized
    * aggregation, the winning pair comes back as ONE driver row (the
    * [[Clustering]] centroid precedent), and the merge applies as a
    * scan-side left-to-right symbol fold ([[applyMerge]]) — leftmost
    * non-overlapping WITH symbol boundaries, matching the reference's
    * `re.sub((?<!\S)a b(?!\S), ab)` (Sennrich's learn_bpe): a winning
    * pair (a, b) fuses only where the adjacent SYMBOLS equal a and b,
    * never where a later symbol merely starts with b. The vocab
    * localCheckpoints each round, so the plan stays constant-size
    * at any merge count; a 100 TB corpus pays one text scan total, and
    * each merge round costs a config-table-sized aggregation.
    *
    * Vocabulary is restricted to lowercased `[a-z0-9]+` words (symbols
    * can then never contain the `|` delimiter). Deterministic total
    * order: count desc, then (left, right) asc — ties never depend on
    * partitioning. If the vocabulary runs out of adjacent pairs early,
    * training stops and the table is short. */
  def bpeTrain(docs: DataFrame, textCol: String,
               merges: Int): DataFrame = Pins.scope { p =>
    val spark = docs.sparkSession
    import spark.implicits._
    require(merges > 0, s"merges must be positive: $merges")
    var cur = p(docs
      .select(explode(wordTokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+\\z"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        regexp_replace(col("w"), "(.)", "\\|$1").as("symstr")))
    val learned = scala.collection.mutable.Buffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val sy = filter(split(col("symstr"), "\\|"), s => s =!= "")
      val top = cur.select(col("wc"), sy.as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("wc"), explode(zip_with(
          slice(col("sy"), lit(1), size(col("sy")) - 1),
          slice(col("sy"), lit(2), size(col("sy")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step, a, b, a + b, n))
        val next = p(cur.select(col("wc"),
            applyMerge(col("symstr"), a, b).as("symstr")))
        p.release(cur)
        cur = next
        step += 1
      }
    }
    learned.toSeq.toDF("step", "left_sym", "right_sym", "merged", "n")
  }

  /** Apply ONE learned merge (a, b) to a `|`-delimited symbol string:
    * a left-to-right fold over the symbols that appends b to the
    * accumulator (fusing the pair) exactly when the LAST accumulated
    * symbol is a — `ends_with(acc, "|" + a)` is an exact last-symbol
    * test because symbols are `[a-z0-9]+` and can never contain the
    * delimiter. The fused symbol becomes a+b ≠ a, so it can never
    * immediately re-fuse as the left element — i.e. leftmost
    * NON-OVERLAPPING application, the `re.sub` semantics of the
    * reference trainer with its `(?<!\S)…(?!\S)` symbol boundaries
    * (a literal substring replace would also fuse where the next
    * symbol merely STARTS with b, e.g. (e,s) on `|l|e|st`). Mirrored
    * verbatim by the d50/d59 oracles' `list_reduce` fold. */
  private[operators] def applyMerge(symstr: Column, a: String,
                                    b: String): Column =
    aggregate(
      filter(split(symstr, "\\|"), s => s =!= ""),
      lit(""),
      (acc, x) =>
        when(acc.endsWith(lit("|" + a)) && x === lit(b), concat(acc, x))
          .otherwise(concat(acc, lit("|"), x)))

  /** Tokenize with a TRAINED merge table — the inference half of
    * [[bpeTrain]], and the path token-budget accounting actually runs:
    * per-doc BPE token counts under the learned vocabulary. The merge
    * chain applies in training order as scan-side [[applyMerge]] folds
    * over the distinct-word vocabulary (Heaps-law-sublinear — each
    * corpus word is segmented ONCE no matter how often it occurs),
    * then per-word token counts join back onto per-doc word
    * occurrences. Words outside the trainer's `[a-z0-9]+` scope are
    * out of vocabulary and uncounted.
    *
    * @return (idCol, n_bpe_tokens, n_words) — docs with no in-scope
    *         words don't appear (no tokenizable evidence). */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(wordTokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+\\z"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val symstr = merges.foldLeft(
      regexp_replace(col("w"), "(.)", "\\|$1")) { case (acc, (a, b)) =>
      applyMerge(acc, a, b)
    }
    val wt = perDoc.select("w").distinct()
      .select(col("w"), size(filter(split(symstr, "\\|"),
        s => s =!= "")).cast("long").as("nt"))
    perDoc.join(wt, "w").groupBy(idCol)
      .agg(sum(col("c") * col("nt")).as("n_bpe_tokens"),
        sum("c").as("n_words"))
  }

  /** Interpolated Kneser-Ney bigram LM score per document (Kneser &
    * Ney 1995; Chen & Goodman 1999 §2.7) — the smoothing the real
    * perplexity filters use (CCNet scores with a KenLM model, which
    * is modified-KN), one rung above [[bigramLmScore]]'s add-one:
    *
    *   p_kn(w2 | w1) = max(c(w1 w2) − D, 0) / c(w1 ·)
    *                 + D · N1+(w1 ·)/c(w1 ·) · N1+(· w2)/N1+(· ·)
    *
    * with the canonical discount D = 0.75 (exact in binary — the
    * quarters argument, like α = 0.5 in temperature mixing). The
    * continuation probability N1+(· w2)/T is KN's whole point: "how
    * many contexts does w2 follow", not "how often does w2 occur" —
    * the San-Francisco test. Scoring the SAME corpus the stats come
    * from means every scored bigram has c ≥ 1, so probabilities are
    * strictly positive and no unigram backoff path is needed.
    *
    * Determinism: the probability expression is evaluated in one
    * fixed IEEE operation order (mirrored token-for-token in the
    * oracle) and log p rounds to integer MICROS once per distinct
    * bigram — the d28/d38 discipline — so per-doc sums are
    * order-independent longs.
    *
    * Scale shape: the corpus collapses to (h1, h2)-keyed bigram
    * counts (8-byte hashes, never token text); the context rollup,
    * both fertility tables, and the one-row type total all derive
    * from that table; docs re-join their bigrams' log-probs on the
    * hash pair. Same shuffle count as [[bigramLmScore]] plus two
    * skinny fertility aggregations.
    *
    * The LM's only state is the per-doc bigram-count snapshot
    * ([[knSnapshot]]); this method is knSnapshot piped into
    * [[knScoreFromSnapshot]], so the batch build and the
    * [[mergeKnSnapshots]] incremental-refresh path can never
    * diverge (the tfSnapshot/bm25TopKIndexed factoring applied to
    * the LM surface).
    *
    * @return (idCol, n_bigrams, sum_logp_micros, mean_logp_micros) —
    *         docs with < 2 tokens don't appear. */
  def knBigramScore(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val out = knScoreFromSnapshot(knSnapshot(docs, idCol, textCol))
    if (idCol == "doc_id") out
    else out.withColumnRenamed("doc_id", idCol)
  }

  /** The KN bigram LM's maintained state: per-doc (h1, h2) bigram
    * counts keyed by the fused positional-hash pairs, plus one
    * ZERO-COUNT MARKER row (0, 0, 0) per input doc — the
    * [[graft.operators.Search.tfSnapshot]] discipline applied to the
    * LM. Every row derives from its own doc's text alone, so
    * doc-disjoint partials union-merge exactly ([[mergeKnSnapshots]])
    * and the marker gives [[validateKnSnapshot]] its per-doc
    * uniqueness signal even for docs with < 2 tokens (which carry no
    * bigram rows). Markers are inert for scoring — real rows always
    * have bf >= 1 and [[knScoreFromSnapshot]] filters bf > 0.
    *
    * @return (doc_id, h1, h2, bf) */
  def knSnapshot(docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    import graft.functions.NativeExpressions.positionalNgramHashes
    docs
      .select(col(idCol).as("doc_id"),
        positionalNgramHashes(col(textCol), 1).as("__th"))
      .select(col("doc_id"), explode(zip_with(
          slice(col("__th"), lit(1),
            greatest(size(col("__th")) - 1, lit(0))),
          slice(col("__th"), lit(2),
            greatest(size(col("__th")) - 1, lit(0))),
          (a, b) => struct(a.as("h1"), b.as("h2")))).as("__p"))
      .select(col("doc_id"), col("__p.h1").as("h1"),
        col("__p.h2").as("h2"))
      .groupBy("doc_id", "h1", "h2").agg(count(lit(1)).as("bf"))
      .unionByName(docs.select(col(idCol).as("doc_id"),
        lit(0L).as("h1"), lit(0L).as("h2"), lit(0L).as("bf")))
  }

  /** Merge [[knSnapshot]] partials from DISJOINT doc batches — the
    * incremental-refresh path of the LM: bigram counts (and markers)
    * are per-doc facts, so for any doc-partition of the corpus the
    * unioned partials are row-for-row the full snapshot; the corpus
    * rollups (c(w1·), both fertilities, the type total) all derive
    * DOWNSTREAM in [[knScoreFromSnapshot]], so nothing else needs
    * rebuilding as crawls commit. Caller contract: batches must be
    * doc-disjoint — a re-crawled doc in two batches duplicates its
    * marker and bigram rows, silently shifting every continuation
    * probability; [[validateKnSnapshot]] is the cheap detector. */
  def mergeKnSnapshots(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "need at least one snapshot partial")
    parts.reduce(_.unionByName(_))
  }

  /** Assert a (merged) [[knSnapshot]] is well-formed: exactly one
    * zero-count marker per distinct doc id — one skinny two-count
    * aggregation that turns a violated [[mergeKnSnapshots]]
    * disjointness contract into a loud failure (the
    * validateTfSnapshot discipline). */
  def validateKnSnapshot(snap: DataFrame): Unit = {
    val r = snap.agg(
      coalesce(sum(when(col("bf") === 0L, 1L).otherwise(0L)), lit(0L))
        .as("markers"),
      countDistinct("doc_id").as("docs")).head
    require(r.getLong(0) == r.getLong(1),
      s"kn snapshot corrupt: ${r.getLong(0)} zero-count markers for " +
        s"${r.getLong(1)} distinct docs - merged batches were not " +
        "doc-disjoint")
  }

  /** Score a [[knSnapshot]] (fresh or [[mergeKnSnapshots]]-merged):
    * the corpus bigram table, context rollup, both fertilities and
    * the type total derive from the snapshot, and docs re-join their
    * bigrams' integer-micro log-probs on the hash pair — the scoring
    * tail of [[knBigramScore]], shared by the batch build and the
    * incremental refresh so the two can never diverge.
    *
    * @return (doc_id, n_bigrams, sum_logp_micros, mean_logp_micros) */
  def knScoreFromSnapshot(snap: DataFrame,
                          materialize: Boolean = true): DataFrame = Pins.scope { p =>
    val d = lit(0.75d)
    val base = snap.filter(col("bf") > 0L)
      .select(col("doc_id"), col("h1").as("__h1"),
        col("h2").as("__h2"), col("bf").as("__bf"))
    val postings = if (materialize) p(base) else base
    val bigCounts = postings.groupBy("__h1", "__h2")
      .agg(sum("__bf").as("__bc"))
    // c(w1·) and N1+(w1·) share the __h1 key — one aggregation and
    // one join carries both
    val ctxStats = bigCounts.groupBy("__h1")
      .agg(sum("__bc").as("__cc"), count(lit(1)).as("__nf"))
    val bwdFert = bigCounts.groupBy("__h2").agg(count(lit(1)).as("__nb"))
    val types = broadcast(bigCounts.agg(count(lit(1)).as("__tt")))
    val lp = bigCounts
      .join(ctxStats, Seq("__h1"))
      .join(bwdFert, Seq("__h2")).crossJoin(types)
      .select(col("__h1"), col("__h2"),
        round(log(
          greatest(col("__bc") - d, lit(0d)) / col("__cc")
            + d * col("__nf") / col("__cc")
            * (col("__nb") / col("__tt"))) * 1e6)
          .cast("long").as("__lpm"))
    val out = postings.join(lp, Seq("__h1", "__h2"))
      .groupBy("doc_id")
      .agg(sum("__bf").as("n_bigrams"),
        sum(col("__bf") * col("__lpm")).as("sum_logp_micros"))
      .withColumn("mean_logp_micros",
        col("sum_logp_micros").cast("double") / col("n_bigrams"))
    if (materialize) out.localCheckpoint(true) else out
  }

  /** Polynomial (Rabin-Karp-style) rolling-hash fingerprint: an ordered
    * integer fold `h = (h*31 + code) mod 1e9+7` over the character
    * codes. Pure integer math in a fixed order → bit-identical in any
    * engine with an ordered list fold; the windowed-extension property
    * (extend by one char = one multiply-add) is what makes it "rolling"
    * for substring-level fingerprinting at scale. */
  def rollingFingerprint(c: Column): Column =
    aggregate(transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)

  /** Corpus-unigram language-model score per document — the cheap
    * engine-side proxy for the published LM-perplexity quality filters
    * (CCNet-style: score each doc by how typical its tokens are of the
    * corpus). p(t) = count(t)/total over the whole corpus; each term's
    * log-prob is rounded to integer MICROS once, so the per-doc sums
    * are integer-exact regardless of aggregation order (same
    * determinism trick as BM25 scoring — float summation order is not
    * associative, integer summation is).
    *
    * Scale shape: one postings aggregation (map-side combinable), the
    * term-total rollup rides it, the one-row grand total broadcasts,
    * and docs re-join their terms' log-probs on the term key. Docs
    * with zero tokens don't appear (no tokens → no LM evidence).
    *
    * @return (idCol, n_tokens, sum_logp_micros, mean_logp_micros) */
  def unigramLmScore(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = Pins.scope { p =>
    // postings feed both the vocabulary rollup and the scoring join —
    // materialize once (same discipline as Search.bm25TopK)
    val postings = p(docs
      .select(col(idCol), explode(wordTokens(col(textCol))).as("__t"))
      .groupBy(idCol, "__t").agg(count(lit(1)).as("__tf")))
    val termTotals = postings.groupBy("__t").agg(sum("__tf").as("__ct"))
    val total = broadcast(termTotals.agg(sum("__ct").as("__tot")))
    val lp = termTotals.crossJoin(total)
      .select(col("__t"),
        round(log(col("__ct").cast("double") / col("__tot").cast("double"))
          * 1e6).cast("long").as("__lpm"))
    postings.join(lp, Seq("__t"))
      .groupBy(idCol)
      .agg(sum("__tf").as("n_tokens"),
        sum(col("__tf") * col("__lpm")).as("sum_logp_micros"))
      .withColumn("mean_logp_micros",
        col("sum_logp_micros").cast("double") / col("n_tokens"))
      .localCheckpoint(true)
  }

  /** Corpus-bigram LM score per document, Laplace-smoothed — the next
    * step up from [[unigramLmScore]] toward the published LM-perplexity
    * quality filters (CCNet-style): score each doc by how typical its
    * token TRANSITIONS are of the corpus, which separates fluent text
    * from shuffled-token or keyword-stuffed spam that unigram
    * statistics cannot see. P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
    * with c(w1) the corpus count of w1 as a bigram context and V the
    * corpus vocabulary size; each distinct bigram's log-prob rounds to
    * integer MICROS once, so per-doc sums are order-independent
    * integers (the d28/BM25 determinism trick).
    *
    * Scale shape: bigram identity is HASHED inside the row by the
    * fused codegen'd [[graft.functions.PositionalNgramsExpr]] — the
    * (context-hash, bigram-hash) pairs are zipped per row and explode
    * as 16-byte structs, so the postings aggregation, the corpus
    * bigram/context rollups, the vocabulary count and the scoring
    * join all key on longs; no token STRING ever leaves its row
    * (the string-struct formulation this replaced shuffled every
    * token twice as UTF-8 and solo-benched 8× slower than unigram;
    * hash-keying took it to ~1.4×). The hashes are operator-internal
    * — per-doc counts equal the string-keyed counts w.h.p.
    * (collisions ~n²/2⁶⁴, the d4/d34 precedent), so the
    * string-keyed DuckDB oracle is unchanged. Postings aggregate
    * map-side-combinably, the corpus bigram table rolls up FROM the
    * postings, the context rollup rides the bigram table, V is a
    * one-row broadcast, and docs re-join their bigrams on the hash
    * key. No unkeyed join beyond the one-row scalar attach. Docs
    * with < 2 tokens don't appear (no transition evidence).
    *
    * @return (idCol, n_bigrams, sum_logp_micros, mean_logp_micros) */
  def bigramLmScore(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = Pins.scope { p =>
    import graft.functions.NativeExpressions.{hashedNgrams, positionalNgramHashes}
    // th: per-token hashes (positions 0..n-1); bh: per-window bigram
    // hashes (positions 0..n-2). Zipping bh with th's strict prefix
    // pairs every bigram with its CONTEXT token's hash — lengths agree
    // by construction (n−1 each; < 2 tokens → both empty).
    val postings = p(docs
      .select(col(idCol),
        positionalNgramHashes(col(textCol), 1).as("__th"),
        positionalNgramHashes(col(textCol), 2).as("__bh"))
      .select(col(idCol), explode(zip_with(
          slice(col("__th"), lit(1),
            greatest(size(col("__th")) - 1, lit(0))),
          col("__bh"),
          (a, b) => struct(a.as("h1"), b.as("hb")))).as("__p"))
      .select(col(idCol), col("__p.h1").as("__h1"), col("__p.hb").as("__hb"))
      .groupBy(idCol, "__h1", "__hb").agg(count(lit(1)).as("__bf")))
    val bigCounts = postings.groupBy("__h1", "__hb")
      .agg(sum("__bf").as("__bc"))
    val ctxCounts = bigCounts.groupBy("__h1").agg(sum("__bc").as("__cc"))
    // V = distinct token hashes ≡ distinct tokens w.h.p.; the strict
    // 1-gram expression dedups per row, shrinking the explode before
    // the exact distinct count
    val vocab = broadcast(docs
      .select(explode(hashedNgrams(col(textCol), 1)).as("__t"))
      .agg(count_distinct(col("__t")).as("__vs")))
    val lp = bigCounts.join(ctxCounts, Seq("__h1"))
      .crossJoin(vocab)
      .select(col("__h1"), col("__hb"),
        round(log((col("__bc").cast("double") + 1d)
          / (col("__cc") + col("__vs")).cast("double")) * 1e6)
          .cast("long").as("__lpm"))
    postings.join(lp, Seq("__h1", "__hb"))
      .groupBy(idCol)
      .agg(sum("__bf").as("n_bigrams"),
        sum(col("__bf") * col("__lpm")).as("sum_logp_micros"))
      .withColumn("mean_logp_micros",
        col("sum_logp_micros").cast("double") / col("n_bigrams"))
      .localCheckpoint(true)
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
    * 2020, arXiv:1911.00359 — CCNet keeps the head/middle perplexity
    * terciles of each language for pretraining): rank every document's
    * [[bigramLmScore]] fluency WITHIN its language and cut the ranking
    * into `buckets` equal-population tiers. Bucket 1 = "head" (most
    * fluent — highest mean log-prob ⇔ lowest perplexity), the last =
    * "tail". The cut is the rank-based NTILE, not an interpolated
    * quantile: exact, engine-portable, and total (ties break on
    * ascending id), so the whole pipeline stays under the oracle hash
    * gate — interpolated cutoffs would put boundary documents at the
    * mercy of cross-engine interpolation rounding.
    *
    * Scale shape: the score is [[bigramLmScore]] (hash-keyed postings,
    * no token strings on the wire); bucketing adds ONE window over the
    * skinny (lang, score, id) projection. Languages are few and large,
    * so the per-language sort is the one deliberately rank-exact step
    * — the 100 TB deployment variant replaces it with per-language
    * `approx_percentile` cutoffs (two scalars, broadcast; CCNet itself
    * thresholds on precomputed numbers), keeping this exact form as
    * the oracle-checkable contract the approximation is judged
    * against.
    *
    * @return (idCol, langCol, n_bigrams, sum_logp_micros,
    *         mean_logp_micros, bucket); docs with < 2 tokens carry no
    *         transition evidence and are absent, as in
    *         [[bigramLmScore]]. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, buckets: Int = 3): DataFrame =
    bucketizeLm(bigramLmScore(docs, idCol, textCol), docs, idCol,
      langCol, buckets)

  /** The shared CCNet cut: per-language rank-exact NTILE tiers over a
    * scored (idCol, n_bigrams, sum_logp_micros, mean_logp_micros)
    * frame — ONE implementation of the window/tie-break/column
    * discipline so [[perplexityBuckets]] (add-one) and
    * [[knPerplexityBuckets]] (Kneser-Ney) can never diverge. */
  private def bucketizeLm(scored: DataFrame, docs: DataFrame,
                          idCol: String, langCol: String,
                          buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(langCol)
      .orderBy(col("mean_logp_micros").desc, col(idCol))
    scored
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(w))
      .select(col(idCol), col(langCol), col("n_bigrams"),
        col("sum_logp_micros"), col("mean_logp_micros"), col("bucket"))
  }

  /** [[perplexityBuckets]] with the [[knBigramScore]] fluency signal —
    * the CCNet cut over the smoothing CCNet actually uses: per-language
    * rank-exact NTILE tiers of the Kneser-Ney mean log-prob (bucket 1 =
    * head, most fluent). Same window discipline as the add-one variant;
    * id tie-break keeps the cut total and engine-portable. */
  def knPerplexityBuckets(docs: DataFrame, idCol: String,
                          textCol: String, langCol: String,
                          buckets: Int = 3): DataFrame =
    bucketizeLm(knBigramScore(docs, idCol, textCol), docs, idCol,
      langCol, buckets)

  /** Sliding token-window document chunking — the "split long documents
    * into model-context-sized pieces" step every pretraining pipeline
    * runs before packing. Chunks are `chunkTokens` words; consecutive
    * chunks share `overlap` words (stride = chunkTokens - overlap);
    * chunk starts step by the stride while they still contribute at
    * least one NEW token (a tail that would be pure overlap — already
    * fully contained in the previous chunk — is not emitted), so the
    * final chunk may be short. Empty documents emit no chunks.
    *
    * Pure generator shape: the explode multiplies rows map-side inside
    * the scan stage — no shuffle, no state. At 100 TB the output
    * partitioning inherits the input's; downstream packing
    * ([[Mixing.packByBudget]]) does the one keyed shuffle.
    *
    * @return (idCol, chunk_idx, n_tokens, chunk_text) */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got ($overlap, $chunkTokens)")
    val stride = chunkTokens - overlap
    docs
      .select(col(idCol), wordTokens(col(textCol)).as("__ws"))
      .select(col(idCol),
        // last start: the largest i*stride with ≥1 token beyond the
        // previous chunk's end, i.e. i ≤ (n - overlap - 1)/stride
        // (floored); a doc shorter than one chunk still emits i = 0
        explode(when(size(col("__ws")) > 0,
          transform(sequence(lit(0), greatest(lit(0),
            floor((size(col("__ws")) - overlap - 1) / stride)
              .cast("int"))),
            i => struct(
              i.cast("long").as("chunk_idx"),
              // tokens in [i*stride, min(i*stride + chunk, n)) — no
              // second slice materialization just to count it
              least(lit(chunkTokens), size(col("__ws")) - i * stride)
                .cast("long").as("n_tokens"),
              array_join(
                slice(col("__ws"), i * stride + 1, lit(chunkTokens)),
                " ").as("chunk_text"))))
          .otherwise(array().cast(
            "array<struct<chunk_idx:bigint,n_tokens:bigint," +
              "chunk_text:string>>"))).as("__c"))
      .select(col(idCol), col("__c.chunk_idx").as("chunk_idx"),
        col("__c.n_tokens").as("n_tokens"),
        col("__c.chunk_text").as("chunk_text"))
  }

  /** Repetition statistics per document — the word-level form of the
    * published repetition quality filters for training corpora
    * (duplicate-fraction and most-frequent-n-gram dominance, Gopher
    * §A1.1-style): duplicate-word fraction `1 - distinct/total` and the
    * top word-bigram's share of all bigram occurrences, tie-broken
    * (count desc, bigram asc) for determinism.
    *
    * Scale shape: bigrams explode then aggregate on (doc, bigram) —
    * map-side combine does most of the counting — and one window per
    * doc picks the winner. Documents with fewer than two words drop
    * (no bigram exists), mirroring an inner join on the bigram side. */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val ws = wordTokens(col(textCol))
    val base = docs.select(col(idCol), ws.as("__ws"))
    // guard zero/one-word docs: slice length would go negative (a
    // runtime error), and such docs have no bigram to contribute anyway
    val bigrams = base.filter(size(col("__ws")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("__bg"))
    val counts = bigrams.groupBy(idCol, "__bg").agg(count(lit(1)).as("__n"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val ranked = counts
      .withColumn("__rn", row_number().over(
        byDoc.orderBy(col("__n").desc, col("__bg").asc)))
      .withColumn("__tot", sum("__n").over(byDoc))
      .filter(col("__rn") === 1)
    base.join(ranked, Seq(idCol))
      .select(col(idCol),
        size(col("__ws")).as("n_words"),
        size(array_distinct(col("__ws"))).as("n_uniq"),
        round(lit(1.0) - size(array_distinct(col("__ws")))
          / size(col("__ws")).cast("double"), 6).as("dup_word_frac"),
        col("__bg").as("top_bigram"), col("__n").as("top_n"),
        round(col("__n") / col("__tot").cast("double"), 6)
          .as("top_bigram_frac"))
  }

  /** URL canonicalization for web-corpus curation — the
    * normalization C4/RefinedWeb run before URL-level dedup and
    * blocklist matching (Raffel et al. 2020 §2.2; Penedo et al. 2023
    * §3.1 dedupe on normalized URLs): strip the fragment, drop
    * `utm_*` tracking parameters (re-anchoring the first surviving
    * parameter to `?`), lowercase the scheme://host head, drop
    * default ports :80/:443, and drop a bare trailing-slash path.
    * Every step is an RE2-safe regex or string op, so the DuckDB
    * oracle restates the identical pipeline. Pure scan-side Column
    * math — the cheapest possible full-corpus pass. */
  def urlCanonicalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    // The utm passes run on the QUERY substring only (everything from
    // the first '?'), so a literal '&utm_' in the PATH is never
    // touched — splitting first is what makes that guarantee hold for
    // query-less URLs too, where an unanchored '&utm_[^&]*' strip
    // would silently eat path text. Within the query, three
    // position-aware passes keep the '?' attached to the first
    // SURVIVING parameter: (1) a leading run of utm params followed
    // by a survivor collapses onto the survivor's '?', (2) an all-utm
    // query drops entirely, (3) non-leading utm params drop with
    // their own '&'. All RE2-safe.
    val qPos = instr(noFrag, "?")
    val prePath = when(qPos === 0, noFrag)
      .otherwise(noFrag.substr(lit(1), qPos - 1))
    val query = when(qPos === 0, lit(""))
      .otherwise(noFrag.substr(qPos, length(noFrag)))
    val fixedQ = concat(prePath,
      regexp_replace(
        regexp_replace(
          regexp_replace(query,
            "^\\?utm_[^&]*(&utm_[^&]*)*&", "?"),
          "^\\?utm_[^&]*(&utm_[^&]*)*\\z", ""),
        "&utm_[^&]*", ""))
    val headPat = "^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?]*)"
    val head = regexp_extract(fixedQ, headPat, 1)
    val tail = substring(fixedQ, length(head) + 1, lit(1000000))
    // default ports are SCHEME-conditional: http://host:443 is a
    // genuinely different endpoint from http://host and must not
    // collide with it in dedup keys
    val lowHead = lower(head)
    val canonHead =
      when(lowHead.startsWith("http://"),
        regexp_replace(lowHead, ":80\\z", ""))
        .when(lowHead.startsWith("https://"),
          regexp_replace(lowHead, ":443\\z", ""))
        .otherwise(lowHead)
    when(head === "", fixedQ)
      .when(tail === "/", canonHead)
      .otherwise(concat(canonHead, tail))
  }

  /** The common multi-label public suffixes (co.uk, com.au, ...):
    * under these the registered domain is THREE labels, not two —
    * without the exception every .co.uk site would collapse onto the
    * single key 'co.uk'. A deterministic embedded subset (~190
    * entries) of the Mozilla public-suffix list covering the active
    * ccTLD second-level registries across every major region; rarer
    * suffixes still fall back to the documented two-label rule. The
    * list is the SINGLE source for the operator, the d73 oracle's
    * alternation, and the spec's independent replay — extending it
    * keeps all three lock-step by construction. */
  private[graft] val MultiLabelSuffixes: Seq[String] = Seq(
    // .uk / .il / .ie
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "ltd.uk", "plc.uk", "sch.uk", "nhs.uk",
    "co.il", "org.il", "ac.il", "gov.il", "net.il", "muni.il",
    // East Asia
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    // Oceania
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au",
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz", "school.nz",
    "gen.nz", "geek.nz", "maori.nz",
    // South / Southeast Asia
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in",
    "ac.in", "edu.in", "gov.in", "res.in", "nic.in",
    "co.id", "or.id", "ac.id", "web.id", "sch.id", "go.id",
    "net.id", "my.id", "biz.id",
    "co.th", "ac.th", "go.th", "or.th", "net.th", "in.th",
    "com.my", "net.my", "org.my", "gov.my", "edu.my",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn", "ac.vn",
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk",
    "com.bd", "net.bd", "org.bd", "gov.bd", "edu.bd", "ac.bd",
    // Türkiye / Middle East / Africa
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "gen.tr",
    "web.tr", "av.tr", "bel.tr",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "sci.eg",
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "co.ke", "or.ke", "ac.ke", "go.ke", "ne.ke",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng",
    // Latin America
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "com.co", "net.co", "org.co", "gov.co", "edu.co",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe",
    "com.ve", "net.ve", "org.ve", "gob.ve", "edu.ve", "co.ve",
    "com.ec", "net.ec", "org.ec", "gob.ec", "edu.ec",
    "com.uy", "net.uy", "org.uy", "gub.uy", "edu.uy",
    "com.bo", "net.bo", "org.bo", "gob.bo", "edu.bo",
    "com.py", "net.py", "org.py", "gov.py", "edu.py",
    "com.do", "net.do", "org.do", "gob.do", "edu.do",
    "com.gt", "net.gt", "org.gt", "gob.gt", "edu.gt",
    "com.sv", "org.sv", "gob.sv", "edu.sv",
    "com.hn", "net.hn", "org.hn", "gob.hn", "edu.hn",
    "com.ni", "net.ni", "org.ni", "gob.ni", "edu.ni",
    "com.pa", "net.pa", "org.pa", "gob.pa", "edu.pa",
    // Europe (ccTLDs with active second-level registries)
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.ru", "net.ru", "org.ru", "spb.ru", "msk.ru",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.pt", "net.pt", "org.pt", "gov.pt", "edu.pt",
    "co.at", "or.at", "ac.at", "gv.at",
    "co.hu", "org.hu", "info.hu", "priv.hu")

  /** Registered domain of a URL — the grouping key for per-site
    * quality/blocklist stats: last two host labels (`www.`
    * stripped), except under a known multi-label public suffix
    * ([[MultiLabelSuffixes]]: bbc.co.uk stays bbc.co.uk, not co.uk)
    * where three labels are kept, and IP-literal hosts (IPv4 dotted
    * quads, bracketed IPv6) which pass through whole — label rules
    * don't apply to addresses. Suffixes outside the embedded table
    * still collapse to two labels — an approximation of the full
    * Mozilla public-suffix list. */
  def registeredDomain(u: Column): Column = {
    // a bracketed IPv6 host contains ':' — capture it whole (the
    // alternation tries the bracket form first) so the IP guard sees
    // '[2001:db8::1]', not the '[2001' a bare [^/:?#]* cut would give
    val host = regexp_extract(lower(u),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*://(\\[[^\\]]*\\]|[^/:?#]*)", 1)
    // a trailing dot (valid FQDN form) would defeat the anchored
    // two-label extract and yield '' — strip it first
    val stripped = regexp_replace(
      regexp_replace(host, "\\.\\z", ""), "^www\\.", "")
    val multiAlt = MultiLabelSuffixes
      .map(_.replace(".", "\\.")).mkString("|")
    when(stripped.rlike("^[0-9.]+\\z") || stripped.startsWith("["),
      stripped)
      .when(stripped.rlike("[^.]+\\.(" + multiAlt + ")\\z"),
        regexp_extract(stripped, "([^.]+\\.(" + multiAlt + "))\\z", 1))
      .when(stripped.rlike("[^.]+\\.[^.]+\\z"),
        regexp_extract(stripped, "([^.]+\\.[^.]+)\\z", 1))
      .otherwise(stripped)
  }

  /** Within-document LINE-repetition stats — Gopher's repetition
    * screen at line granularity (Rae et al. 2021 A1.2: documents
    * with a high duplicate-line fraction are templated/boilerplate
    * pages; the paper cuts on both the duplicate-LINE fraction and
    * the duplicate-line CHARACTER fraction, so both are emitted).
    * Complements [[repetitionStats]] (word/bigram level) and
    * [[graft.operators.Dedup.lineDedup]] (corpus-wide): this is the
    * per-doc filter signal, computed entirely within each row's own
    * lines. Blank/whitespace-only lines are structure and don't
    * count; docs with no non-blank lines don't appear (no evidence).
    *
    * Scale shape: one explode + two keyed aggregations per doc — the
    * doc key rides through both, and the line collapses to its
    * xxhash64 plus a map-side length BEFORE the first exchange (the
    * lineDedup idiom), so nothing ever shuffles beyond
    * (doc, line-hash, length) rows — never the line text.
    *
    * @return (idCol, n_lines, n_dup_lines, dup_line_frac,
    *         dup_line_char_frac), fractions at 6 dp. */
  def lineRepetitionStats(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("ln"))
      .withColumn("__t", trim(col("ln")))
      .filter(col("__t") =!= "")
      .select(col(idCol), xxhash64(col("__t")).as("__k"),
        length(col("__t")).as("__len"))
    val counts = lines.groupBy(col(idCol), col("__k"))
      .agg(count(lit(1)).as("__c"), max(col("__len")).as("__len"))
    counts.groupBy(idCol)
      .agg(
        sum("__c").as("n_lines"),
        sum(col("__c") - 1).as("n_dup_lines"),
        round(sum(col("__c") - 1) / sum("__c").cast("double"), 6)
          .as("dup_line_frac"),
        round(sum((col("__c") - 1) * col("__len"))
          / sum(col("__c") * col("__len")).cast("double"), 6)
          .as("dup_line_char_frac"))
  }

  /** C4's line- and page-level cleanup rules (Raffel et al. 2020
    * §2.2) — the pass the C4 corpus ran before everything else: a
    * line survives only if it ends in a terminal punctuation mark,
    * carries at least 5 words, and does not mention "javascript";
    * the page is dropped when fewer than 5 lines survive or the raw
    * text carries "lorem ipsum" or a curly brace (code). Constant
    * provenance: the 5-SENTENCE page floor is in both the paper and
    * the official `c4_utils` implementation (this operator counts
    * KEPT LINES as the sentence proxy — it never runs a sentence
    * splitter); the 5-WORD line floor follows the official c4_utils
    * code (`_MIN_WORDS_PER_LINE = 5`), which is stricter than the
    * paper text's "at least 3 words" — we match the code, i.e. the
    * filter that actually produced the released corpus. Every rule
    * is a scan-side regex/array op on the row's own lines — no
    * shuffle, the cheapest possible full-corpus pass (the sibling of
    * the markup strip). ALL docs are emitted with flags plus the
    * rebuilt text, so callers compose the filter; whitespace-only
    * lines are structure and fail the word rule anyway.
    *
    * @param passThrough extra input columns carried through
    *        unchanged — the operator is a per-row projection, so
    *        they ride for free, and pipelines that need e.g. `lang`
    *        beside the rebuilt text skip a join back onto their
    *        predecessor stage to recover it (r18: one
    *        BroadcastHashJoin out of each d86/d88 curation DAG).
    * @return (idCol, passThrough..., n_lines, n_kept, page_kept,
    *         text) — text = the retained lines joined with \n (''
    *         when none). */
  def c4LineRules(docs: DataFrame, idCol: String,
                  textCol: String,
                  passThrough: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    // \z, not $: Java's $ also matches BEFORE a final \r (CRLF text
    // would keep a line Spark-side that RE2's end-of-string $ drops
    // oracle-side); \z is end-of-input in both, so a CRLF corpus
    // fails the rule consistently — normalize line endings upstream.
    // The word count reuses the module's ONE tokenizer definition.
    def keepLine(l: Column): Column =
      trim(l).rlike("[.!?\"]\\z") &&
        size(wordTokens(trim(l))) >= 5 &&
        !lower(l).contains("javascript")
    val kept = filter(lines, l => keepLine(l))
    docs.select(col(idCol) +: passThrough.map(col) :+
      size(filter(lines, l => trim(l) =!= "")).as("n_lines") :+
      size(kept).as("n_kept") :+
      (size(kept) >= 5 && !lower(t).contains("lorem ipsum")
        && !t.contains("{")).as("page_kept") :+
      concat_ws("\n", kept).as("text"): _*)
  }

  /** Gopher's full n-gram repetition battery (Rae et al. 2021,
    * Table A1): the top-{2,3,4}-gram CHARACTER fractions (characters
    * covered by every occurrence of the single most frequent n-gram)
    * and the duplicate-{5..10}-gram character fractions (characters
    * covered by ANY n-gram occurring more than once, overlapping
    * occurrences counted ONCE — an interval union over token
    * positions, the within-doc form of the span-merge idiom).
    * Character accounting is over WORD characters (whitespace
    * excluded): a joined gram's chars = length(gram) − (n−1), and
    * coverage maps token positions to their word lengths — both
    * restate exactly in the oracle. Complements [[gopherRules]]
    * (word/line shape rules) and [[repetitionStats]] (word + top
    * bigram): together they are the paper's full repetition table.
    *
    * Scale shape: per n, ONE streamed exploded pass over the
    * checkpointed token table — the top family aggregates (doc,
    * gram) counts and takes a per-doc window top; the dup family
    * counts per (doc, gram) with a WINDOW on the same key the rows
    * already shuffle on (no second pass to build a dup-gram join
    * side), then explodes the covered positions to a skinny
    * distinct + token-length join. Nothing wider than a token index
    * ever shuffles, and every pass is narrow/codegen-streamed. (A
    * fused all-n single-explode variant was measured 2.4× SLOWER at
    * sf0.1 — the per-row 9L-struct arrays defeat the scan streaming
    * — so the per-n loop is the deliberate shape.)
    *
    * @return (idCol, top2_frac, top3_frac, top4_frac, dup5_frac ..
    *         dup10_frac), 6 dp; a doc with fewer than n words scores
    *         0 for that n. */
  def gopherNgramStats(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = Pins.scope { p =>
    val base = p(docs
      .select(col(idCol), wordTokens(col(textCol)).as("__ws"))
      .withColumn("__totc",
        aggregate(col("__ws"), lit(0L), (a, w) => a + length(w))))
    val lens = base.select(col(idCol),
      posexplode(transform(col("__ws"), w => length(w)))
        .as(Seq("__p0", "__len")))
      .select(col(idCol), (col("__p0") + 1).as("__j"), col("__len"))
    def gramRows(n: Int) = base
      .filter(size(col("__ws")) >= n && col("__totc") > 0L)
      .select(col(idCol), col("__totc"),
        posexplode(transform(
          sequence(lit(1), size(col("__ws")) - (n - 1)),
          i => array_join(slice(col("__ws"), i, lit(n)), " ")))
          .as(Seq("__p0", "__gr")))
    val tops = Seq(2, 3, 4).map { n =>
      val counts = gramRows(n)
        .groupBy(col(idCol), col("__totc"), col("__gr"))
        .agg(count(lit(1)).as("__c"))
      // per-doc winner as min(struct(-count, gram)) — identical
      // selection to the old row_number window (count desc, gram
      // asc byte-wise: struct min orders field-wise and string
      // min is the same UTF8-binary order orderBy uses), but
      // partial-aggregable: map-side combine trims each doc to one
      // candidate per map partition BEFORE the exchange, where the
      // window shipped and sorted every (doc, gram) count (r17,
      // guide §2.3 "aggregate before you shuffle")
      counts
        .groupBy(col(idCol), col("__totc"))
        .agg(min(struct((-col("__c")).as("nc"), col("__gr").as("g")))
          .as("__w"))
        .select(col(idCol), lit(s"top$n").as("__m"),
          (((-col("__w.nc")) * (length(col("__w.g")) - (n - 1)))
            .cast("double") / col("__totc")).as("__f"))
    }
    val dups = (5 to 10).map { n =>
      // the dup count rides a WINDOW on the (doc, gram-HASH) key —
      // one pass, no join back, and the shuffle carries an 8-byte
      // xxhash64 instead of the gram string (the lineDedup "never
      // shuffle the text" idiom; dup membership needs identity
      // only — no tie-break — so the w.h.p. hash argument of the
      // d4/d34 family applies). r17: the hash chains xxhash64 over
      // the window's TOKENS in place of hashing an array_join'd
      // string — no per-window string allocation ever happens (the
      // tops keep the joined string: they need its length and the
      // tie-break). Hash values differ from the joined-string hash
      // but dup membership is hash-agnostic by the same w.h.p.
      // argument, and token-sequence hashing is collision-
      // equivalent (tokens carry no whitespace).
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol), col("__gh"))
      val covered = base
        .filter(size(col("__ws")) >= n && col("__totc") > 0L)
        .select(col(idCol), col("__totc"),
          posexplode(transform(
            sequence(lit(1), size(col("__ws")) - (n - 1)),
            i => xxhash64((0 until n).map(o =>
              element_at(col("__ws"), i + o)): _*)))
            .as(Seq("__p0", "__gh")))
        .withColumn("__c", count(lit(1)).over(wc))
        .filter(col("__c") >= 2)
        .select(col(idCol), col("__totc"),
          explode(sequence(col("__p0") + 1, col("__p0") + n))
            .as("__j"))
        .distinct()
      covered.join(lens, Seq(idCol, "__j"))
        .groupBy(col(idCol), col("__totc"))
        .agg(sum("__len").as("__dc"))
        .select(col(idCol), lit(s"dup$n").as("__m"),
          (col("__dc").cast("double") / col("__totc")).as("__f"))
    }
    val long = (tops ++ dups).reduce(_ unionByName _)
    def metric(m: String) = round(coalesce(
      max(when(col("__m") === m, col("__f"))), lit(0.0)), 6)
    base.select(col(idCol))
      .join(long, Seq(idCol), "left")
      .groupBy(idCol)
      .agg(metric("top2").as("top2_frac"),
        metric("top3").as("top3_frac"),
        metric("top4").as("top4_frac"),
        metric("dup5").as("dup5_frac"),
        metric("dup6").as("dup6_frac"),
        metric("dup7").as("dup7_frac"),
        metric("dup8").as("dup8_frac"),
        metric("dup9").as("dup9_frac"),
        metric("dup10").as("dup10_frac"))
      .localCheckpoint(true)
  }

  /** PII patterns for training-data scrubbing, ordered most- to
    * least-specific so sequential redaction never double-matches
    * (a credit card would otherwise match the looser phone shape).
    * All RE2-safe — no lookarounds — so the identical patterns run in
    * SQL oracles and other engines verbatim. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "IP" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "CC" -> "\\b[0-9]{4}(?:[ -][0-9]{4}){3}\\b",
    "PHONE" -> "\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{4,7}\\b")

  /** Redact every PII pattern to its `<TYPE>` marker. Sequential
    * scan-side regexp_replace chain — one projection, no shuffle, no
    * UDF; at 100 TB this rides whole-stage codegen like any other
    * string expression. */
  def piiRedact(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (tag, re)) =>
      regexp_replace(acc, re, s"<$tag>")
    }

  /** Per-type PII hit counts over the ORIGINAL text (counts are not
    * affected by redaction order). Returns one int column per type in
    * [[PiiPatterns]] order. */
  def piiCounts(c: Column): Seq[Column] =
    PiiPatterns.map { case (tag, re) =>
      regexp_count(c, lit(re)).as(s"n_${tag.toLowerCase}")
    }

  /** Entity name → replacement for [[stripMarkup]], applied after tag
    * removal. Literal `replace`, not regex — order matters only for
    * `&amp;` (kept last so `&amp;lt;` decodes to the literal `&lt;`,
    * matching how browsers render double-escaped text). */
  val MarkupEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** HTML/markup boilerplate strip — the first cleanup pass of a
    * web-crawl ingest: drop `<script>`/`<style>` blocks with their
    * contents, replace every remaining tag with a space, decode the
    * common entities, and collapse whitespace. All RE2-safe regexes
    * (no lookarounds, `(?s)` for cross-line blocks) so the same
    * patterns run verbatim in SQL oracles; scan-side projection, no
    * shuffle, codegen-friendly. */
  def stripMarkup(c: Column): Column =
    trim(regexp_replace(stripChain(c), "\\s+", " "))

  /** [[stripMarkup]]'s line-preserving form: the same
    * block-strip/tag-strip/entity-decode chain, but whitespace
    * collapses PER LINE (each line trimmed, inner runs to one space)
    * and the newlines survive — the shape a curation pipeline needs
    * when line-level rules ([[c4LineRules]], the boilerplate
    * screens) run downstream of the markup pass: the global
    * `\s+ -> ' '` collapse of stripMarkup would erase exactly the
    * line structure those rules read. Block tags spanning lines
    * still strip whole ((?s) dotall); a line left empty by the strip
    * stays as an empty line (line rules ignore blanks). Scan-side
    * projection like the parent — no shuffle, codegen-friendly. */
  def stripMarkupKeepLines(c: Column): Column =
    array_join(transform(split(stripChain(c), "\n"),
      l => trim(regexp_replace(l, "\\s+", " "))), "\n")

  /** Shared strip chain of [[stripMarkup]] / [[stripMarkupKeepLines]]
    * — everything but the whitespace policy, ONE implementation so
    * the two can never diverge. */
  private def stripChain(c: Column): Column = {
    // one pass per block tag — RE2 has no backreferences, and a
    // (script|style) alternation on both ends would cross-match
    // `<script>…</style>`
    val noBlocks = Seq("script", "style").foldLeft(c) { (acc, t) =>
      regexp_replace(acc, s"(?is)<$t[^>]*>.*?</$t>", " ")
    }
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    MarkupEntities.foldLeft(noTags) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    }
  }

  /** Gopher's "required stop words" set (Rae et al. 2021, appendix
    * A1.1) — a doc must contain ≥ 2 distinct members to pass `r_stop`. */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher repetition-free quality-rule suite (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", appendix A1.1) — the document-level heuristics
    * every published pretraining pipeline since (MassiveText, RefinedWeb,
    * Dolma, FineWeb) applies before model-based filtering:
    *
    *  - word count in [50, 100 000]            (`r_word_count`)
    *  - mean word length in [3, 10] chars      (`r_mean_len`)
    *  - symbol-to-word ratio ≤ 0.1 for `#`/ellipsis ("…" or "...")
    *                                           (`r_symbol`)
    *  - ≤ 90% of lines start with a bullet     (`r_bullet`)
    *  - ≤ 30% of lines end with an ellipsis    (`r_ellipsis`)
    *  - ≥ 80% of words contain a letter        (`r_alpha`)
    *  - ≥ 2 distinct [[GopherStop]] words      (`r_stop`)
    *
    * One row per doc with the measured features, one boolean per rule,
    * and the conjunction `pass`. Empty denominators ground to 0.0 (a
    * wordless or lineless doc fails on `r_word_count`/`r_stop` anyway,
    * and 0.0 keeps every column non-null for the hash gate). Ratios
    * round to 6 dp once, so the flags are threshold-exact across
    * engines.
    *
    * Scale shape: pure scan-side Column math — tokenize / line-split /
    * regexp counts all fuse into the projection under whole-stage
    * codegen; no shuffle, no UDF, no join. At 100 TB this is the
    * cheapest full-corpus pass in the pipeline, which is exactly why
    * the published pipelines run it FIRST (cut ~30-50% of a web crawl
    * before any keyed or model-based stage touches it). */
  def gopherRules(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = wordTokens(t)
    val nW = size(ws)
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => l =!= "")
    val nL = size(lines)
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0))
        .otherwise(round(num.cast("double") / den, 6))
    val meanLen = frac(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)), nW)
    val symRatio = frac(
      regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))
        + regexp_count(t, lit("…")), nW)
    val bulletFrac = frac(
      size(filter(lines, l => l.rlike("^[-*•]"))), nL)
    val ellipsisFrac = frac(
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\z"))), nL)
    val alphaFrac = frac(
      size(filter(ws, w => w.rlike("\\p{L}"))), nW)
    val stopHits = size(array_intersect(
      array_distinct(wordTokens(lower(t))),
      array(GopherStop.map(lit): _*)))
    docs.select(col(idCol), nW.as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_word_ratio"), bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
        stopHits.as("n_stop_hits"))
      .withColumn("r_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbol", col("symbol_word_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_line_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_line_frac") <= 0.3)
      .withColumn("r_alpha", col("alpha_word_frac") >= 0.8)
      .withColumn("r_stop", col("n_stop_hits") >= 2)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_symbol")
          && col("r_bullet") && col("r_ellipsis") && col("r_alpha")
          && col("r_stop"))
  }
}
