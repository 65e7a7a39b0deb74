package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Inverted-index text search with BM25 ranking — the retrieval side of
  * a training-data pipeline (nearest-neighbor text lookup, quality
  * probes, eval-set mining) expressed as keyed joins over a postings
  * table. No document ever meets a non-matching query: candidate rows
  * come from the term-keyed equi-join of the query's terms with the
  * postings, the standard inverted-index probe.
  *
  * Scale shape: postings (term, doc, tf) shuffle by term once; document
  * frequencies ride the same table; scalars (N, total tokens) attach by
  * broadcast. High-df stop terms can be capped with `dfCap` (same
  * guard as [[Fuzzy.capPostings]]) — at web scale the "the"-posting is
  * the skew killer, and dropping terms above the cap is the published
  * practice. Scoring folds per-term BM25 contributions into integer
  * micro-units before summing, so group-sum order cannot perturb the
  * result (double addition is not associative; integer addition is).
  *
  * Two scoring paths share one index build:
  *  - [[bm25TopK]] — exact: every query term meets every posting of
  *    that term (per-query cost linear in the term's df).
  *  - [[bm25TopKMaxScore]] — exact-with-certificate impact-ordered
  *    pruning (the WAND/max-score family): candidates come from
  *    per-term champion lists (top-m postings by impact), and a
  *    per-query Fagin-style threshold check proves when the candidate
  *    top-k IS the true top-k; unproven queries fall back to the
  *    exact path. Identical output by construction — the d32 oracle
  *    row pins it to the same SQL as d24.
  */
object Search {

  /** The (doc_id, t, tf) corpus snapshot both scoring paths derive
    * from — tokenize the corpus ONCE, straight into the skinny
    * postings. One marker row per doc (t = "", impossible as a real
    * token: the tokenizer filters empties) rides along so EVERYTHING
    * — dl, df, and both corpus scalars — derives from this single
    * snapshot: a zero-token doc has no postings (and can never be a
    * hit) but its marker keeps it in N for the idf/avgdl
    * denominators, exactly as the oracle counts it, without
    * re-scanning the corpus (round-6 advice: a second corpus read
    * could disagree with the postings snapshot on a changing source).
    *
    * Public so a caller serving MANY query batches can materialize it
    * once (parquet / checkpoint) and run [[bm25TopKIndexed]] /
    * [[bm25TopKMaxScoreIndexed]] against the shared snapshot — at
    * scale the index build is the dominant one-time cost and this is
    * the "build the inverted index once" boundary. */
  def tfSnapshot(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def toks(c: Column) = filter(split(c, "\\s+"), t => t =!= "")
    docs
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .unionByName(docs.select(col(idCol).as("doc_id"),
        lit("").as("t"), lit(0L).as("tf")))
  }

  /** Merge [[tfSnapshot]] partials from DISJOINT doc batches — the
    * append-only maintenance path of the inverted index: every row
    * of a snapshot (the tf cells and the zero-token markers) derives
    * from its OWN doc's text alone, so for any doc-partition of the
    * corpus the unioned partials are row-for-row the full snapshot —
    * no counts to reconcile, postings simply append as crawls
    * commit. df, dl, and the corpus scalars all derive DOWNSTREAM of
    * the snapshot (perPostFrom), so a refreshed snapshot serves
    * [[bm25TopKIndexed]] / [[bm25TopKMaxScoreIndexed]] with no other
    * state to rebuild — the inc_boilerplate refresh story applied to
    * the search index. Caller contract: batches must be doc-disjoint
    * (a doc id present in two batches would duplicate its marker and
    * tf rows, inflating N and df). */
  def mergeTfSnapshots(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "need at least one snapshot partial")
    parts.reduce(_.unionByName(_))
  }

  /** Assert a (merged) [[tfSnapshot]] is well-formed: exactly one
    * zero-token marker per distinct doc id. This is the cheap
    * detector for the [[mergeTfSnapshots]] caller contract — a doc
    * id present in two merged batches (a re-crawled doc slipping
    * into a second partial) duplicates its marker, silently
    * inflating N, df, and dl and shifting every idf in the index;
    * one skinny two-count aggregation turns that silent corruption
    * into a loud failure. Run it after a merge whose batch
    * provenance isn't airtight; it costs one pass over the
    * (doc_id, t) rows. */
  def validateTfSnapshot(tfAll: DataFrame): Unit = {
    // coalesce: over an EMPTY snapshot (a crawl era that committed
    // zero docs) sum() is null — vacuously well-formed, not an NPE
    val r = tfAll.agg(
      coalesce(sum(when(col("t") === "", 1L).otherwise(0L)), lit(0L))
        .as("markers"),
      countDistinct("doc_id").as("docs")).head
    require(r.getLong(0) == r.getLong(1),
      s"tf snapshot corrupt: ${r.getLong(0)} zero-token markers for " +
        s"${r.getLong(1)} distinct docs — merged batches were not " +
        "doc-disjoint")
  }

  /** The corpus snapshot an index build reads: pinned in `pins` when
    * `materialize`, else cache-barriered (see [[Dedup.jaccardPairs]]). */
  private def snapshotBarrier(pins: Pins, docs: DataFrame, idCol: String,
                              textCol: String,
                              materialize: Boolean): DataFrame = {
    val tfAllBase = tfSnapshot(docs, idCol, textCol)
    if (materialize) pins(tfAllBase) else tfAllBase.cache()
  }

  private def seal(out: DataFrame, materialize: Boolean): DataFrame =
    if (materialize) out.localCheckpoint(true) else out

  /** Per-posting impact table (t, doc_id, s_micros) from a
    * (materialized) snapshot.
    *
    * Plan: dl is a groupBy(doc_id) sum over the snapshot and df a
    * groupBy(t) count over the capped postings; each joins back to the
    * postings on its key with a plain equi-join. Neither join carries
    * a hint, so the planner picks broadcast or sort-merge by size (dl
    * is per-doc, corpus-scale). The two corpus scalars come out of one
    * aggregation and ride a broadcast one-row cross join.
    *
    * Why this shape: r17 derived dl and df as windows on doc_id and t
    * instead. The r18 A/B at local[32] (two alternating solo runs per
    * arm, `plans/r18/solo_perpost_{j,w}*.json`) measured the join-back
    * form faster on d24 (warm 3.26-3.36 s against 3.37-4.15 s) and
    * inc_store_levels (12.3-13.3 s against 15.7-17.9 s), with
    * inc_bm25_store split between the arms, so the window form was
    * reverted. Two pairs per arm is indicative, not a settled gain.
    * Both forms run the same IEEE ops on the same values: s_micros is
    * bit-identical. */
  private def perPostFrom(tfAll: DataFrame, k1: Double, b: Double,
                          dfCap: Int): DataFrame = {
    val postings = tfAll.filter(col("t") =!= "")
    // dl keeps ALL tokens (capped stop terms still lengthen their doc);
    // markers add 0, so zero-token docs appear with dl = 0, harmless
    val dl = tfAll.groupBy("doc_id").agg(sum("tf").as("dl"))
    // corpus scalars: one row, broadcast onto every posting, both out
    // of ONE aggregation over the snapshot (single scalar attach, no
    // chained one-row cross joins)
    val scal = broadcast(tfAll.agg(
      sum(when(col("t") === "", 1L).otherwise(0L)).as("n_docs"),
      sum("tf").as("n_toks")))
    // stop-term cap applies to the postings themselves: a capped term
    // neither scores nor fans out in the probe join
    val tf = Fuzzy.capPostings(postings, "t", dfCap)
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))

    // Lucene-style BM25, every float step an IEEE-exact op mirrored in
    // the oracle: idf = ln(1 + (N - df + .5)/(df + .5)), then the tf
    // saturation with dl/avgdl where avgdl = n_toks/n_docs
    val avgdl = col("n_toks").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)))
    val sat = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * (col("dl").cast("double") / avgdl)))
    tf.join(dfT, Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(scal)
      .select(col("t"), col("doc_id"),
        round(idf * sat * lit(1e6)).cast("long").as("s_micros"))
  }

  /** Distinct (qid, term) probe rows. */
  private def qTermsFrom(queries: DataFrame, qidCol: String,
                         qTextCol: String): DataFrame =
    queries
      .select(col(qidCol).as("qid"),
        explode(filter(split(col(qTextCol), "\\s+"), t => t =!= ""))
          .as("t"))
      .distinct()

  /** Rank/emit tail shared by both paths: per-(qid, doc) integer score
    * sum, per-qid top-k window, the output column contract. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("score_micros").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "score_micros")
  }

  /** BM25 top-k: for each query row, the `k` best documents by summed
    * per-term BM25 score (integer micros; ties broken by doc id).
    *
    * @param docs    corpus: (idCol, textCol)
    * @param queries query set: (qidCol, qTextCol)
    * @param dfCap   drop terms appearing in more than this many docs
    *                (0 = keep all)
    * @return (qid, rank, doc_id, score_micros) */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qTextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               dfCap: Int = 0,
               materialize: Boolean = true): DataFrame = Pins.scope { pins =>
    // the top-k is sealed inside the scope, which then frees the postings
    bm25TopKIndexed(snapshotBarrier(pins, docs, idCol, textCol, materialize),
      queries, qidCol, qTextCol, k, k1, b, dfCap, materialize)
  }

  /** [[bm25TopK]] against a pre-materialized [[tfSnapshot]] — the
    * caller owns the snapshot's lifecycle (a parquet table or a held
    * checkpoint; share it across query batches), so only the output
    * is checkpointed here. Identical results to [[bm25TopK]] over the
    * same corpus state. */
  def bm25TopKIndexed(tfAll: DataFrame, queries: DataFrame,
                      qidCol: String, qTextCol: String, k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      dfCap: Int = 0,
                      materialize: Boolean = true): DataFrame = {
    // the inverted-index probe: query terms equi-join the postings on
    // the term, never the documents
    val scored = qTermsFrom(queries, qidCol, qTextCol)
      .join(perPostFrom(tfAll, k1, b, dfCap), Seq("t"))
      .groupBy("qid", "doc_id")
      .agg(sum("s_micros").as("score_micros"))
    seal(rankTopK(scored, k), materialize)
  }

  /** [[bm25TopKMaxScore]] against a pre-materialized [[tfSnapshot]]
    * (caller-owned, like [[bm25TopKIndexed]]). */
  def bm25TopKMaxScoreIndexed(tfAll: DataFrame, queries: DataFrame,
                              qidCol: String, qTextCol: String, k: Int,
                              m: Int = 64, k1: Double = 1.2,
                              b: Double = 0.75, dfCap: Int = 0)
      : DataFrame = Pins.scope { pins =>
    maxScoreEmit(maxScorePartsFrom(pins, tfAll, queries, qidCol,
      qTextCol, k, m, k1, b, dfCap, materialize = true), k,
      materialize = true)
  }

  /** Impact-ordered BM25 top-k (the max-score/WAND family, relational
    * form) — EXACT output, certified per query:
    *
    *  1. Champion lists: each term keeps its top-`m` postings by
    *     impact (s_micros desc, doc_id) — a window on the term key
    *     the postings already group by.
    *  2. Candidates: query terms probe the CHAMPION lists only, so
    *     candidate volume per query is ≤ m·|terms| instead of Σ df.
    *  3. Candidates are scored exactly — the full postings are
    *     semi-joined down to candidate docs BEFORE meeting the query
    *     terms, so the heavy per-term fan-out never materializes.
    *  4. Certificate (Fagin threshold): any NON-candidate doc's score
    *     is ≤ B_q = Σ_t c_t, where c_t is the m-th (last champion)
    *     impact of t — or 0 when the term's whole posting list is in
    *     its champions. A query whose k-th candidate score exceeds
    *     B_q STRICTLY has its true top-k inside the candidates
    *     (strict: a non-candidate tying at B_q < θ can never displace
    *     a ranked row; at equality it could win an id tie-break, so
    *     equality falls back too).
    *  5. Queries whose certificate fails (fewer than k candidates, or
    *     θ ≤ B_q) re-run through the exact probe — correctness never
    *     depends on m.
    *
    * At 100 TB the exact path's per-query cost is linear in term df —
    * dominated by high-df terms whose postings are almost all
    * irrelevant to the top-k; this path touches m rows per term for
    * candidate generation plus the candidate docs' own postings, and
    * [[bm25MaxScoreCertificates]] tells you (measurably, per query)
    * when that was enough. Raising `m` trades candidate volume for
    * fallback rate.
    *
    * WHEN IT PAYS: pruning wins exactly when per-term impacts are
    * SKEWED (varied tf/dl — real text), so the champion tail bound
    * c_t sits well below the top impacts. A corpus with near-uniform
    * impacts is the adversarial case: c_t ≈ the best impact, B_q ≈
    * the best achievable score, and the certificate (correctly)
    * never fires — every query then pays candidates + fallback on
    * top of the exact probe. The synthetic `documents` fixture is
    * exactly that shape (measured: 0/128 certified at m=64 AND
    * m=256, sf0.1 — d32 runs ~20% over d24 there, the price of the
    * attempt). Run the certificate diagnostic before choosing this
    * path for a corpus.
    *
    * Identical column contract and values as [[bm25TopK]]; `d32` pins
    * this path to d24's oracle SQL. */
  def bm25TopKMaxScore(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, qidCol: String,
                       qTextCol: String, k: Int, m: Int = 64,
                       k1: Double = 1.2, b: Double = 0.75,
                       dfCap: Int = 0,
                       materialize: Boolean = true): DataFrame = Pins.scope { pins =>
    val tfAll = snapshotBarrier(pins, docs, idCol, textCol, materialize)
    maxScoreEmit(maxScorePartsFrom(pins, tfAll, queries, qidCol,
      qTextCol, k, m, k1, b, dfCap, materialize), k, materialize)
  }

  /** Step 5, shared by both max-score entry points: certified queries
    * emit their candidate top-k; the rest re-run the exact probe
    * (correctness never depends on m). */
  private def maxScoreEmit(p: MaxScoreParts, k: Int,
                           materialize: Boolean): DataFrame = {
    val provenOut = p.candTopK.join(p.proof, Seq("qid"), "left_semi")
    val fallbackQ = p.qTerms.join(p.proof, Seq("qid"), "left_anti")
    val fallbackScored = fallbackQ.join(p.perPost, Seq("t"))
      .groupBy("qid", "doc_id")
      .agg(sum("s_micros").as("score_micros"))
    seal(provenOut.unionByName(rankTopK(fallbackScored, k)), materialize)
  }

  /** Per-query certificate outcomes of [[bm25TopKMaxScore]] — the
    * tuning diagnostic the scaladoc promises: (qid, certified). A low
    * certified rate means the champion prefix `m` is too shallow for
    * this corpus/query mix (every uncertified query pays candidate
    * generation AND the exact probe), so raise `m` — or keep the
    * exact [[bm25TopK]] when most queries are made of broad terms. */
  def bm25MaxScoreCertificates(docs: DataFrame, idCol: String,
                               textCol: String, queries: DataFrame,
                               qidCol: String, qTextCol: String, k: Int,
                               m: Int = 64, k1: Double = 1.2,
                               b: Double = 0.75, dfCap: Int = 0)
      : DataFrame = Pins.scope { pins =>
    val tfAll = snapshotBarrier(pins, docs, idCol, textCol,
      materialize = true)
    val p = maxScorePartsFrom(pins, tfAll, queries, qidCol, qTextCol,
      k, m, k1, b, dfCap, materialize = true)
    p.qTerms.select("qid").distinct()
      .join(p.proof.withColumn("certified", lit(true)), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("certified"), lit(false))
        .as("certified"))
      .localCheckpoint(true)
  }

  /** Intermediates of the max-score pipeline (steps 1-4), shared by
    * the ranking path and the certificate diagnostic. Their barriers
    * are held by the calling operator's [[Pins]] scope. */
  private case class MaxScoreParts(perPost: DataFrame, qTerms: DataFrame,
                                   candTopK: DataFrame, proof: DataFrame)

  private def maxScorePartsFrom(pins: Pins, tfAll: DataFrame,
                                queries: DataFrame, qidCol: String,
                                qTextCol: String, k: Int, m: Int,
                                k1: Double, b: Double, dfCap: Int,
                                materialize: Boolean): MaxScoreParts = {
    require(m >= k, s"champion size m=$m must be >= k=$k")
    // unlike the exact path (one consumer), this path reads perPost
    // three times (champions/bounds, candidate scoring, fallback) and
    // qTerms four — barrier both so the index build runs ONCE instead
    // of replaying the posting joins per consumer (the jaccardPairs
    // materialize discipline)
    def barrier(d: DataFrame): DataFrame =
      if (materialize) pins(d) else d.cache()
    val perPost = barrier(perPostFrom(tfAll, k1, b, dfCap))
    val qTerms = barrier(qTermsFrom(queries, qidCol, qTextCol))

    // 1. champion prefix per term + the per-term non-champion bound
    val wT = Window.partitionBy("t")
      .orderBy(col("s_micros").desc, col("doc_id"))
    val rankedPost = perPost.withColumn("rn", row_number().over(wT))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy("t")))
    val champions = rankedPost.filter(col("rn") <= m)
      .select("t", "doc_id", "s_micros")
    // c_t: the weakest champion impact when postings extend past the
    // prefix; 0 when the prefix holds the whole list (then no
    // non-candidate doc matches t at all)
    val cT = rankedPost
      .filter(col("rn") === m && col("nt") > m)
      .select(col("t"), col("s_micros").as("c_t"))

    // 2. candidates from champion probes only
    val cand = qTerms.join(champions, Seq("t"))
      .select("qid", "doc_id").distinct()

    // 3. exact candidate scores: postings filtered to candidate DOCS
    // first (skinny distinct key list), then the query-term probe,
    // then the (qid, doc) restriction — the full per-term fan-out
    // never happens
    val candDocs = cand.select("doc_id").distinct()
    val candScored = perPost.join(candDocs, Seq("doc_id"), "left_semi")
      .join(qTerms, Seq("t"))
      .join(cand, Seq("qid", "doc_id"), "left_semi")
      .groupBy("qid", "doc_id")
      .agg(sum("s_micros").as("score_micros"))
    val candTopK = rankTopK(candScored, k)

    // 4. the certificate: θ_q (k-th candidate score) strictly above
    // B_q (best possible non-candidate score), with a full top-k
    val bounds = qTerms.join(cT, Seq("t"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("c_t"), lit(0L))).as("b_q"))
    val proof = candTopK.groupBy("qid")
      .agg(count(lit(1)).as("n_top"), min("score_micros").as("theta"))
      .join(bounds, Seq("qid"))
      .filter(col("n_top") === k && col("theta") > col("b_q"))
      .select("qid")
    MaxScoreParts(perPost, qTerms, candTopK, proof)
  }
}
