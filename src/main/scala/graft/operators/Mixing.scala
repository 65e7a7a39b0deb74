package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Data-mixing operators for training-corpus assembly: deterministic
  * hash sampling (per-source mixing weights) and token-budget sequence
  * packing. Both are published pipeline staples; both are pure
  * deterministic expressions, so the same row is kept / packed into the
  * same slot on every run, on any cluster size, with no RNG state.
  */
object Mixing {

  /** Deterministic sampling bucket in [0, 10000): the first 8 hex chars
    * of md5(id) as an integer, mod 10000 — basis points. md5 keeps the
    * bucket engine-portable (the exact construction restates in SQL);
    * the hash decouples the kept set from id patterns. */
  def bucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(10000L))

  /** Stratified mixing: per-stratum keep rates in basis points (the
    * mixing-weights table of a corpus recipe), `defaultBp` for strata
    * not listed. One scan-side filter — no shuffle, no RNG. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       ratesBp: Map[String, Int],
                       defaultBp: Int = 10000): DataFrame = {
    val rate = coalesce(
      try_element_at(typedlit(ratesBp), col(stratumCol)),
      lit(defaultBp))
    df.filter(bucket(col(idCol)) < rate)
  }

  /** Token-budget sequence packing, sharded: rows hash into `shards`
    * independent streams (`id % shards`), and within a shard the
    * running token count before each row assigns it a bin
    * (`floor(cum / budget)`) and an offset inside that bin. This is the
    * cumulative-boundary packing used by large-batch loaders — a doc
    * may straddle a boundary and be split by the consumer.
    *
    * Scale shape: ONE window per shard — the global-total-order trap is
    * avoided by design; shards pack in parallel and adding shards
    * scales the packing linearly, which is how a 100 TB corpus must be
    * packed anyway (one stream per output file). */
  def packByBudget(df: DataFrame, idCol: String, tokensCol: String,
                   budget: Int, shards: Int): DataFrame = {
    val shard = pmod(col(idCol), lit(shards))
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), shard.as("shard"), col(tokensCol))
      .withColumn("__cum", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .select(col(idCol), col("shard"),
        (col("__cum") / budget).cast("long").as("bin"),
        pmod(col("__cum"), lit(budget.toLong)).as("bin_offset"),
        col(tokensCol))
  }

  /** Per-stratum fixed-COUNT sampling (a corpus recipe that says "50k
    * docs from source X", not "0.5% of X"): rows rank inside their
    * stratum by the deterministic md5 key and the first `nPer` win.
    * One window per stratum — shuffle on the stratum key, no global
    * sort, no RNG; re-runs reproduce the identical sample.
    *
    * The rank key is the FULL md5 hex of the id (not [[bucket]]'s
    * first-8-hex residue), with the raw id as tie-break — the d25
    * oracle restates exactly this order. */
  def sampleN(df: DataFrame, idCol: String, stratumCol: String,
              nPer: Int): DataFrame = {
    val key = md5(col(idCol).cast("string"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(key, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nPer)
      .drop("__rk")
  }

  /** Deterministic global shuffle into training shards: every row gets
    * a pseudo-random 60-bit sort key from md5(id:seed), its shard is
    * the key mod `shards`, and its position is the key's rank inside
    * the shard. Changing `seed` re-deals the whole corpus; re-running
    * with the same seed reproduces the identical order — the epoch
    * shuffle of a training loader, with no RNG state and no global
    * sort.
    *
    * Scale shape: one hash shuffle on the shard id, then a per-shard
    * local sort (the window never crosses shards). A 100 TB corpus
    * shuffles into N output files exactly this way; a single global
    * ORDER BY would funnel the sort through one task and is avoided by
    * construction. md5 keeps the deal engine-portable (the key
    * restates verbatim in SQL oracles). */
  def shuffleShards(df: DataFrame, idCol: String, seed: Int,
                    shards: Int): DataFrame = {
    // 15 hex chars = 60 bits — inside Long range in both engines
    val key = conv(substring(
        md5(concat_ws(":", col(idCol).cast("string"), lit(seed))), 1, 15),
      16, 10).cast("long")
    val w = Window.partitionBy("shard").orderBy(col("__key"), col(idCol))
    df.select(col(idCol), key.as("__key"))
      .withColumn("shard", pmod(col("__key"), lit(shards.toLong)))
      .select(col(idCol), col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  /** DSIR-style importance scoring for target-matched data selection
    * (hashed-unigram importance weights, after Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * each document by `Σ_tokens tf · (log p_target(t) − log
    * p_source(t))` with Laplace-smoothed unigram LMs — the target LM
    * estimated from the rows matching `targetFilter`, the source LM
    * from the whole corpus. Positive score ⇒ more target-like than
    * corpus-average; `keep` selects those rows (resampling = feed
    * `keep` into [[bucket]]-threshold thinning downstream).
    *
    * Engine-exact by the d28 discipline: each term's log-ratio rounds
    * to integer MICROS before the per-doc sum, so document scores are
    * exact integer sums — order-independent, oracle-portable.
    *
    * Scale shape: postings materialize once; term LMs are one
    * term-keyed aggregation with the three corpus scalars (token
    * totals + vocab size) attached as a single broadcast row; the
    * scoring join is term-keyed. Nothing doc-keyed shuffles except
    * the final per-doc rollup.
    *
    * @return (idCol, n_tokens, score_micros, keep) */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
                 targetFilter: Column): DataFrame = Pins.scope { p =>
    def toks(c: Column) = filter(split(c, "\\s+"), t => t =!= "")
    val postings = p(docs
      .select(col(idCol), coalesce(targetFilter.cast("int"), lit(0)).as("__tgt"),
        explode(toks(col(textCol))).as("__t"))
      .groupBy(idCol, "__tgt", "__t").agg(count(lit(1)).as("__tf")))
    val terms = postings.groupBy("__t").agg(
      sum("__tf").as("__cs"),
      sum(col("__tgt") * col("__tf")).as("__ct"))
    val scal = broadcast(terms.agg(
      sum("__cs").as("__ns"), sum("__ct").as("__nt"),
      count(lit(1)).as("__v")))
    val wm = terms.crossJoin(scal)
      .select(col("__t"), round((
        log((col("__ct") + 1L).cast("double") /
          (col("__nt") + col("__v")).cast("double")) -
        log((col("__cs") + 1L).cast("double") /
          (col("__ns") + col("__v")).cast("double"))) * 1e6)
        .cast("long").as("__wm"))
    postings.join(wm, Seq("__t"))
      .groupBy(idCol)
      .agg(sum("__tf").as("n_tokens"),
        sum(col("__tf") * col("__wm")).as("score_micros"))
      .withColumn("keep", (col("score_micros") > 0).cast("int"))
      .localCheckpoint(true)
  }

  /** Weighted sampling WITHOUT replacement, Gumbel-key formulation
    * (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    * reservoir", IPL 97(5), via the exponential-key ↔ Gumbel-top-k
    * equivalence of Kool et al. 2019): each row draws a deterministic
    * uniform u ∈ (0,1) from md5(id) and keys on
    * `ln(w) − ln(−ln(u))` — a Gumbel(ln w) sample — and the n largest
    * keys ARE a weighted draw without replacement.
    *
    * Scale shape: the draw is one scan-side expression and the
    * selection is `orderBy(key).limit(n)` — Spark plans
    * TakeOrderedAndProject (per-partition top-n, one n·P-row merge),
    * never a global sort; no RNG state, so re-runs and recoveries
    * reproduce the identical sample on any cluster size.
    *
    * Determinism across engines: u = (h32 + 0.5) / 2^32 with h32 the
    * first 8 md5 hex chars — h32 is exactly representable in a
    * double, u is strictly inside (0,1) so both logs are finite, and
    * the key rounds to 6 dp with the raw id as tie-break (the
    * repo-wide cross-engine float discipline; the d43 oracle restates
    * the draw verbatim). Rows with weight ≤ 0 are excluded — a
    * non-positive weight has no Gumbel key.
    *
    * @return the n winners as (idCol, weightCol, gkey), key
    *         descending, id tie-break. */
  def weightedSampleN(df: DataFrame, idCol: String, weightCol: String,
                      n: Int): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    val key = round(log(col(weightCol).cast("double")) - log(-log(u)), 6)
    df.filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol), key.as("gkey"))
      .orderBy(col("gkey").desc, col(idCol))
      .limit(n)
  }

  /** Source/domain-level filtering with an audit trail — the
    * URL/domain blocklist stage every web pipeline runs (C4's
    * blocklist, RefinedWeb §3.1 URL filtering, Gopher's domain rules)
    * plus the per-source accounting that justifies it. A row survives
    * iff its source is off the blocklist AND `rowGate` holds (the
    * row-level quality predicate — length, langid, quality score);
    * ONE aggregation emits, per source: docs/tokens in, docs/tokens
    * surviving, and the survival rate at 6 dp. Blocklisted and
    * fully-gated sources appear with zero survivors rather than
    * vanishing, so the audit columns sum back to the corpus total —
    * the "where did my tokens go" report.
    *
    * The blocklist rides as a literal IN-list (a real deployment's
    * list is config-table sized; broadcast-join a table instead if it
    * ever isn't). Row selection itself composes as
    * `df.filter(!srcBlocked && rowGate)` — this operator is the WHY
    * of that filter, not a replacement. */
  def sourceAudit(df: DataFrame, srcCol: String, tokensCol: String,
                  blocklist: Set[String], rowGate: Column): DataFrame = {
    val kept = (!col(srcCol).isInCollection(blocklist.toSeq)) && rowGate
    df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("docs_in"),
        sum(col(tokensCol)).cast("long").as("tokens_in"),
        sum(when(kept, 1L).otherwise(0L)).as("docs_kept"),
        sum(when(kept, col(tokensCol)).otherwise(0L)).cast("long")
          .as("tokens_kept"))
      .withColumn("keep_rate",
        round(col("docs_kept").cast("double") / col("docs_in"), 6))
  }

  /** Token-budget mixture planner: the arithmetic that turns a corpus
    * recipe ("30% web, 20% code, …" against a total token budget)
    * into per-stratum keep rates — the planning half of DoReMi-style
    * mixture work, where the weights come in as givens. Per stratum:
    * available tokens (one agg), desired = ⌊share·budget⌋, keep rate
    * = min(1, desired/available) at 6 dp, planned = ⌊rate·available⌋,
    * and the unmet remainder surfaces as `deficit_tokens` — a recipe
    * that over-asks a small stratum should SEE the shortfall, not
    * have it silently redistributed. Strata absent from `targets`
    * get share 0 (present in the output with their inventory, planned
    * 0 — the "what am I leaving out" row). Symmetrically, a target
    * stratum with ZERO corpus inventory still gets an output row
    * (available 0, keep_rate 0, deficit = its full desired_tokens) —
    * the rollup is a full outer union of the recipe's keys with the
    * corpus's strata, so an empty stratum's shortfall is visible
    * rather than silently vanishing from the plan. The recipe keys
    * are a driver-held config map (a handful of rows), so the union
    * side is free at any corpus scale.
    *
    * One shuffle (the stratum rollup); the rates feed
    * [[stratifiedSample]]/[[sampleN]] for the actual row selection. */
  def mixturePlan(df: DataFrame, stratumCol: String, tokensCol: String,
                  targets: Map[String, Double], budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val share = coalesce(
      try_element_at(typedlit(targets), col(stratumCol)), lit(0d))
    val recipeKeys = targets.keys.toSeq.sorted.toDF(stratumCol)
    df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("long").as("available_tokens"))
      .join(recipeKeys, Seq(stratumCol), "full")
      .withColumn("available_tokens",
        coalesce(col("available_tokens"), lit(0L)))
      .withColumn("target_share", round(share, 6))
      .withColumn("desired_tokens",
        floor(col("target_share") * lit(budget.toDouble)).cast("long"))
      .withColumn("keep_rate",
        when(col("available_tokens") === 0L, lit(0d))
          .otherwise(round(least(lit(1d),
            col("desired_tokens").cast("double")
              / col("available_tokens")), 6)))
      .withColumn("planned_tokens",
        floor(col("keep_rate") * col("available_tokens").cast("double"))
          .cast("long"))
      .withColumn("deficit_tokens",
        greatest(lit(0L), col("desired_tokens") - col("available_tokens")))
  }

  /** Concat-and-cut sequence packing — the GPT-pretraining shard map
    * (Brown et al. 2020 §2.1 train on contiguous `budget`-token
    * windows of the concatenated corpus; every open pretraining
    * pipeline cuts the same way): documents concatenate in ascending
    * id order and the stream cuts into fixed `budget`-token
    * sequences, so each doc's token range [start_tok, start_tok +
    * n_tokens) maps to sequences seq_start..seq_end with offset
    * `offset_tok` inside the first — the per-doc placement table a
    * batch assembler and a shard writer both key on.
    *
    * Everything derives from ONE global exclusive prefix sum over id
    * order, and THAT is the scale problem this operator actually
    * solves: the naive `Window.orderBy(id)` computes it on a single
    * partition (the whole corpus through one task — the classic
    * global-window scale-killer). Instead the standard two-level
    * scan runs distributed: per-BUCKET sums (one skinny map-side
    * aggregation, bucket = id div `idStride`), an exclusive prefix
    * over the bucket TABLE (config-sized by the stride contract —
    * 10¹⁰ docs at the default stride is ~1.2M 16-byte rows, and only
    * that table passes through a single-partition window), offsets
    * broadcast-joined back, and a per-bucket window (bounded
    * partitions) finishing the sum. The result is IDENTICAL for any
    * stride — associativity of addition — which the spec asserts at
    * strides {1, 3, 1000}.
    *
    * `idCol` must be numeric (the stride bucketing divides it) and
    * UNIQUE — the concat order is the id order, and duplicate ids
    * would make the within-bucket window's tie order, and therefore
    * the placement, partitioning-dependent. Zero-token docs occupy
    * no range and report seq_end = seq_start.
    *
    * @return (idCol, n_tokens, start_tok, seq_start, seq_end,
    *         offset_tok), integer-exact. */
  def packSequences(docs: DataFrame, idCol: String, tokensCol: String,
                    budget: Long, idStride: Long = 8192L): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(idStride > 0, s"idStride must be positive: $idStride")
    val base = docs.select(col(idCol),
        col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("__b",
        // exact integer division (the scaladoc's 'id div idStride'):
        // the double-precision quotient was inexact past ~2^53. Like
        // the old cast, `div` truncates toward zero (NOT floor) for
        // negative ids — fine for the two-level scan, which needs
        // only that the bucketing be monotone in id, and truncation
        // is monotone
        expr(s"cast(`$idCol` as bigint) div ${idStride}L"))
    val wb = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = base.groupBy("__b").agg(sum("n_tokens").as("__bs"))
      .withColumn("__off", coalesce(sum("__bs").over(wb), lit(0L)))
      .select("__b", "__off")
    val wi = Window.partitionBy("__b").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(boff), Seq("__b"))
      .withColumn("start_tok",
        col("__off") + coalesce(sum("n_tokens").over(wi), lit(0L)))
      .withColumn("seq_start",
        expr(s"start_tok div ${budget}L"))
      .withColumn("seq_end",
        when(col("n_tokens") === 0L, col("seq_start"))
          .otherwise(expr(s"(start_tok + n_tokens - 1) div ${budget}L")))
      .withColumn("offset_tok", col("start_tok") % budget)
      .select(idCol, "n_tokens", "start_tok", "seq_start", "seq_end",
        "offset_tok")
  }

  /** Deterministic train/validation/test SPLIT assignment: each doc's
    * [[bucket]] (md5-based basis points, engine-portable) falls into
    * the half-open cumulative range of exactly one split, so the
    * assignment is a pure function of the id — stable across runs,
    * cluster sizes, and engines, and docs never migrate between
    * splits when the corpus grows (the property a random split
    * lacks, and the reason eval leakage audits demand hash splits).
    * Ratios are basis points in the given order and must sum to
    * 10000. One scan-side expression; no shuffle, no RNG.
    *
    * @return input columns + `split`. */
  def assignSplit(df: DataFrame, idCol: String,
                  ratiosBp: Seq[(String, Int)]): DataFrame = {
    require(ratiosBp.nonEmpty, "need at least one split")
    require(ratiosBp.map(_._2).sum == 10000,
      s"ratios must sum to 10000 bp: ${ratiosBp.map(_._2).sum}")
    require(ratiosBp.forall(_._2 >= 0), "ratios must be non-negative")
    val b = bucket(col(idCol))
    val cuts = ratiosBp.scanLeft(0) { case (acc, (_, bp)) => acc + bp }
    val expr0: Column = ratiosBp.zip(cuts.tail).init
      .foldLeft(None: Option[Column]) { case (acc, ((name, _), hi)) =>
        Some(acc match {
          case None    => when(b < hi, lit(name))
          case Some(c) => c.when(b < hi, lit(name))
        })
      } match {
        case Some(c) => c.otherwise(lit(ratiosBp.last._1))
        case None    => lit(ratiosBp.last._1)
      }
    df.withColumn("split", expr0)
  }

  /** Write the corpus as TRAINING SHARDS: each doc lands (with its
    * [[packSequences]] placement columns) in the hive partition of
    * the shard its first sequence belongs to — shard = seq_start div
    * `seqsPerShard` — so a trainer streams one shard directory per
    * worker and the batch assembler has start/seq/offset in-row. The
    * composition IS the point: the placement table comes from the
    * distributed prefix sum, and the layout from the same
    * partitionBy discipline as [[graft.sources.Bucketed
    * .writePartitioned]]; a `repartition(shard)` before the write
    * gives one task per shard, so a 100 TB corpus writes N contiguous
    * shard files instead of tasks × shards fragments. */
  def writeShards(docs: DataFrame, idCol: String, tokensCol: String,
                  budget: Long, seqsPerShard: Long, dir: String,
                  idStride: Long = 8192L): Unit = {
    require(seqsPerShard > 0,
      s"seqsPerShard must be positive: $seqsPerShard")
    val packed = packSequences(docs, idCol, tokensCol, budget, idStride)
      .withColumn("shard", expr(s"seq_start div ${seqsPerShard}L"))
      .drop("n_tokens")
    docs.join(packed, Seq(idCol))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
  }

  /** Convert a [[temperatureMixture]] boost column (as integer
    * MICROS) into per-stratum KEEP RATES in basis points — the step
    * that turns a mixing recipe into a [[stratifiedSample]] config:
    * rates scale down relative to the most-boosted stratum (which
    * keeps everything — a deterministic hash sampler can only
    * sub-sample, so the recipe's up-weighting of tails is realized
    * by down-weighting heads). Integer-micro input and integer
    * division make the cut engine-exact: an oracle restating
    * `(boost_micros * 10000) div max_micros` lands on the same
    * integer on every engine, where a double ratio could fall either
    * side of a basis-point boundary. A POSITIVE boost floors at
    * 1 bp rather than truncating to 0: under a heavily skewed
    * recipe (boost below max/10000) floor division would otherwise
    * drop the stratum entirely from [[stratifiedSample]] — the same
    * silently-vanished-stratum outcome the duplicate/overflow guards
    * exist to prevent, and the opposite of temperature sampling's
    * keep-the-tails intent (the [[temperatureMixture]] 1-micro tail
    * floor, restated in basis points).
    *
    * @param boostMicros (stratum, round(boost * 1e6)) rows — a
    *        config-table-sized driver-side list, the MLlib-shape
    *        exception. */
  def boostKeepRatesBp(boostMicros: Seq[(String, Long)])
      : Map[String, Int] = {
    require(boostMicros.nonEmpty, "need at least one stratum boost")
    // .toMap would silently keep the LAST duplicate while the max
    // still saw the dropped one — a vanished dominant boost with no
    // error; reject instead
    require(boostMicros.map(_._1).distinct.size == boostMicros.size,
      "duplicate stratum keys in boost table")
    require(boostMicros.forall(_._2 >= 0L),
      "boost micros must be non-negative")
    val mx = boostMicros.map(_._2).max
    require(mx > 0L, "at least one stratum must have a positive boost")
    // m * 10000 must not wrap: a wrapped negative quotient would read
    // as keep-nothing — a silently vanished stratum (m <= mx, so
    // bounding the max bounds every product)
    require(mx <= Long.MaxValue / 10000L,
      s"boost micros too large to scale without overflow: $mx")
    boostMicros.map { case (s, m) =>
      s -> (if (m > 0L) math.max(1L, (m * 10000L) / mx).toInt
            else 0)
    }.toMap
  }

  /** Temperature-scaled mixture shares — the multilingual sampling
    * formula of mT5 / XLM-R (Xue et al. 2021 §3.1; Conneau et al.
    * 2020 §3): q_i = p_i^α / Σ_j p_j^α flattens the natural
    * token-share distribution p toward uniform as α → 0, up-weighting
    * tail languages/domains without discarding head data. The
    * boost column (q/p) is the per-stratum oversampling factor a
    * sampler applies on top of natural frequency.
    *
    * Determinism: p^α is computed from the UNROUNDED n/total ratio
    * (IEEE division + sqrt are correctly rounded in every engine) and
    * floored at 1 micro for non-empty strata — a tail stratum whose
    * natural share rounds below 1e-6 still gets a positive q (the
    * up-weighting of tails is the entire point of temperature
    * sampling); only the REPORTED p/q/boost columns round to 6 dp.
    * α = 0.5 is the IEEE-exact choice (p^0.5 = sqrt, correctly
    * rounded in every engine); other α go through pow, which libm
    * does not guarantee correctly rounded — fine for production
    * sampling, but only α = 0.5 is hash-gate-exact across engines, so
    * the oracle query pins it.
    *
    * Scale shape: one per-stratum aggregation (config-table-sized
    * output), a one-row total broadcast, scan math after that. The
    * corpus is read once.
    *
    * @return (stratum, n_tokens, p, q, boost) — natural share,
    *         temperature share, q/p; all 6 dp. */
  def temperatureMixture(df: DataFrame, stratumCol: String,
                         tokensCol: String,
                         alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    def powA(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    val strata = df.groupBy(col(stratumCol))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens"))
    val tot = broadcast(strata.agg(
      sum("n_tokens").as("__tot")))
    // p^α rounds to integer MICROS before the normalizing sum, so the
    // total is an order-independent long (the d28/BM25 trick — a raw
    // double Σ p^α would depend on aggregation order). The power is
    // taken on the UNROUNDED ratio, floored at 1 micro for non-empty
    // strata, so sub-microshare tails keep a positive weight.
    val withP = strata.crossJoin(tot)
      .withColumn("__praw", col("n_tokens") / col("__tot"))
      .withColumn("p", round(col("__praw"), 6))
      .withColumn("__sp",
        when(col("n_tokens") > 0L,
          greatest(lit(1L), round(powA(col("__praw")) * 1e6).cast("long")))
          .otherwise(lit(0L)))
    val qtot = broadcast(withP.agg(sum("__sp").as("__qt")))
    withP.crossJoin(qtot)
      // the REPORTED q is floored at 1 micro too: with many strata
      // the normalizer exceeds 1e6 micros and round(1/qt, 6) falls
      // back to 0 — the tail would vanish from the report even
      // though its weight survived the sum
      .withColumn("q",
        when(col("n_tokens") === 0L, lit(0d))
          .otherwise(greatest(round(col("__sp") / col("__qt"), 6),
            lit(1e-6))))
      .withColumn("boost",
        when(col("n_tokens") === 0L, lit(0d))
          .otherwise(round(col("q") / col("__praw"), 6)))
      .select(stratumCol, "n_tokens", "p", "q", "boost")
  }
}
