package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Model-based quality scoring — the trained-classifier stage of the
  * published pretraining pipelines (the fastText wiki-reference filter
  * of LLaMA/CCNet, GPT-3's quality LR, FineWeb-Edu's scorer): a linear
  * classifier over hashed bag-of-words features, trained in-engine,
  * scoring every document with a keep/drop probability. This sits
  * after the [[TextAnalysis.gopherRules]] heuristics and before
  * sampling in the standard pipeline order.
  *
  * Everything is deterministic and engine-portable so the whole
  * train+score chain replays in a SQL oracle:
  *
  *  - features are hashed term FREQUENCIES: bucket = first 8 md5 hex
  *    chars mod `dims` (the [[Mixing.bucket]] idiom), value =
  *    count/len rounded to integer MICROS once;
  *  - the sigmoid is the rational "fast sigmoid" σ(z) ≈ ½(1 + z/(1+|z|))
  *    — no transcendental exp, whose last-ulp behavior differs across
  *    libm builds; every probability rounds to micros;
  *  - training is full-batch gradient descent UNROLLED a fixed number
  *    of steps, weights re-rounding to micros each step (half away
  *    from zero, the engine-shared rule), so step t's weights are a
  *    pure integer function of step t−1's.
  *
  * Scale shape: one tokenize+hash pass over the corpus builds the
  * skinny (id, bucket, x) feature table (checkpointed once, reused by
  * every step); a step is one map-side weighted sum keyed on id plus
  * one `dims`-row gradient aggregation that collects to the driver
  * (the [[Clustering]] centroid precedent — weights are config-table
  * sized by construction); scoring is one more keyed sum with the
  * final weights inlined as a literal map. No shuffle ever carries
  * more than the feature table; the corpus text is read once.
  */
object QualityModel {

  /** Deterministic feature bucket in [0, dims): first 8 md5 hex chars
    * of the token as an integer, mod dims — engine-portable. */
  def hashBucket(t: Column, dims: Int): Column =
    pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
      lit(dims.toLong))

  /** Rational fast sigmoid of a 1e-12-unit dot product, in micros. */
  private def fastSigmoidMicros(sp: Column): Column = {
    val zd = sp.cast("double") / 1e12
    round((lit(0.5) * (lit(1d) + zd / (lit(1d) + abs(zd)))) * 1e6)
      .cast("long")
  }

  /** Round half away from zero — the Spark/DuckDB ROUND rule; the
    * driver-side weight update must match it exactly (math.round
    * rounds half UP, which differs on negatives). */
  private def rnd(v: Double): Long =
    (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong

  /** Train a hashed-BoW logistic quality classifier on `label` (true →
    * positive class) with `steps` full-batch GD rounds at rate `eta`,
    * then score every document.
    *
    * @return (idCol, score_micros, prob_micros, pred) — the raw score
    *         z in micros, σ(z) in micros, and prob > ½ strictly. A
    *         token-less doc scores z = 0 → prob exactly ½ → pred
    *         false (no evidence keeps nothing). */
  def lrQualityScores(docs: DataFrame, idCol: String, textCol: String,
                      label: Column, dims: Int = 64, steps: Int = 2,
                      eta: Double = 0.5): DataFrame = Pins.scope { p =>
    require(dims > 0 && steps > 0, s"need positive dims/steps")
    val base = docs.select(col(idCol).as("id"),
      when(label, lit(1000000L)).otherwise(lit(0L)).as("ym"),
      TextAnalysis.wordTokens(lower(col(textCol))).as("ts"))
    val cnt = base.select(col("id"), explode(col("ts")).as("t"))
      .groupBy(col("id"), hashBucket(col("t"), dims).as("j"))
      .agg(count(lit(1)).as("c"))
    val ntok = cnt.groupBy("id").agg(sum("c").as("n"))
    val x = p(cnt.join(ntok, "id")
      .select(col("id"), col("j"),
        round(col("c") * 1e6 / col("n")).cast("long").as("x")))
    val labels = p(base.select("id", "ym"))
    val nDocs = labels.count()
    require(nDocs > 0, "cannot train on an empty corpus")
    var w = Map.empty[Long, Long]
    def wExpr: Column =
      if (w.isEmpty) lit(0L)
      else coalesce(try_element_at(typedlit(w), col("j")), lit(0L))
    def spPerDoc: DataFrame = x
      .select(col("id"), (col("x") * wExpr).as("wx"))
      .groupBy("id").agg(sum("wx").as("sp"))
    for (_ <- 1 to steps) {
      // w = 0 ⇒ σ(0) = ½ exactly; skip the join on the first step
      val withP =
        if (w.isEmpty) x.join(labels, "id")
          .withColumn("pm", lit(500000L))
        else x.join(labels, "id").join(spPerDoc, "id")
          .withColumn("pm", fastSigmoidMicros(col("sp")))
      val g = withP
        .select(col("j"),
          round((col("pm") - col("ym")) * col("x") / 1e6)
            .cast("long").as("cm"))
        .groupBy("j").agg(sum("cm").as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = (w.keySet ++ g.keySet).iterator.map { j =>
        j -> (w.getOrElse(j, 0L)
          - rnd(eta * g.getOrElse(j, 0L).toDouble / nDocs))
      }.toMap
    }
    labels.join(spPerDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        round(coalesce(col("sp"), lit(0L)) / 1e6).cast("long")
          .as("score_micros"),
        fastSigmoidMicros(coalesce(col("sp"), lit(0L)))
          .as("prob_micros"))
      .withColumn("pred", col("prob_micros") > 500000L)
      .localCheckpoint(true)
  }
}
