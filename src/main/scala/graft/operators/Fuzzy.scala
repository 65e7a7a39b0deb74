package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy string matching: char-n-gram cosine similarity pairs — the
  * behavior of the reference's string_grouper stage (TF-IDF char
  * n-grams + cosine ≥ threshold; genres at 0.95
  * `scripts/pipeline/10-...py:49,344-391`, contributors at 0.85
  * `15-...py:35,225-313`).
  *
  * Plan shape: inverted-index self-join on the n-gram (shared-gram
  * blocking — any pair with cosine > 0 shares a gram, so blocking is
  * lossless), dot products as integer sums over shared grams, then one
  * filter on the exact cosine. No cross product anywhere; the shuffle
  * key is the n-gram.
  *
  * Skew control: `dfCap > 0` drops postings whose gram appears in more
  * than `dfCap` names from the DOT-PRODUCT side only (norms keep the
  * full vectors) — the same stop-shingle guard as
  * [[Dedup.jaccardPairs]]. A stop-gram ("the", " an") in k names
  * contributes O(k²) candidate rows on ONE shuffle key; uncapped that
  * is the canonical 100 TB skew/OOM killer. Capped cosines
  * lower-bound the uncapped ones (dropped grams only remove dot mass),
  * so the cap trades bounded recall for a bounded per-key fan-out.
  */
object Fuzzy {

  /** Postings with grams above the df cap removed (no-op at cap 0) —
    * the shared stop-gram skew guard, reused by [[EntityResolution]]'s
    * fuzzy terminal and [[Dedup.jaccardPairs]]'s shingle postings. */
  private[operators] def capPostings(tf: DataFrame, gramCol: String,
                                     dfCap: Int): DataFrame =
    if (dfCap <= 0) tf
    else tf.withColumn("__df",
        count(lit(1)).over(Window.partitionBy(gramCol)))
      .filter(col("__df") <= dfCap).drop("__df")

  /** Char n-grams of a string as an array column (short strings yield
    * the whole string as a single gram). */
  def charNgrams(s: Column, n: Int): Column =
    when(length(s) < n, array(s)).otherwise(
      transform(sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))

  /** Raw term frequencies (key, g, tf) of the char n-grams of `name`,
    * keyed by `key`. */
  private[operators] def gramTf(df: DataFrame, key: Column, name: Column,
                                n: Int): DataFrame =
    df.select(key, explode(charNgrams(name, n)).as("g"))
      .groupBy(key, col("g")).agg(count(lit(1)).as("tf"))

  /** The cosine step of every char-gram matcher. `a` and `b` hold
    * (key, g, `weight`) gram weights keyed by `keyA` / `keyB`: dot
    * products sum `weight` products over shared grams of the df-capped
    * postings under `cond`, each side's l2 norm (over its UNCAPPED
    * vector) joins on the output key, and `round(dot / (na·nb), 6)`
    * is the cosine, filtered at theta. The working columns are
    * `tmp`-prefixed dot, na and nb.
    *
    * @return (outA, outB, tmp·dot, tmp·na, tmp·nb, score). */
  private[operators] def gramCosine(a: DataFrame, keyA: String,
                                    outA: String, b: DataFrame,
                                    keyB: String, outB: String,
                                    weight: String, cond: Column,
                                    dfCap: Int, theta: Double,
                                    score: String,
                                    tmp: String): DataFrame = {
    val (dot, na, nb) = (tmp + "dot", tmp + "na", tmp + "nb")
    def norms(t: DataFrame, key: String, out: String, as: String) =
      t.groupBy(col(key).as(out))
        .agg(sqrt(sum(col(weight) * col(weight)).cast("double")).as(as))
    capPostings(a, "g", dfCap).as("a")
      .join(capPostings(b, "g", dfCap).as("b"),
        col("a.g") === col("b.g") && cond)
      .groupBy(col(s"a.$keyA").as(outA), col(s"b.$keyB").as(outB))
      .agg(sum(col(s"a.$weight") * col(s"b.$weight")).as(dot))
      .join(norms(a, keyA, outA, na), Seq(outA))
      .join(norms(b, keyB, outB, nb), Seq(outB))
      .withColumn(score,
        round(col(dot).cast("double") / (col(na) * col(nb)), 6))
      .filter(col(score) >= theta)
  }

  /** Distinct trimmed, lower-cased, non-empty names of `nameCol`. */
  private def distinctNames(df: DataFrame, nameCol: String): DataFrame =
    df.select(lower(trim(col(nameCol))).as("name"))
      .filter(col("name") =!= "").distinct()

  /** [[gramCosine]] of a name-weight table against itself, one row per
    * unordered pair. Output: (name_a, name_b, cos). */
  private def namePairs(w: DataFrame, weight: String, dfCap: Int,
                        theta: Double): DataFrame =
    gramCosine(w, "name", "name_a", w, "name", "name_b", weight,
        col("a.name") < col("b.name"), dfCap, theta, "cos", "")
      .select("name_a", "name_b", "cos")

  /** Raw-TF cosine pairs ≥ `theta` between distinct values of `nameCol`.
    * Integer dot products + deterministic sqrt/division → results are
    * engine-exact (oracle-comparable). Output: (name_a, name_b, cos). */
  def tfCosinePairs(df: DataFrame, nameCol: String, n: Int,
                    theta: Double, dfCap: Int = 0): DataFrame =
    namePairs(gramTf(distinctNames(df, nameCol), col("name"), col("name"), n),
      "tf", dfCap, theta)

  /** TF-IDF-weighted variant (sklearn-style smooth idf:
    * ln((1+N)/(1+df)) + 1, l2-normalized) — closer to string_grouper's
    * scoring. The cosine is rounded to 6 dp before the threshold
    * filter: double accumulation order differs across engines at the
    * ~1e-15 level, and rounding makes the output oracle-exact. */
  def tfidfCosinePairs(df: DataFrame, nameCol: String, n: Int,
                       theta: Double, dfCap: Int = 0): DataFrame = {
    val names = distinctNames(df, nameCol)
    // N for the idf term rides the plan as a one-row broadcast scalar
    // (the bm25TopK pattern) — a driver-side names.count() here was
    // the last blocking action on a hot analytical path (round-6
    // verdict): an extra job per call for one long.
    val nNames = broadcast(names.agg(count(lit(1)).as("n_names")))
    val tf = gramTf(names, col("name"), col("name"), n)
    val idf = tf.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(nNames)
      .withColumn("idf",
        log((lit(1.0) + col("n_names")) / (lit(1.0) + col("df"))) + 1.0)
    val w = tf.join(idf.select("g", "idf"), Seq("g"))
      .withColumn("w", col("tf") * col("idf"))
    namePairs(w, "w", dfCap, theta)
  }
}
