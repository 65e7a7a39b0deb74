package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins

/** One stage of the resolution waterfall: a rank-aligned 1:1 equi-join
  * on `leftKey`/`rightKey` column names. Rows whose key is NULL sit the
  * stage out (the reference's nullable identifier columns — its MNID
  * stage only sees rows without MBIDs). With `uniqueOnly`, keys that
  * appear more than once on either residue side are quarantined for
  * that stage (the reference's duplicated-QID/MNID quality gates, and
  * the unique-name fallback's contract). */
final case class MatchStage(stage: String, leftKey: String,
                            rightKey: String, uniqueOnly: Boolean = false)

/** Entity-resolution waterfall (ref
  * `scripts/mdm/harvest/emit_contributors.py:1066-1478` stage loop;
  * `scripts/pipeline/10-...py:200-257` intelligent_pre_filter): ordered
  * cheap key stages first, each matching rank-aligned within its key
  * (the reference's cum_count-over-key discipline so duplicate keys
  * pair 1:1 deterministically), matched ids anti-joined out of BOTH
  * sides before the next stage; then a terminal fuzzy stage scoring
  * n-gram cosine best-matches over ONLY the final residues — the
  * exact-match short-circuit that keeps the expensive stage small.
  *
  * 100 TB shape: every key stage is one hash-partitioned join on its
  * key plus two left-anti joins on the ids; the fuzzy terminal is a
  * bipartite shared-gram inverted index (shuffle key = the gram, never
  * a cross join), and it only ever sees what the key stages could not
  * resolve.
  */
object EntityResolution {

  /** Run the waterfall. Returns (leftId, rightId, stage, score) with
    * score 1.0 for key stages and the 6-dp cosine for the fuzzy stage.
    * `leftId`/`rightId` must be distinct column names.
    *
    * With `materialize` (default), each stage's matches and residues
    * are eagerly checkpointed and freed once the final union is
    * materialized: stage k's residue is consumed twice (its own match
    * join and the next anti-join), so the un-materialized DAG
    * recomputes every earlier stage a multiplicative number of times
    * (measured 12.4 s → 8.8 s solo at sf0.1 on the er_waterfall
    * corpus, plus the freed blocks stop polluting later queries).
    * Pass `materialize = false` to keep the full lineage visible —
    * plan-shape tests probe that form. */
  def waterfall(left: DataFrame, leftId: String,
                right: DataFrame, rightId: String,
                stages: Seq[MatchStage],
                fuzzyNames: Option[(String, String)] = None,
                n: Int = 3, theta: Double = 0.5,
                dfCap: Int = 0,
                materialize: Boolean = true): DataFrame = Pins.scope { p =>
    require(leftId != rightId, "left and right id columns must differ")
    require(stages.nonEmpty || fuzzyNames.nonEmpty,
      "waterfall needs at least one key stage or a fuzzy terminal")
    def barrier(df: DataFrame): DataFrame = if (materialize) p(df) else df
    var lRes = left
    var rRes = right
    var matches = Vector.empty[DataFrame]
    stages.foreach { st =>
      def side(df: DataFrame, id: String, key: String): DataFrame = {
        val f = df.filter(col(key).isNotNull)
        val u =
          if (!st.uniqueOnly) f
          else f.withColumn("__kn",
              count(lit(1)).over(Window.partitionBy(col(key))))
            .filter(col("__kn") === 1).drop("__kn")
        u.select(col(id), col(key).as("__key"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("__key")).orderBy(col(id))))
      }
      val m = barrier(side(lRes, leftId, st.leftKey)
        .join(side(rRes, rightId, st.rightKey), Seq("__key", "__rn"))
        .select(col(leftId), col(rightId),
          lit(st.stage).as("stage"), lit(1.0).as("score")))
      matches :+= m
      lRes = barrier(lRes.join(m.select(leftId), Seq(leftId), "left_anti"))
      rRes = barrier(rRes.join(m.select(rightId), Seq(rightId), "left_anti"))
    }
    fuzzyNames.foreach { case (ln, rn) =>
      matches :+= fuzzyBest(lRes, leftId, ln, rRes, rightId, rn,
        n, theta, dfCap)
    }
    val out = matches.reduce(_ unionByName _)
    // materialize the (small) match output; the scope then frees every
    // stage block — the same leak discipline as Dedup/GraphOps
    if (materialize) out.localCheckpoint(true) else out
  }

  /** Terminal fuzzy stage: best raw-TF char-n-gram cosine match per
    * left row (≥ theta), ties on the smallest right id; right rows may
    * serve several lefts (the reference's string_grouper mapping is
    * per-source too). Bipartite shared-gram inverted index — same
    * blocking/df-cap discipline as [[Fuzzy]]. */
  def fuzzyBest(left: DataFrame, leftId: String, leftName: String,
                right: DataFrame, rightId: String, rightName: String,
                n: Int = 3, theta: Double = 0.5,
                dfCap: Int = 0): DataFrame = {
    def tf(df: DataFrame, id: String, name: String): DataFrame =
      Fuzzy.gramTf(df.select(col(id), lower(trim(col(name))).as("__nm"))
        .filter(col("__nm").isNotNull && col("__nm") =!= ""),
        col(id), col("__nm"), n)
    Fuzzy.gramCosine(tf(left, leftId, leftName), leftId, leftId,
        tf(right, rightId, rightName), rightId, rightId, "tf", lit(true),
        dfCap, theta, "score", "__")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(leftId))
          .orderBy(col("score").desc, col(rightId))))
      .filter(col("__rk") === 1)
      .select(col(leftId), col(rightId), lit("fuzzy").as("stage"),
        col("score"))
  }
}
