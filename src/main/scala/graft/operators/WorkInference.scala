package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{MultiValue, Pins}

/** Conservative work-resolution scoring (ref
  * `scripts/pipeline/22-infer-works-in-library.py:60-129, 846-1275,
  * 1355-1440`): compare each track against the flattened work lookup
  * using only stable signals, record the best candidate per track with
  * an explainable confidence tier, and flag the strictly-definitive
  * rows for auto-apply.
  *
  * Candidate generation is three equi-joins (exact workid 70, exact
  * normalized title 35, alias token 20; +40 per source hit when the
  * lookup row is user-vetted — the reference SUMS the vetted bonus
  * across sources, :1031-1037), then per-(track, work) corroboration:
  * distinct shared contributor names count per track role and distinct
  * shared artist MBIDs per lookup role, each capped at the role's
  * budget (composer 20/10-per-match, other songwriter roles 5-per-match
  * capped 10; roles outside the rule table are ignored, :115-123,
  * :1135-1150). Best-vs-runner-up per track via one window (total desc,
  * work_id desc — the reference's sort), tier A-D per
  * `_confidence_tier`, and `should_apply` only when tier A/B at
  * score≥80, margin≥20, with both guardrails on: corroboration required
  * for title/alias-only matches, and an exact workid or a UNIQUE exact
  * title required (:1355-1410).
  *
  * Scale shape: every join is keyed (title/workid/alias/person/mbid);
  * the people and mbid postings are semi-joined to the candidate pair
  * set before counting, so corroboration cost is proportional to
  * candidates, not library × lookup. One window over tracks picks the
  * best. No broadcast assumed — the lookup may be huge.
  */
object WorkInference {

  /** role → (cap, per-match weight), ref ROLE_SCORE_RULES. */
  val RoleRules: Map[String, (Int, Int)] = Map(
    "composer" -> (20, 10), "arranger" -> (10, 5), "lyricist" -> (10, 5),
    "writer" -> (10, 5), "orchestrator" -> (10, 5), "translator" -> (10, 5),
    "other" -> (10, 5))

  /** ref `_normalize_text` (:235-241) minus the NFKD fold, which the
    * engine's step 18 applies upstream: lowercase, strip double quotes,
    * collapse whitespace. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "\"", ""), "\\s+", " "))

  // scoring caps/weights as map literals, applied per matched role
  private val capOf = typedlit(RoleRules.map { case (r, (c, _)) => r -> c })
  private val weightOf = typedlit(RoleRules.map { case (r, (_, w)) => r -> w })

  /** @param tracks    track table; `trackId` key, `titleNorm`
    *                  pre-normalized title, `workidCol` existing
    *                  MusicBrainz work id (nullable)
    * @param roleCols  track contributor columns by role (multi-value
    *                  delimited cells); only roles in [[RoleRules]]
    *                  score
    * @param mbidCols  track artist-MBID columns (multi-value)
    * @param lookup    work lookup: work_id, musicbrainz_workid,
    *                  work_title_norm, alias_tokens (delimited),
    *                  role_names / role_mbids (`role:value` delimited),
    *                  is_user_vetted (boolean)
    * @return one row per track: best_work_id/best_work_mbid,
    *         best_score, runner_up_score, candidate_count,
    *         exact_workid/exact_title/exact_alias flags of the best
    *         row, exact-title candidate count, person/artist-id match
    *         flags, confidence_tier, should_apply. */
  def inferWorks(tracks: DataFrame, trackId: String, titleNorm: String,
                 workidCol: String, roleCols: Map[String, String],
                 mbidCols: Seq[String], lookup: DataFrame)
      : DataFrame = Pins.scope { p =>
    val lk = lookup.select(col("work_id"),
      col("musicbrainz_workid").as("__lmbid"), col("work_title_norm"),
      col("alias_tokens"), col("role_names"), col("role_mbids"),
      coalesce(col("is_user_vetted"), lit(false)).as("__vet"))

    val base = tracks.select(col(trackId).as("__tid"),
      col(titleNorm).as("__tn"), col(workidCol).as("__wid"))

    def pair(score: (Int, Int, Int), flags: (Boolean, Boolean, Boolean)) =
      Seq(lit(score._1).as("s_title"), lit(score._2).as("s_alias"),
        lit(score._3).as("s_workid"),
        when(col("__vet"), 40).otherwise(0).as("s_vetted"),
        lit(flags._1).as("exact_title"), lit(flags._2).as("exact_alias"),
        lit(flags._3).as("exact_workid"))

    val titlePairs = base
      .join(lk, col("__tn") === col("work_title_norm"))
      .select(Seq(col("__tid"), col("work_id"), col("__lmbid")) ++
        pair((35, 0, 0), (true, false, false)): _*)
    val workidPairs = base
      .filter(col("__wid").isNotNull && trim(col("__wid")) =!= "")
      .join(lk, col("__wid") === col("__lmbid"))
      .select(Seq(col("__tid"), col("work_id"), col("__lmbid")) ++
        pair((0, 0, 70), (false, false, true)): _*)
    val aliases = lk.select(col("work_id"), col("__lmbid"), col("__vet"),
        col("work_title_norm"),
        explode(MultiValue.tokens(coalesce(col("alias_tokens"), lit(""))))
          .as("__alias"))
      .withColumn("__alias", normText(col("__alias")))
      .filter(col("__alias") =!= "" &&
        col("__alias") =!= col("work_title_norm"))
      .select("work_id", "__lmbid", "__vet", "__alias").distinct()
    val aliasPairs = base.join(aliases, col("__tn") === col("__alias"))
      .select(Seq(col("__tid"), col("work_id"), col("__lmbid")) ++
        pair((0, 20, 0), (false, true, false)): _*)

    // materialize the three-way pair build ONCE: it feeds `cand`,
    // `exactTitleCounts`, and (through `candKeys`) both corroboration
    // semi-joins — without a barrier the whole union-of-joins lineage
    // re-runs per consumer (measured 21.4 s → the pair build alone
    // dominated pl_infer_works at sf0.1)
    val allPairs = p(titlePairs.unionByName(workidPairs)
      .unionByName(aliasPairs))
    val cand = p(allPairs.groupBy("__tid", "work_id")
      .agg(first("__lmbid").as("work_mbid"),
        sum("s_title").as("s_title"), sum("s_alias").as("s_alias"),
        sum("s_workid").as("s_workid"), sum("s_vetted").as("s_vetted"),
        max("exact_title").as("exact_title"),
        max("exact_alias").as("exact_alias"),
        max("exact_workid").as("exact_workid")))
    val candKeys = cand.select("__tid", "work_id")

    val exactTitleCounts = allPairs.filter(col("exact_title"))
      .groupBy("__tid").agg(count(lit(1)).as("exact_title_cnt"))

    // contributor-name corroboration: join on the normalized person,
    // role taken from the TRACK column (ref :1066-1075)
    val peopleMatched = roleCols.toSeq.map { case (role, c) =>
      tracks.select(col(trackId).as("__tid"), lit(role).as("__role"),
        explode(MultiValue.tokens(coalesce(col(c), lit("")))).as("__p"))
    }.reduceOption(_ unionByName _).map { trackPeople =>
      val lookupPeople = lk.select(col("work_id"),
          explode(MultiValue.tokens(coalesce(col("role_names"), lit(""))))
            .as("__rp"))
        .select(col("work_id"),
          normText(substring_index(col("__rp"), ":", -1)).as("__p"))
        .filter(col("__p") =!= "").distinct()
      val tp = trackPeople.withColumn("__p", normText(col("__p")))
        .filter(col("__p") =!= "").distinct()
      tp.join(lookupPeople, Seq("__p"))
        .select(col("__tid"), col("work_id"), col("__role"),
          lit("p").as("__src"))
    }

    // artist-MBID corroboration: role taken from the LOOKUP pairs
    val idMatched = mbidCols.map(c =>
      tracks.select(col(trackId).as("__tid"),
        explode(MultiValue.tokens(coalesce(col(c), lit("")))).as("__id")))
      .reduceOption(_ unionByName _)
      .map(_.withColumn("__id", lower(trim(col("__id"))))
        .filter(col("__id") =!= "").distinct())
      .map { tid =>
        val lookupIds = lk.select(col("work_id"),
            explode(MultiValue.tokens(coalesce(col("role_mbids"), lit(""))))
              .as("__ri"))
          .select(col("work_id"),
            substring_index(col("__ri"), ":", 1).as("__role"),
            lower(trim(substring_index(col("__ri"), ":", -1))).as("__id"))
          .filter(col("__id") =!= "").distinct()
        tid.join(lookupIds, Seq("__id"))
          .select(col("__tid"), col("work_id"), col("__role"),
            lit("i").as("__src"))
      }

    // ONE shared scoring chain for both corroboration sources: the
    // match streams union (tagged by source), restrict to candidate
    // pairs with a single semi-join, count per role, cap each role's
    // score, and split the per-source sums back out with conditional
    // aggregation — one semi-join + one two-level aggregation instead
    // of two of each (the separate-path shape cost ~4 extra shuffles)
    val corrAgg = (peopleMatched.toSeq ++ idMatched.toSeq)
      .reduceOption(_ unionByName _).map { matched =>
      matched
        .join(candKeys, Seq("__tid", "work_id"), "left_semi")
        // roles outside the rule table are ignored — an unruled role
        // must not inflate the match count / person_match flag
        .filter(try_element_at(capOf, col("__role")).isNotNull)
        .groupBy("__tid", "work_id", "__src", "__role")
        .agg(count(lit(1)).as("__n"))
        .withColumn("__s", least(try_element_at(capOf, col("__role")),
          col("__n") * try_element_at(weightOf, col("__role"))))
        .groupBy("__tid", "work_id")
        .agg(
          sum(when(col("__src") === "p", col("__s"))).as("people_score"),
          sum(when(col("__src") === "p", col("__n"))).as("people_n"),
          sum(when(col("__src") === "i", col("__s"))).as("id_score"),
          sum(when(col("__src") === "i", col("__n"))).as("id_n"))
    }

    val scored = corrAgg
      .fold(cand.withColumn("people_score", lit(0L))
        .withColumn("people_n", lit(0L))
        .withColumn("id_score", lit(0L)).withColumn("id_n", lit(0L)))(
        a => cand.join(a, Seq("__tid", "work_id"), "left"))
      .na.fill(0, Seq("people_score", "people_n", "id_score", "id_n"))
      .withColumn("total", (col("s_title") + col("s_alias") +
        col("s_workid") + col("s_vetted") + col("people_score") +
        col("id_score")).cast("long"))
      .withColumn("person_match", col("people_n") > 0 || col("id_n") > 0)

    val w = Window.partitionBy("__tid")
      .orderBy(col("total").desc, col("work_id").desc)
    val wAll = Window.partitionBy("__tid")
    val best = scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("runner_up_score",
        coalesce(lead(col("total"), 1).over(w), lit(0L)))
      .withColumn("candidate_count", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .join(exactTitleCounts, Seq("__tid"), "left")
      .na.fill(0, Seq("exact_title_cnt"))

    val margin = col("best_score") - col("runner_up_score")
    val summary = tracks.select(col(trackId).as("__tid"))
      .join(best.withColumnRenamed("total", "best_score"),
        Seq("__tid"), "left")
      .withColumn("best_score", coalesce(col("best_score"), lit(0L)))
      .withColumn("runner_up_score",
        coalesce(col("runner_up_score"), lit(0L)))
      .withColumn("candidate_count",
        coalesce(col("candidate_count"), lit(0L)))
      .withColumn("exact_title_cnt",
        coalesce(col("exact_title_cnt"), lit(0L)))
      .withColumn("person_match",
        coalesce(col("person_match"), lit(false)))
      .withColumn("exact_workid", coalesce(col("exact_workid"), lit(false)))
      .withColumn("exact_title", coalesce(col("exact_title"), lit(false)))
      .withColumn("exact_alias", coalesce(col("exact_alias"), lit(false)))
    val tier = when(col("work_id").isNull, "D")
      .when(col("exact_workid") && col("best_score") >= 90 &&
        margin >= 20, "A")
      .when(col("best_score") >= 80 && margin >= 20 &&
        col("person_match"), "B")
      .when(col("best_score") >= 60, "C")
      .otherwise("D")
    val guardrailBlock = (col("exact_title") || col("exact_alias")) &&
      !col("person_match")
    val routeBlock = !col("exact_workid") &&
      !(col("exact_title") && col("exact_title_cnt") === 1)
    // materialize the per-track result; the scope then frees the
    // pair/candidate blocks (same discipline as Dedup)
    summary
      .withColumn("confidence_tier", tier)
      .withColumn("should_apply",
        (col("confidence_tier").isin("A", "B") &&
          col("best_score") >= 80 && margin >= 20 &&
          !routeBlock && !guardrailBlock).cast("int"))
      .select(col("__tid").as(trackId),
        col("work_id").as("best_work_id"),
        col("work_mbid").as("best_work_mbid"),
        col("best_score"), col("runner_up_score"),
        col("candidate_count"), col("exact_title_cnt"),
        col("exact_workid"), col("exact_title"), col("exact_alias"),
        col("person_match"), col("confidence_tier"), col("should_apply"))
      .localCheckpoint(true)
  }
}
