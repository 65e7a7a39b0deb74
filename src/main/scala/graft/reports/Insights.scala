package graft.reports

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exprs, Pins, Tables => T}

/** The analytics-dashboard shape (SURVEY §3.3, ref
  * `scripts/reports/92-library-insights.py`): ONE cached base read
  * feeding many aggregation branches, each emitted as a result table
  * (rendering is out of engine scope). The cache means the scan + derive
  * cost is paid once however many KPI branches hang off it.
  */
object Insights {

  /** Base fact frame: orders enriched with derived columns, cached. */
  def base(spark: SparkSession, dir: String): DataFrame =
    T.orders(spark, dir)
      .withColumn("tp_cents", Exprs.cents(col("o_totalprice")))
      .withColumn("yr", year(col("o_orderdate").cast("date")))
      .cache()

  /** Headline KPIs — scalar aggregates in one pass. */
  def kpis(b: DataFrame): DataFrame =
    b.agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_customers"),
      sum(col("tp_cents")).as("revenue_cents"),
      (sum(col("tp_cents")).cast("double") / count(lit(1)))
        .as("avg_order_cents"),
      min(col("yr")).as("first_yr"), max(col("yr")).as("last_yr"))

  /** Yearly trend branch. */
  def yearlyTrends(b: DataFrame): DataFrame =
    b.groupBy("yr")
      .agg(count(lit(1)).as("n"), sum(col("tp_cents")).as("revenue_cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("yr")

  /** Priority-mix branch (share-of-total via a window denominator). */
  def priorityMix(b: DataFrame): DataFrame = {
    val counts = b.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    counts
      .withColumn("share",
        col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
      .orderBy("o_orderpriority")
  }

  /** Decade-trend branch (ref 92-...py:1682-1792): per decade, volume,
    * revenue, and the exact median order value (integer-cents input ⇒
    * the interpolated median is exact in double). */
  def decadeTrends(b: DataFrame): DataFrame =
    b.groupBy((col("yr") - pmod(col("yr"), lit(10))).as("decade"))
      .agg(count(lit(1)).as("n"),
        sum(col("tp_cents")).as("revenue_cents"),
        expr("percentile(tp_cents, 0.5)").as("med_cents"))
      .orderBy("decade")

  /** Modal order year per customer (the album-year-mode shape, ref
    * 92-...py:176-199) — count per (group, value), rank by count with
    * a deterministic value tie-break, keep rank 1. */
  def yearMode(b: DataFrame): DataFrame = {
    val counts = b.groupBy("o_custkey", "yr").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("n").desc, col("yr"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("yr").as("mode_yr"), col("n"))
      .orderBy("o_custkey")
  }

  /** Acquisition-timeline branch (ref 92-...py:825-850): first-order
    * date per customer → cohort year/decade, then new-customer counts
    * per cohort year. Two keyed shuffles (customer, then year), both
    * on aggregated rows. */
  def acquisitionTimeline(b: DataFrame): DataFrame =
    b.groupBy("o_custkey")
      .agg(min(col("o_orderdate").cast("date")).as("first_dt"))
      .select(year(col("first_dt")).as("acq_yr"))
      .groupBy("acq_yr").agg(count(lit(1)).as("n_customers"))
      .withColumn("acq_decade",
        col("acq_yr") - pmod(col("acq_yr"), lit(10)))
      .select("acq_yr", "acq_decade", "n_customers")
      .orderBy("acq_yr")

  /** Persona-scoring branch (ref 92-...py:497-600): corpus-level
    * share signals — the fraction of tracks whose genre/style token
    * list hits a persona vocabulary, and the mean non-empty share of
    * persona-typical role columns — max-combined per persona, then
    * argmax with the reference's 0.22 threshold (below it → "mixed").
    * Ties prefer the reference's dict order (classical, jazz,
    * electronic, rock_pop). ONE aggregation pass over the tracks: all
    * shares are map-side-combinable boolean means. */
  def personaScores(tracks: DataFrame,
                    classicalRoles: Seq[String],
                    electronicRoles: Seq[String]): DataFrame = {
    import graft.core.MultiValue
    def lowToks(c: String): Column =
      transform(MultiValue.tokens(coalesce(col(c), lit(""))),
        t => lower(t))
    def anyTok(c: String, ts: Seq[String]): Column =
      avg(arrays_overlap(lowToks(c), lit(ts.toArray)).cast("int"))
    def nonEmpty(c: String): Column =
      avg((col(c).isNotNull && col(c) =!= "").cast("int"))
    val classicalT = Seq("classical", "baroque", "romantic", "opera",
      "symphony", "chamber")
    val jazzT = Seq("jazz", "bebop", "hard bop", "swing", "fusion")
    val elecT = Seq("electronic", "electronica", "ambient", "techno",
      "house", "trance", "idm", "dnb")
    val rockT = Seq("rock", "pop", "indie", "alternative", "metal",
      "punk", "grunge", "folk")
    def roleMean(roles: Seq[String]): Column =
      roles.map(nonEmpty).reduce(_ + _) / roles.size
    val agg = tracks.agg(
      anyTok("genre", classicalT).as("g_cls"),
      anyTok("style", classicalT).as("s_cls"),
      anyTok("genre", jazzT).as("g_jazz"),
      anyTok("style", jazzT).as("s_jazz"),
      anyTok("genre", elecT).as("g_elec"),
      anyTok("style", elecT).as("s_elec"),
      anyTok("genre", rockT).as("g_rock"),
      anyTok("style", rockT).as("s_rock"),
      roleMean(classicalRoles).as("role_cls"),
      roleMean(electronicRoles).as("role_elec"))
    val scoresDf = agg.select(
      greatest(col("g_cls"), col("s_cls"), col("role_cls")).as("classical"),
      greatest(col("g_jazz"), col("s_jazz")).as("jazz"),
      greatest(col("g_elec"), col("s_elec"), col("role_elec"))
        .as("electronic"),
      greatest(col("g_rock"), col("s_rock")).as("rock_pop"))
    scoresDf.withColumn("persona",
      when(greatest(col("classical"), col("jazz"), col("electronic"),
        col("rock_pop")) < 0.22, "mixed")
        .when(col("classical") >= col("jazz") &&
          col("classical") >= col("electronic") &&
          col("classical") >= col("rock_pop"), "classical")
        .when(col("jazz") >= col("electronic") &&
          col("jazz") >= col("rock_pop"), "jazz")
        .when(col("electronic") >= col("rock_pop"), "electronic")
        .otherwise("rock_pop"))
  }

  /** Per-album ReplayGain quality/dynamics rollup (ref
    * 92-...py:1289-1304): median album gain, max album peak, non-null
    * counts, and the p90−p10 spread of track gain (the "dynamics
    * compression" signal). One hash aggregation on the album root.
    *
    * Oracle parity: the quantiles interpolate (`percentile` here,
    * `quantile_cont` in DuckDB — both linear `lower + (hi-lo)·frac`),
    * so every value is rounded to 6 dp on BOTH sides; with the
    * fixture's decimal-grid gains the true quantiles are multiples of
    * 0.01, far from any .5e-6 rounding boundary, so ulp-level
    * interpolation drift cannot flip the hash (the a8/d29 recipe). */
  def qualityQuantiles(tracks: DataFrame): DataFrame =
    tracks.filter(col("album_root").isNotNull)
      .groupBy("album_root")
      .agg(
        round(expr("percentile(rg_album_gain_db, 0.5)"), 6)
          .as("rg_album_gain_db"),
        max(col("rg_album_peak")).as("rg_album_peak"),
        count(col("rg_album_gain_db")).cast("int").as("rg_album_gain_n"),
        count(col("rg_album_peak")).cast("int").as("rg_album_peak_n"),
        round(expr("percentile(rg_track_gain_db, 0.9)")
          - expr("percentile(rg_track_gain_db, 0.1)"), 6)
          .as("rg_track_gain_p90_p10_db"))
      .orderBy("album_root")

  /** Top-N role tokens by distinct-album count (ref 92-...py:1883-2715
    * — the producers/labels/engineers horizontal-bar family; each
    * chart is `distinct (album, token) → count per token → head(N)`).
    * All requested role columns ride ONE result table with a `role`
    * discriminator.
    *
    * Scale shape: explode + distinct is one shuffle of (album, token)
    * rows, the count another on aggregated rows, and the final head(N)
    * uses the bounded per-group top-k aggregator — k-sized buffers
    * cross the last shuffle, never the full token vocabulary sorted. */
  def topRoles(tracks: DataFrame, roleCols: Seq[String], topN: Int)
      : DataFrame = {
    import graft.core.MultiValue
    val counts = roleCols.map { rc =>
      tracks.filter(col("album_root").isNotNull)
        .select(col("album_root"),
          explode(MultiValue.tokens(coalesce(col(rc), lit("")))).as("tok"))
        .distinct()
        .groupBy("tok").agg(count(lit(1)).as("albums"))
        .select(lit(rc).as("role"), col("tok"), col("albums"))
    }.reduce(_ unionByName _)
    graft.operators.TopK
      .topKPerGroupAs[String](counts, Seq("role"), "albums", "tok", topN)
      .orderBy("role", "rank")
  }

  /** ReplayGain dynamics trend over time (ref 92-...py:1684-1700): per
    * release year, the median album gain, the median PLR-proxy
    * dynamics (peak dBFS − (target −18 LUFS − album gain), ref
    * :1253-1258 — higher = more headroom) and the album count, over a
    * per-album rollup (median gain, max peak, the album's year).
    * Albums without a year, gain, or positive peak drop, like the
    * reference's drop_nulls.
    *
    * Oracle parity: log10 may differ by an ulp between engines, so the
    * per-album PLR is rounded to 6 dp before the median and the medians
    * again after (the interpolated-quantile recipe); the fixture's
    * peaks come from a finite decimal grid, so a green hash at one SF
    * covers every SF. */
  /** Per-album RG rollup + PLR proxy shared by [[rgTrend]] and
    * [[dynamicsExtremes]]: (album_root, gain, peak, yr, plr), albums
    * without a year, gain, or positive peak dropped. */
  private def albumRg(tracks: DataFrame): DataFrame =
    tracks.filter(col("album_root").isNotNull)
      .groupBy("album_root")
      .agg(
        round(expr("percentile(rg_album_gain_db, 0.5)"), 6).as("gain"),
        max(col("rg_album_peak")).as("peak"),
        max(col("album_year")).as("yr"))
      .filter(col("yr").isNotNull && col("gain").isNotNull
        && col("peak") > 0)
      .withColumn("plr",
        round(lit(20.0) * log10(col("peak")) + lit(18.0) + col("gain"), 6))

  def rgTrend(tracks: DataFrame): DataFrame =
    albumRg(tracks).groupBy("yr")
      .agg(round(expr("percentile(gain, 0.5)"), 6).as("gain_med"),
        round(expr("percentile(plr, 0.5)"), 6).as("dyn_med"),
        count(lit(1)).as("albums"))
      .orderBy("yr")

  /** Most / least dynamic albums by PLR proxy (ref 92-...py:1560-1660,
    * the dyn_most / dyn_least horizontal bars): top-N per direction
    * over the per-album rollup. The PLR rides as integer MICROS
    * (exact for 6-dp values) so both directions use the bounded
    * integer top-k aggregator — `least` ranks on the negated score,
    * re-negated on output. */
  def dynamicsExtremes(tracks: DataFrame, topN: Int): DataFrame = {
    import graft.operators.TopK
    val byAlbum = albumRg(tracks)
      .withColumn("plr_micros", round(col("plr") * 1e6).cast("long"))
    def side(name: String, score: Column): DataFrame =
      TopK.topKPerGroupAs[String](
        byAlbum.select(lit(name).as("side"), score.as("s"),
          col("album_root")),
        Seq("side"), "s", "album_root", topN)
    side("most", col("plr_micros"))
      .withColumn("plr_micros", col("s")).drop("s")
      .unionByName(side("least", -col("plr_micros"))
        .withColumn("plr_micros", -col("s")).drop("s"))
      .orderBy("side", "rank")
  }

  /** ReplayGain by genre bucket (ref 92-...py:3129-3208): album-scoped
    * genre flags (any track's genre token hits the bucket vocabulary,
    * per-album max) → one bucket per album by the reference's
    * waterfall (Classical > Jazz > Rock/Pop > Electronic > Other),
    * then per bucket the album count, median gain and median
    * PLR-proxy dynamics, in the reference's pinned bucket order.
    * Vocabulary membership is exact-token (the personaScores
    * simplification of the reference's regex-contains — ref
    * :3134-3141).
    *
    * Two keyed shuffles over album-sized rows (flag rollup, bucket
    * agg); the track scan computes flags map-side. */
  def rgByGenre(tracks: DataFrame): DataFrame = {
    import graft.core.MultiValue
    val lowToks = transform(
      MultiValue.tokens(coalesce(col("genre"), lit(""))), t => lower(t))
    def hit(ts: Seq[String]): Column =
      arrays_overlap(lowToks, lit(ts.toArray))
    val classicalT = Seq("classical", "baroque", "romantic", "opera",
      "symphony", "chamber")
    val jazzT = Seq("jazz", "bebop", "hard bop", "swing", "fusion")
    val rockT = Seq("rock", "pop", "indie", "alternative", "metal",
      "punk", "grunge", "folk")
    val elecT = Seq("electronic", "electronica", "ambient", "techno",
      "house", "trance", "idm", "dnb")
    val buckets = tracks.filter(col("album_root").isNotNull)
      .select(col("album_root"), hit(classicalT).as("c"),
        hit(jazzT).as("j"), hit(rockT).as("r"), hit(elecT).as("e"))
      .groupBy("album_root")
      .agg(max("c").as("c"), max("j").as("j"), max("r").as("r"),
        max("e").as("e"))
      .select(col("album_root"),
        when(col("c"), "Classical").when(col("j"), "Jazz")
          .when(col("r"), "Rock/Pop").when(col("e"), "Electronic")
          .otherwise("Other").as("bucket"))
    albumRg(tracks).join(buckets, Seq("album_root"), "left")
      .withColumn("bucket", coalesce(col("bucket"), lit("Other")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("albums"),
        round(expr("percentile(gain, 0.5)"), 6).as("gain_med"),
        round(expr("percentile(plr, 0.5)"), 6).as("dyn_med"))
      .orderBy(when(col("bucket") === "Classical", 0)
        .when(col("bucket") === "Jazz", 1)
        .when(col("bucket") === "Rock/Pop", 2)
        .when(col("bucket") === "Electronic", 3).otherwise(4))
  }

  /** Artist depth vs breadth (ref 92-...py:1880-1896): per albumartist
    * token, the number of distinct albums and of distinct release
    * years (the reference's scatter axes), top-N artists by album
    * count. Artists whose albums all lack a year fall back to 1 (the
    * reference's `fill_null(1)`).
    *
    * Shape: distinct (album, artist) pairs once; album count and
    * distinct-year count are two aggregations over those pairs; the
    * head(N) rides the bounded top-k aggregator and the (tiny) year
    * profile joins AFTER the cut — N rows, not the artist vocabulary. */
  def artistDepth(tracks: DataFrame, topN: Int): DataFrame = {
    import graft.core.MultiValue
    import graft.operators.TopK
    val pairs = tracks.filter(col("album_root").isNotNull)
      .select(col("album_root"),
        explode(MultiValue.tokens(coalesce(col("albumartist"), lit(""))))
          .as("aa"))
      .distinct()
    val albums = pairs.groupBy("aa").agg(count(lit(1)).as("albums"))
    val years = pairs
      .join(tracks.select(col("album_root"), col("album_year"))
        .filter(col("album_year").isNotNull).distinct(), "album_root")
      .groupBy("aa").agg(countDistinct("album_year").as("dy"))
    val top = TopK.topKPerGroupAs[String](
      albums.select(lit("aa").as("side"), col("aa"), col("albums")),
      Seq("side"), "albums", "aa", topN)
    top.join(years, Seq("aa"), "left")
      .select(col("rank"), col("aa"), col("albums"),
        coalesce(col("dy").cast("int"), lit(1)).as("distinct_years"))
      .orderBy("rank")
  }

  /** Producer ↔ engineer collaboration patterns (ref
    * 92-...py:2471-2560, section 7c): album-level co-occurrence of the
    * two role vocabularies, then each producer's most frequent
    * engineer and each engineer's most frequent producer, top-N rows
    * per direction by shared-album count, labelled `who | partner`
    * like the reference. Ties are pinned (partner asc, then label
    * asc) — the reference's `unique(keep="first")` after a sort not
    * keyed on the partner is unstable; a deterministic engine cannot
    * reproduce instability, so it fixes the order instead.
    *
    * Both rank steps ride the bounded top-k aggregator (k=1 per
    * `who`, then k=N per direction): no window sort touches the
    * (who, partner) count table. */
  def rolePairs(tracks: DataFrame, roleA: String, roleB: String,
                topN: Int): DataFrame = {
    import graft.core.MultiValue
    import graft.operators.TopK
    def sideToks(rc: String, as: String): DataFrame =
      tracks.filter(col("album_root").isNotNull)
        .select(col("album_root"),
          explode(MultiValue.tokens(coalesce(col(rc), lit("")))).as(as))
        .distinct()
    val pairs = sideToks(roleA, "a_tok").join(sideToks(roleB, "b_tok"),
        "album_root")
      .groupBy("a_tok", "b_tok").agg(count(lit(1)).as("albums"))
    def direction(side: String, who: String, partner: String): DataFrame = {
      // top partner per `who`: bounded k=1 buffers, score = albums,
      // partner-asc tie-break via the aggregator's id ordering
      val top1 = TopK.topKPerGroupAs[String](
        pairs.select(col(who).as("who"), col(partner).as("partner"),
          col("albums")),
        Seq("who"), "albums", "partner", 1)
      TopK.topKPerGroupAs[String](
        top1.select(lit(side).as("side"),
          concat(col("who"), lit(" | "), col("partner")).as("label"),
          col("albums")),
        Seq("side"), "albums", "label", topN)
    }
    direction(roleA, "a_tok", "b_tok")
      .unionByName(direction(roleB, "b_tok", "a_tok"))
      .orderBy("side", "rank")
  }

  /** Persona-sliced top roles (ref 92-...py:3379 "Classical — Top
    * composers", :3470 "Classical — Top conductors"): [[topRoles]]
    * restricted to TRACKS whose genre token list hits the bucket
    * vocabulary — track-scoped like the reference's `_tok_any_in`
    * mask over `df_genre_tok`, so a classical track on a mixed album
    * still counts its album once, and non-classical tracks on a
    * classical album contribute nothing. Same scale shape as
    * [[topRoles]]; the genre filter is a map-side scan predicate. */
  def genreTopRoles(tracks: DataFrame, vocab: Seq[String],
                    roleCols: Seq[String], topN: Int): DataFrame = {
    import graft.core.MultiValue
    val lowToks = transform(
      MultiValue.tokens(coalesce(col("genre"), lit(""))), t => lower(t))
    topRoles(tracks.filter(arrays_overlap(lowToks, lit(vocab.toArray))),
      roleCols, topN)
  }

  /** Album-scoped persona top artists (ref 92-...py:3498 "Jazz — Top
    * artists", :3480 classical album artists): an album QUALIFIES when
    * any of its tracks genre-hits the vocabulary, and the artist pairs
    * then come from ALL the album's tracks — the reference joins its
    * global `aa_pairs` against `jazz_roots`/`classical_roots`.
    * Deliberately different scoping from [[genreTopRoles]].
    *
    * Scale shape: the qualifying-roots set is album-cardinality after
    * a distinct (tiny next to tracks) and joins the distinct
    * (album, token) pairs on album_root; the head(N) rides the bounded
    * top-k aggregator. */
  def genreAlbumTopArtists(tracks: DataFrame, vocab: Seq[String],
                           roleCol: String, topN: Int): DataFrame = {
    import graft.core.MultiValue
    import graft.operators.TopK
    val lowToks = transform(
      MultiValue.tokens(coalesce(col("genre"), lit(""))), t => lower(t))
    val roots = tracks.filter(col("album_root").isNotNull
        && arrays_overlap(lowToks, lit(vocab.toArray)))
      .select("album_root").distinct()
    val pairs = tracks.filter(col("album_root").isNotNull)
      .select(col("album_root"),
        explode(MultiValue.tokens(coalesce(col(roleCol), lit(""))))
          .as("tok"))
      .distinct()
    val counts = pairs.join(roots, Seq("album_root"))
      .groupBy("tok").agg(count(lit(1)).as("albums"))
    TopK.topKPerGroupAs[String](
      counts.select(lit(roleCol).as("role"), col("tok"), col("albums")),
      Seq("role"), "albums", "tok", topN)
      .orderBy("rank")
  }

  /** Loudest / quietest albums by median ReplayGain album gain (ref
    * 92-...py "ReplayGain — Loudest albums (most negative album
    * gain)" / "Quietest albums"): top-N per direction over the
    * per-album median, gain carried as integer micros so both
    * directions ride the bounded top-k aggregator (the
    * [[dynamicsExtremes]] shape on gain instead of PLR). Only a
    * non-null gain is required — the reference's brick chart drops
    * nulls on gain alone, unlike the PLR rollup's year/peak filters. */
  def gainExtremes(tracks: DataFrame, topN: Int): DataFrame = {
    import graft.operators.TopK
    val byAlbum = tracks.filter(col("album_root").isNotNull)
      .groupBy("album_root")
      .agg(round(expr("percentile(rg_album_gain_db, 0.5)"), 6).as("gain"))
      .filter(col("gain").isNotNull)
      .withColumn("gain_micros", round(col("gain") * 1e6).cast("long"))
    def side(name: String, score: Column): DataFrame =
      TopK.topKPerGroupAs[String](
        byAlbum.select(lit(name).as("side"), score.as("s"),
          col("album_root")),
        Seq("side"), "s", "album_root", topN)
    // loudest = most NEGATIVE gain first: rank on the negated micros
    side("loudest", -col("gain_micros"))
      .withColumn("gain_micros", -col("s")).drop("s")
      .unionByName(side("quietest", col("gain_micros"))
        .withColumn("gain_micros", col("s")).drop("s"))
      .orderBy("side", "rank")
  }

  /** Top compositions by performer diversity (ref 92-...py:2874-2990
    * `_most_instances_card`, rendered per genre bucket at :3388-3420):
    * group by (composer key, title key) — composer key = sorted
    * lowercase composer tokens joined " / ", title key = lowercase
    * whitespace-collapsed trim — then rank by distinct performing
    * artist tokens (tracks count as tie-break). Rows without a title,
    * composer, or any artist token drop, like the reference's
    * filters. The reference's display-value mode joins are
    * presentation; the engine emits the normalized keys.
    *
    * Scale shape: two aggregations over (composition) keys — tracks
    * count map-side-combines; distinct artists is one count-distinct
    * shuffle — and the head(N) is an orderBy+limit, which Spark plans
    * as TakeOrdered (per-partition k-heaps, no global sort). */
  def mostInstances(tracks: DataFrame, vocab: Seq[String],
                    topN: Int): DataFrame = {
    import graft.core.MultiValue
    val lowGenre = transform(
      MultiValue.tokens(coalesce(col("genre"), lit(""))), t => lower(t))
    val base = tracks.filter(arrays_overlap(lowGenre, lit(vocab.toArray)))
      .select(
        lower(trim(regexp_replace(col("title"), "\\s+", " ")))
          .as("title_key"),
        array_join(array_sort(transform(
          MultiValue.tokens(coalesce(col("composer"), lit(""))),
          t => lower(t))), " / ").as("composer_key"),
        MultiValue.tokens(coalesce(col("artist"), lit("")))
          .as("artist_toks"))
      .filter(col("title_key").isNotNull && col("title_key") =!= ""
        && col("composer_key") =!= "" && size(col("artist_toks")) > 0)
    val trackCounts = base.groupBy("composer_key", "title_key")
      .agg(count(lit(1)).as("tracks"))
    val artistCounts = base
      .select(col("composer_key"), col("title_key"),
        explode(col("artist_toks")).as("artist"))
      .groupBy("composer_key", "title_key")
      .agg(countDistinct("artist").as("distinct_artists"))
    trackCounts.join(artistCounts, Seq("composer_key", "title_key"))
      .orderBy(col("distinct_artists").desc, col("tracks").desc,
        col("composer_key"), col("title_key"))
      .limit(topN)
  }

  /** Lossless/lossy format breakdown (ref 92-...py:1126-1245): within
    * each codec class the reference renders a (filetype, channels,
    * depth-or-rate, frequency) histogram with each combo's share of
    * the class total — lossless keyed on bits-per-sample, lossy on
    * bitrate. One result table with a `codec_class` discriminator;
    * the class's unused key column is NULL (mirroring the two
    * separate reference tables), unknown-class rows are excluded (the
    * reference renders only the two tables), and null/blank filetypes
    * display as "(Unknown)" (ref :1177).
    *
    * The share denominator is a class-partitioned window over
    * aggregated (combo, count) rows — no second scan; null sort keys
    * sink via the reference's fill(9999) coalesce so both engines
    * agree without null-ordering settings. Input must carry the
    * classified columns (`quality`, `bps`) plus `filetype`, `ch`,
    * `br`, `freq_khz`. */
  def formatBreakdown(tracks: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("codec_class")
    tracks.filter(col("quality").isin("lossless", "lossy"))
      .select(
        when(col("quality") === "lossless", "Lossless")
          .otherwise("Lossy").as("codec_class"),
        when(col("filetype").isNull || trim(col("filetype")) === "",
          "(Unknown)").otherwise(trim(col("filetype"))).as("filetype"),
        col("ch"),
        when(col("quality") === "lossless", col("bps")).as("bps"),
        when(col("quality") === "lossy", col("br")).as("br"),
        col("freq_khz"))
      .groupBy("codec_class", "filetype", "ch", "bps", "br", "freq_khz")
      .agg(count(lit(1)).as("tracks"))
      .withColumn("pct",
        round(col("tracks").cast("double") * 100
          / sum(col("tracks")).over(w), 6))
      .orderBy(col("codec_class"), col("filetype"),
        coalesce(col("ch"), lit(9999)),
        coalesce(col("bps"), lit(9999L)),
        coalesce(col("br"), lit(9999999)),
        coalesce(col("freq_khz"), lit(9999.0)))
  }

  /** Report 94 (ref `scripts/reports/94-report-missing-critical-tags-
    * by-album.py`): exception-only wide report — one row per album
    * (album-root of `dirCol`, disc subfolders collapsed) that has at
    * least one track missing a critical field. A field is missing when
    * NULL or blank after trim; each critical column carries the
    * album's missing-track count, 0 → NULL for readability; on
    * compilation albums `albumartist` is not required (zeroed before
    * the any-missing filter, ref :199-209).
    *
    * One hash aggregation on the album root — the per-column sums are
    * map-side partial, so at 100 TB this is a single shuffle of
    * album-count rows, not tracks. */
  def missingCriticalTags(tracks: DataFrame, dirCol: String,
                          criticalCols: Seq[String],
                          compilationCol: Option[String] = None)
      : DataFrame = {
    def missing(c: String): Column = {
      val s = trim(col(c))
      s.isNull || (s === "")
    }
    val aggs =
      count(lit(1)).as("total_tracks") +:
      criticalCols.map(c =>
        sum(missing(c).cast("int")).cast("int").as(c)) ++:
      compilationCol.map(c =>
        max(col(c).cast("int")).as("__is_comp")).toSeq
    val grouped = tracks
      .groupBy(graft.core.Exprs.albumRoot(col(dirCol)).as("album_dirpath"))
      .agg(aggs.head, aggs.tail: _*)
    val compAdj = compilationCol match {
      case Some(_) if criticalCols.contains("albumartist") =>
        grouped.withColumn("albumartist",
          when(col("__is_comp") === 1, lit(0))
            .otherwise(col("albumartist")))
      case _ => grouped
    }
    val anyMissing = criticalCols.map(c => col(c) > 0).reduce(_ || _)
    compAdj
      .filter(anyMissing)
      .select(
        Seq(col("album_dirpath"),
          regexp_replace(regexp_replace(col("album_dirpath"), "/\\z", ""),
            "^.*/", "").as("album_dirname"),
          col("total_tracks")) ++
        criticalCols.map(c =>
          when(col(c) === 0, lit(null)).otherwise(col(c)).as(c)): _*)
      .orderBy("album_dirpath")
  }

  /** VA / compilation classification (ref 92-...py:852-895): per album
    * root, `album_is_va` = any albumartist TOKEN (tagminder `\\`
    * delimiter) whose lowercased trim is in the reference's VA set
    * {"various artists", "various", "va"}, `album_is_compilation` =
    * the album-level max of the track compilation flag, and the
    * combined `album_is_va_or_comp` — the classification the dashboard
    * joins onto every album-scoped card. Albums with no albumartist at
    * all classify 0 (the reference's fill_null(0)).
    *
    * One hash aggregation on the album root; the token scan is
    * map-side (arrays_overlap over the in-row token list — no
    * explode), so at 100 TB this shuffles album-count rows only. */
  def vaClassification(tracks: DataFrame, albumCol: String,
                       aaCol: String, compCol: String): DataFrame = {
    import graft.core.MultiValue
    val vaSet = Array("various artists", "various", "va")
    val lowToks = transform(
      MultiValue.tokens(coalesce(col(aaCol), lit(""))), t => lower(t))
    tracks
      .groupBy(col(albumCol))
      .agg(
        max(arrays_overlap(lowToks, lit(vaSet)).cast("int"))
          .as("album_is_va"),
        max(col(compCol).cast("int")).as("album_is_compilation"))
      .withColumn("album_is_va_or_comp",
        ((col("album_is_va") === 1) || (col("album_is_compilation") === 1))
          .cast("int"))
      .orderBy(albumCol)
  }

  /** Library-level KPI tiles (ref 92-...py:897-921): track count,
    * album count, distinct albumartist TOKENS across multi-value
    * cells, total listening seconds, total storage bytes, and distinct
    * non-null filetypes — the header row of the dashboard. Formatting
    * (hours / GB strings) is rendering, out of engine scope; distinct
    * counts ignore nulls (Spark and DuckDB agree; the reference's
    * n_unique counted null as a value, a rendering nicety).
    *
    * Two aggregations — the scalar pass is fully map-side-combinable;
    * the albumartist token distinct needs its own explode-then-count
    * (a distinct over tokens, not rows). Both reduce to ONE row, so
    * the join of the two halves is a one-row cross join — nothing
    * resembling data scale moves. */
  def libraryKpis(tracks: DataFrame, albumCol: String, aaCol: String,
                  durCol: String, sizeCol: String,
                  ftCol: String): DataFrame = {
    import graft.core.MultiValue
    val scalars = tracks.agg(
      count(lit(1)).as("n_tracks"),
      countDistinct(col(albumCol)).as("n_albums"),
      sum(col(durCol).cast("double")).as("listening_s"),
      sum(col(sizeCol)).cast("long").as("storage_bytes"),
      countDistinct(col(ftCol)).as("n_filetypes"))
    val aa = tracks
      .select(explode(MultiValue.tokens(coalesce(col(aaCol), lit(""))))
        .as("tok"))
      .agg(countDistinct(col("tok")).as("n_albumartists"))
    scalars.crossJoin(aa)
      .select("n_tracks", "n_albums", "n_albumartists", "listening_s",
        "storage_bytes", "n_filetypes")
  }

  /** The Library-Health radar axes (ref 92-report-library-health.py
    * "Policy / Definitions"): per critical field, track-level
    * non-compliance (missing tracks / total tracks, with the
    * albumartist denominator excluding compilation rows and its
    * numerator comp-zeroed like step 94's table) and album-level
    * impact (albums with ≥ 1 missing / all distinct album roots,
    * disc-subfolder rollup via [[graft.core.Exprs.albumRoot]]).
    *
    * One per-album rollup (the step-94 shape) plus three scalar
    * counts; the handful of per-field output rows assemble on the
    * driver — config-table-sized by construction, like the
    * [[graft.operators.Clustering]] centroids.
    *
    * @return (field, track_missing, track_denom, track_pct,
    *         albums_impacted, album_denom, album_pct), pcts at 6 dp. */
  def healthRadar(tracks: DataFrame, dirCol: String,
                  criticalCols: Seq[String],
                  compilationCol: Option[String] = None)
      : DataFrame = Pins.scope { p =>
    val spark = tracks.sparkSession
    import spark.implicits._
    def missing(c: String): Column = {
      val s = trim(col(c))
      (s.isNull || (s === "")).cast("int")
    }
    val comp = compilationCol.map(col(_).cast("int")).getOrElse(lit(0))
    val aggs = count(lit(1)).as("__n") +:
      criticalCols.map(c => sum(missing(c)).as(c)) :+ max(comp).as("__c")
    val byAlbum = p(tracks
      .groupBy(Exprs.albumRoot(col(dirCol)).as("__root"))
      .agg(aggs.head, aggs.tail: _*))
    val albumDenom = byAlbum.count()
    val totalTracks = tracks.count()
    val nonCompTracks = compilationCol
      .map(c => tracks.filter(col(c).cast("int") === 0).count())
      .getOrElse(totalTracks)
    def adj(c: String): Column =
      if (compilationCol.isDefined && c == "albumartist")
        when(col("__c") === 1, lit(0)).otherwise(col(c))
      else col(c)
    val sums = byAlbum.agg(
      criticalCols.map(c => struct(
        sum(adj(c)).cast("long").as("miss"),
        sum((adj(c) > 0).cast("int")).cast("long").as("alb")).as(c))
        .head,
      criticalCols.map(c => struct(
        sum(adj(c)).cast("long").as("miss"),
        sum((adj(c) > 0).cast("int")).cast("long").as("alb")).as(c))
        .tail: _*).head()
    // positive-half-up at 6 dp — the ROUND rule both engines share
    def pct(num: Long, den: Long): Double =
      if (den == 0) 0.0
      else math.floor(100.0 * num / den * 1e6 + 0.5) / 1e6
    val rows = criticalCols.zipWithIndex.map { case (c, i) =>
      val st = sums.getStruct(i)
      val miss = st.getLong(0); val alb = st.getLong(1)
      val denom =
        if (compilationCol.isDefined && c == "albumartist") nonCompTracks
        else totalTracks
      (c, miss, denom, pct(miss, denom), alb, albumDenom,
        pct(alb, albumDenom))
    }
    rows.toDF("field", "track_missing", "track_denom", "track_pct",
      "albums_impacted", "album_denom", "album_pct")
  }
}
