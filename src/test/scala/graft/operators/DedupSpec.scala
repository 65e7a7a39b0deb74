package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Pins

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
    (3L, "completely different words appear in this other document here"),
    (4L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
    (5L, "short text"))
    .toDF("doc_id", "text")

  test("exactDedup groups identical fingerprints, keeper = min id") {
    val r = Dedup.exactDedup(docs, "doc_id", "text").collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r(1L) == 2L) // keeper 1 has 2 copies (1 and 4)
    assert(r.values.sum == 5L)
  }

  test("fingerprint is whitespace-insensitive") {
    val a = Seq("a  b", "a b", " a b ").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).collect()
      .map(_.getString(0)).distinct
    assert(a.length == 1)
  }

  test("jaccardPairs finds the near-dup with the correct exact score") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, theta = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 1/2 and 1/4 and 2/4 share shingles; 3 and 5 match nothing
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L)) && pairs.find(p => p._1 == 1 && p._2 == 4)
      .get._3 == 1.0) // exact duplicates → jaccard 1
    assert(keys.contains((1L, 2L)))
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    // manual check 1 vs 2: 8 word-3-shingles each, 7 shared → 7/9
    val j12 = pairs.find(p => p._1 == 1 && p._2 == 2).get._3
    assert(math.abs(j12 - 7.0 / 9.0) < 1e-6)
  }

  test("nearDupSurvivors keeps one canonical doc per near-dup cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "a totally unrelated piece of text goes right here"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupSurvivors(docs, "doc_id", "text", k = 3,
        theta = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L)) // 2 deduped against keeper 1
  }

  test("prefixJaccardPairs == jaccardPairs across thresholds (lossless)") {
    for (theta <- Seq(0.3, 0.5, 0.7, 1.0)) {
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"mismatch at theta=$theta")
    }
  }

  test("prefixJaccardPairs survives the 0.3×10 float-ceiling boundary") {
    // Ten 12-shingle docs sharing exactly their rare tail: θ·n = 0.3×10
    // computes as 3.0000000000000004 in doubles; an overshot ceiling
    // would shorten every prefix by one and can drop boundary pairs.
    // Doc pairs here share 5 of 10 word-3-shingles → J = 5/15 ≈ 0.333.
    val a = "alpha beta gamma delta epsilon zeta eta ones twos three fours fives"
    val b = "alpha beta gamma delta epsilon zeta eta seven eight nines tens elevens"
    val two = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val full = Dedup.jaccardPairs(two, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.prefixJaccardPairs(two, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "fixture must produce a boundary pair")
    assert(pref == full)
  }

  test("prefixCrossJaccard and a prefixCrossIndex probe survive the " +
    "0.3×10 float-ceiling boundary") {
    // the CROSS path's prefixes, ranked by the existing side's df, at
    // the boundary of the self-join test above: 10-shingle docs,
    // θ·n = 0.3×10 = 3.0000000000000004 in doubles, J = 5/15 ≈ 0.333
    val a = "alpha beta gamma delta epsilon zeta eta ones twos three fours fives"
    val b = "alpha beta gamma delta epsilon zeta eta seven eight nines tens elevens"
    val ex = Seq((1L, a)).toDF("doc_id", "text")
    val in = Seq((2L, b)).toDF("doc_id", "text")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = rows(Dedup.crossDedupNear(in, ex, "doc_id", "text", 3, 0.3))
    assert(full.nonEmpty, "fixture must produce a boundary pair")
    assert(rows(Dedup.prefixCrossJaccard(in, ex, "doc_id", "text", 3, 0.3))
      == full)
    Pins.scope { p =>
      val idx = Dedup.prefixCrossIndex(ex, "doc_id", "text", 3, 0.3)
      idx.frames.foreach(p.own)
      assert(rows(Dedup.prefixCrossJaccardAgainst(in, idx, "doc_id",
        "text")) == full)
    }
  }

  test("prefixCrossJaccard == crossDedupNear across thresholds (lossless)") {
    val in = docs.filter(col("doc_id") % 2 === 0)
    val ex = docs.filter(col("doc_id") % 2 =!= 0)
    for (theta <- Seq(0.3, 0.5, 0.8)) {
      val full = Dedup.crossDedupNear(in, ex, "doc_id", "text", 3, theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.prefixCrossJaccard(in, ex, "doc_id", "text", 3, theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"mismatch at theta=$theta")
    }
  }

  test("prefixCrossJaccard: novel incoming shingles rank into the prefix") {
    // incoming doc shares its RARE tail with an existing doc while its
    // other shingles are corpus-novel (df 0); the pair must surface
    // even though the shared shingles are rare on the existing side
    val ex = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "common words repeated across the existing corpus here"),
      (5L, "common words repeated across the existing corpus there"))
      .toDF("doc_id", "text")
    val in = Seq((2L, "alpha beta gamma delta epsilon eta"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixCrossJaccard(in, ex, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((2L, 1L)))
  }

  test("prefix candidate volume collapses vs full blocking on hot shingles") {
    import graft.functions.NativeExpressions
    // 40 docs all sharing one boilerplate sentence (a hot shingle block)
    // plus a unique tail — the full inverted index pairs all 40 choose 2
    // through the boilerplate; rarest-first prefixes exclude the hot
    // shingles from every prefix, so only true candidates remain.
    val corpus = (1L to 40L).map(i =>
      (i, s"all rights reserved by the site owner unique$i tail$i words$i here$i"))
      .toDF("doc_id", "text")
    val sh = corpus.select(col("doc_id").as("id"),
      NativeExpressions.hashedShingles(col("text"), 3).as("hs"))
    val prefCand = Dedup.prefixCandidates(sh, 0.7).count()
    // full blocking: every pair sharing ≥1 shingle
    val post = sh.select(col("id"), explode(col("hs")).as("s"))
    val fullCand = post.as("a")
      .join(post.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
    assert(fullCand == 40L * 39 / 2, "boilerplate links every doc pair")
    assert(prefCand == 0L,
      s"no pair reaches θ=0.7, so prefixes should generate nothing, got $prefCand")
  }

  test("minHashLshPairs agrees with exact jaccard at high threshold") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("bucketCap bounds clone-group candidates at O(clones·B), keeps the group connected") {
    // 100-way exact clone group: every doc lands in the same (band, bh)
    // bucket in all 64 bands, the uncapped worst case (4950 pairs).
    val clones = (1L to 100L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashLshPairs(clones, "doc_id", "text",
      k = 3, theta = 0.7, bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // O(clones·B): at most bands × C(B,2) distinct pairs survive the
    // per-band 8-subsets — far below the quadratic 4950.
    assert(capped.length <= 64 * 8 * 7 / 2)
    assert(capped.length < 4950)
    assert(capped.nonEmpty)
    // connectivity: the union of the per-band cliques keeps (nearly all
    // of) the clone group in ONE component — what d11/d12 need. The
    // per-band sample is a fixed hash, so this is deterministic.
    val parent = scala.collection.mutable.Map((1L to 100L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    capped.foreach { case (a, b) => parent(find(a)) = find(b) }
    val biggest = (1L to 100L).groupBy(find).values.map(_.size).max
    assert(biggest >= 90)
  }

  test("bucketCap leaves under-cap buckets exact (default cap, 10-way clones)") {
    val clones = (1L to 10L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(clones, "doc_id", "text",
      k = 3, theta = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 ≤ 64 → no bucket exceeds the default cap → all 45 pairs, jac 1
    assert(pairs == (for (a <- 1L to 10L; b <- (a + 1) to 10L) yield (a, b)).toSet)
  }

  test("capped == uncapped whenever no bucket exceeds the cap (mixed corpus)") {
    // clone groups of ≤6 plus near-dups plus singletons: every
    // (band, bh) bucket stays under 64, so the capped result must be
    // IDENTICAL to the uncapped one — pairs and scores both
    val base = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "pack my box with five dozen liquor jugs right now",
      "how vexingly quick daft zebras jump over fences")
    val corpus = (0 until 60).map { i =>
      val b = base(i % 3)
      val text = if (i % 5 == 0) b + " extra" else b
      (i.toLong, text)
    }.toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minHashLshPairs(corpus, "doc_id", "text",
      k = 3, theta = 0.7, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(64) == run(0))
  }

  test("dfCap drops stop-shingle postings") {
    // shingle shared by all docs gets dropped at cap 2 → no pairs via it
    val stop = Seq((1L, "x y z"), (2L, "x y z"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(stop, "doc_id", "text", 3, 0.1, dfCap = 2)
    assert(capped.count() == 0)
    val uncapped = Dedup.jaccardPairs(stop, "doc_id", "text", 3, 0.1)
    assert(uncapped.count() == 3)
  }

  test("simHash: identical texts equal; near-dups closer than strangers") {
    val h = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
  }

  test("crossDedupNear: only cross-side pairs, correct exact scores") {
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of existing 1
      (11L, "nothing like anything in the existing corpus at all"))
      .toDF("doc_id", "text")
    val out = Dedup.crossDedupNear(incoming, docs, "doc_id", "text",
      k = 5, theta = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 10 == existing 2 exactly (jac 1.0) and near-matches 1 and its
    // exact dup 4; 11 matches nothing; the existing near-pair (1,2)
    // itself must NOT appear (no self-join)
    assert(out.map(t => (t._1, t._2)).toSet ==
      Set((10L, 1L), (10L, 2L), (10L, 4L)))
    val byEx = out.map(t => t._2 -> t._3).toMap
    assert(byEx(2L) == 1.0)
    // 10-vs-1 is the same one-word edit as the in-corpus pair (1,2)
    val ref = Dedup.jaccardPairs(docs, "doc_id", "text", 5, 0.3)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect().head.getDouble(2)
    assert(byEx(1L) == ref && byEx(4L) == ref)
  }

  test("crossDedup: unseen fingerprints survive, min-id keeper within incoming") {
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // seen in existing
      (11L, "a brand new document"),
      (12L, "a  brand   new document"), // same fp as 11 after ws norm
      (13L, "another unseen one"))
      .toDF("doc_id", "text")
    val existing = docs // holds the fingerprint of id 10's text
    val out = Dedup.crossDedup(incoming, existing, "doc_id", "text")
      .collect().map(r => r.getLong(0)).sorted
    assert(out.sameElements(Array(11L, 13L))) // 10 seen; 12 loses to 11
  }

  // Two well-separated direction groups; init = vectors of ids 1 and 2,
  // so cluster A collects the e1-axis family and B the e3-axis family.
  private val semVecs = Seq(
    (1L, Array(1f, 0f, 0f, 0f)),           // A: cos(1,3)≈0.990, cos(1,5)≈0.902
    (2L, Array(0f, 0f, 1f, 0f)),           // B: cos(2,4)≈0.995
    (3L, Array(0.99f, 0.14f, 0f, 0f)),     // A
    (4L, Array(0f, 0f, 0.99f, 0.1f)),      // B
    (5L, Array(0.9f, 0.43f, 0f, 0f)))      // A: cos(3,5)≈0.954
    .toDF("vec_id", "embedding")

  test("semDedup keeps the far-from-centroid member of each similar group") {
    val out = Dedup.semDedup(semVecs, "vec_id", "embedding",
        k = 2, iters = 2, theta = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 5)
    // cluster A ranks ascending centroid-sim: 5, 1, 3. Greedy: 5 kept;
    // 1 kept (cos(5,1)≈0.902 < θ); 3 removed (cos(5,3)≈0.954 ≥ θ) —
    // by a better-ranked vector, NOT by its closest neighbor (1).
    // Cluster B: 4 ranks before 2 (farther from centroid), 2 removed.
    assert(out == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> true, 5L -> true))
  }

  test("duplicateSpans merges contiguous repeated 8-gram runs per doc") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),            // gram [1,8] repeats (docs 2, 5)
      (2L, "x a b c d e f g h y"),            // the shared gram sits at s=2
      (3L, "p q r s t u v w"),                // exactly 8 words, unique gram
      (4L, "m n o p q r s t m n o p q r s t"),// self-repeat: [1,8] + [9,16]
      (5L, "a b c d e f g h 1 2 a b c d e f g h")) // two NON-adjacent hits
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", w = 8)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1L, 1, 8, 8),
      (2L, 2, 9, 8),
      // doc 4: spans [1,8] and [9,16] are contiguous (9 = 8+1) → one
      // merged span; only s=1 and s=9 grams repeat (period-8 text)
      (4L, 1, 16, 16),
      // doc 5: 11 > 8+1 → the two hits stay separate spans
      (5L, 1, 8, 8), (5L, 11, 18, 8)))
  }

  test("crossDupSpans matches only against the EXISTING corpus") {
    val existing = Seq((100L, "e1 e2 e3 e4 e5 e6 e7 e8 e9"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "x e2 e3 e4 e5 e6 e7 e8 e9 y"), // existing gram at s=2
      (2L, "i1 i2 i3 i4 i5 i6 i7 i8"),     // repeats within incoming...
      (3L, "i1 i2 i3 i4 i5 i6 i7 i8"))     // ...but absent from existing
      .toDF("doc_id", "text")
    val out = Dedup.crossDupSpans(incoming, existing, "doc_id", "text")
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // incoming self-duplication (docs 2/3) must NOT produce spans —
    // only overlap with the existing side counts
    assert(out.toSeq == Seq((1L, 2, 9, 8)))
  }

  test("cutSpans removes span ranges and whitespace-normalizes the rest") {
    val docs = Seq(
      (1L, "a b  c"),             // double space: normalization visible
      (2L, "p q r s t"),
      (3L, "x y z"))
      .toDF("doc_id", "text")
    val spans = Seq(
      (1L, 2, 2, 1),              // cut "b" -> "a c"
      (2L, 1, 2, 2), (2L, 4, 5, 2)) // cut "p q" and "s t" -> "r"
      .toDF("doc_id", "span_start", "span_end", "span_tokens")
    val out = Dedup.cutSpans(docs, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // doc 3 has no spans but still normalizes (single-space rejoin)
    assert(out.toSeq == Seq(1L -> "a c", 2L -> "r", 3L -> "x y z"))
  }

  test("cutSpans on a fully-covered doc yields the empty string") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val spans = Seq((1L, 1, 3, 3))
      .toDF("doc_id", "span_start", "span_end", "span_tokens")
    val out = Dedup.cutSpans(docs, "doc_id", "text", spans).collect()
    assert(out.length == 1 && out.head.getString(1) == "")
  }

  test("decontaminateSpans marks bench-overlapping ranges, merged") {
    val corpus = Seq(
      (1L, "q w e r t y u i o p"),
      (2L, "z z z z z q w e r t y u i o p"),
      (3L, "n o t h i n g h e r e"))
      .toDF("doc_id", "text")
    // bench gram set = {"w e r t y u i o", "e r t y u i o x"} (the
    // 9-worder contributes both of its windows)
    val bench = Seq("w e r t y u i o x", "w e r t y u i o")
      .toDF("btext")
    val out = Dedup.decontaminateSpans(corpus, "doc_id", "text",
        bench, "btext")
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1: only its s=2 window "w e r t y u i o" is a bench gram →
    // span [2,9]. doc 2: the same window sits at s=7 → [7,14]; its
    // s=8 window "e r t y u i o p" is NOT in the bench. doc 3: none.
    assert(out.toSeq == Seq((1L, 2, 9, 8), (2L, 7, 14, 8)))
  }

  test("semDedup clusterCap bounds the probe prefix; inactive cap is exact") {
    // single cluster (k=1); ascending centroid-sim rank: 1, 2, 3.
    // id 3's ONLY θ-neighbor is rank-2 (id 2): cos(2,3)≈0.998, while
    // cos(1,2)≈0.707 and cos(1,3)≈0.751 are far below θ.
    val one = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.71f, 0.71f, 0f, 0f)),
      (3L, Array(0.75f, 0.66f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    def kept(cap: Int) = Dedup.semDedup(one, "vec_id", "embedding",
        k = 1, iters = 2, theta = 0.95, clusterCap = cap)
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    assert(kept(4096) == Set(1L, 2L)) // exact greedy: 3 removed by 2
    // cap=1 probes only rank-1 (id 1), so the rank-2-only removal is
    // missed — the documented miss mode, and kept is a superset
    assert(kept(1) == Set(1L, 2L, 3L))
  }

  test("containmentPairs: asymmetric quote detection Jaccard misses") {
    // doc 2 is the first 6 words of doc 1 quoted verbatim: with k=2
    // shingles, |Q|=5 shingles all inside |A|=11 -> C(2→1)=1.0 while
    // jac = 5/(11+5-5) ≈ 0.45 — a θ=0.5 Jaccard filter misses it
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f"),
      (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 2, theta = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == Set((2L, 1L, 1.0)), s"got $got")
    // the symmetric screen at the same theta finds nothing
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text",
        k = 2, theta = 0.6).collect()
    assert(jac.isEmpty)
  }

  test("lineDedupAgainst cuts existing boilerplate, keeps the rest") {
    val existing = Seq(
      (10L, "BOILER\ncontent a"), (11L, "BOILER\ncontent b"),
      (12L, " BOILER \ncontent c"),      // trim-keyed: counts too
      (13L, "twice\nx"), (14L, "twice\ny")) // 2 < minCount: not boilerplate
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "BOILER\nkeep this\n  \ntwice"),
      (2L, "no boilerplate here"))
      .toDF("doc_id", "text")
    val set = Dedup.boilerplateLineSet(existing, "text", minCount = 3)
    val out = Dedup.lineDedupAgainst(incoming, set, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // BOILER (3 existing occurrences) drops; 'twice' (2) and the
    // whitespace-only line stay
    assert(out(1L) == (("keep this\n  \ntwice", 1L)))
    assert(out(2L) == (("no boilerplate here", 0L)))
    // passThrough rides a per-doc column through the rebuild without
    // changing text/n_removed (the r18 lang ride-through)
    val withLang = incoming.withColumn("lang",
      concat(lit("l"), col("doc_id")))
    val pt = Dedup.lineDedupAgainst(withLang, set, "doc_id", "text",
        passThrough = Seq("lang"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(pt(1L) == (("l1", "keep this\n  \ntwice", 1L)))
    assert(pt(2L) == (("l2", "no boilerplate here", 0L)))
  }

  test("lineDedup at an unreachable minCount is the identity rebuild") {
    val docs = Seq(
      (1L, "alpha beta\n  indented line  \n\ntail"),
      (2L, "single"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minCount = 99)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // nothing qualifies for removal, so the rebuild reproduces the
    // original text byte-for-byte (raw lines kept, order restored)
    assert(out(1L) == (("alpha beta\n  indented line  \n\ntail", 0L)))
    assert(out(2L) == (("single", 0L)))
  }

  test("shingleDfStats: exact log2 buckets and posting shares by hand") {
    // k=2 shingles: "a b" in 3 docs (df=3 -> bucket 1), "x y" in 1
    // (df=1 -> bucket 0); total postings 4
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "x y"))
      .toDF("doc_id", "text")
    val got = Dedup.shingleDfStats(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set((0, 1L, 1L, 0.25), (1, 1L, 3L, 0.75)))
  }

  test("lineDedup: canonical survivor, trim-keyed match, structure kept") {
    val docs = Seq(
      (1L, "keep me\nBOILER\nunique a"),
      (2L, "BOILER\nother text"),
      (3L, " BOILER \n  \nz"),       // trim-keyed: counts as BOILER
      (4L, "twice\nmore"),
      (5L, "twice\ntail"))            // 'twice' x2 < minCount -> stays
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minCount = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // BOILER occurs 3x; the lowest (doc, pos) = (1, 1) survives
    assert(out(1L) == (("keep me\nBOILER\nunique a", 0L)))
    assert(out(2L) == (("other text", 1L)))
    // the whitespace-only line is structure, never a dedup candidate
    assert(out(3L) == (("  \nz", 1L)))
    assert(out(4L) == (("twice\nmore", 0L)))
    assert(out(5L) == (("twice\ntail", 0L)))
  }

  test("groupedLineDedup: per-site threshold diverges from global") {
    // NAV repeats 3x on site-a (boilerplate there) but only 1x on
    // site-b — a global screen at minCount=3 would cut site-b's copy
    // too (count 4 corpus-wide); the grouped screen must keep it
    val docs = Seq(
      (1L, "a", "NAV\ncontent one"),
      (2L, "a", "NAV\ncontent two"),
      (3L, "a", "NAV\ncontent three"),
      (4L, "b", "NAV\nunrelated post"))
      .toDF("doc_id", "site", "text")
    val out = Dedup.groupedLineDedup(docs, "doc_id", "site", "text",
        minCount = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(out(1L) == (("a", "NAV\ncontent one", 0L)))  // survivor
    assert(out(2L) == (("a", "content two", 1L)))
    assert(out(3L) == (("a", "content three", 1L)))
    assert(out(4L) == (("b", "NAV\nunrelated post", 0L)))  // kept!
    // the GLOBAL screen on the same input cuts site-b's copy
    val global = Dedup.lineDedup(docs.select("doc_id", "text"),
        "doc_id", "text", minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(global(4L) == 1L)
  }

  test("groupedLineDedup: a NULL group keeps its content") {
    // regression: a plain equi-join on the group key never matches
    // null-group rows, so keep evaluated to null and every line of a
    // null-group doc was silently deleted
    val docs = Seq(
      (1L, Option("a"), "NAV\none"), (2L, Option("a"), "NAV\ntwo"),
      (3L, Option("a"), "NAV\nthree"),
      (4L, None: Option[String], "solo line\nmore"),
      (5L, None: Option[String], "NULLDUP\nx"),
      (6L, None: Option[String], "NULLDUP\ny"),
      (7L, None: Option[String], "NULLDUP\nz"))
      .toDF("doc_id", "site", "text")
    val out = Dedup.groupedLineDedup(docs, "doc_id", "site", "text",
        minCount = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3)))
      .toMap
    // null-group docs keep unrepeated content...
    assert(out(4L) == (("solo line\nmore", 0L)))
    // ...and dedupe within the null group like any other group
    assert(out(5L) == (("NULLDUP\nx", 0L)))
    assert(out(6L) == (("y", 1L)))
    assert(out(7L) == (("z", 1L)))
    assert(out(2L) == (("two", 1L)))
  }

  test("priorityDedup: preferred source survives over lower id") {
    val docs = Seq(
      (1L, "same   text", "cc"),       // ws-normalized dup of 4, 7
      (4L, "same text", "curated"),    // preferred source wins...
      (7L, "same text", "curated"),    // ...lowest id among curated
      (9L, "other", "cc"),
      (11L, "third", "unknown_src"))   // unlisted ranks last, still kept
      .toDF("doc_id", "text", "src")
    val out = Dedup.priorityDedup(docs, "doc_id", "text", "src",
        Map("curated" -> 0, "books" -> 1, "cc" -> 2))
      .collect().map(r => r.getLong(1) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // id 1 is LOWEST but cc-sourced: the curated copy (id 4) survives
    assert(out(4L) == (("curated", 3L, 2L)))
    assert(out(9L) == (("cc", 1L, 1L)))
    assert(out(11L) == (("unknown_src", 1L, 1L)))
    assert(!out.contains(1L) && !out.contains(7L))
  }

  test("lineDedup at paragraph granularity splits and rejoins on \\n\\n") {
    // the PARA paragraph (itself containing a newline) repeats 3×
    // across docs: lowest (doc, pos) survives, rebuild rejoins with
    // the paragraph delimiter — inner newlines untouched
    val para = "about us\ncall sales"
    val docs = Seq(
      (1L, s"keep\n\n$para"),
      (2L, s"$para\n\nbody two"),
      (3L, s"intro\n\n$para\n\ntail"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minCount = 3,
        delimiter = "\n\n")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ((s"keep\n\n$para", 0L)))
    assert(out(2L) == (("body two", 1L)))
    assert(out(3L) == (("intro\n\ntail", 1L)))
  }

  test("lineDedup: STRING doc ids keep a canonical survivor") {
    // regression: the survivor key was id*1e6+pos, which is null for a
    // string id — every boilerplate occurrence was cut with no
    // survivor. min(struct(id, pos)) is type-generic: the
    // lexicographically lowest (id, pos) survives.
    val docs = Seq(
      ("doc-a", "BOILER\nunique a"),
      ("doc-b", "BOILER\nother"),
      ("doc-c", "BOILER\nz"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minCount = 3)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out("doc-a") == (("BOILER\nunique a", 0L)))
    assert(out("doc-b") == (("other", 1L)))
    assert(out("doc-c") == (("z", 1L)))
  }

  test("lineDedupAgainst: no broadcast of an over-threshold set side") {
    // the boilerplate set is corpus-derived and unbounded, so the join
    // must carry no broadcast hint — with the threshold shrunk below
    // the set's size, the planned join may not be broadcast
    val existing = Seq.tabulate(40)(i => (i.toLong,
      s"BOILER\ncontent $i")).toDF("doc_id", "text")
    val incoming = Seq((100L, "BOILER\nkeep")).toDF("doc_id", "text")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val set = Dedup.boilerplateLineSet(existing, "text", minCount = 3)
      val out = Dedup.lineDedupAgainst(incoming, set, "doc_id", "text")
      val rows = out.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      // semantics are join-strategy-independent
      assert(rows(100L) == (("keep", 1L)))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"boilerplate set must not be force-broadcast:\n$plan")
    } finally spark.conf.set(thresholdKey, prior)
  }

  test("groupedLineDedupAgainst: per-group scope, null group, " +
    "merged partials == full recompute") {
    // "promo line" is boilerplate on site-a's existing side (3
    // occurrences) but appears once on site-b: incoming a-docs lose
    // it, incoming b-docs keep it. The null-group site's own
    // boilerplate (3 "nullish" lines) must screen null-group
    // incoming docs — the (isNull, value) struct key, not a
    // never-matching equi-join.
    val existing = Seq(
      (1L, "a", "promo line\nkeep a1"),
      (2L, "a", "promo line\nkeep a2"),
      (3L, "a", "promo line\nkeep a3"),
      (4L, "b", "promo line\nkeep b1"),
      (5L, null.asInstanceOf[String], "nullish\nnullish\nnullish"))
      .toDF("doc_id", "site", "text")
    val incoming = Seq(
      (10L, "a", "promo line\nfresh a"),
      (11L, "b", "promo line\nfresh b"),
      (12L, null.asInstanceOf[String], "nullish\nfresh n"))
      .toDF("doc_id", "site", "text")
    val full = Dedup.groupedBoilerplateLineSet(existing, "site",
      "text", minCount = 3)
    val merged = Dedup.groupedBoilerplateFromCounts(
      Dedup.mergeGroupedLineCounts(Seq(
        Dedup.groupedLineCountPartial(
          existing.filter(col("doc_id") <= 2), "site", "text"),
        Dedup.groupedLineCountPartial(
          existing.filter(col("doc_id") > 2), "site", "text"))),
      minCount = 3)
    assert(merged.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet)
    val got = Dedup.groupedLineDedupAgainst(incoming, merged,
        "doc_id", "site", "text")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getString(2), r.getLong(3))).toMap
    assert(got(10L) == ((Some("a"), "fresh a", 1L)))
    assert(got(11L) == ((Some("b"), "promo line\nfresh b", 0L)))
    assert(got(12L) == ((None, "fresh n", 1L)))
  }

  test("minHashBands + lshScreenAgainst: screening a batch against " +
    "stored bands equals crossDedupNear, and removing a doc's band " +
    "rows removes exactly its pairs") {
    val testDocs = docs.unionByName(Seq(
      (6L, "the quick brown fox jumps over the lazy dog today"),
      (7L, "the quick brown fox jumps over the lazy dog forever"))
      .toDF("doc_id", "text"))
    val incoming = testDocs.filter(col("doc_id") % 2 === 0)
    val existing = testDocs.filter(col("doc_id") % 2 =!= 0)
    // the maintained artifact: banded rows of the existing corpus,
    // built era by era and unioned (per-doc independence — the store
    // commit path's claim)
    val bands = Dedup.minHashBands(
        existing.filter(col("doc_id") <= 3), "doc_id", "text", k = 3)
      .unionByName(Dedup.minHashBands(
        existing.filter(col("doc_id") > 3), "doc_id", "text", k = 3))
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val screened = pairsOf(Dedup.lshScreenAgainst(incoming, bands,
      existing, "doc_id", "text", k = 3, theta = 0.7))
    val exact = pairsOf(Dedup.crossDedupNear(incoming, existing,
      "doc_id", "text", k = 3, theta = 0.7))
    assert(screened == exact && screened.nonEmpty)
    // both near-dup partners present: doc 1 (to be retracted) and
    // doc 7 (survivor) each pair with every incoming near-dup
    assert(exact.exists(_._2 == 1L) && exact.exists(_._2 == 7L))
    // retraction (the store does this at the file level): dropping a
    // doc's band rows removes its pairs and ONLY its pairs
    val after = pairsOf(Dedup.lshScreenAgainst(incoming,
      bands.filter(col("doc_id") =!= 1L), existing, "doc_id", "text",
      k = 3, theta = 0.7))
    assert(after == exact.filterNot(_._2 == 1L) && after.nonEmpty)
    // the structural validator: the healthy table certifies; a
    // doubled doc (re-banded commit) and a torn band set both refuse
    Dedup.validateMinHashBands(bands, "doc_id")
    val doubled = bands.unionByName(bands.filter(col("doc_id") === 1L))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.validateMinHashBands(doubled, "doc_id")
    }
    assert(e1.getMessage.contains("band table corrupt"))
    val torn = bands.filter(col("doc_id") =!= 1L || col("band") > 10)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.validateMinHashBands(torn, "doc_id")
    }
    assert(e2.getMessage.contains("band table corrupt"))
    // the per-id band ids, not just the row count: a band id repeated
    // while another went missing (64 rows, range intact) and a band
    // id outside [0, 64) (64 rows, 64 distinct ids) both refuse
    def retag(from: Int, to: Int) = bands.withColumn("band",
      when(col("doc_id") === 1L && col("band") === from, to)
        .otherwise(col("band")))
    val eRepeated = intercept[IllegalArgumentException] {
      Dedup.validateMinHashBands(retag(1, 0), "doc_id")
    }
    assert(eRepeated.getMessage.contains("repeat a band id"))
    val eRange = intercept[IllegalArgumentException] {
      Dedup.validateMinHashBands(retag(63, 64), "doc_id")
    }
    assert(eRange.getMessage.contains("spanning [0, 63]"))
    // a WHOLLY missing band set is invisible to the per-id count
    // (zero rows, nothing to aggregate) — the expected-roster check
    // closes that hole; the healthy roster still certifies
    val lost = bands.filter(col("doc_id") =!= 1L)
    Dedup.validateMinHashBands(lost, "doc_id") // structurally clean!
    val e3 = intercept[IllegalArgumentException] {
      Dedup.validateMinHashBands(lost, "doc_id",
        expectedIds = Some(existing.select("doc_id")))
    }
    assert(e3.getMessage.contains("NO band rows"))
    Dedup.validateMinHashBands(bands, "doc_id",
      expectedIds = Some(existing.select("doc_id")))
  }

  test("minHashBands coverage contract and lshScreenAgainst " +
    "parameter refusal") {
    // COVERAGE: empty and whitespace-only texts still band (the
    // whole-text fallback shingle hashes the zero-token sequence),
    // so 64·count audit rows and manifest rosters hold; only a NULL
    // text is excluded
    val edge = Seq((1L, ""), (2L, "   \t  "), (3L, "one two"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val bands = Dedup.minHashBands(edge, "doc_id", "text", k = 3)
    val perId = bands.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId == Map(1L -> 64L, 2L -> 64L, 3L -> 64L))
    Dedup.validateMinHashBands(bands, "doc_id",
      expectedIds =
        Some(edge.filter(col("text").isNotNull).select("doc_id")))
    // PARAMS: a store built at bands=32 probed at the default 64
    // must refuse loudly, not silently return an empty screen
    val stored32 = Dedup.minHashBands(edge, "doc_id", "text", k = 3,
      numPerm = 256, bands = 32)
    val e = intercept[IllegalArgumentException] {
      Dedup.lshScreenAgainst(edge.filter(col("doc_id") === 3L),
        stored32, edge, "doc_id", "text", k = 3, theta = 0.7)
    }
    assert(e.getMessage.contains("different LSH parameters"))
    // an EMPTY store is a first crawl, not a mismatch: screens clean
    val empty = Dedup.lshScreenAgainst(
      edge.filter(col("doc_id") === 3L),
      stored32.filter(lit(false)), edge, "doc_id", "text",
      k = 3, theta = 0.7)
    assert(empty.count() == 0L)
    // the sidecar closes the k/numPerm half the structural check
    // cannot see: exact match passes, any drift refuses, and a store
    // with NO declared params refuses too
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bandparams").toString + "/store"
    val eMissing = intercept[IllegalArgumentException] {
      Dedup.requireBandParams(spark, dir, k = 3, numPerm = 256,
        bands = 64)
    }
    assert(eMissing.getMessage.contains("declares no LSH parameters"))
    Dedup.writeBandParams(spark, dir, k = 3, numPerm = 256, bands = 64)
    Dedup.requireBandParams(spark, dir, k = 3, numPerm = 256,
      bands = 64)
    val eDrift = intercept[IllegalArgumentException] {
      Dedup.requireBandParams(spark, dir, k = 5, numPerm = 256,
        bands = 64)
    }
    assert(eDrift.getMessage.contains("silently miss"))
  }

  test("certifyBandStore: one-job certification passes a healthy " +
    "store through its lifecycle and refuses each corruption class " +
    "with its own diagnosis") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bandstore").toString + "/s"
    // small parameters keep the fixture tiny: 4 bands of 2 perms
    Pins.scope { p =>
      Incremental.initSnapshotStore(Dedup.minHashBandsLazy(p,
          docs.filter(col("doc_id") <= 3), "doc_id", "text", k = 3,
          numPerm = 8, bands = 4),
        dir, manifestIdCol = Some("doc_id"))
      Dedup.writeBandParams(spark, dir, k = 3, numPerm = 8, bands = 4)
    }
    Pins.scope { p =>
      Incremental.commitSnapshotBatch(Dedup.minHashBandsLazy(p,
          docs.filter(col("doc_id") > 3), "doc_id", "text", k = 3,
          numPerm = 8, bands = 4),
        dir, 1L, manifestIdCol = Some("doc_id"))
    }
    def certify(): Unit = Dedup.certifyBandStore(spark, dir,
      "doc_id", k = 3, numPerm = 8, bands = 4)
    // healthy store certifies, and stays certified through the
    // store's own lifecycle verbs (retraction keeps manifest sync)
    certify()
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(2L).toDF("doc_id"))
    certify()
    // parameter drift refuses via the sidecar before any scan
    val eParam = intercept[IllegalArgumentException] {
      Dedup.certifyBandStore(spark, dir, "doc_id", k = 5,
        numPerm = 8, bands = 4)
    }
    assert(eParam.getMessage.contains("silently miss"))
    // corruption classes, staged in REVERSE refusal priority so each
    // new tamper is the one its assert sees.
    // repeated: a claimed id whose 4 rows pass the count and range
    // checks but carry band 0 twice and no band 1 ({0, 0, 2, 3})
    Seq((998L, 0, 1L), (998L, 0, 2L), (998L, 2, 3L), (998L, 3, 4L))
      .toDF("doc_id", "band", "bh").withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("append").parquet(dir)
    Seq(998L).toDF("doc_id").withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("append").parquet(dir + "__manifest")
    val eRepeated = intercept[IllegalArgumentException] { certify() }
    assert(eRepeated.getMessage.contains("repeat a band id"))
    // torn: extra band rows for a present id (13 rows, band range ok)
    Seq((3L, 0, 777L)).toDF("doc_id", "band", "bh")
      .withColumn("batch", lit(0L)).write.partitionBy("batch")
      .mode("append").parquet(dir)
    val eTorn = intercept[IllegalArgumentException] { certify() }
    assert(eTorn.getMessage.contains("band table corrupt"))
    // drifted: a duplicated manifest row under a foreign batch id
    Seq(5L).toDF("doc_id").withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("append").parquet(dir + "__manifest")
    val eDrift = intercept[IllegalArgumentException] { certify() }
    assert(eDrift.getMessage.contains("disagree with the store"))
    // unclaimed: store rows for an id the manifest never heard of
    Seq((999L, 0, 1L), (999L, 1, 2L), (999L, 2, 3L), (999L, 3, 4L))
      .toDF("doc_id", "band", "bh").withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("append").parquet(dir)
    val eUnclaimed = intercept[IllegalArgumentException] { certify() }
    assert(eUnclaimed.getMessage.contains("never claims"))
    // missing: a manifest id whose band rows are ALL gone (the class
    // per-present-id structure checks cannot see) — drop batch=1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/batch=1"), true)
    val eMissing = intercept[IllegalArgumentException] { certify() }
    assert(eMissing.getMessage.contains("NO band rows"))
    // null ids refuse above everything else
    spark.sql("select cast(null as bigint) as doc_id, 0 as band, " +
        "cast(1 as bigint) as bh")
      .withColumn("batch", lit(0L)).write.partitionBy("batch")
      .mode("append").parquet(dir)
    val eNull = intercept[IllegalArgumentException] { certify() }
    assert(eNull.getMessage.contains("null ids"))
  }
}
