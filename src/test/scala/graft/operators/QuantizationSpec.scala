package graft.operators

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization spec: structural contracts plus an INDEPENDENT
  * in-test replay of the deterministic training/ADC chain (the DuckDB
  * oracle discipline, Scala flavor) on a fixture small enough to audit
  * by eye. */
class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  // two groups separated in DIRECTION (cosine's notion of distance) in
  // both subspaces (m=2, dsub=2): group A points along (1,0) per
  // subspace, group B along (0,1), with per-vector nudges so the
  // re-estimated means are non-trivial. Ids 0 and 1 land in different
  // groups on purpose — init takes the k=2 lowest-id subvectors, so
  // the initial codebooks already span both groups and one Lloyd round
  // converges to the group partition.
  private def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
  private val vecs = Seq(
    (0L, v(1f, 0f, 1f, 0f)),       // A
    (1L, v(0f, 1f, 0f, 1f)),       // B
    (2L, v(1f, 0.2f, 1f, 0f)),     // A
    (3L, v(1f, 0f, 1f, 0.2f)),     // A
    (4L, v(0.2f, 1f, 0f, 1f)),     // B — the ADC query
    (5L, v(0f, 0.8f, 0f, 0.8f)),   // B
    (6L, v(0.8f, 0f, 0.8f, 0f)),   // A
    (7L, v(0f, 1f, 0.2f, 1f)))     // B
    .toDF("vec_id", "embedding")

  /** Independent replay of train+assign with the operator's exact
    * determinism rules: init = k lowest-id subvectors, 6-dp-rounded L2
    * distances with lowest-code tie-break, 6-dp-rounded mean
    * re-estimation, `iters = 2` → one re-estimation round. */
  private def replayCodes(rows: Seq[(Long, Array[Float])], m: Int, k: Int,
                          dsub: Int): Map[Long, Seq[Int]] = {
    val subs = rows.sortBy(_._1).map { case (id, a) =>
      id -> (0 until m).map(s =>
        a.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
    }
    def d6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dist(a: Seq[Double], b: Seq[Double]) =
      d6(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    def assign(cb: Seq[(Int, Seq[Double])], sv: Seq[Double]) =
      cb.map { case (c, cv) => (dist(sv, cv.toSeq), c) }.min._2
    var cents: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      subs.take(k).zipWithIndex.map { case ((_, sv), c) => c -> sv(s).toSeq }
    }
    // one re-estimation round (iters = 2)
    cents = (0 until m).map { s =>
      subs.groupBy { case (_, sv) => assign(cents(s), sv(s).toSeq) }
        .map { case (c, members) =>
          val dims = members.head._2(s).length
          c -> (0 until dims).map(i =>
            d6(members.map(_._2(s)(i)).sum / members.size)).toSeq
        }.toSeq.sortBy(_._1)
    }
    subs.map { case (id, sv) =>
      id -> (0 until m).map(s => assign(cents(s), sv(s).toSeq))
    }.toMap
  }

  test("pqCodes matches an independent replay of the deterministic chain") {
    val got = Quantization.pqCodes(vecs, "vec_id", "embedding",
        m = 2, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val want = replayCodes(
      vecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      m = 2, k = 2, dsub = 2)
    assert(got == want)
    // and the codes respect the group structure: A = {0,2,3,6} and
    // B = {1,4,5,7} each share a code word; the groups differ
    assert(Set(0L, 2L, 3L, 6L).map(got).size == 1)
    assert(Set(1L, 4L, 5L, 7L).map(got).size == 1)
    assert(got(0L) != got(1L))
  }

  test("pqAdcTopK ranks in-group neighbors above cross-group") {
    val top = Quantization.pqAdcTopK(vecs, "vec_id", "embedding",
        m = 2, k = 2, iters = 2, topK = 7,
        queryFilter = col("id") === 4L)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(top.length == 7)
    assert(top.map(_._1).toSeq == (1 to 7))
    // the three in-group neighbors (1, 5, 7 share vec 4's code word,
    // hence an identical reconstruction) outrank every A-group vector
    // under reconstruction cosine, and their exact score tie breaks on
    // ascending nid
    assert(top.take(3).map(_._2).toSeq == Seq(1L, 5L, 7L))
    assert(top.take(3).map(_._3).distinct.length == 1)
    // no self-pairs
    assert(!top.map(_._2).contains(4L))
    val scores = top.map(_._3).toSeq
    assert(scores.sorted.reverse == scores)
  }

  test("m must divide the vector dimension") {
    intercept[IllegalArgumentException] {
      Quantization.pqCodes(vecs, "vec_id", "embedding",
        m = 3, k = 2, iters = 2)
    }
  }

  test("sq8PqLadder: the PQ rung never hurts on a clustered fixture") {
    val out = Quantization.sq8PqLadder(vecs, "vec_id", "embedding",
        m = 2, ksub = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 8)
    assert(out.forall { case (_, s, l) => s >= 0 && l >= 0 })
    // within-cluster variance never exceeds the raw second moment, so
    // the PQ rung cannot hurt; on THIS fixture the SQ8 residuals are
    // already sub-micro noise, so equality is the expected outcome
    // (the sf0.01 oracle row shows the strict improvement: 483/500
    // vectors, mean 54 -> 48 micros)
    val sumS = out.map(_._2).sum; val sumL = out.map(_._3).sum
    assert(sumL <= sumS, s"ladder $sumL must never exceed sq8 $sumS")
    // deterministic under repartitioning
    val again = Quantization.sq8PqLadder(vecs.repartition(5),
        "vec_id", "embedding", m = 2, ksub = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet)
  }

  test("ivfPqTopK: nprobe bounds the candidate set to the probed cells") {
    // coarse init = ids 0 (A-group) and 1 (B-group), so the k-means
    // cells converge to the A/B direction split; query 4 is a B vector
    val one = Quantization.ivfPqTopK(vecs, "vec_id", "embedding",
        nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2,
        nprobe = 1, topK = 7, queryFilter = col("id") === 4L)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // nprobe=1 probes ONLY the B cell: the A vectors (0, 2, 3, 6) are
    // structurally unreachable, self is excluded → exactly {1, 5, 7}
    assert(one.map(_._2).toSet == Set(1L, 5L, 7L))
    assert(one.map(_._1).toSeq == (1 to 3))
    val d1 = one.map(_._3).toSeq
    assert(d1 == d1.sorted, "ascending ADC distance")

    val two = Quantization.ivfPqTopK(vecs, "vec_id", "embedding",
        nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2,
        nprobe = 2, topK = 7, queryFilter = col("id") === 4L)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // probing both cells reaches all 7 non-self vectors, with the
    // same-direction B trio still ahead of every A vector
    assert(two.length == 7 && two.map(_._1).toSeq == (1 to 7))
    assert(two.take(3).map(_._2).toSet == Set(1L, 5L, 7L))
    // the nprobe=1 run is a strict prefix-set of the nprobe=2 ranking
    assert(two.take(3).map(_._3).toSeq == d1.sorted)
  }

  test("sq8Codes: reconstruction within half a scale step, zero dims exact") {
    // dim 3 is all-zero (scale 0 → code 0); dim 0 spans ±2 so its
    // absmax comes from a negative value
    val df = Seq(
      (0L, Array(-2f, 0.5f, 1f, 0f)),
      (1L, Array(1f, -0.25f, 0.1f, 0f)),
      (2L, Array(0.5f, 1f, -1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Quantization.sq8Codes(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val raw = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val absmax = (0 until 4).map(i => raw.values.map(v => v(i).abs).max)
    for ((id, codes) <- got; i <- 0 until 4) {
      assert(codes(i) >= -127 && codes(i) <= 127)
      if (absmax(i) == 0) assert(codes(i) == 0)
      else {
        val scale = absmax(i) / 127
        assert(math.abs(codes(i) * scale - raw(id)(i)) <= scale / 2 + 1e-12,
          s"id=$id dim=$i")
      }
    }
    // extremes hit exactly ±127
    assert(got(0L)(0) == -127 && got(2L)(1) == 127)
  }

  test("ivfPqSearchRescore: full-coverage refine equals the exact baseline") {
    // nprobe = nlist and topR = corpus size make the candidate set
    // exhaustive, so the exact rescore must reproduce bruteForceTopKL2
    // verbatim — the IVFADC-R contract: the PQ stage only SELECTS
    // candidates, the ranking is exact
    val idx = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    try {
      val got = Quantization.ivfPqSearchRescore(
          vecs.filter(col("vec_id") < 2), "vec_id", "embedding",
          idx, vecs, "vec_id", "embedding",
          nprobe = 2, topR = 8, topK = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
      val exact = Similarity.bruteForceTopKL2(vecs, "vec_id",
          "embedding", k = 3, queryFilter = col("id") < 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == exact && got.nonEmpty)
    } finally org.apache.spark.sql.graftshim.Shims
      .unpersistLocalCheckpoint(idx.codes)
  }

  test("persistIvfPqIndex: load round-trips, layout is cell-pruned") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_persist").toString
    try {
      Quantization.persistIvfPqIndex(built, dir)
      val loaded = Quantization.loadIvfPqIndex(spark, dir)
      // codebooks survive byte-for-byte
      assert(loaded.cells.map { case (c, cv) => (c, cv.toSeq) } ==
        built.cells.map { case (c, cv) => (c, cv.toSeq) })
      assert(loaded.pq.m == built.pq.m && loaded.dsub == built.dsub)
      // serving from the loaded layout equals serving from memory
      def serve(idx: Quantization.IvfPqIndex) =
        Quantization.ivfPqSearch(vecs.filter(col("vec_id") < 2),
            "vec_id", "embedding", idx, nprobe = 1, topK = 3)
          .collect().map(_.toSeq).toSet
      assert(serve(loaded) == serve(built) && serve(built).nonEmpty)
      // hive layout: one cell=N directory per coarse cell, and a
      // static cell filter prunes to exactly that partition's rows
      val dirs = new java.io.File(s"$dir/codes").list()
        .filter(_.startsWith("cell=")).sorted
      assert(dirs.length == built.cells.length, dirs.mkString(","))
      val onecell = built.cells.head._1
      val pruned = loaded.codes.filter(col("cell") === onecell)
      assert(pruned.count() ==
        built.codes.filter(col("cell") === onecell).count())
      val scanned = pruned.queryExecution.executedPlan.toString
      assert(scanned.contains("PartitionFilters"),
        s"cell filter must prune at listing time:\n$scanned")
      // the serving claim: probing the loaded index triggers DYNAMIC
      // partition pruning — the codes scan is restricted to the
      // probed cells' directories at runtime via the broadcast LUT
      val probed = Quantization.ivfPqSearch(
        vecs.filter(col("vec_id") < 2), "vec_id", "embedding",
        loaded, nprobe = 1, topK = 3)
      probed.collect()
      val servePlan = probed.queryExecution.executedPlan.toString
      assert(servePlan.toLowerCase.contains("dynamicpruning"),
        s"loaded-index search must dynamic-prune the codes scan:\n" +
          servePlan)
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  test("ivfPqAddBatch: appended codes are bit-identical to the full " +
    "build's, and add-then-search equals the union search") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_add").toString
    try {
      // persist with the odd-id half held out, then add it back
      Quantization.persistIvfPqIndex(
        built.copy(codes = built.codes.filter(col("nid") % 2 === 0)),
        dir)
      Quantization.ivfPqAddBatch(vecs.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dir)
      val loaded = Quantization.loadIvfPqIndex(spark, dir)
      // frozen codebooks ⇒ the appended rows reproduce the original
      // build's codes exactly, row for row
      def codeSet(df: org.apache.spark.sql.DataFrame) =
        df.select("nid", "cell", "s", "c").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getInt(3))).toSet
      assert(codeSet(loaded.codes) == codeSet(built.codes))
      // and the served result equals serving the original full build
      def serve(idx: Quantization.IvfPqIndex) =
        Quantization.ivfPqSearch(vecs.filter(col("vec_id") < 2),
            "vec_id", "embedding", idx, nprobe = 1, topK = 3)
          .collect().map(_.toSeq).toSet
      assert(serve(loaded) == serve(built) && serve(built).nonEmpty)
      // the well-formedness detector: clean after a disjoint add...
      Quantization.validateIvfPqCodes(spark, dir)
      // ...and LOUD after violating the caller contract (re-adding
      // ids already in the layout doubles their code row sets)
      Quantization.ivfPqAddBatch(vecs.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", dir)
      val e = intercept[IllegalArgumentException] {
        Quantization.validateIvfPqCodes(spark, dir)
      }
      assert(e.getMessage.contains("ivf-pq codes corrupt"))
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  test("ivfPqRemoveBatch: rewrites only affected cells, deletes " +
    "emptied cells, remove == never-encoded") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_rm").toString
    try {
      Quantization.persistIvfPqIndex(built, dir)
      val cellOf = built.codes.select("nid", "cell").distinct()
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // the fixture's two direction-groups land in different cells
      assert(cellOf(2L) != cellOf(1L))
      def files(cell: Int) = {
        val d0 = new java.io.File(s"$dir/codes/cell=$cell")
        d0.listFiles().map(f =>
          (f.getName, f.lastModified(), f.length())).toSet
      }
      val untouchedBefore = files(cellOf(1L))
      Quantization.ivfPqRemoveBatch(Seq(2L).toDF("vec_id"),
        "vec_id", dir)
      // the other group's cell directory was never rewritten
      assert(files(cellOf(1L)) == untouchedBefore)
      // the layout is row-for-row the build that never encoded id 2
      def codeSet(df: org.apache.spark.sql.DataFrame) =
        df.select("nid", "cell", "s", "c").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getInt(3))).toSet
      val loaded = Quantization.loadIvfPqIndex(spark, dir)
      assert(codeSet(loaded.codes) ==
        codeSet(built.codes).filterNot(_._1 == 2L))
      Quantization.validateIvfPqCodes(spark, dir)
      // serve equality vs an index whose codes never held id 2
      def serve(idx: Quantization.IvfPqIndex) =
        Quantization.ivfPqSearch(vecs.filter(col("vec_id") === 4L),
            "vec_id", "embedding", idx, nprobe = 2, topK = 3)
          .collect().map(_.toSeq).toSet
      assert(serve(loaded) ==
        serve(built.copy(codes =
          built.codes.filter(col("nid") =!= 2L))) && serve(loaded).nonEmpty)
      // removing every remaining member of a cell deletes its dir -
      // a stale directory would silently keep serving the rows
      val cellA = cellOf(2L)
      val rest = cellOf.collect {
        case (id, c) if c == cellA => id }.toSeq
      Quantization.ivfPqRemoveBatch(rest.toDF("vec_id"), "vec_id", dir)
      assert(!new java.io.File(s"$dir/codes/cell=$cellA").exists())
      Quantization.validateIvfPqCodes(spark, dir)
      // vacuous remove: ids absent from the layout change nothing
      val beforeVacuous = codeSet(
        Quantization.loadIvfPqIndex(spark, dir).codes)
      Quantization.ivfPqRemoveBatch(Seq(999L).toDF("vec_id"),
        "vec_id", dir)
      assert(codeSet(Quantization.loadIvfPqIndex(spark, dir).codes)
        == beforeVacuous)
      // emptying the layout entirely is refused loudly (a hive
      // table with zero partitions is unreadable - that state is a
      // rebuild, not a remove) and leaves the layout intact
      val bIds = cellOf.collect {
        case (id, c) if c == cellOf(1L) => id }.toSeq
      val er = intercept[IllegalArgumentException] {
        Quantization.ivfPqRemoveBatch(bIds.toDF("vec_id"),
          "vec_id", dir)
      }
      assert(er.getMessage.contains("rebuild"))
      assert(codeSet(Quantization.loadIvfPqIndex(spark, dir).codes)
        == beforeVacuous)
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  test("ivfPqRetrain: a drifted add skews the cells, the retrain " +
    "un-skews them (post imbalance <= pre)") {
    // base: the two-direction fixture; drift: a TIGHT far blob that
    // the frozen base centroids pile into one cell
    val drift = Seq(
      (100L, v(5f, 5f, 5f, 5f)), (101L, v(5.1f, 5f, 5f, 5f)),
      (102L, v(5f, 5.1f, 5f, 5f)), (103L, v(5f, 5f, 5.1f, 5f)),
      (104L, v(5f, 5f, 5f, 5.1f)), (105L, v(5.1f, 5.1f, 5f, 5f)))
      .toDF("vec_id", "embedding")
    val union = vecs.unionByName(drift)
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_retrain").toString
    try {
      Quantization.persistIvfPqIndex(built, dir)
      Quantization.ivfPqAddBatch(drift, "vec_id", "embedding", dir)
      def imb() = {
        val df = Quantization.ivfPqImbalance(
          Quantization.loadIvfPqIndex(spark, dir))
        (df.collect().map(_.getDouble(3)).head,
          df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
      }
      val (pre, preCells) = imb()
      // all 6 drifted vectors landed in ONE frozen cell
      assert(preCells.values.max >= 6 + 2, preCells.toString)
      Quantization.ivfPqRetrain(union, "vec_id", "embedding", dir,
        nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
      val (post, postCells) = imb()
      assert(postCells.values.sum == 14)
      assert(post <= pre, s"retrain must not worsen skew: $pre -> $post")
      // and the validator still likes the rewritten layout
      Quantization.validateIvfPqCodes(spark, dir)
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  private def rmTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  test("ivfPq nid manifest: probed discovery is result-identical to " +
    "the scan, maintained through add/remove, emptied cells drop " +
    "from both, and the validator/rebuild close drift") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dirM = java.nio.file.Files
      .createTempDirectory("ivfpq_manif").toString
    val dirS = java.nio.file.Files
      .createTempDirectory("ivfpq_scan").toString
    def codeSet(dir: String) = Quantization.loadIvfPqIndex(spark, dir)
      .codes.select("nid", "cell", "s", "c").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    try {
      Quantization.persistIvfPqIndex(built, dirM, manifest = true)
      Quantization.persistIvfPqIndex(built, dirS)
      assert(Quantization.hasIvfPqNidManifest(spark, dirM))
      assert(!Quantization.hasIvfPqNidManifest(spark, dirS))
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // the SAME takedown through both discovery paths lands the
      // same layout, and the manifest stays exactly in sync
      Quantization.ivfPqRemoveBatch(Seq(2L).toDF("vec_id"), "vec_id", dirM)
      Quantization.ivfPqRemoveBatch(Seq(2L).toDF("vec_id"), "vec_id", dirS)
      assert(codeSet(dirM) == codeSet(dirS) && codeSet(dirM).nonEmpty)
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // an add maintains the manifest (manifest-first append)
      val add = Seq((100L, v(0.9f, 0f, 0.9f, 0.1f)))
        .toDF("vec_id", "embedding")
      Quantization.ivfPqAddBatch(add, "vec_id", "embedding", dirM)
      Quantization.ivfPqAddBatch(add, "vec_id", "embedding", dirS)
      assert(codeSet(dirM) == codeSet(dirS))
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // emptying a cell drops its directory from codes AND manifest
      val cellOf = Quantization.loadIvfPqIndex(spark, dirM).codes
        .select("nid", "cell").distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val cellA = cellOf(100L)
      val victims = cellOf.collect {
        case (id, c) if c == cellA => id }.toSeq
      Quantization.ivfPqRemoveBatch(victims.toDF("vec_id"), "vec_id", dirM)
      assert(!new java.io.File(s"$dirM/codes/cell=$cellA").exists())
      assert(!new java.io.File(s"$dirM/nid_manifest/cell=$cellA").exists())
      Quantization.validateIvfPqNidManifest(spark, dirM)
      Quantization.validateIvfPqCodes(spark, dirM)
      // a half-written manifest (no _SUCCESS) reads as manifest-LESS
      // — discovery falls back to the exact scan, never trusts it
      val marker = new java.io.File(s"$dirM/nid_manifest/_SUCCESS")
      assert(marker.delete())
      assert(!Quantization.hasIvfPqNidManifest(spark, dirM))
      val e = intercept[IllegalArgumentException] {
        Quantization.validateIvfPqNidManifest(spark, dirM)
      }
      assert(e.getMessage.contains("no nid manifest"))
      // ...and the rebuild repairs it exactly from the codes
      Quantization.rebuildIvfPqNidManifest(spark, dirM)
      assert(Quantization.hasIvfPqNidManifest(spark, dirM))
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // drift (a pair the manifest never saw) is caught loudly:
      // plant an extra manifest row for an id the codes lack
      import spark.implicits._
      Seq((999L, cellOf(4L))).toDF("nid", "cell")
        .write.mode("append").partitionBy("cell")
        .parquet(s"$dirM/nid_manifest")
      val e2 = intercept[IllegalArgumentException] {
        Quantization.validateIvfPqNidManifest(spark, dirM)
      }
      assert(e2.getMessage.contains("out of sync"))
      Quantization.rebuildIvfPqNidManifest(spark, dirM)
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // a re-persist NEUTRALIZES a stale manifest when not asked for
      // one (the silent under-approximation hole)
      Quantization.persistIvfPqIndex(built, dirM)
      assert(!new java.io.File(s"$dirM/nid_manifest").exists())
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      rmTree(dirM); rmTree(dirS)
    }
  }

  test("ivfPqRemoveBatch refuses null or uncastable remove ids - an " +
    "equi-join can never retract them") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_nullrm").toString
    try {
      Quantization.persistIvfPqIndex(built, dir)
      val before = Quantization.loadIvfPqIndex(spark, dir).codes
        .collect().map(_.toSeq).toSet
      // a literal null id
      val e1 = intercept[IllegalArgumentException] {
        Quantization.ivfPqRemoveBatch(
          Seq(Some(2L), Option.empty[Long]).toDF("vec_id"),
          "vec_id", dir)
      }
      assert(e1.getMessage.contains("null ids"))
      // an uncastable value: under ANSI (the Spark 4 default) the
      // cast itself fails loud; under non-ANSI it casts to NULL and
      // the guard refuses — either way the takedown can never
      // silently retract nothing for it
      val e2 = intercept[Exception] {
        Quantization.ivfPqRemoveBatch(
          Seq("2", "not-a-number").toDF("vec_id"), "vec_id", dir)
      }
      assert(e2.getMessage.contains("uncastable") ||
        e2.getMessage.contains("CAST_INVALID_INPUT"))
      // both refusals fired BEFORE anything destructive
      assert(Quantization.loadIvfPqIndex(spark, dir).codes
        .collect().map(_.toSeq).toSet == before)
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      rmTree(dir)
    }
  }

  test("ivfPqAddBatch refuses ids a manifested layout already claims " +
    "- a doubled add corrupts ADC sums and would trip the sync " +
    "validator later with the WRONG diagnosis; manifest-less layouts " +
    "keep the FAISS caller contract") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dirM = java.nio.file.Files
      .createTempDirectory("ivfpq_dupadd_m").toString
    val dirS = java.nio.file.Files
      .createTempDirectory("ivfpq_dupadd_s").toString
    try {
      Quantization.persistIvfPqIndex(built, dirM, manifest = true)
      Quantization.persistIvfPqIndex(built, dirS)
      def codes(dir: String) = Quantization.loadIvfPqIndex(spark, dir)
        .codes.collect().map(_.toSeq).toSet
      def manifest() = spark.read.parquet(s"$dirM/nid_manifest")
        .select("nid", "cell").collect().map(_.toSeq).toSet
      val (preCodes, preMan) = (codes(dirM), manifest())
      // id 2 is already served by the layout; the fresh id 100 rides
      // in the same batch — the WHOLE batch refuses, nothing lands
      // in codes OR manifest (refusal-before-destruction)
      val batch = Seq((2L, v(1f, 0.2f, 1f, 0f)),
        (100L, v(0.9f, 0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Quantization.ivfPqAddBatch(batch, "vec_id", "embedding", dirM)
      }
      assert(e.getMessage.contains("already present"))
      assert(codes(dirM) == preCodes && manifest() == preMan)
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // an id duplicated WITHIN the batch is the same corruption via
      // a path neither the manifest probe nor the (nid, cell)-
      // distinct sync validator can see — refused pre-append too
      val intra = Seq((200L, v(1f, 0f, 1f, 0f)),
        (200L, v(0f, 1f, 0f, 1f))).toDF("vec_id", "embedding")
      val e3 = intercept[IllegalArgumentException] {
        Quantization.ivfPqAddBatch(intra, "vec_id", "embedding", dirM)
      }
      assert(e3.getMessage.contains("WITHIN the batch"))
      assert(codes(dirM) == preCodes && manifest() == preMan)
      Quantization.validateIvfPqNidManifest(spark, dirM)
      // without a manifest the duplicate appends (the FAISS `add`
      // contract — dedupe upstream) and validateIvfPqCodes is the
      // post-add detector: id 2 now carries 2m code rows
      Quantization.ivfPqAddBatch(batch, "vec_id", "embedding", dirS)
      val e2 = intercept[IllegalArgumentException] {
        Quantization.validateIvfPqCodes(spark, dirS)
      }
      assert(e2.getMessage.toLowerCase.contains("code"))
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      rmTree(dirM); rmTree(dirS)
    }
  }

  test("a manifested layout's persist, add, remove, validate and load " +
    "cycle runs a fixed number of Spark jobs") {
    val built = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
      nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_budget").toString
    try {
      val add = Seq((100L, v(0.9f, 0f, 0.9f, 0.1f)))
        .toDF("vec_id", "embedding")
      val (_, jobs) = JobCounter(spark.sparkContext) {
        Quantization.persistIvfPqIndex(built, dir, manifest = true)
        Quantization.ivfPqAddBatch(add, "vec_id", "embedding", dir)
        Quantization.ivfPqRemoveBatch(Seq(2L).toDF("vec_id"), "vec_id",
          dir)
        Quantization.validateIvfPqNidManifest(spark, dir)
        Quantization.loadIvfPqIndex(spark, dir)
      }
      assert(jobs == 36)
    } finally {
      org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(built.codes)
      rmTree(dir)
    }
  }
}
