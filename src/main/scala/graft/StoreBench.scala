package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the store-maintenance costs the opt-in machinery exists
  * to remove, one JSON line per experiment (the Bench convention):
  *
  *  1. `store_discovery` — fact-store RETRACTION DISCOVERY: finding
  *     which batch partitions hold the retracted ids by scanning the
  *     id column of EVERY store partition (the manifest-less
  *     fallback) vs probing the doc-count-sized id→batch manifest.
  *     Times the exact two expressions
  *     [[graft.operators.Incremental.retractFromSnapshotStore]] runs
  *     — semi-join on the ids, distinct batch values, collect.
  *  2. `ann_discovery` — the same split for the IVF-PQ layout's
  *     nid→cell manifest ([[graft.operators.Quantization]]
  *     `affectedCells`): scanning every cell directory's (nid, cell)
  *     projection vs probing the skinny manifest. The scan reads m
  *     code rows per vector where the probe reads one; at production
  *     nlist-in-the-thousands the scan additionally pays the
  *     per-cell-directory listing the probe never sees.
  *  3. `store_tiers` — the validation-tier cost split: the full
  *     manifested init+commit+retract lifecycle at
  *     `validate = "full"` (per-operation exact-sync certification)
  *     vs `validate = "recovery"` plus ONE audit-time
  *     validateSnapshotStoreManifest pass — what the recovery
  *     deployment actually saves per ingest cycle.
  *
  * All sections: 3 reps, medians AND raw runs reported, over real
  * artifacts built from the given dataset.
  *
  * Usage: runMain graft.StoreBench <sfDir> [label]
  */
object StoreBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val label = if (args.length > 1) args(1) else sfDir
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // every artifact tree this run creates is deleted on the way out
    // — six lifecycle stores plus the ann layout and the section-1
    // store are full-corpus-sized, and repeated runs would otherwise
    // accumulate in /tmp until the disk fills
    val scratch = scala.collection.mutable.ListBuffer.empty[String]
    def fresh(suffix: String): String = {
      val p = s"/tmp/graft_storebench_${System.nanoTime()}"
      scratch += p
      s"$p/$suffix"
    }
    def rmTree(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
    }
    // the scratch trees are full-corpus-sized: clean up on EVERY
    // exit path (a mid-bench failure — a missing table, a refused
    // lifecycle — must not leak them into /tmp)
    try {
    val dir = fresh("s")
    val I = graft.operators.Incremental
    val S = graft.operators.Search
    // two crawl eras, as the store queries build it — manifested, so
    // BOTH discovery paths exist against the same layout
    I.initSnapshotStore(
      S.tfSnapshot(docs.filter(col("doc_id") % 2 === 0), "doc_id",
        "text"), dir, manifestIdCol = Some("doc_id"))
    I.commitSnapshotBatch(
      S.tfSnapshot(docs.filter(col("doc_id") % 2 =!= 0), "doc_id",
        "text"), dir, 1L, manifestIdCol = Some("doc_id"))
    val ids = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
      .localCheckpoint(true)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // the manifest-less fallback: id column over EVERY partition
    def scanDiscovery(): Unit =
      spark.read.parquet(dir).join(ids, Seq("doc_id"), "left_semi")
        .select("batch").distinct().collect()
    // the manifested path: one probe of the doc-count-sized manifest
    def manifestDiscovery(): Unit =
      spark.read.parquet(dir + "__manifest")
        .join(ids, Seq("doc_id"), "left_semi")
        .select("batch").distinct().collect()
    val storeRows = spark.read.parquet(dir).count()
    val manifestRows = spark.read.parquet(dir + "__manifest").count()
    val scan = (1 to 3).map(_ => time(scanDiscovery()))
    val probe = (1 to 3).map(_ => time(manifestDiscovery()))
    // Locale.ROOT, the Bench convention: a comma-decimal default
    // locale would emit invalid JSON
    def n(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    def arr(xs: Seq[Double]) = xs.map(n).mkString("[", ",", "]")
    println(
      s"""{"metric":"store_discovery","unit":"sec","sf":"$label",""" +
        s""""store_rows":$storeRows,"manifest_rows":$manifestRows,""" +
        s""""scan_median":${n(median(scan))},""" +
        s""""scan_runs":${arr(scan)},""" +
        s""""manifest_median":${n(median(probe))},""" +
        s""""manifest_runs":${arr(probe)}}""")

    // ---- 2. ANN layout discovery: cell scan vs nid manifest probe
    val embPath = s"$sfDir/embeddings.parquet"
    if (new java.io.File(embPath).exists()) {
      val Q = graft.operators.Quantization
      val emb = spark.read.parquet(embPath)
      // two layout shapes: the queries' toy nlist=4, and a
      // production-shaped nlist=64 where the scan's per-cell
      // directory listing + per-cell row groups start to bite —
      // the cost dimension the skinny single-table probe never pays
      for (nlist <- Seq(4, 64)) {
        val annDir = fresh(s"ann$nlist")
        graft.core.Pins.scope { p =>
          val idx = Q.ivfPqIndex(emb, "vec_id", "embedding",
            nlist = nlist, coarseIters = 2, m = 4, ksub = 4, pqIters = 2)
          p.own(idx.codes)
          Q.persistIvfPqIndex(idx, annDir, manifest = true)
        }
        val vecIds = emb.filter(col("vec_id") % 10 === 3)
          .select(col("vec_id").as("nid")).localCheckpoint(true)
        // the exact two expressions affectedCells runs, per branch
        def annScan(): Unit =
          spark.read.parquet(s"$annDir/codes").select("nid", "cell")
            .join(vecIds, Seq("nid"), "left_semi")
            .select("cell").distinct().collect()
        def annProbe(): Unit =
          spark.read.parquet(s"$annDir/nid_manifest")
            .join(vecIds, Seq("nid"), "left_semi")
            .select("cell").distinct().collect()
        val codeRows = spark.read.parquet(s"$annDir/codes").count()
        val manRows =
          spark.read.parquet(s"$annDir/nid_manifest").count()
        val aScan = (1 to 3).map(_ => time(annScan()))
        val aProbe = (1 to 3).map(_ => time(annProbe()))
        println(
          s"""{"metric":"ann_discovery","unit":"sec","sf":"$label",""" +
            s""""code_rows":$codeRows,"manifest_rows":$manRows,""" +
            s""""nlist":$nlist,"m":4,""" +
            s""""scan_median":${n(median(aScan))},""" +
            s""""scan_runs":${arr(aScan)},""" +
            s""""manifest_median":${n(median(aProbe))},""" +
            s""""manifest_runs":${arr(aProbe)}}""")
      }
    } else
      System.err.println(s"[storebench] no embeddings at $embPath - " +
        "ann_discovery skipped")

    // ---- 2b. the production-shape crossover question: does the nid
    // manifest's probe ever separate from the codes scan at realistic
    // nlist and volume? The sf0.1/sf1 rows above sit under the ~0.2 s
    // job floor at toy nlist, so this section SYNTHESIZES the layout
    // shape only — nlist=1024 cell directories, 10⁶ code rows with
    // the m=4 payload a real codes row carries, the manifest
    // cell-partitioned exactly as rebuildIvfPqNidManifest lays it out
    // — because discovery cost is a function of the directory/row
    // shape, not of what the PQ codes encode. One task per cell
    // (repartition on the partition column) mirrors a compacted
    // layout: one file per directory on both sides, so neither side
    // pays accidental small-file penalties the other doesn't.
    if (sys.env.get("STOREBENCH_SKIP_SYNTH").isEmpty) {
      val nlist = 1024
      val nVec = 1000000L
      val m = 4
      val annDir = fresh("annxl")
      // the REAL persisted layout holds m rows per vector — one
      // (nid, cell, s, c) row per PQ subspace (Quantization's
      // posexplode shape) — so the scan side must pay m·nVec rows,
      // not nVec; a 1-row-per-vector synthetic would understate scan
      // cost 4x and bias the crossover verdict
      val synth = spark.range(nVec)
        .select(col("id").as("nid"),
          (col("id") % nlist).cast("int").as("cell"),
          explode(array((0 until m).map(lit): _*)).as("s"))
        .withColumn("c",
          pmod(hash(col("nid"), col("s")), lit(256)).cast("int"))
        .repartition(col("cell"))
      graft.sources.Bucketed.writePartitioned(synth,
        s"$annDir/codes", Seq("cell"))
      // the manifest exactly as rebuildIvfPqNidManifest lays it out:
      // DISTINCT (nid, cell) — one row per vector, cell-partitioned
      synth.select("nid", "cell").distinct()
        .repartition(col("cell"))
        .write.option("partitionOverwriteMode", "static")
        .partitionBy("cell").mode("overwrite")
        .parquet(s"$annDir/nid_manifest")
      val vecIds = spark.range(nVec).filter(col("id") % 10 === 3)
        .select(col("id").as("nid")).localCheckpoint(true)
      def xScan(): Unit =
        spark.read.parquet(s"$annDir/codes").select("nid", "cell")
          .join(vecIds, Seq("nid"), "left_semi")
          .select("cell").distinct().collect()
      def xProbe(): Unit =
        spark.read.parquet(s"$annDir/nid_manifest")
          .join(vecIds, Seq("nid"), "left_semi")
          .select("cell").distinct().collect()
      val xs = (1 to 3).map(_ => time(xScan()))
      val xp = (1 to 3).map(_ => time(xProbe()))
      println(
        s"""{"metric":"ann_discovery","unit":"sec","sf":"synthetic",""" +
          s""""code_rows":${nVec * m},"manifest_rows":$nVec,""" +
          s""""nlist":$nlist,"m":$m,"synthetic":true,""" +
          s""""scan_median":${n(median(xs))},""" +
          s""""scan_runs":${arr(xs)},""" +
          s""""manifest_median":${n(median(xp))},""" +
          s""""manifest_runs":${arr(xp)},""" +
          s""""note":"layout shape synthesized (discovery cost depends""" +
          s""" on directory/row shape only): nlist=1024 dirs, 1e6""" +
          s""" vectors as m=4 (nid, cell, s, c) code rows - the real""" +
          s""" posexplode layout, 4e6 scan-side rows - manifest =""" +
          s""" distinct (nid, cell), cell-partitioned as""" +
          s""" rebuildIvfPqNidManifest writes it"}""")
    }

    // ---- 3. validation-tier cost split over the full lifecycle
    def lifecycle(level: String): Unit = {
      val tdir = fresh(s"t_$level")
      I.initSnapshotStore(
        S.tfSnapshot(docs.filter(col("doc_id") % 2 === 0), "doc_id",
          "text"), tdir, manifestIdCol = Some("doc_id"),
        validate = level)
      I.commitSnapshotBatch(
        S.tfSnapshot(docs.filter(col("doc_id") % 2 =!= 0), "doc_id",
          "text"), tdir, 1L, manifestIdCol = Some("doc_id"),
        validate = level)
      I.retractFromSnapshotStore(spark, tdir,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"),
        validate = level)
      // the recovery deployment's deferred certification runs ONCE,
      // at audit time — inside the measured window so the split is
      // honest about what recovery still pays
      if (level == "recovery") I.validateSnapshotStoreManifest(spark, tdir)
    }
    val full = (1 to 3).map(_ => time(lifecycle("full")))
    val rec = (1 to 3).map(_ => time(lifecycle("recovery")))
    println(
      s"""{"metric":"store_tiers","unit":"sec","sf":"$label",""" +
        s""""lifecycle":"init+commit+retract (manifested tf store)",""" +
        s""""full_median":${n(median(full))},""" +
        s""""full_runs":${arr(full)},""" +
        s""""recovery_median":${n(median(rec))},""" +
        s""""recovery_runs":${arr(rec)},""" +
        s""""recovery_includes":"one audit-time validateSnapshotStoreManifest pass"}""")
    } finally {
      scratch.foreach(rmTree)
      spark.stop()
    }
  }
}
