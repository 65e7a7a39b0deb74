package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("mergeRollups over any batch split equals the full recompute") {
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 5L), ("a", 3L, 7L),
      ("b", 4L, 2L), ("b", 5L, 9L), ("c", 6L, 4L))
      .toDF("k", "id", "v")
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        min("v").as("lo"), max("v").as("hi"))
    val full = agg(rows).collect().map(_.toSeq).toSet
    // a 3-way split on id, including an empty partial for key 'c'
    val merged = Incremental.mergeRollups(
        Seq(agg(rows.filter(col("id") <= 2)),
          agg(rows.filter(col("id") > 2 && col("id") <= 4)),
          agg(rows.filter(col("id") > 4))),
        Seq("k"),
        Seq("n" -> "sum", "s" -> "sum", "lo" -> "min", "hi" -> "max"))
      .collect().map(_.toSeq).toSet
    assert(merged == full)
  }

  test("retractDocs: the retracted snapshot is row-for-row a fresh " +
    "build on the remaining docs, and the validators still hold") {
    val docs = Seq(
      (1L, "alpha beta beta gamma"), (2L, "beta beta"),
      (3L, "gamma delta alpha"), (4L, ""), (5L, "alpha alpha"))
      .toDF("doc_id", "text")
    val remove = Seq(2L, 4L, 99L).toDF("doc_id") // 99 retracts vacuously
    val remaining = docs.filter(!col("doc_id").isin(2L, 4L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // BM25 tf snapshot: retract == never-indexed (markers included)
    val tfRetracted = Incremental.retractDocs(
      Search.tfSnapshot(docs, "doc_id", "text"), remove)
    assert(rows(tfRetracted) ==
      rows(Search.tfSnapshot(remaining, "doc_id", "text")))
    Search.validateTfSnapshot(tfRetracted)
    // KN snapshot: same one-anti-join retraction, same equality
    val knRetracted = Incremental.retractDocs(
      TextAnalysis.knSnapshot(docs, "doc_id", "text"), remove)
    assert(rows(knRetracted) ==
      rows(TextAnalysis.knSnapshot(remaining, "doc_id", "text")))
    TextAnalysis.validateKnSnapshot(knRetracted)
  }

  test("subtractLineCounts: exact un-count, zeros drop, negatives " +
    "are caught loudly") {
    val docs = Seq(
      (1L, "nav bar\nbody one"), (2L, "nav bar\nbody two"),
      (3L, "nav bar\nbanner"), (4L, "banner\nbody four"))
      .toDF("doc_id", "text")
    val total = Dedup.lineCountPartial(docs, "text")
    val retracted = Dedup.lineCountPartial(
      docs.filter(col("doc_id") >= 3), "text")
    val after = Dedup.subtractLineCounts(total, retracted)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // exact: == a fresh count over the remaining docs ("banner"
    // reaches zero and DROPS; "nav bar" falls 3 -> 2)
    assert(rows(after) ==
      rows(Dedup.lineCountPartial(docs.filter(col("doc_id") < 3),
        "text")))
    Dedup.validateLineCounts(after)
    // retracting the same batch twice drives counts negative - loud
    val twice = Dedup.subtractLineCounts(after, retracted)
    val e = intercept[IllegalArgumentException] {
      Dedup.validateLineCounts(twice)
    }
    assert(e.getMessage.contains("negative"))
    // ...and so does retracting a batch that was never merged in
    // (keys absent from the table surface via the full-outer join)
    val alien = Dedup.lineCountPartial(
      Seq((9L, "never seen line")).toDF("doc_id", "text"), "text")
    intercept[IllegalArgumentException] {
      Dedup.validateLineCounts(Dedup.subtractLineCounts(after, alien))
    }
  }

  test("subtractGroupedLineCounts: per-group un-count == fresh " +
    "grouped recount") {
    val docs = Seq(
      (1L, "en", "nav\nbody"), (2L, "en", "nav\nmore"),
      (3L, "en", "nav\nx"), (4L, "de", "nav\ny"), (5L, "de", "nav\nz"))
      .toDF("doc_id", "lang", "text")
    val total = Dedup.groupedLineCountPartial(docs, "lang", "text")
    val removed = Dedup.groupedLineCountPartial(
      docs.filter(col("doc_id") === 3), "lang", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // en's 'nav' falls 3 -> 2; de's 'nav' untouched at 2 - the group
    // scope is what the grouped variant buys
    assert(rows(Dedup.subtractGroupedLineCounts(total, removed)) ==
      rows(Dedup.groupedLineCountPartial(
        docs.filter(col("doc_id") =!= 3), "lang", "text")))
  }

  test("retractPrefixCrossIndex == full rebuild on the remaining " +
    "docs, no text rescanned") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta epsilon zeta theta"),
      (4L, "one two three four five six"),
      (5L, "one two three four five seven"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta iota"),
      (11L, "one two three four five six"))
      .toDF("doc_id", "text")
    val full = Dedup.prefixCrossIndex(docs, "doc_id", "text",
      k = 5, theta = 0.4)
    val retracted = Dedup.retractPrefixCrossIndex(full,
      Seq(3L, 99L).toDF("doc_id"), "doc_id") // 99 retracts vacuously
    val rebuilt = Dedup.prefixCrossIndex(
      docs.filter(col("doc_id") =!= 3L), "doc_id", "text",
      k = 5, theta = 0.4)
    def probe(idx: Dedup.PrefixCrossIndex) =
      Dedup.prefixCrossJaccardAgainst(incoming, idx, "doc_id", "text")
        .collect().map(_.toSeq).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(retracted.shEx) == rows(rebuilt.shEx))
    assert(rows(retracted.dfreq) == rows(rebuilt.dfreq))
    assert(probe(retracted) == probe(rebuilt))
    // doc 3's near-dup pair really left the screen
    assert(probe(full) != probe(retracted))
    // the validator: clean on a well-formed retraction, loud on
    // doubly-subtracted df state
    Dedup.validatePrefixCrossIndex(retracted)
    val e = intercept[IllegalArgumentException] {
      Dedup.validatePrefixCrossIndex(retracted.copy(
        dfreq = retracted.dfreq
          .withColumn("df", col("df") - lit(100L))))
    }
    assert(e.getMessage.contains("non-positive"))
    Seq(full, retracted, rebuilt).foreach { i =>
      Seq(i.shEx, i.dfreq, i.prefEx).foreach(
        org.apache.spark.sql.graftshim.Shims.unpersistLocalCheckpoint)
    }
  }

  test("updatePrefixCrossIndex == refresh-after-retract == fresh build") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta theta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six eight"))
      .toDF("doc_id", "text")
    val updated = Seq(
      (2L, "totally rewritten content with fresh words here"),
      (3L, "one two three four five six nine"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta iota"),
      (11L, "one two three four five six nine"))
      .toDF("doc_id", "text")
    val idx = Dedup.prefixCrossIndex(docs, "doc_id", "text",
      k = 5, theta = 0.4)
    val oneShot = Dedup.updatePrefixCrossIndex(idx,
      updated.select("doc_id"), updated, "doc_id", "text")
    val twoStep = Dedup.refreshPrefixCrossIndex(
      Dedup.retractPrefixCrossIndex(idx, updated.select("doc_id"),
        "doc_id"), updated, "doc_id", "text")
    val rebuilt = Dedup.prefixCrossIndex(
      docs.filter(col("doc_id") === 1L || col("doc_id") === 4L)
        .unionByName(updated), "doc_id", "text", k = 5, theta = 0.4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def probe(i: Dedup.PrefixCrossIndex) =
      Dedup.prefixCrossJaccardAgainst(incoming, i, "doc_id", "text")
        .collect().map(_.toSeq).toSet
    assert(rows(oneShot.shEx) == rows(twoStep.shEx))
    assert(rows(oneShot.dfreq) == rows(twoStep.dfreq))
    assert(rows(oneShot.prefEx) == rows(twoStep.prefEx))
    assert(rows(oneShot.dfreq) == rows(rebuilt.dfreq))
    assert(probe(oneShot) == probe(rebuilt))
    Dedup.validatePrefixCrossIndex(oneShot)
    Seq(idx, oneShot, twoStep, rebuilt).foreach { i =>
      Seq(i.shEx, i.dfreq, i.prefEx).foreach(
        org.apache.spark.sql.graftshim.Shims.unpersistLocalCheckpoint)
    }
  }

  test("mergeRollups rejects non-mergeable aggregate names") {
    val p = Seq(("a", 1L)).toDF("k", "n")
    intercept[IllegalArgumentException] {
      Incremental.mergeRollups(Seq(p), Seq("k"), Seq("n" -> "avg"))
        .collect()
    }
  }

  test("boilerplate line counts: merged batch partials == single pass") {
    // BOILER crosses the threshold only ACROSS batches (2 + 1) — the
    // case a recompute-only pipeline gets right and a broken merge
    // path would miss
    val batchA = Seq((1L, "BOILER\na"), (2L, "BOILER\nb"))
      .toDF("doc_id", "text")
    val batchB = Seq((3L, "BOILER\nc"), (4L, "once\nd"))
      .toDF("doc_id", "text")
    val merged = Dedup.boilerplateFromCounts(
        Dedup.mergeLineCounts(Seq(
          Dedup.lineCountPartial(batchA, "text"),
          Dedup.lineCountPartial(batchB, "text"))), minCount = 3)
      .collect().map(_.getLong(0)).toSet
    val full = Dedup.boilerplateLineSet(
        batchA.unionByName(batchB), "text", minCount = 3)
      .collect().map(_.getLong(0)).toSet
    assert(merged == full && merged.size == 1)
  }

  test("gram sets: era partials distinct-unioned == single pass") {
    val eraA = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val eraB = Seq((2L, "c d e f g h i j k")).toDF("doc_id", "text")
    val merged = Dedup.mergeGramSets(Seq(
        Dedup.existingGramSet(eraA, "text"),
        Dedup.existingGramSet(eraB, "text")))
      .collect().map(_.getLong(0)).toSet
    val full = Dedup.existingGramSet(eraA.unionByName(eraB), "text")
      .collect().map(_.getLong(0)).toSet
    assert(merged == full && merged.nonEmpty)
  }

  test("refreshPrefixCrossIndex == full rebuild on the union") {
    val eraA = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "pack my box with five dozen liquor jugs now"))
      .toDF("doc_id", "text")
    val eraB = Seq(
      (12L, "the quick brown fox jumps over the lazy cat today"),
      (13L, "sphinx of black quartz judge my vow right here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val refreshed = Dedup.refreshPrefixCrossIndex(
      Dedup.prefixCrossIndex(eraA, "doc_id", "text", k = 3, theta = 0.3),
      eraB, "doc_id", "text")
    def pairs(idx: Dedup.PrefixCrossIndex) =
      Dedup.prefixCrossJaccardAgainst(incoming, idx, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val full = Dedup.prefixCrossIndex(eraA.unionByName(eraB),
      "doc_id", "text", k = 3, theta = 0.3)
    assert(pairs(refreshed) == pairs(full) && pairs(full).nonEmpty)
  }

  private def storeDocs = Seq(
    (1L, "alpha beta beta gamma"), (2L, "beta beta"),
    (3L, "gamma delta alpha"), (4L, ""), (5L, "alpha alpha"))
    .toDF("doc_id", "text")

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("snapshot store: init + commit + load is row-for-row the " +
    "in-memory merge, and a duplicate batch id refuses") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tfstore").toString + "/s"
    val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
      "doc_id", "text")
    val b = Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
      "doc_id", "text")
    Incremental.initSnapshotStore(a, dir)
    Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    val loaded = Incremental.loadSnapshotStore(spark, dir)
    assert(rowSet(loaded) == rowSet(Search.mergeTfSnapshots(Seq(a, b))))
    Search.validateTfSnapshot(loaded)
    // batch 1 is landed: re-committing it would duplicate markers
    val ex = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    }
    assert(ex.getMessage.contains("already committed"))
    // a fresh batch id still lands
    Incremental.commitSnapshotBatch(
      Search.tfSnapshot(Seq((9L, "zeta zeta")).toDF("doc_id", "text"),
        "doc_id", "text"), dir, batch = 2L)
    // one tf cell (zeta, tf=2) plus the zero-token marker
    assert(Incremental.loadSnapshotStore(spark, dir)
      .filter(col("doc_id") === 9L).count() == 2)
  }

  test("snapshot store: a commit against a never-initialized dir " +
    "refuses loudly instead of birthing a partial store") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_noinit").toString + "/never_inited"
    val b = Search.tfSnapshot(storeDocs, "doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    }
    assert(ex.getMessage.contains("does not exist"))
    // nothing was created: the refusal left no partial store behind
    assert(!new java.io.File(dir).exists())
  }

  test("snapshot store: file-level retraction == retractDocs, only " +
    "touched partitions rewrite, vacuous and emptying cases guarded") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_knstore").toString + "/s"
    val a = TextAnalysis.knSnapshot(
      storeDocs.filter(col("doc_id") <= 2), "doc_id", "text")
    val b = TextAnalysis.knSnapshot(
      storeDocs.filter(col("doc_id") > 2), "doc_id", "text")
    Incremental.initSnapshotStore(a, dir)
    Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    def files(batch: Long) = new java.io.File(s"$dir/batch=$batch")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val batch0Before = files(0L)
    // doc 3 lives in batch 1 only: batch 0's files must not move
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(3L, 99L).toDF("doc_id"))
    assert(files(0L) == batch0Before)
    val loaded = Incremental.loadSnapshotStore(spark, dir)
    assert(rowSet(loaded) == rowSet(Incremental.retractDocs(
      TextAnalysis.mergeKnSnapshots(Seq(a, b)),
      Seq(3L).toDF("doc_id"))))
    TextAnalysis.validateKnSnapshot(loaded)
    // absent ids retract vacuously (no touched partitions, no write)
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(777L).toDF("doc_id"))
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir))
      == rowSet(loaded))
    // retracting EVERY doc of batch 1 would empty its directory:
    // dynamic overwrite cannot delete it, so the store refuses
    val ex = intercept[IllegalArgumentException] {
      Incremental.retractFromSnapshotStore(spark, dir,
        Seq(4L, 5L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("would empty"))
  }

  test("snapshot store: compaction is reader-invisible, collapses " +
    "the partitions to batch 0, and resets the batch-id space") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tfcompact").toString + "/s"
    val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
      "doc_id", "text")
    val b = Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
      "doc_id", "text")
    Incremental.initSnapshotStore(a, dir)
    Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(3L).toDF("doc_id"))
    val before = rowSet(Incremental.loadSnapshotStore(spark, dir))
    Incremental.compactSnapshotStore(spark, dir)
    // same rows a reader sees; one partition directory left; the
    // swap tempdir renamed into place
    val loaded = Incremental.loadSnapshotStore(spark, dir)
    assert(rowSet(loaded) == before)
    Search.validateTfSnapshot(loaded)
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=0"))
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    // compaction resets the id space: batch 1 is forgotten and a
    // fresh commit under that id lands again
    Incremental.commitSnapshotBatch(
      Search.tfSnapshot(Seq((9L, "zeta zeta")).toDF("doc_id", "text"),
        "doc_id", "text"), dir, batch = 1L)
    assert(Incremental.loadSnapshotStore(spark, dir)
      .filter(col("doc_id") === 9L).count() == 2)
  }

  test("snapshot store manifest: maintained by init/commit/retract, " +
    "guards commits on both sides, catches drift loudly, and " +
    "compaction rebuilds it exactly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifstore").toString + "/s"
    val mdir = dir + "__manifest"
    val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
      "doc_id", "text")
    val b = Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
      "doc_id", "text")
    Incremental.initSnapshotStore(a, dir,
      manifestIdCol = Some("doc_id"))
    assert(new java.io.File(mdir + "/batch=0").exists())
    // a manifested store refuses a manifest-less commit (the silent
    // under-approximation hole) ...
    val e1 = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    }
    assert(e1.getMessage.contains("maintains an id manifest"))
    // ... and an unmanifested store refuses a manifest-bearing one
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_nomanif").toString + "/s"
    Incremental.initSnapshotStore(a, dir2)
    val e2 = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(b, dir2, batch = 1L,
        manifestIdCol = Some("doc_id"))
    }
    assert(e2.getMessage.contains("has no manifest"))
    // a HALF-WRITTEN manifest (directory created by a crashed init's
    // job setup, no _SUCCESS marker) is NOT a manifest - the store
    // presents as manifest-less (loud commit refusal + scan-fallback
    // retraction), never as a manifest missing earlier batches
    assert(new java.io.File(dir2 + "__manifest").mkdirs())
    val e2b = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(b, dir2, batch = 1L,
        manifestIdCol = Some("doc_id"))
    }
    assert(e2b.getMessage.contains("has no manifest"))
    Incremental.commitSnapshotBatch(b, dir, batch = 1L,
      manifestIdCol = Some("doc_id"))
    Incremental.validateSnapshotStoreManifest(spark, dir)
    // manifest-scoped retraction == the scan-discovery retraction ==
    // retractDocs, and the manifest stays in sync
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(3L).toDF("doc_id"))
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir)) ==
      rowSet(Incremental.retractDocs(Search.mergeTfSnapshots(
        Seq(a, b)), Seq(3L).toDF("doc_id"))))
    Incremental.validateSnapshotStoreManifest(spark, dir)
    // drift trips the validator loudly: drop one id from the manifest
    // (the dangerous direction - a future retraction would MISS it)
    val tampered = spark.read.parquet(mdir)
      .filter(col("doc_id") =!= 5L).localCheckpoint(true)
    tampered.write.option("partitionOverwriteMode", "static")
      .partitionBy("batch").mode("overwrite").parquet(mdir)
    org.apache.spark.sql.graftshim.Shims
      .unpersistLocalCheckpoint(tampered)
    val e3 = intercept[IllegalArgumentException] {
      Incremental.validateSnapshotStoreManifest(spark, dir)
    }
    assert(e3.getMessage.contains("out of sync"))
    // compaction REBUILDS the manifest from the folded store - the
    // repair path - and the folded manifest is batch 0 only
    Incremental.compactSnapshotStore(spark, dir)
    Incremental.validateSnapshotStoreManifest(spark, dir)
    val mparts = new java.io.File(mdir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(mparts == Set("batch=0"))
    // a manifest-less re-init RESETS: the stale manifest is deleted
    // and retraction falls back to scan discovery
    Incremental.initSnapshotStore(a, dir)
    assert(!new java.io.File(mdir).exists())
    Incremental.retractFromSnapshotStore(spark, dir,
      Seq(2L).toDF("doc_id"))
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir)) ==
      rowSet(Incremental.retractDocs(a, Seq(2L).toDF("doc_id"))))
  }

  test("snapshot store manifest: the commit residue guard deletes " +
    "only true crashed-commit residue, never drifted real data") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_residue").toString + "/s"
    val mdir = dir + "__manifest"
    val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
      "doc_id", "text")
    val b = Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
      "doc_id", "text")
    Incremental.initSnapshotStore(a, dir,
      manifestIdCol = Some("doc_id"))
    // TRUE crashed-commit residue: the manifest claims batch 1 ids
    // (manifest-first order) that never landed in the store - a
    // retried commit clears it and lands cleanly
    Seq(3L, 4L, 5L).toDF("doc_id").withColumn("batch", lit(1L))
      .write.partitionBy("batch").mode("append").parquet(mdir)
    Incremental.commitSnapshotBatch(b, dir, batch = 1L,
      manifestIdCol = Some("doc_id"))
    Incremental.validateSnapshotStoreManifest(spark, dir)
    // DRIFTED REAL DATA: a manifest partition whose ids the store
    // already SERVES (the crashed-compaction shape: ids folded into
    // batch 0, manifest still holding their old batch row) - the
    // commit must refuse rather than wipe it into the silent miss
    Seq(1L).toDF("doc_id").withColumn("batch", lit(2L))
      .write.partitionBy("batch").mode("append").parquet(mdir)
    val fresh = Search.tfSnapshot(
      Seq((9L, "zeta zeta")).toDF("doc_id", "text"), "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(fresh, dir, batch = 2L,
        manifestIdCol = Some("doc_id"))
    }
    assert(e.getMessage.contains("already serves"))
    // ...and compaction is the sanctioned repair: manifest rebuilt
    // exactly, after which the same commit lands
    Incremental.compactSnapshotStore(spark, dir)
    Incremental.validateSnapshotStoreManifest(spark, dir)
    Incremental.commitSnapshotBatch(fresh, dir, batch = 2L,
      manifestIdCol = Some("doc_id"))
    Incremental.validateSnapshotStoreManifest(spark, dir)
  }

  test("rollup store: fold == merge, tombstone retract == subtract, " +
    "compaction is reader-invisible and collapses the partitions") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rollstore").toString + "/s"
    val a = Dedup.lineCountPartial(
      storeDocs.filter(col("doc_id") <= 2)
        .select(regexp_replace(col("text"), " ", "\n").as("text")),
      "text")
    val b = Dedup.lineCountPartial(
      storeDocs.filter(col("doc_id") > 2)
        .select(regexp_replace(col("text"), " ", "\n").as("text")),
      "text")
    Incremental.initSnapshotStore(a, dir)
    Incremental.commitSnapshotBatch(b, dir, batch = 1L)
    def fold() = Incremental.loadRollupStore(spark, dir,
      Seq("key"), Seq("cnt"))
    assert(rowSet(fold())
      == rowSet(Dedup.mergeLineCounts(Seq(a, b))))
    // the takedown is an APPEND: tombstones cancel at read time,
    // exactly the subtraction
    Incremental.retractFromRollupStore(b, dir, Seq("key"),
      Seq("cnt"), batch = 2L)
    val afterRetract = rowSet(fold())
    assert(afterRetract
      == rowSet(Dedup.subtractLineCounts(
        Dedup.mergeLineCounts(Seq(a, b)), b)))
    Dedup.validateLineCounts(fold())
    // an empty slice retracts vacuously (no crash, no batch landed)
    Incremental.retractFromRollupStore(
      a.filter(col("cnt") < 0L), dir, Seq("key"), Seq("cnt"),
      batch = 7L)
    assert(rowSet(fold()) == afterRetract)
    // compaction: same folded table, one batch partition left, and
    // the swap tempdir is gone (renamed into place)
    Incremental.compactRollupStore(spark, dir, Seq("key"), Seq("cnt"))
    assert(rowSet(fold()) == afterRetract)
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=0"))
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    // retract the remainder too: the store folds to zero rows and
    // compaction refuses (the init empty guard) - rebuild from
    // source when everything is gone
    Incremental.retractFromRollupStore(a, dir, Seq("key"),
      Seq("cnt"), batch = 1L)
    assert(fold().isEmpty)
    val ex = intercept[IllegalArgumentException] {
      Incremental.compactRollupStore(spark, dir, Seq("key"),
        Seq("cnt"))
    }
    assert(ex.getMessage.contains("empty"))
  }

  /** The state a crash leaves between a compaction's delete and its
    * rename: no store at `dir`, the complete fold at the tempdir. */
  private def cutSwap(dir: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + "__compact_tmp"))

  test("snapshot store: a compaction cut between its delete and its " +
    "rename is finished by the next load or commit") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_swapgap").toString + "/s"
    def tf(df: org.apache.spark.sql.DataFrame) =
      Search.tfSnapshot(df, "doc_id", "text")
    val man = Some("doc_id")
    Incremental.initSnapshotStore(tf(storeDocs.filter(col("doc_id") <= 2)),
      dir, manifestIdCol = man)
    Incremental.commitSnapshotBatch(tf(storeDocs.filter(col("doc_id") > 2)),
      dir, batch = 1L, manifestIdCol = man)
    Incremental.compactSnapshotStore(spark, dir)
    val before = rowSet(Incremental.loadSnapshotStore(spark, dir))
    cutSwap(dir)
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir)) == before)
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    // the same gap met first by a commit: the guards finish the swap
    // and the batch lands on the folded store
    Incremental.compactSnapshotStore(spark, dir)
    cutSwap(dir)
    Incremental.commitSnapshotBatch(
      tf(Seq((9L, "zeta zeta")).toDF("doc_id", "text")), dir,
      batch = 1L, manifestIdCol = man)
    val after = Incremental.loadSnapshotStore(spark, dir)
    assert(rowSet(after.filter(col("doc_id") =!= 9L)) == before)
    assert(after.filter(col("doc_id") === 9L).count() == 2)
    Incremental.validateSnapshotStoreManifest(spark, dir)
    // a re-init deletes a leftover fold: no later read may rename a
    // stale store in over the reset one
    Incremental.compactSnapshotStore(spark, dir)
    cutSwap(dir)
    val fresh = tf(storeDocs.filter(col("doc_id") === 5L))
    Incremental.initSnapshotStore(fresh, dir, manifestIdCol = man)
    assert(!new java.io.File(dir + "__compact_tmp").exists())
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir)) ==
      rowSet(fresh))
  }

  test("rollup store: a compaction cut between its delete and its " +
    "rename is finished by the next load") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rollgap").toString + "/s"
    def counts(df: org.apache.spark.sql.DataFrame) = Dedup.lineCountPartial(
      df.select(regexp_replace(col("text"), " ", "\n").as("text")), "text")
    Incremental.initSnapshotStore(counts(storeDocs.filter(col("doc_id") <= 2)),
      dir)
    Incremental.commitSnapshotBatch(counts(storeDocs.filter(col("doc_id") > 2)),
      dir, batch = 1L)
    def fold() = rowSet(Incremental.loadRollupStore(spark, dir,
      Seq("key"), Seq("cnt")))
    Incremental.compactRollupStore(spark, dir, Seq("key"), Seq("cnt"))
    val before = fold()
    cutSwap(dir)
    assert(fold() == before)
    assert(!new java.io.File(dir + "__compact_tmp").exists())
  }

  test("subtractRollups preserves a poisoned null cell instead of " +
    "laundering it to zero, while join nulls still mean absence") {
    // key 20 carries the corruption marker loadRollupStore emits (a
    // null cell on a PRESENT row); key 30 exists only in the total,
    // key 40 only in the removed slice - the join-null cases
    val total = Seq((10L, Some(5L)), (20L, Option.empty[Long]),
      (30L, Some(2L))).toDF("key", "cnt")
    val removed = Seq((10L, Some(2L)), (40L, Some(1L)))
      .toDF("key", "cnt")
    val out = Incremental.subtractRollups(total, removed,
      Seq("key"), Seq("cnt"))
    val byKey = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // 10: normal subtraction; 20: poison SURVIVES (a blind coalesce
    // would emit 0 and drop the row, erasing the corruption one step
    // after the fold surfaced it); 30: untouched; 40: negative for
    // the validator
    assert(byKey == Map(10L -> Some(3L), 20L -> None,
      30L -> Some(2L), 40L -> Some(-1L)))
    intercept[IllegalArgumentException] {
      Dedup.validateLineCounts(out)
    }
  }

  test("store write hygiene: vacuous retract refuses a duplicate " +
    "batch id, the pin respects a caller-held cache, and null ids " +
    "refuse at manifested writes and in the validator") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hygiene").toString + "/s"
    Incremental.initSnapshotStore(
      Seq((10L, 3L)).toDF("key", "cnt"), dir)
    Incremental.commitSnapshotBatch(
      Seq((20L, 2L)).toDF("key", "cnt"), dir, batch = 1L)
    // a vacuous (empty) retraction under an ALREADY-LANDED batch id
    // refuses by listing - the id namespace stays honest whether or
    // not the slice was empty
    val empty = Seq((99L, 1L)).toDF("key", "cnt")
      .filter(col("cnt") < 0L)
    val e = intercept[IllegalArgumentException] {
      Incremental.retractFromRollupStore(empty, dir, Seq("key"),
        Seq("cnt"), batch = 1L)
    }
    assert(e.getMessage.contains("already committed"))
    // ...while a fresh id still lands nothing for an empty slice
    Incremental.retractFromRollupStore(empty, dir, Seq("key"),
      Seq("cnt"), batch = 2L)
    // the pin respects a caller-held cache: committing a frame the
    // CALLER persisted must not evict their cache on exit
    val cached = Seq((30L, 7L)).toDF("key", "cnt").persist()
    try {
      Incremental.commitSnapshotBatch(cached, dir, batch = 3L)
      assert(cached.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE)
    } finally cached.unpersist()
    // a null id REFUSES at every manifested write: the id-keyed
    // retraction machinery (equi-join discovery and rewrite) can
    // never target a null, so letting one land would create a
    // permanently un-retractable row - the silent-miss class itself
    val ndir = java.nio.file.Files
      .createTempDirectory("graft_nullid").toString + "/s"
    val eNullInit = intercept[IllegalArgumentException] {
      Incremental.initSnapshotStore(
        Seq((Some(1L), 5L), (Option.empty[Long], 2L))
          .toDF("doc_id", "cnt"),
        ndir, manifestIdCol = Some("doc_id"))
    }
    assert(eNullInit.getMessage.contains("null"))
    Incremental.initSnapshotStore(
      Seq((Some(1L), 5L)).toDF("doc_id", "cnt"),
      ndir, manifestIdCol = Some("doc_id"))
    val eNullCommit = intercept[IllegalArgumentException] {
      Incremental.commitSnapshotBatch(
        Seq((Option.empty[Long], 9L), (Some(4L), 1L))
          .toDF("doc_id", "cnt"),
        ndir, batch = 1L, manifestIdCol = Some("doc_id"))
    }
    assert(eNullCommit.getMessage.contains("null"))
    // ...the validator names a STORE-side null by its real defect
    // (a clean manifest beside a null-bearing store - the drift
    // direction where a generic out-of-sync message would point at
    // a repair that refuses the same nulls)
    val xdir = java.nio.file.Files
      .createTempDirectory("graft_nullx").toString + "/s"
    Incremental.initSnapshotStore(
      Seq((Option.empty[Long], 2L), (Some(3L), 1L))
        .toDF("doc_id", "cnt"), xdir)
    Seq(Some(3L)).toDF("doc_id")
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(xdir + "__manifest")
    val eNullVal = intercept[IllegalArgumentException] {
      Incremental.validateSnapshotStoreManifest(spark, xdir)
    }
    assert(eNullVal.getMessage.contains("holds null-id rows"))
    // ...compaction refuses the same store BEFORE anything swaps:
    // the old layout and the manifest survive the refusal intact
    val xFiles = new java.io.File(xdir + "/batch=0").listFiles()
      .map(_.getName).toSet
    val eNullCompact = intercept[IllegalArgumentException] {
      Incremental.compactSnapshotStore(spark, xdir)
    }
    assert(eNullCompact.getMessage.contains("null"))
    assert(new java.io.File(xdir + "/batch=0").listFiles()
      .map(_.getName).toSet == xFiles)
    assert(new java.io.File(xdir + "__manifest").exists())
  }

  test("a refused re-init (null ids) leaves the previous store and " +
    "manifest untouched") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_refuseinit").toString + "/s"
    val clean = Search.tfSnapshot(
      storeDocs.filter(col("doc_id") <= 2), "doc_id", "text")
    Incremental.initSnapshotStore(clean, dir,
      manifestIdCol = Some("doc_id"))
    val before = rowSet(Incremental.loadSnapshotStore(spark, dir))
    // the re-init's null guard must fire before the old manifest
    // deletes or the store overwrites - a refusal that had already
    // destroyed the previous corpus would report failure while the
    // tainted data serves
    intercept[IllegalArgumentException] {
      Incremental.initSnapshotStore(
        Seq((Option.empty[Long], "x", 1L), (Some(9L), "y", 2L))
          .toDF("doc_id", "t", "tf"),
        dir, manifestIdCol = Some("doc_id"))
    }
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir)) == before)
    Incremental.validateSnapshotStoreManifest(spark, dir)
  }

  test("snapshot store init stays a static reset even when the " +
    "session default is dynamic partition overwrite") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dynreset").toString + "/s"
    val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
      "doc_id", "text")
    Incremental.initSnapshotStore(a, dir)
    Incremental.commitSnapshotBatch(
      Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
        "doc_id", "text"), dir, batch = 1L)
    val before = spark.conf
      .getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try Incremental.initSnapshotStore(a, dir)
    finally before match {
      case Some(v) => spark.conf
        .set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf
        .unset("spark.sql.sources.partitionOverwriteMode")
    }
    // a reset under a dynamic session default must still remove the
    // stale batch-1 partition - otherwise every later fold would
    // silently double-count it
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=0"))
    assert(rowSet(Incremental.loadSnapshotStore(spark, dir))
      == rowSet(a))
  }

  test("rollup store: a null count cell poisons its key through the " +
    "fold into the validator instead of vanishing") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nullstore").toString + "/s"
    Incremental.initSnapshotStore(
      Seq((10L, 3L), (20L, 2L)).toDF("key", "cnt"), dir)
    // an externally-landed corrupt partial: key 20's cell is null
    Incremental.commitSnapshotBatch(
      Seq((10L, Some(1L)), (20L, Option.empty[Long]))
        .toDF("key", "cnt"), dir, batch = 1L)
    val folded = Incremental.loadRollupStore(spark, dir,
      Seq("key"), Seq("cnt"))
    // the clean key sums; the poisoned key folds to NULL and
    // SURVIVES the zero filter so the validator can see it
    val byKey = folded.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(byKey == Map(10L -> Some(4L), 20L -> None))
    val ex = intercept[IllegalArgumentException] {
      Dedup.validateLineCounts(folded)
    }
    assert(ex.getMessage.contains("corrupt"))
  }

  test("mergeRollups: a null min/max cell on a PRESENT row poisons " +
    "its key instead of laundering to the other partial's value") {
    // key 'a': clean in p1, corrupt (null lo/hi cells) in p2 — a
    // plain min()/max() would skip the nulls and report p1's values
    // as if nothing were wrong; key 'b' is clean in both
    val p1 = Seq(("a", Some(2L), Some(9L)), ("b", Some(1L), Some(4L)))
      .toDF("k", "lo", "hi")
    val p2 = Seq(("a", Option.empty[Long], Option.empty[Long]),
      ("b", Some(0L), Some(7L))).toDF("k", "lo", "hi")
    val merged = Incremental.mergeRollups(Seq(p1, p2), Seq("k"),
        Seq("lo" -> "min", "hi" -> "max"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(merged == Map(
      "a" -> (None, None), "b" -> (Some(0L), Some(7L))))
    // ...and a key ABSENT from one partial is the legitimate case,
    // not poison: only present-row null cells mark corruption
    val p3 = Seq(("c", Some(5L), Some(6L))).toDF("k", "lo", "hi")
    val m2 = Incremental.mergeRollups(Seq(p1, p3), Seq("k"),
        Seq("lo" -> "min", "hi" -> "max"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(m2 == Map("a" -> (2L, 9L), "b" -> (1L, 4L),
      "c" -> (5L, 6L)))
  }

  test("snapshot store validation tiers: a recovery-level lifecycle " +
    "lands the store+manifest a full-level lifecycle lands, and " +
    "certification still passes at audit time") {
    def lifecycle(validate: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_tier_$validate").toString + "/s"
      val a = Search.tfSnapshot(storeDocs.filter(col("doc_id") <= 2),
        "doc_id", "text")
      val b = Search.tfSnapshot(storeDocs.filter(col("doc_id") > 2),
        "doc_id", "text")
      Incremental.initSnapshotStore(a, dir,
        manifestIdCol = Some("doc_id"), validate = validate)
      Incremental.commitSnapshotBatch(b, dir, batch = 1L,
        manifestIdCol = Some("doc_id"), validate = validate)
      Incremental.retractFromSnapshotStore(spark, dir,
        Seq(3L).toDF("doc_id"), validate = validate)
      dir
    }
    val fullDir = lifecycle("full")
    val recDir = lifecycle("recovery")
    // both levels land identical stores AND identical manifests —
    // only the per-operation certification differs
    assert(rowSet(Incremental.loadSnapshotStore(spark, recDir)) ==
      rowSet(Incremental.loadSnapshotStore(spark, fullDir)))
    assert(rowSet(spark.read.parquet(recDir + "__manifest")) ==
      rowSet(spark.read.parquet(fullDir + "__manifest")))
    // the recovery deployment's deferred certification: ONE audit
    // pass over the store instead of a probe per operation
    Incremental.validateSnapshotStoreManifest(spark, recDir)
    Search.validateTfSnapshot(Incremental.loadSnapshotStore(spark, recDir))
    // an unknown level refuses up front, before anything destructive
    val ex = intercept[IllegalArgumentException] {
      Incremental.initSnapshotStore(
        Search.tfSnapshot(storeDocs, "doc_id", "text"),
        recDir, validate = "paranoid")
    }
    assert(ex.getMessage.contains("unknown validation level"))
    assert(rowSet(Incremental.loadSnapshotStore(spark, recDir)) ==
      rowSet(Incremental.loadSnapshotStore(spark, fullDir)))
  }

  test("storeStats: the compaction funnel - accumulating partials " +
    "and tombstone mass cross the thresholds, compaction resets both") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_storestats").toString + "/s"
    def partial(lo: Long, hi: Long) = storeDocs
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    Incremental.initSnapshotStore(partial(1L, 2L), dir)
    def stats() = Incremental.storeStats(spark, dir, Seq("cnt"),
      maxBatches = 3, maxTombstoneShare = 0.25).collect()
    // one fresh batch: nothing due, no tombstones
    val s0 = stats()
    assert(s0.length == 1 && s0.forall(!_.getAs[Boolean]("compact_due")))
    assert(s0.forall(_.getAs[Double]("tombstone_share") == 0.0))
    // a second commit: still under both thresholds
    Incremental.commitSnapshotBatch(partial(3L, 4L), dir, batch = 1L)
    assert(stats().forall(!_.getAs[Boolean]("compact_due")))
    // the tombstone append crosses BOTH documented thresholds at
    // once: 3 landed partials (>= maxBatches) and 2 of 6 rows now
    // exist only to cancel others (>= 25% tombstone mass)
    Incremental.retractFromRollupStore(partial(3L, 4L), dir,
      Seq("doc_id"), Seq("cnt"), batch = 2L)
    val s2 = stats()
    assert(s2.length == 3 && s2.forall(_.getAs[Boolean]("compact_due")))
    assert(s2.forall(_.getAs[Long]("n_batches") == 3L))
    val tomb = s2.find(_.getAs[Long]("batch") == 2L).get
    assert(tomb.getAs[Long]("neg_rows") == tomb.getAs[Long]("n_rows"))
    assert(s2.head.getAs[Double]("tombstone_share") == 0.333333)
    // the stats scheduled the compaction; afterwards the store reads
    // one batch, zero tombstones, nothing due — the funnel closes
    Incremental.compactRollupStore(spark, dir, Seq("doc_id"),
      Seq("cnt"))
    val s3 = stats()
    assert(s3.length == 1 && s3.forall(!_.getAs[Boolean]("compact_due")))
    assert(s3.head.getAs[Long]("neg_rows") == 0L &&
      s3.head.getAs[Double]("tombstone_share") == 0.0)
    assert(s3.head.getAs[Double]("skew") == 1.0 &&
      s3.head.getAs[Double]("batch_share") == 1.0)
    // a NULL sum cell (the store's corruption marker, e.g. an
    // externally-landed bad partial) counts as tombstone mass — the
    // monitoring number must agree with the fold/validator state
    Seq((Some(99L), Option.empty[Long]))
      .toDF("doc_id", "cnt").withColumn("batch", lit(1L))
      .write.mode("append").partitionBy("batch")
      .parquet(dir)
    val s4 = Incremental.storeStats(spark, dir, Seq("cnt"),
      maxBatches = 3, maxTombstoneShare = 0.25).collect()
    assert(s4.find(_.getAs[Long]("batch") == 1L).get
      .getAs[Long]("neg_rows") == 1L)
  }
}
