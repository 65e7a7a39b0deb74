package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Observed, Pins}
import graft.operators.{Dedup, Incremental, Quantization, Search, TextAnalysis}

/** The seven maintained artifacts behind one interface: the BM25 tf
  * snapshot, the KN bigram snapshot, the boilerplate count table and
  * its per-site variant, the prefix-cross near-dup index, the LSH band
  * table and the persisted IVF-PQ layout. Each registry entry owns
  * how its artifact is built, how one [[Change]] applies to it (its
  * own retract, merge or update path), its validator, and the frame
  * and mass its audit row reads. The sweep flagships (d89 takedown,
  * d90 crawl commit, d91 recrawl update) are one [[sweep]] each.
  *
  * Pin discipline (r17): the before-states are checkpointed, since
  * several consumers read them. A snapshot or band after-state that is
  * one anti-join or union over pinned frames stays LAZY: its two
  * consumers (validator, audit) re-run it for less than a second
  * corpus-scale copy costs. Count-table after-states are pinned.
  *
  * The five artifacts with a durable [[Incremental]] store also have a
  * [[Store]] handle, built from the same row function as their
  * registry entry; the lifecycle queries drive their stores only
  * through it. */
private[queries] object MaintainedArtifacts {

  /** What the artifacts are built from: the documents (doc_id, lang,
    * text) and the IVF-PQ layout persisted to `ivfDir` as the vector
    * side's before-state. */
  final case class Corpus(docs: DataFrame, ivf: Quantization.IvfPqIndex,
                          ivfDir: String)

  /** One change to a corpus: documents leaving (`removed`, full rows,
    * since the count tables subtract their partials) and arriving
    * (`added`), vectors (vec_id, embedding) leaving and arriving. A
    * takedown sets the removed sides, a commit the added sides, an
    * update both. */
  final case class Change(removed: Option[DataFrame] = None,
                          added: Option[DataFrame] = None,
                          removedVecs: Option[DataFrame] = None,
                          addedVecs: Option[DataFrame] = None) {
    def removedIds: Option[DataFrame] = removed.map(_.select("doc_id"))
  }

  /** A maintained artifact whose state is an `S` (a frame, an index,
    * a persisted layout). */
  trait Artifact[S] {
    def name: String
    /** Build from the corpus; pins go to the caller's scope. */
    def build(p: Pins, c: Corpus): S
    /** Apply one change to the built state. */
    def apply(p: Pins, before: S, ch: Change): S
    def validate(after: S): Unit
    /** The frame the audit row reads, and its mass aggregate. */
    def audited(st: S): DataFrame
    def mass: Column
  }

  private abstract class Frame(val name: String, val mass: Column)
      extends Artifact[DataFrame] {
    def audited(st: DataFrame): DataFrame = st
  }

  def total(c: String): Column = coalesce(sum(col(c)), lit(0L))

  // how documents become each artifact's rows: one definition, shared
  // by the registry entry and the artifact's durable store
  private val tfRows: DataFrame => DataFrame =
    Search.tfSnapshot(_, "doc_id", "text")
  private val knRows: DataFrame => DataFrame =
    TextAnalysis.knSnapshot(_, "doc_id", "text")
  private val lineRows: DataFrame => DataFrame =
    Dedup.lineCountPartial(_, "text")
  private val groupedRows: DataFrame => DataFrame =
    Dedup.groupedLineCountPartial(_, "lang", "text")

  /** The LSH parameters of the band artifact, its durable store and
    * every screen served from that store. */
  private[queries] object Lsh {
    val k = 5
    val numPerm = 256
    val bands = 64
  }

  /** The band store's rows: [[Dedup.minHashBands]]' lazy plan, whose
    * signature checkpoint belongs to `p`, so `p` must outlive the
    * plan's materialization. */
  private def bandRows(p: Pins, docs: DataFrame): DataFrame =
    Dedup.minHashBandsLazy(p, docs, "doc_id", "text", Lsh.k,
      Lsh.numPerm, Lsh.bands)

  /** A per-doc snapshot (tf cells, KN bigram counts): every corpus
    * rollup derives downstream, so a retraction is one anti-join, and
    * an add merges the batch's own snapshot. */
  private def snapshot(name: String, massCol: String,
                       of: DataFrame => DataFrame,
                       merge: Seq[DataFrame] => DataFrame,
                       check: DataFrame => Unit): Artifact[DataFrame] =
    new Frame(name, total(massCol)) {
      def build(p: Pins, c: Corpus) = p(of(c.docs))
      def apply(p: Pins, before: DataFrame, ch: Change) = {
        val kept = ch.removedIds.fold(before)(
          Incremental.retractDocs(before, _))
        ch.added.fold(kept)(a => p(merge(Seq(kept, of(a)))))
      }
      def validate(after: DataFrame) = check(after)
    }

  /** A line-count table: counts are sums, so a retraction subtracts
    * the removed docs' partial and an add merges the batch's. */
  private def counts(name: String, partial: DataFrame => DataFrame,
                     subtract: (DataFrame, DataFrame) => DataFrame,
                     merge: Seq[DataFrame] => DataFrame): Artifact[DataFrame] =
    new Frame(name, total("cnt")) {
      def build(p: Pins, c: Corpus) = p(partial(c.docs))
      def apply(p: Pins, before: DataFrame, ch: Change) = {
        val kept = ch.removed.fold(before)(r => subtract(before, partial(r)))
        p(ch.added.fold(kept)(a => merge(Seq(kept, partial(a)))))
      }
      def validate(after: DataFrame) = Dedup.validateLineCounts(after)
    }

  private val prefixIndex = new Artifact[Dedup.PrefixCrossIndex] {
    val name = "prefix_index"
    val mass = total("df")
    private def owned(p: Pins, idx: Dedup.PrefixCrossIndex) = {
      idx.frames.foreach(p.own)
      idx
    }
    def build(p: Pins, c: Corpus) = owned(p,
      Dedup.prefixCrossIndex(c.docs, "doc_id", "text", k = 5, theta = 0.5))
    // an update is ONE derivation (r17): the intermediate index's
    // prefix postings, which nothing reads, are never built
    def apply(p: Pins, idx: Dedup.PrefixCrossIndex, ch: Change) =
      (ch.removedIds, ch.added) match {
        case (Some(ids), Some(a)) => owned(p,
          Dedup.updatePrefixCrossIndex(idx, ids, a, "doc_id", "text"))
        case (Some(ids), None) => owned(p,
          Dedup.retractPrefixCrossIndex(idx, ids, "doc_id"))
        case (None, Some(a)) => owned(p,
          Dedup.refreshPrefixCrossIndex(idx, a, "doc_id", "text"))
        case (None, None) => idx
      }
    def validate(after: Dedup.PrefixCrossIndex) =
      Dedup.validatePrefixCrossIndex(after)
    def audited(idx: Dedup.PrefixCrossIndex) = idx.dfreq
  }

  /** Band rows are per-doc independent: a retraction is one anti-join
    * and an add unions the batch's own bands (merged == full build). */
  private val lshBands = new Frame("lsh_bands", countDistinct(col("doc_id"))) {
    private def bands(p: Pins, docs: DataFrame) =
      p.own(Dedup.minHashBands(docs, "doc_id", "text", Lsh.k, Lsh.numPerm,
        Lsh.bands))
    def build(p: Pins, c: Corpus) = bands(p, c.docs)
    def apply(p: Pins, before: DataFrame, ch: Change) = {
      val kept = ch.removedIds.fold(before)(
        Incremental.retractDocs(before, _))
      ch.added.fold(kept)(a => kept.unionByName(bands(p, a)))
    }
    def validate(after: DataFrame) =
      Dedup.validateMinHashBands(after, "doc_id")
  }

  private final case class Layout(dir: String, nids: DataFrame)

  private def nids(s: SparkSession, dir: String) =
    s.read.parquet(dir + "/codes").select("nid")

  /** The persisted layout and its codes' nids. Persisting resets the
    * layout, so re-invocation is idempotent; an update removes then
    * adds, encoding against the FROZEN codebooks (drift is d80/d87's
    * job). The before-nids are pinned because the verbs rewrite the
    * files a lazy read would see. */
  private val ivfPqCodes = new Artifact[Layout] {
    val name = "ivfpq_codes"
    val mass = countDistinct(col("nid"))
    def build(p: Pins, c: Corpus) = {
      Quantization.persistIvfPqIndex(c.ivf, c.ivfDir)
      Layout(c.ivfDir, p(nids(c.docs.sparkSession, c.ivfDir)))
    }
    def apply(p: Pins, before: Layout, ch: Change) = {
      ch.removedVecs.foreach(v => Quantization.ivfPqRemoveBatch(
        v.select("vec_id"), "vec_id", before.dir))
      ch.addedVecs.foreach(
        Quantization.ivfPqAddBatch(_, "vec_id", "embedding", before.dir))
      Layout(before.dir, nids(before.nids.sparkSession, before.dir))
    }
    def validate(after: Layout) =
      Quantization.validateIvfPqCodes(after.nids.sparkSession, after.dir)
    def audited(st: Layout) = st.nids
  }

  /** In sweep order. */
  val registry: Seq[Artifact[_]] = Seq(
    snapshot("bm25_tf", "tf", tfRows, Search.mergeTfSnapshots,
      Search.validateTfSnapshot),
    snapshot("kn_lm", "bf", knRows, TextAnalysis.mergeKnSnapshots,
      TextAnalysis.validateKnSnapshot),
    counts("boiler_counts", lineRows, Dedup.subtractLineCounts,
      Dedup.mergeLineCounts),
    counts("grouped_counts", groupedRows, Dedup.subtractGroupedLineCounts,
      Dedup.mergeGroupedLineCounts),
    prefixIndex, lshBands, ivfPqCodes)

  /** One audit row: physical row count plus an artifact-mass
    * aggregate, before and after, as one-row aggregates crossJoined
    * onto each other. */
  def audit(name: String, before: DataFrame, after: DataFrame,
            massAgg: Column): DataFrame = {
    def one(df: DataFrame, suf: String) =
      df.agg(count(lit(1)).as("rows_" + suf),
        massAgg.cast("long").as("mass_" + suf))
    one(before, "before").crossJoin(one(after, "after"))
      .select(lit(name).as("artifact"),
        col("rows_before"), col("rows_after"),
        col("mass_before"), col("mass_after"))
  }

  /** A sweep's outcome: each artifact's audited (before, after) frames
    * and its audit row. */
  final case class Swept(frames: Map[String, (DataFrame, DataFrame)],
                         audits: Seq[DataFrame]) {
    /** The audit table, `extra` rows included, sorted by artifact and
      * sealed so it outlives the caller's scope. */
    def report(extra: DataFrame*): DataFrame =
      (audits ++ extra).reduce(_ unionByName _).orderBy("artifact")
        .localCheckpoint(true)
  }

  /** Build every artifact from `c`, apply `ch`, and validate it. */
  def sweep(p: Pins, c: Corpus, ch: Change): Swept = {
    def step[S](a: Artifact[S]) = {
      val before = a.build(p, c)
      val after = a(p, before, ch)
      a.validate(after)
      (a.name, a.audited(before), a.audited(after), a.mass)
    }
    val steps = registry.map(step(_))
    Swept(steps.map { case (n, b, a, _) => n -> (b, a) }.toMap,
      steps.map { case (n, b, a, m) => audit(n, b, a, m) })
  }

  /** A maintained artifact's durable [[Incremental]] store, bound to
    * `dir`. Callers pass documents; the handle decides the rows, the
    * store kind, the id manifest or the rollup keys, certification and
    * batch ids. Batch 0 lands at [[init]], each later commit (and a
    * rollup's tombstone) takes the next fresh id, and [[compact]]
    * folds the store to batch 0, so numbering restarts at 1. */
  private[queries] sealed abstract class Store(val dir: String) {
    private var next = 1L
    protected def nextBatch(): Long = { val b = next; next += 1; b }
    protected def restartNumbering(): Unit = next = 1L

    /** Reset the store to `docs`' rows as batch 0. */
    def init(docs: DataFrame): Unit
    /** Append `docs`' rows as the next batch. */
    def commit(docs: DataFrame): Unit
    /** Remove `docs` (full rows; a fact store reads only doc_id). */
    def retract(docs: DataFrame): Unit
    /** Fold every batch into batch 0; invisible to [[load]]. */
    def compact(): Unit
    /** The current state, certified: a store that fails its checks
      * refuses here, before anything serves from it. Whatever the load
      * pins belongs to `p`, which must outlive every use of the
      * returned frame. */
    def load(p: Pins): DataFrame

    /** The two crawl eras of `existing`: even docs init the store, odd
      * docs commit as batch 1. */
    def eras(existing: DataFrame): Unit = {
      init(existing.filter(col("doc_id") % 2 === 0))
      commit(existing.filter(col("doc_id") % 2 =!= 0))
    }
  }

  private val ManifestId = Some("doc_id")

  /** A manifested per-doc fact store: id-keyed retraction rewrites the
    * touched partitions. `rows` may pin into the scope it is given,
    * which closes once the write has landed; `declare` writes what the
    * store carries beside its rows, after each init. */
  private class FactStore(s: SparkSession, dir: String,
                          rows: (Pins, DataFrame) => DataFrame,
                          certify: DataFrame => Unit,
                          declare: () => Unit = () => ())
      extends Store(dir) {
    def init(docs: DataFrame): Unit = {
      Pins.scope(p => Incremental.initSnapshotStore(rows(p, docs), dir,
        manifestIdCol = ManifestId))
      declare()
      restartNumbering()
    }
    def commit(docs: DataFrame): Unit = Pins.scope(p =>
      Incremental.commitSnapshotBatch(rows(p, docs), dir, nextBatch(),
        manifestIdCol = ManifestId))
    def retract(docs: DataFrame): Unit =
      Incremental.retractFromSnapshotStore(s, dir, docs.select("doc_id"))
    def compact(): Unit = {
      Incremental.compactSnapshotStore(s, dir)
      restartNumbering()
    }
    def load(p: Pins): DataFrame = {
      val st = Incremental.loadSnapshotStore(s, dir)
      certify(st)
      st
    }
  }

  /** An append-only rollup store of `cnt` partials keyed by `keys`: a
    * retraction appends the slice's partial negated (a tombstone).
    * Every read folds the store once, pins what it returns and counts
    * the fold's bad rows (negative or null `cnt`,
    * [[Dedup.validateLineCounts]]' refusal and message) during that
    * same checkpoint, so certifying adds no Spark job. */
  private[queries] class RollupStore(s: SparkSession, dir: String,
                                     rows: DataFrame => DataFrame,
                                     keys: Seq[String],
                                     threshold: (DataFrame, Int) => DataFrame)
      extends Store(dir) {
    private val sums = Seq("cnt")
    def init(docs: DataFrame): Unit = {
      Incremental.initSnapshotStore(rows(docs), dir)
      restartNumbering()
    }
    def commit(docs: DataFrame): Unit =
      Incremental.commitSnapshotBatch(rows(docs), dir, nextBatch())
    def retract(docs: DataFrame): Unit =
      Incremental.retractFromRollupStore(rows(docs), dir, keys, sums,
        nextBatch())
    def compact(): Unit = {
      Incremental.compactRollupStore(s, dir, keys, sums)
      restartNumbering()
    }
    def load(p: Pins): DataFrame = certified(p, identity)

    /** The screen set: the keys whose folded count reaches
      * `minCount`. Only the set is pinned; the whole fold is still
      * certified. */
    def boilerplate(p: Pins, minCount: Int): DataFrame =
      certified(p, threshold(_, minCount))

    private def certified(p: Pins, view: DataFrame => DataFrame) = {
      val (fold, bad) = Observed(
        Incremental.loadRollupStore(s, dir, keys, sums), Dedup.badLineCounts)
      val pinned = p(view(fold))
      Dedup.requireLineCounts(bad())
      pinned
    }
  }

  /** A tf or KN snapshot store: the snapshot's own validator, then the
    * manifest checked against the store on disk. */
  private def snapshotStore(s: SparkSession, dir: String,
                            rows: DataFrame => DataFrame,
                            check: DataFrame => Unit): Store =
    new FactStore(s, dir, (_, docs) => rows(docs), { st =>
      check(st)
      Incremental.validateSnapshotStoreManifest(s, dir)
    })

  def tfStore(s: SparkSession, dir: String): Store =
    snapshotStore(s, dir, tfRows, Search.validateTfSnapshot)

  def knStore(s: SparkSession, dir: String): Store =
    snapshotStore(s, dir, knRows, TextAnalysis.validateKnSnapshot)

  /** The LSH band store: its [[Lsh]] parameters are declared beside it
    * at init, and [[Store.load]] runs the one-scan
    * [[Dedup.certifyBandStore]] (parameters, manifest sync, roster
    * completeness, per-id band structure), so screens may serve it
    * with `storedCertified = true`. */
  def bandStore(s: SparkSession, dir: String): Store =
    new FactStore(s, dir, bandRows,
      _ => Dedup.certifyBandStore(s, dir, "doc_id", Lsh.k, Lsh.numPerm,
        Lsh.bands),
      () => Dedup.writeBandParams(s, dir, Lsh.k, Lsh.numPerm, Lsh.bands))

  def boilerStore(s: SparkSession, dir: String): RollupStore =
    new RollupStore(s, dir, lineRows, Seq("key"),
      Dedup.boilerplateFromCounts)

  def groupedStore(s: SparkSession, dir: String): RollupStore =
    new RollupStore(s, dir, groupedRows, Seq("grp", "key"),
      Dedup.groupedBoilerplateFromCounts)
}
