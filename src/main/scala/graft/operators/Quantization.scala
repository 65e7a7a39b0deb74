package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.operators.Similarity

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)) — the
  * standard memory-compression path for billion-vector ANN: split each
  * d-dim vector into `m` subvectors, train an independent k-centroid
  * L2 codebook per subspace (classic Lloyd), and store each vector as
  * `m` small codes. A 64-dim float vector (256 bytes) becomes m=4
  * bytes — the factor that decides whether a 100 TB corpus's index
  * fits executor memory at all.
  *
  * Asymmetric distance computation (ADC): queries stay full-precision;
  * a per-query lookup table of subspace dot products (m·k entries)
  * scores any database code with `m` table adds — the compressed
  * domain never decompresses. Cosine is reconstruction-based:
  * approx dot(q, x) = Σ_s dot(q_s, c_{s,code_s}) and approx |x| from
  * the chosen centroids' squared norms.
  *
  * Scale shape: training is [[Clustering]]'s driver-held-centroid
  * Lloyd, fused across subspaces — per round ONE scan of the
  * checkpointed (id, v) projection assigns all m subspaces and one
  * (s, cluster, dim)-keyed aggregation (m·k·d/m cells — config-table
  * sized) re-estimates every codebook; iters scans total regardless
  * of m. Encoding is map-side only. ADC scoring joins the exploded
  * (id, s, code) table against the per-query LUT on (s, code) — the
  * database side carries CODES, not vectors, so the scored join
  * shuffles m longs per vector instead of d floats. Composing with
  * IVF cells ([[Similarity.ivfTopK]]'s partitioner) bounds the
  * candidate set per query; this operator is the compressed-domain
  * scoring kernel of that composition (FAISS's IVFADC layout).
  *
  * Determinism (the [[Clustering]] oracle discipline, L2 flavor):
  * init = the k lowest-id subvectors in id order; per-round L2
  * distances round to 6 dp with lowest-centroid tie-break; centroid
  * dims are re-estimated as 6-dp-rounded means, and a cluster that
  * loses every member simply drops (mirrored in SQL); ADC partials
  * are integer MICROS (the d28/d38 trick), so per-pair sums are
  * order-independent longs and the whole chain is
  * DuckDB-oracle-checkable. Zero-norm queries or all-zero
  * reconstructions score the -2.0 sentinel, keeping ranking total.
  */
object Quantization {

  /** Trained PQ model: `cents(s)` is subspace s's codebook as
    * (code, centroid) pairs, ascending code id; codebooks may hold
    * fewer than k entries if clusters emptied during training. */
  final case class PqModel(m: Int, dsub: Int,
                           cents: IndexedSeq[Seq[(Int, Array[Double])]])

  /** Subvector s of a float-array column, as doubles. */
  private def subvec(v: Column, s: Int, dsub: Int): Column =
    transform(slice(v, s * dsub + 1, dsub), x => x.cast("double"))

  /** 6-dp-rounded squared L2 distance to a literal centroid. */
  private def sqDist(sv: Column, cvec: Array[Double]): Column =
    round(aggregate(zip_with(sv, lit(cvec), (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, e) => acc + e), 6)

  /** Argmin-distance code against a literal codebook: array_min over
    * (dist, code) structs — lowest distance, then lowest code. */
  private def assignExpr(sv: Column, cb: Seq[(Int, Array[Double])]): Column = {
    val entries = cb.map { case (c, cv) =>
      struct(sqDist(sv, cv).as("d"), lit(c).as("c"))
    }
    array_min(array(entries: _*)).getField("c")
  }

  /** Train per-subspace codebooks over a checkpointed (id, v) frame.
    * Round r assigns against round r-1's codebooks — the
    * [[Clustering]] interleave, so `iters = 2` is one re-estimation. */
  private def train(d0: DataFrame, m: Int, k: Int, iters: Int,
                    dsub: Int): PqModel = {
    val initRows = d0.orderBy("id").limit(k).collect()
    var cents: IndexedSeq[Seq[(Int, Array[Double])]] =
      (0 until m).map { s =>
        initRows.zipWithIndex.map { case (r, c) =>
          c -> r.getSeq[Double](1).slice(s * dsub, (s + 1) * dsub)
            .toArray
        }.toSeq
      }
    for (_ <- 2 to iters) {
      // ONE scan re-estimates every subspace: explode m (s, code, sv)
      // structs per row, then a (s, code, dim)-keyed mean
      val perS = (0 until m).map { s =>
        val sv = subvec(col("v"), s, dsub)
        struct(lit(s).as("s"), assignExpr(sv, cents(s)).as("c"),
          sv.as("sv"))
      }
      val rows = d0.select(explode(array(perS: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.c").as("c"),
          posexplode(col("e.sv")).as(Seq("i", "x")))
        .groupBy("s", "c", "i").agg(round(avg("x"), 6).as("mu"))
        .collect()
      cents = (0 until m).map { s =>
        rows.filter(_.getInt(0) == s).groupBy(_.getInt(1))
          .map { case (c, rs) =>
            c -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
          }.toSeq.sortBy(_._1)
      }
    }
    PqModel(m, dsub, cents)
  }

  // vectors ride as doubles from the checkpoint on, so [[train]] can
  // consume raw embeddings and IVF residuals through one code path
  private def checkpointed(pins: Pins, emb: DataFrame, idCol: String,
                           vecCol: String): DataFrame =
    pins(emb.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))

  /** Train and encode: one row per input id,
    * (idCol, code: array<int> of length m). Encoding is a single
    * map-side pass — the m argmin expressions against the final
    * codebooks run inside the scan stage. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int): DataFrame = Pins.scope { pins =>
    val dsub = subDim(emb, vecCol, m)
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0: $k, $iters")
    val d0 = checkpointed(pins, emb, idCol, vecCol)
    val model = train(d0, m, k, iters, dsub)
    d0.select(col("id").as(idCol),
        array((0 until m).map(s =>
          assignExpr(subvec(col("v"), s, dsub), model.cents(s))
            .cast("int")): _*).as("code"))
      .localCheckpoint(true)
  }

  /** ADC top-k cosine: full-precision queries (`queryFilter` rows)
    * against the PQ-compressed corpus. Returns
    * (qid, rank, nid, score) with `score` the 6-dp reconstruction
    * cosine; self-pairs are excluded, rank ties break on ascending
    * nid. */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                m: Int, k: Int, iters: Int, topK: Int,
                queryFilter: Column): DataFrame = Pins.scope { pins =>
    val spark = emb.sparkSession
    import spark.implicits._
    val dsub = subDim(emb, vecCol, m)
    val d0 = checkpointed(pins, emb, idCol, vecCol)
    val model = train(d0, m, k, iters, dsub)
    // (nid, s, c) code rows — m longs per vector is ALL the database
    // side ever shuffles
    val codes = pins(d0.select(col("id").as("nid"),
        posexplode(array((0 until m).map(s =>
          assignExpr(subvec(col("v"), s, dsub), model.cents(s))): _*))
          .as(Seq("s", "c"))))
    // per-(s, code) centroid squared norms in integer micros —
    // driver-computed (codebooks are driver-held), broadcast
    val cw = model.cents.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (c, cv) =>
        (s, c, math.round(cv.map(x => x * x).sum * 1e6))
      }
    }.toDF("s", "c", "sqm")
    val nsq = codes.join(broadcast(cw), Seq("s", "c"))
      .groupBy("nid").agg(sum("sqm").as("nsqm"))
    // per-query LUT: m·k dot products in integer micros
    val centDf = model.cents.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (c, cv) => (s, c, cv.toSeq) }
    }.toDF("s", "c", "cv")
    val q = d0.filter(queryFilter).select(col("id").as("qid"),
      col("v").as("qv"), Similarity.norm(col("v")).as("qn"))
    val lut = q.select(col("qid"), col("qn"),
        posexplode(array((0 until m).map(s =>
          subvec(col("qv"), s, dsub)): _*)).as(Seq("s", "qsv")))
      .join(broadcast(centDf), Seq("s"))
      .select(col("qid"), col("qn"), col("s"), col("c"),
        round(aggregate(zip_with(col("qsv"), col("cv"),
          (x, y) => x * y), lit(0d), (acc, e) => acc + e) * 1e6)
          .cast("long").as("dotm"))
    // score every code row via the LUT: integer-micro sums are
    // order-independent, so the (qid, nid) aggregation is exact
    val scored = codes.join(lut, Seq("s", "c"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "qn", "nid").agg(sum("dotm").as("sdm"))
      .join(nsq, Seq("nid"))
      .withColumn("score",
        when(col("qn") === 0d || col("nsqm") <= 0L, lit(-2d))
          .otherwise(round((col("sdm") / 1e6)
            / (col("qn") * sqrt(col("nsqm") / 1e6)), 6)))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "nid", "score")
      .localCheckpoint(true)
  }

  /** IVF-PQ end-to-end search — FAISS's IndexIVFPQ / the IVFADC layout
    * of Jégou et al. 2011 §IV: a coarse k-means quantizer partitions
    * the corpus into `nlist` cells, every vector stores only its cell
    * id plus the PQ codes of its RESIDUAL (v − cell centroid), and a
    * query scans just its `nprobe` nearest cells, scoring codes through
    * a per-(query, cell) lookup table of residual-subspace L2 terms.
    * This is the composition the scaladoc above promises: [[pqCodes]]'
    * compressed-domain kernel bounded by an inverted-file partitioner.
    *
    * The coarse quantizer IS [[train]] with one subspace of the full
    * dimension (k-means == PQ at m=1), so both quantizers share one
    * deterministic discipline: init = lowest-id vectors, 6-dp L2
    * assignment with lowest-code tie-break, 6-dp mean re-estimation,
    * emptied cells drop. Distances decompose per subspace —
    * |q − c − r̂|² = Σ_s |(q−c)_s − r̂_s|² — so each LUT entry rounds
    * to integer MICROS once and per-pair sums are order-independent
    * longs (the d41 discipline); ranking is ascending distance with
    * ascending-id tie-break.
    *
    * Scale shape: the corpus side shuffles (cell, m codes) per vector
    * — never the vectors; the two codebooks are driver-held
    * config-table-sized literals; the LUT is nq·nprobe·m·ksub tiny
    * rows on the broadcast side of the scoring join; and the
    * cell-keyed join means a query pays for `nprobe/nlist` of the
    * corpus instead of all of it — the pruning that makes
    * billion-vector ANN tractable where [[pqAdcTopK]] alone still
    * scans every code.
    *
    * @return (qid, rank, nid, dist_micros) — ADC L2² in micros. */
  /** A trained, persisted IVF-PQ index — the artifact a serving
    * deployment keeps while query batches arrive: the coarse cell
    * codebook and PQ codebooks (driver-held, config-table-sized) plus
    * the checkpointed (nid, cell, s, c) code table (the ONLY
    * corpus-sized thing, m small ints + a cell id per vector). Hold
    * `codes` in the caller's [[graft.core.Pins]] scope (`own`). */
  final case class IvfPqIndex(cells: Seq[(Int, Array[Double])],
                              pq: PqModel, codes: DataFrame, dsub: Int)

  /** Train the coarse quantizer + residual PQ and encode the corpus —
    * the build half of [[ivfPqTopK]], reusable across query batches
    * (and across a stream's micro-batches: see st_ann_probe). */
  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, coarseIters: Int, m: Int, ksub: Int,
                 pqIters: Int): IvfPqIndex = Pins.scope { pins =>
    val dim = subDim(emb, vecCol, 1)
    val dsub = subDim(emb, vecCol, m)
    require(nlist > 0, s"need positive nlist: $nlist")
    val d0 = checkpointed(pins, emb, idCol, vecCol)
    val cells = train(d0, 1, nlist, coarseIters, dim).cents(0)
    val rd = pins(cellResiduals(d0, cells))
    val pq = train(rd.select("id", "v"), m, ksub, pqIters, dsub)
    val codes = subCodes(rd, pq, dsub).localCheckpoint(true)
    IvfPqIndex(cells, pq, codes, dsub)
  }

  /** Coarse-assign + residual over normalized (id, v) rows — the
    * FIRST half of the encode, shared by [[ivfPqIndex]] (build) and
    * [[encodeAgainst]] (add) so the two can never diverge: the
    * add path's 'bit-identical to the original build' claim holds by
    * construction, not by parallel maintenance. */
  private def cellResiduals(d0: DataFrame,
                            cells: Seq[(Int, Array[Double])])
      : DataFrame = {
    def centFor(cell: Column): Column =
      cells.tail.foldLeft(when(cell === cells.head._1,
        lit(cells.head._2))) { case (acc, (c, cv)) =>
        acc.when(cell === c, lit(cv))
      }
    val cellCol = assignExpr(col("v"), cells)
    d0.select(col("id"), cellCol.as("cell"),
      zip_with(col("v"), centFor(cellCol), (x, y) => x - y).as("v"))
  }

  /** Per-subspace PQ assign over residual rows → (nid, cell, s, c) —
    * the SECOND half of the encode, shared by build and add. */
  private def subCodes(rd: DataFrame, pq: PqModel,
                       dsub: Int): DataFrame =
    rd.select(col("id").as("nid"), col("cell"),
      posexplode(array((0 until pq.m).map(s =>
        assignExpr(subvec(col("v"), s, dsub), pq.cents(s))): _*))
        .as(Seq("s", "c")))

  /** Persist a trained [[IvfPqIndex]] as the production serving
    * layout: the corpus-sized code table lands HIVE-PARTITIONED BY
    * CELL (one directory per coarse cell — [[graft.sources.Bucketed
    * .writePartitioned]]'s layer), and the config-table-sized
    * codebooks + metadata land as tiny parquet tables beside it. A
    * [[ivfPqSearch]] over the [[loadIvfPqIndex]]ed table is then
    * cell-PRUNED and shuffle-free on the corpus side: the probe LUT
    * is broadcast-sized (queries × nprobe × m × ksub), so the
    * (cell, s, c) join broadcasts it, and Spark's dynamic partition
    * pruning restricts the codes scan to the union of probed cell
    * directories — a query batch reads ~nprobe/nlist of the corpus
    * from DISK, not just post-scan. This is the topology an ANN
    * deployment actually runs: train once, persist, serve query
    * batches against the pruned layout. */
  def persistIvfPqIndex(idx: IvfPqIndex, dir: String,
                        manifest: Boolean = false): Unit = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    // neutralize any previous generation's manifest FIRST (the
    // initSnapshotStore ordering): a stale manifest beside a
    // re-persisted layout would under-approximate the new corpus —
    // the silent retraction miss — so every crash window of a
    // re-persist leaves a manifest-LESS layout whose discovery falls
    // back to the exact full scan
    deleteQuietly(spark, nidManifestPath(dir))
    graft.sources.Bucketed.writePartitioned(idx.codes, s"$dir/codes",
      Seq("cell"))
    idx.cells.map { case (c, cv) => (c, cv.toSeq) }
      .toDF("cell", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/cells")
    idx.pq.cents.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (c, cv) => (s, c, cv.toSeq) }
    }.toDF("s", "c", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pq")
    Seq((idx.pq.m, idx.pq.dsub, idx.dsub)).toDF("m", "pq_dsub", "dsub")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    if (manifest) rebuildIvfPqNidManifest(spark, dir)
  }

  // ------------------------------------------------------------------
  // Opt-in nid→cell MANIFEST for the persisted layout — the
  // Incremental id→batch manifest discipline ported to the ANN index:
  // [[ivfPqRemoveBatch]]'s discovery probes one skinny doc-count-sized
  // (nid, cell) table instead of reading the nid column of EVERY cell
  // directory (at production nlist-in-the-thousands the difference
  // between a manifest lookup and a full-layout column scan per
  // takedown). Same crash-ordering rules: existence is
  // `_SUCCESS`-gated (a half-written manifest must read as
  // manifest-less, falling back to the exact scan — never a silent
  // under-approximation); adds append to the manifest BEFORE the
  // codes (a crash between the two leaves the manifest
  // over-claiming, the safe direction — a later retraction rewrites
  // a cell needlessly and self-heals; the reverse order would leave
  // landed codes the manifest never saw, silently scoping future
  // retractions past them); removals rewrite the manifest AFTER the
  // codes (same over-approximation direction). Null nids are REFUSED
  // at every manifested write — equi-join discovery can never match
  // them (the requireNoNullIds discipline).
  // ------------------------------------------------------------------

  private def nidManifestPath(dir: String): String =
    s"$dir/nid_manifest"

  private def fsAt(spark: org.apache.spark.sql.SparkSession,
                   path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Delete-or-die when present (the Incremental.deleteIfExists
    * invariant): Hadoop filesystems report failure by return value
    * too, and a stale manifest silently surviving a reset is the
    * under-approximation class. */
  private def deleteQuietly(spark: org.apache.spark.sql.SparkSession,
                            path: String): Unit = {
    val (fs, p) = fsAt(spark, path)
    if (fs.exists(p)) require(fs.delete(p, true),
      s"could not delete $path - refusing to continue past a stale " +
        "manifest that would silently survive")
  }

  /** A manifest EXISTS only when its last write job committed — the
    * `_SUCCESS` gate (bare directory existence counts half-written
    * crash residue, whose missing ids would be the silent
    * retraction miss; unmarked ⇒ manifest-less ⇒ exact full-scan
    * fallback). */
  def hasIvfPqNidManifest(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Boolean = {
    val (fs, p) = fsAt(spark, nidManifestPath(dir))
    fs.exists(p) &&
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** (Re)build the nid→cell manifest from the layout's own codes —
    * exact by construction, so it doubles as the repair for any
    * crash-residue drift [[validateIvfPqNidManifest]] reports (the
    * compactSnapshotStore-rebuild role). Cell-partitioned like the
    * codes themselves, so retraction rewrites touch only affected
    * manifest directories. */
  def rebuildIvfPqNidManifest(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Unit = {
    val pairs = spark.read.parquet(s"$dir/codes")
      .select(col("nid"), col("cell")).distinct()
    require(pairs.filter(col("nid").isNull).isEmpty,
      s"layout $dir holds null nids - un-retractable by id " +
        "(equi-join discovery cannot match them); scrub and rebuild " +
        "before manifesting")
    pairs.write.option("partitionOverwriteMode", "static")
      .partitionBy("cell").mode("overwrite")
      .parquet(nidManifestPath(dir))
  }

  /** Assert the manifest is exactly in sync with the codes — the
    * loud detector for the one silent corruption it can carry (a
    * MISSING (nid, cell) pair scopes future takedowns past that
    * cell: removed vectors keep serving while the takedown reports
    * success). One weighted-union symmetric-diff job over the two
    * skinny (nid, cell) projections; repair is
    * [[rebuildIvfPqNidManifest]]. */
  def validateIvfPqNidManifest(spark: org.apache.spark.sql.SparkSession,
                               dir: String): Unit = {
    require(hasIvfPqNidManifest(spark, dir),
      s"$dir has no nid manifest to validate - persistIvfPqIndex " +
        "with manifest=true (or rebuildIvfPqNidManifest) creates one")
    val c = spark.read.parquet(s"$dir/codes")
      .select(col("nid"), col("cell")).distinct()
      .withColumn("__graft_w", lit(1L))
    val m = spark.read.parquet(nidManifestPath(dir))
      .select(col("nid"), col("cell"))
      .withColumn("__graft_w", lit(-1L))
    val bad = c.unionByName(m).groupBy("nid", "cell")
      .agg(sum(col("__graft_w")).as("__graft_w"))
      .filter(col("__graft_w") =!= 0L).count()
    require(bad == 0,
      s"nid manifest out of sync with $dir/codes: $bad (nid, cell) " +
        "pair(s) differ - a manifest missing pairs lets future " +
        "takedowns MISS their cells (removed vectors keep serving); " +
        "rebuildIvfPqNidManifest repairs it exactly")
  }

  /** Retraction DISCOVERY — the cells holding any of the remove ids:
    * one probe of the doc-count-sized manifest when the layout
    * carries one, else the fallback scan of every cell's skinny
    * (nid, cell) projection. Result-identical by the manifest sync
    * invariant; only the source table differs. */
  private def affectedCells(spark: org.apache.spark.sql.SparkSession,
                            dir: String, codes: DataFrame,
                            ids: DataFrame): Array[Any] = {
    val from =
      if (hasIvfPqNidManifest(spark, dir))
        spark.read.parquet(nidManifestPath(dir))
      else codes.select("nid", "cell")
    from.join(ids, Seq("nid"), "left_semi")
      .select("cell").distinct().collect().map(_.get(0))
  }

  /** Load a [[persistIvfPqIndex]] layout: codebooks collect to the
    * driver (k×d rows — the MLlib-shape exception), the code table
    * stays a lazy partitioned scan so [[ivfPqSearch]] keeps its
    * cell-pruning. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): IvfPqIndex = {
    val cells = spark.read.parquet(s"$dir/cells").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val pqRows = spark.read.parquet(s"$dir/pq").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    val (m, pqDsub, dsub) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val cents = (0 until m).map(s => pqRows.filter(_._1 == s)
      .map { case (_, c, cv) => (c, cv) }.sortBy(_._1).toSeq)
    IvfPqIndex(cells, PqModel(m, pqDsub, cents),
      spark.read.parquet(s"$dir/codes"), dsub)
  }

  /** Encode (id, vec) rows against the FROZEN codebooks of an
    * existing index — coarse-assign, residual, per-subspace
    * PQ-assign, all in one narrow scan-side pass (exactly the encode
    * half of [[ivfPqIndex]], minus the training). Codes are a pure
    * per-row function of (vector, codebooks), so encoding a batch
    * now is bit-identical to having encoded it in the original
    * build. */
  private def encodeAgainst(idx: IvfPqIndex, emb: DataFrame,
                            idCol: String, vecCol: String): DataFrame = {
    // a dimension mismatch would otherwise null-pad the residual
    // zip_with, aggregate sqDist to null, and land null cells in the
    // default hive partition — silent corruption; fail fast instead
    val dim = subDim(emb, vecCol, 1)
    require(dim == idx.pq.m * idx.dsub,
      s"batch vector dim $dim != index dim ${idx.pq.m * idx.dsub}")
    val d0 = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    subCodes(cellResiduals(d0, idx.cells), idx.pq, idx.dsub)
  }

  /** FAISS-style `add` for a [[persistIvfPqIndex]] layout: encode a
    * batch of NEW vectors against the index's FROZEN coarse + PQ
    * codebooks and APPEND their codes to the hive cell partitions —
    * the maintenance path for a growing corpus (the screens'
    * incremental-refresh story applied to the ANN index). Because
    * the codebooks are frozen, add-then-search over the appended
    * layout is EXACTLY search over an index whose original build had
    * encoded the union — codes are a deterministic per-row function
    * of (vector, codebooks), proven by the `inc_ivfpq_add` oracle
    * row. What add does NOT do is re-train: coarse centroids drift
    * as the corpus grows, and the periodic re-train/compact is a
    * separate (rarer) full [[ivfPqIndex]] pass, as in FAISS.
    *
    * Scale shape: one scan-side encode pass over ONLY the new batch
    * + an append that touches only the cell directories the batch
    * lands in — corpus-size-independent, no shuffle, no read of the
    * existing codes. That no-read property is also why, on a
    * MANIFEST-LESS layout, id uniqueness is a CALLER contract (as in
    * FAISS `add`): re-adding an id already in the layout appends a
    * second code row set for it, and the ADC sum over (qid, nid)
    * would double-count — dedupe the batch against the corpus id
    * space upstream — and [[validateIvfPqCodes]] is the cheap
    * post-add detector when the batch provenance isn't airtight. A
    * MANIFESTED layout refuses the duplicate instead (one semi-join
    * against the skinny manifest it already reads): without the
    * refusal, the doubled add would land a second (nid, cell) pair
    * that permanently trips [[validateIvfPqNidManifest]] with the
    * MISLEADING missing-pairs/takedown-miss diagnosis — and
    * [[rebuildIvfPqNidManifest]] would then "repair" the manifest
    * while the codes stay corrupt. Vector dimension IS checked (a
    * mismatch would corrupt silently). Post-write sync CERTIFICATION
    * is deliberately CALLER-DRIVEN: run [[validateIvfPqNidManifest]]
    * at audit/recovery time, the fact stores' `validate = recovery`
    * posture; the crash ordering (manifest appends BEFORE codes)
    * keeps every uncertified window in the self-healing
    * over-approximation direction, never the silent-miss one. */
  def ivfPqAddBatch(newEmb: DataFrame, idCol: String, vecCol: String,
                    dir: String): Unit = {
    val spark = newEmb.sparkSession
    val idx = loadIvfPqIndex(spark, dir)
    val codes = encodeAgainst(idx, newEmb, idCol, vecCol)
    if (hasIvfPqNidManifest(spark, dir)) Pins.scope { pins =>
      // pin once: the null-id refusal, the manifest append, and the
      // codes append must see ONE materialization of the encode — a
      // recomputed non-deterministic input landing different id sets
      // in manifest and codes would be the out-of-sync drift
      // validateIvfPqNidManifest exists to catch
      val pinned = pins(codes)
      val pairs = pinned.select(col("nid"), col("cell")).distinct()
      require(pairs.filter(col("nid").isNull).isEmpty,
        s"refusing to add null nids to the manifested layout $dir " +
          "- a null id can never be retracted by id; scrub the " +
          "batch first")
      // refuse ids the manifest already claims (see scaladoc): a
      // doubled add would corrupt the ADC sums silently AND land a
      // second (nid, cell) pair that trips the sync validator
      // later with the wrong diagnosis — refuse now, before either
      // append, while the cause is still on the stack
      val dupCount = pairs.join(
          spark.read.parquet(nidManifestPath(dir)).select("nid"),
          Seq("nid"), "left_semi")
        .select("nid").distinct().count()
      require(dupCount == 0L,
        s"refusing to add $dupCount nid(s) already present in the " +
          s"manifested layout $dir - a re-added id double-counts " +
          "in every ADC sum; dedupe the batch against the corpus " +
          "id space (or retract the old vectors first)")
      // ...and ids duplicated WITHIN the batch, which the manifest
      // probe cannot see (the id isn't claimed yet) and the sync
      // validator cannot either (both sides distinct over
      // (nid, cell)): the same silent ADC double-count, refused by
      // the same pre-append rule. Encode emits one row per
      // (nid, subspace), so any (nid, s) multiplicity is a
      // duplicated input id.
      val intra = pinned.groupBy(col("nid"), col("s"))
        .agg(count(lit(1)).as("__graft_n"))
        .filter(col("__graft_n") > 1L)
        .select("nid").distinct().count()
      require(intra == 0L,
        s"refusing to add $intra nid(s) duplicated WITHIN the " +
          s"batch to the manifested layout $dir - a doubled id " +
          "double-counts in every ADC sum and the (nid, cell)-" +
          "distinct sync validator would certify the corruption; " +
          "dedupe the batch first")
      // manifest FIRST (the writeCommit crash direction): dying
      // between the appends leaves the manifest over-claiming ids
      // the codes never landed — a later takedown rewrites those
      // cells needlessly and self-heals; the reverse order would
      // leave landed codes invisible to discovery, the silent miss
      pairs.write.mode("append").partitionBy("cell")
        .parquet(nidManifestPath(dir))
      pinned.write.mode("append").partitionBy("cell")
        .parquet(s"$dir/codes")
    } else
      codes.write.mode("append").partitionBy("cell")
        .parquet(s"$dir/codes")
  }

  /** FAISS-style `remove_ids` for a [[persistIvfPqIndex]] layout:
    * delete the code rows of the given ids by REWRITING ONLY the
    * cell directories that contain them — the retraction path (data
    * takedowns, right-to-be-forgotten requests, a quarantined
    * source) of the maintained index, closing the lifecycle
    * alongside [[ivfPqAddBatch]] (grow) and [[ivfPqRetrain]]
    * (drift). Codes are a pure per-row function of (vector,
    * codebooks), so removing rows leaves every other code
    * bit-identical: remove-then-search over the layout EQUALS search
    * over an index whose original build never encoded the removed
    * vectors against the SAME codebooks — proven by the
    * `inc_ivfpq_remove` oracle row (frozen full-corpus training,
    * scoring restricted to the survivors). What remove does NOT do
    * is re-train: the codebooks keep reflecting the corpus that
    * included the removed vectors, and a shrinking/drifting corpus
    * eventually shows up in [[ivfPqImbalance]], whose number
    * schedules the full [[ivfPqRetrain]] — exactly FAISS's split.
    *
    * Scale shape: discovery finds the AFFECTED cells (collected — at
    * most nlist values, config-class) from the doc-count-sized
    * nid→cell manifest when the layout carries one
    * ([[persistIvfPqIndex]] `manifest = true`), else from one
    * column-pruned pass over the skinny (nid, cell) projection of
    * every cell — result-identical by the manifest sync invariant
    * ([[validateIvfPqNidManifest]]); the survivors of only those cells are
    * barriered once and rewritten via dynamic partition overwrite,
    * and cells the removal emptied entirely have their directories
    * deleted (dynamic overwrite writes nothing for them, which would
    * otherwise leave the stale rows serving). Untouched cell
    * directories are never rewritten; worst case (every cell
    * affected) degenerates to the retrain-shaped full rewrite, which
    * doubles as compaction. The barrier is required because the
    * rewrite reads the same directories it overwrites. As with
    * [[ivfPqAddBatch]], manifest sync certification is CALLER-DRIVEN
    * ([[validateIvfPqNidManifest]] at audit time): removals rewrite
    * the manifest AFTER the codes, so a crash between the two leaves
    * it over-approximating — later discoveries probe a few dead
    * cells and self-heal, never skip a live one. */
  def ivfPqRemoveBatch(removeIds: DataFrame, idCol: String,
                       dir: String): Unit = {
    val spark = removeIds.sparkSession
    val codes = spark.read.parquet(s"$dir/codes")
    // align the remove ids to the LAYOUT's own id type — a blind
    // cast (or none) would make a type mismatch silently match
    // nothing, and a takedown that reports success while the rows
    // keep serving is the exact failure this operator exists to
    // prevent
    val ids = removeIds
      .select(col(idCol).cast(codes.schema("nid").dataType).as("nid"))
    // ...and the cast itself can fail SILENTLY: in non-ANSI mode an
    // uncastable value casts to null, and null never matches the
    // semi/anti joins below — the takedown would retract nothing for
    // that id while reporting success. A null INPUT id is equally
    // un-retractable (equi-join discovery cannot match it, the
    // Incremental.requireNoNullIds discipline). One cheap job over
    // the takedown-batch-sized id set refuses both loudly.
    require(ids.filter(col("nid").isNull).isEmpty,
      "remove-id batch holds null ids (or values uncastable to the " +
        "layout's nid type) - an equi-join can never match them, so " +
        "the takedown would silently retract nothing for those ids; " +
        "scrub or re-type the batch")
    val affected = affectedCells(spark, dir, codes, ids)
    if (affected.isEmpty) return
    Pins.scope { pins =>
      val survivors = pins(codes
        .filter(col("cell").isin(affected: _*))
        .join(ids, Seq("nid"), "left_anti"))
      // a layout emptied to zero rows is unrepresentable (a hive
      // table with no partitions has no schema to read) — that state
      // means the index is gone, which is a rebuild, not a remove
      require(codes.filter(!col("cell").isin(affected: _*)).limit(1)
          .count() > 0 || survivors.limit(1).count() > 0,
        "removing every remaining vector would empty the layout - " +
          "rebuild it (persistIvfPqIndex of a fresh build) instead")
      // EMPTIED cells delete BEFORE the overwrite (safe because the
      // survivors are already frozen bytes — the checkpoint above —
      // so no deleted file is still an input), and delete-or-die:
      // dynamic overwrite writes nothing for a cell with no
      // surviving rows, so the old order (delete after the rewrite)
      // left a window — a crash between the write and the delete
      // loop, or a false fs.delete return — where the emptied cell's
      // stale files kept SERVING the removed vectors while the
      // operation had already (or silently) reported success: the
      // exact retraction-miss class this operator exists to prevent,
      // and one validateIvfPqCodes cannot see (it checks shape, not
      // membership). With deletes first, every crash direction is
      // loud: a crash here leaves non-emptied cells unrewritten and
      // the takedown FAILED — the retry re-discovers them (the
      // already-deleted cells hold no rows and drop out) and
      // converges.
      val still = survivors.select("cell").distinct().collect()
        .map(_.get(0)).toSet
      val codesPath = new org.apache.hadoop.fs.Path(s"$dir/codes")
      val fs = codesPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      (affected.toSet -- still).foreach { c =>
        // existence-guarded: an over-approximating manifest (the
        // documented safe crash direction) can name a cell the codes
        // no longer hold — nothing to delete there is fine; a
        // PRESENT dir failing to delete is not
        val p = new org.apache.hadoop.fs.Path(codesPath, s"cell=$c")
        if (fs.exists(p)) require(fs.delete(p, true),
          s"could not delete emptied cell directory cell=$c of " +
            s"$dir/codes - its stale files would keep serving the " +
            "removed vectors; refusing to report success")
      }
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$dir/codes")
      // the manifest rewrites AFTER the codes (the
      // retractFromSnapshotStore crash direction): a crash between
      // the two leaves the manifest OVER-approximating — a later
      // takedown of those ids rewrites their cells needlessly and
      // the stale pairs self-heal out; never the silent miss. Same
      // mechanics as the codes rewrite: survivors frozen first,
      // emptied manifest cell directories deleted (delete-or-die)
      // before the dynamic overwrite that cannot delete them.
      if (hasIvfPqNidManifest(spark, dir)) {
        val mPath = nidManifestPath(dir)
        val mSurvivors = pins(spark.read.parquet(mPath)
          .filter(col("cell").isin(affected: _*))
          .join(ids, Seq("nid"), "left_anti"))
        val mStill = mSurvivors.select("cell").distinct().collect()
          .map(_.get(0)).toSet
        val (mfs, mRoot) = fsAt(spark, mPath)
        (affected.toSet -- mStill).foreach { c =>
          val p = new org.apache.hadoop.fs.Path(mRoot, s"cell=$c")
          if (mfs.exists(p)) require(mfs.delete(p, true),
            s"could not delete emptied manifest cell cell=$c of " +
              s"$mPath - its stale pairs would drive needless " +
              "rewrites forever; refusing to report success")
        }
        mSurvivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(mPath)
      }
    }
  }

  /** FAISS's `imbalance_factor` with the per-cell occupancy it
    * summarizes: nlist · Σ n_c² / N², 1.0 = perfectly balanced
    * cells. The factor multiplies by NLIST (the codebook size), not
    * the count of non-empty cells — under total collapse (everything
    * in one cell) it reads nlist (maximal skew) where a
    * non-empty-cell count would read 1.0 ("perfectly balanced");
    * empty cells emit explicit zero-occupancy rows so starved cells
    * are visible. [[ivfPqAddBatch]] encodes against FROZEN
    * centroids, so as the corpus drifts this number climbs — which
    * is exactly when [[ivfPqRetrain]] pays for itself. Two skinny
    * aggregations over the (nid, cell) codes projection; the scalar
    * attaches as a one-row crossJoin.
    *
    * @return (cell, n_vecs, share, imbalance) — imbalance constant
    *         across rows, 6 dp. */
  def ivfPqImbalance(idx: IvfPqIndex): DataFrame = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    val allCells = idx.cells.map(_._1).toDF("cell")
    val occ = idx.codes.select("nid", "cell").distinct()
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val perCell = allCells.join(occ, Seq("cell"), "left")
      .na.fill(0L, Seq("n_vecs"))
    val tot = broadcast(perCell.agg(
      sum("n_vecs").as("__nt"),
      sum(col("n_vecs") * col("n_vecs")).as("__ss")))
    perCell.crossJoin(tot)
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") / col("__nt"), 6).as("share"),
        round(lit(idx.cells.length).cast("double") * col("__ss")
          / (col("__nt").cast("double") * col("__nt")), 6)
          .as("imbalance"))
  }

  /** The periodic RETRAIN/COMPACT that closes the maintained-index
    * lifecycle (FAISS: re-train and re-add when `imbalance_factor`
    * climbs): train FRESH coarse + PQ codebooks on the given corpus
    * (the union of everything added so far), re-encode it, and
    * OVERWRITE the persisted layout — the appended cell directories
    * are rewritten from scratch, so the layout is also compacted.
    * Unlike [[ivfPqAddBatch]] this reads and re-encodes the whole
    * corpus — the rarer full pass [[ivfPqImbalance]]'s number tells
    * you to schedule, amortized across the many cheap adds between
    * retrains. */
  def ivfPqRetrain(emb: DataFrame, idCol: String, vecCol: String,
                   dir: String, nlist: Int, coarseIters: Int,
                   m: Int, ksub: Int, pqIters: Int): Unit = Pins.scope { pins =>
    val idx = ivfPqIndex(emb, idCol, vecCol, nlist, coarseIters, m,
      ksub, pqIters)
    pins.own(idx.codes)
    persistIvfPqIndex(idx, dir)
  }

  /** Assert a [[persistIvfPqIndex]] layout's code table is
    * well-formed: every encoded id carries EXACTLY m code rows, one
    * per subspace. This is the detector for the [[ivfPqAddBatch]]
    * caller contract — re-adding an id already in the layout appends
    * a second m-row code set, and the ADC sum over (qid, nid) would
    * silently double-count that neighbor's distance (the
    * [[graft.operators.Search.validateTfSnapshot]] discipline
    * applied to the ANN index). One skinny three-count aggregation
    * over the codes projection turns that into a loud failure; run
    * it after adds whose batch provenance isn't airtight. */
  def validateIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit = {
    val m = spark.read.parquet(s"$dir/meta").collect()(0)
      .getInt(0).toLong
    val r = spark.read.parquet(s"$dir/codes").agg(
      count(lit(1)).as("rows"),
      countDistinct(col("nid")).as("ids"),
      countDistinct(col("nid"), col("s")).as("id_subs")).head
    val (rows, ids, idSubs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(rows == m * ids && idSubs == m * ids,
      s"ivf-pq codes corrupt: $rows rows / $idSubs (id,subspace) " +
        s"pairs for $ids distinct ids with m=$m - an id was added " +
        "twice or a code set is torn")
  }

  /** Probe a trained [[IvfPqIndex]] with a batch of full-precision
    * queries — the serving half of [[ivfPqTopK]]. Per-query work
    * depends only on that query's vector and the (static) index, so
    * micro-batch splits of the query stream cannot change results.
    *
    * @param queries (idCol, vecCol) rows; self-pairs (same id in
    *                corpus and query) are excluded as in ivfPqTopK. */
  def ivfPqSearch(queries: DataFrame, idCol: String, vecCol: String,
                  idx: IvfPqIndex, nprobe: Int, topK: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(nprobe > 0, s"need positive nprobe: $nprobe")
    val m = idx.pq.m
    val probeEntries = idx.cells.map { case (c, cv) =>
      struct(lit(c).as("cell"), sqDist(col("qv"), cv).as("cd"),
        zip_with(col("qv"), lit(cv), (x, y) => x - y).as("qr"))
    }
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("cd").asc, col("cell").asc)
    val probed = queries
      .select(col(idCol).as("qid"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .select(col("qid"), explode(array(probeEntries: _*)).as("e"))
      .select(col("qid"), col("e.cell").as("cell"), col("e.cd").as("cd"),
        col("e.qr").as("qr"))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
    val pqCentDf = broadcast(idx.pq.cents.zipWithIndex.flatMap {
      case (cb, s) => cb.map { case (c, cv) => (s, c, cv.toSeq) }
    }.toDF("s", "c", "cv"))
    val lut = probed.select(col("qid"), col("cell"),
        posexplode(array((0 until m).map(s =>
          subvec(col("qr"), s, idx.dsub)): _*)).as(Seq("s", "qrs")))
      .join(pqCentDf, Seq("s"))
      .select(col("qid"), col("cell"), col("s"), col("c"),
        round(aggregate(zip_with(col("qrs"), col("cv"),
          (x, y) => (x - y) * (x - y)), lit(0d), (acc, e) => acc + e)
          * 1e6).cast("long").as("tm"))
    val scored = idx.codes.join(lut, Seq("cell", "s", "c"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(sum("tm").as("dist_micros"))
    val w = Window.partitionBy("qid")
      .orderBy(col("dist_micros").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "nid", "dist_micros")
  }

  /** IVFADC-R (Jégou et al. 2011 §III-D; FAISS's refine stage): ADC
    * ranks the probed cells to `topR` CANDIDATES per query, then the
    * candidates — and only they — rescore EXACTLY against the
    * original vectors and re-rank to `topK`. This removes the PQ
    * quantization ceiling from the final ranking (the flat-recall
    * regime the ivfpq_recall_cost_frontier probe measures) at the
    * price of one keyed join reading |Q|·topR original vectors — a
    * bounded refine, not a scan: at a billion vectors the exact
    * stage touches topR rows per query no matter how big the corpus
    * or how coarse the codebooks.
    *
    * Determinism: the exact distance is |q|² + |n|² − 2·q·n rounded
    * to micros once — the SAME floating-point formulation as
    * [[graft.operators.Similarity.bruteForceTopKL2]], not the
    * algebraically-equal Σ(q−n)² fold: the two round differently
    * near 0.5-micro boundaries, and full-coverage equality with the
    * brute-force baseline (the QuantizationSpec contract) must hold
    * by construction, not by fixture luck. */
  def ivfPqSearchRescore(queries: DataFrame, idCol: String,
                         vecCol: String, idx: IvfPqIndex,
                         corpus: DataFrame, corpusIdCol: String,
                         corpusVecCol: String, nprobe: Int, topR: Int,
                         topK: Int): DataFrame = {
    require(topR >= topK, s"topR ($topR) must be >= topK ($topK)")
    val cand = ivfPqSearch(queries, idCol, vecCol, idx, nprobe, topR)
      .select("qid", "nid")
    val qv = queries.select(col(idCol).as("qid"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val nv = corpus.select(col(corpusIdCol).as("nid"),
      transform(col(corpusVecCol), x => x.cast("double")).as("nv"))
    val ex = cand.join(qv, Seq("qid")).join(nv, Seq("nid"))
      .withColumn("dist_micros",
        round((Similarity.dot(col("qv"), col("qv"))
          + Similarity.dot(col("nv"), col("nv"))
          - lit(2d) * Similarity.dot(col("qv"), col("nv")))
          * 1e6).cast("long"))
    val w = Window.partitionBy("qid")
      .orderBy(col("dist_micros").asc, col("nid").asc)
    ex.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "nid", "dist_micros")
  }

  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                nlist: Int, coarseIters: Int, m: Int, ksub: Int,
                pqIters: Int, nprobe: Int, topK: Int,
                queryFilter: Column): DataFrame = Pins.scope { pins =>
    val idx = ivfPqIndex(emb, idCol, vecCol, nlist, coarseIters, m,
      ksub, pqIters)
    pins.own(idx.codes)
    // queryFilter addresses the canonical (id, v) projection, as the
    // call sites always have
    val q = checkpointed(pins, emb, idCol, vecCol).filter(queryFilter)
    ivfPqSearch(q, "id", "v", idx, nprobe, topK).localCheckpoint(true)
  }

  /** The SQ8 → PQ residual ladder the [[sq8Codes]] scaladoc promises:
    * scalar-quantize first (cheap 4×, bounded per-dim error), then
    * train PQ on the SQ8 RESIDUALS and measure what the second rung
    * buys — per-vector squared reconstruction error of SQ8 alone vs
    * SQ8 + PQ-reconstructed residual, in integer micros. This is the
    * standard compression ladder (FAISS's SQ/PQ composition, the
    * GGML-style absmax front end): each rung's codes are independent,
    * so storage tiers can drop the PQ rung and keep a usable index.
    *
    * Scale shape: one skinny absmax aggregation (the d45 shape), one
    * map-side dequantize+residual projection into a checkpointed
    * residual frame, the fused PQ Lloyd rounds over it, and one
    * map-side error projection — the corpus never shuffles anything
    * wider than the (s, code, dim) re-estimation cells.
    *
    * @return (idCol, err_sq8_micros, err_ladder_micros). */
  def sq8PqLadder(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int): DataFrame = Pins.scope { pins =>
    val dsub = subDim(emb, vecCol, m)
    val d0 = checkpointed(pins, emb, idCol, vecCol)
    val scales = d0
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(max(abs(col("x"))).as("mx"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mx")))),
        e => e.getField("mx")).as("__ms"))
    val dequant = zip_with(col("v"), col("__ms"), (x, mx) =>
      when(mx === 0d, lit(0d))
        .otherwise(least(greatest(round(x * 127 / mx), lit(-127d)),
          lit(127d)) * mx / 127))
    val rd = pins(d0.crossJoin(broadcast(scales))
      .select(col("id"), zip_with(col("v"), dequant, (x, q) => x - q)
        .as("v")))
    val pq = train(rd, m, ksub, iters, dsub)
    def centFor(s: Int, code: Column): Column = {
      val cb = pq.cents(s)
      cb.tail.foldLeft(when(code === cb.head._1, lit(cb.head._2))) {
        case (acc, (c, cv)) => acc.when(code === c, lit(cv))
      }
    }
    val rhat = flatten(array((0 until m).map { s =>
      centFor(s, assignExpr(subvec(col("v"), s, dsub), pq.cents(s)))
    }: _*))
    def sq(c: Column): Column =
      round(aggregate(c, lit(0d), (acc, e) => acc + e * e) * 1e6)
        .cast("long")
    rd.select(col("id").as(idCol),
        sq(col("v")).as("err_sq8_micros"),
        sq(zip_with(col("v"), rhat, (r, h) => r - h))
          .as("err_ladder_micros"))
      .localCheckpoint(true)
  }

  private def subDim(emb: DataFrame, vecCol: String, m: Int): Int = {
    require(m > 0, s"m must be positive: $m")
    val dim = emb.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"m=$m must divide the vector dim $dim")
    dim / m
  }

  /** Symmetric per-dimension int8 scalar quantization (the SQ8 layout
    * of FAISS's ScalarQuantizer / GGML-style absmax rounding): train
    * scale_d = absmax_d / 127 over the corpus, encode
    * code_d = round(x_d · 127 / absmax_d) clamped to [−127, 127]. A
    * 64-dim float vector (256 B) becomes 64 B at ~0.4% worst-case
    * per-dim error — the cheap 4× before PQ's 64×, and the two
    * compose (PQ over SQ8 residuals is the standard ladder).
    *
    * Scale shape: training is ONE skinny shuffle (posexploded
    * (dim, |x|) rows → per-dim max — 64 cells total), the trained
    * scales ride as a one-row broadcast array (the repo's scalar-
    * attach precedent; nothing driver-held), and encoding is a
    * map-side `zip_with` inside the scan stage. An all-zero dimension
    * has scale 0 and encodes to 0 (nothing to preserve).
    *
    * Integer codes are engine-exact: IEEE division plus half-away-
    * from-zero rounding agree between Spark and DuckDB, so the d45
    * oracle needs no 6-dp epsilon at all.
    *
    * @return (idCol, code: array<int> of length d, ascending dim). */
  def sq8Codes(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scales = emb
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy("i").agg(max(abs(col("x").cast("double"))).as("mx"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mx")))),
        e => e.getField("mx")).as("__ms"))
    emb.crossJoin(broadcast(scales))
      .select(col(idCol),
        zip_with(col(vecCol), col("__ms"), (x, m) =>
          when(m === 0d, lit(0))
            .otherwise(least(greatest(
              round(x.cast("double") * lit(127) / m), lit(-127d)), lit(127d))
              .cast("int"))).as("code"))
  }
}
