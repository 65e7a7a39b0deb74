package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pins
import graft.functions.NativeExpressions

/** Embedding clustering — the "train the coarse quantizer" half of IVF
  * ANN (cell assignments for [[Similarity.ivfTopK]]) and a curation
  * primitive in its own right (topic bucketing, diversity sampling).
  *
  * Lloyd k-means in the classic Spark shape: centroids live on the
  * driver (k × d doubles — config-table sized), shipped into a
  * codegen'd assignment expression each round; the only distributed
  * work per round is one scan + one (cluster, dim)-keyed aggregation.
  * Nothing id-keyed ever shuffles, so 100 TB of vectors cost
  * `iters` scans + `iters` tiny aggregations — and the input is
  * localCheckpointed once per call, so those scans read checkpoint
  * blocks, not the source lineage.
  *
  * Two assignment formulations with identical semantics, picked by k:
  * at k ≤ [[Clustering.LiteralKMax]] the centroids are inlined as
  * literals (constant-folded, trivially mirrored in oracle SQL); above
  * that, inlining would generate O(k·d) expression tree — megabytes of
  * codegen source at a realistic quantizer size (nlist 1024–65536),
  * then Janino failure and interpreter fallback — so the matrix rides
  * the plan as a codegen reference object instead
  * ([[graft.functions.NearestCentroidExpr]]): one static call per row,
  * constant plan size, still map-side-only. ClusteringSpec
  * cross-validates the two paths on the same data.
  *
  * Everything is deterministic and engine-portable, so the whole
  * iteration is DuckDB-oracle-checkable: init = the k lowest-id
  * vectors (cluster index in id order), similarity = cosine rounded
  * to 6 dp with lowest-cluster tie-break, and centroid dims are
  * rounded to 6 dp each round — the rounding pins the values both
  * engines feed into the NEXT round, so cross-engine float drift
  * cannot compound across iterations. A zero-norm vector (or
  * degenerate centroid) scores the sentinel -2.0 instead of NaN, so
  * the argmax stays total and NaN-ordering differences between
  * engines can never surface.
  */
object Clustering {

  /** Largest k assigned via inlined literal centroids; above this the
    * reference-object expression keeps codegen source constant-size. */
  val LiteralKMax = 64

  /** Per-row argmax-similarity cluster id against literal centroids:
    * array of (simil, -cluster) structs → array_max picks highest
    * similarity, then highest negated id = LOWEST cluster id.
    * Zero-norm products score lit(-2d) — below any real cosine —
    * mirroring [[graft.functions.NearestCentroid.assign]]. */
  private def assignExpr(v: Column, cents: Seq[(Int, Array[Double])])
      : Column = {
    val entries = cents.map { case (ci, cvec) =>
      val c = lit(cvec)
      val denom = Similarity.norm(v) * Similarity.norm(c)
      val sim = when(denom === 0d, lit(-2d))
        .otherwise(round(Similarity.dot(v, c) / denom, 6))
      struct(sim.as("s"), lit(-ci).as("nc"))
    }
    -array_max(array(entries: _*)).getField("nc")
  }

  /** Dispatch: literal inlining at oracle-scale k, reference-object
    * expression above (see object scaladoc). `cents` must be sorted by
    * ascending cluster id — both paths tie-break to the lowest id. */
  private def assignCol(v: Column, cents: Seq[(Int, Array[Double])]): Column =
    if (cents.length <= LiteralKMax) assignExpr(v, cents)
    else NativeExpressions.nearestCentroid(v, cents)

  /** Lloyd training over a checkpointed (id, v) frame: returns the
    * final centroid matrix, ascending cluster id. Round r's assignment
    * runs against round r-1's centroids — the exact interleave the
    * former inline loop ran, so the d29/d30 oracles are unaffected. */
  private def trainedCents(d0: DataFrame, k: Int, iters: Int)
      : Seq[(Int, Array[Double])] = {
    // init: the k lowest-id vectors, cluster index in id order —
    // deterministic and trivially mirrored in SQL (row_number - 1)
    var cents: Seq[(Int, Array[Double])] = d0.orderBy("id").limit(k)
      .collect().zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Float](1).map(_.toDouble).toArray
      }.toSeq
    for (_ <- 2 to iters) {
      // new centroids: dimension-wise mean per cluster, rounded to
      // 6 dp (see scaladoc); k × d values — a driver-sized collect,
      // the same shape MLlib's k-means uses
      cents = d0.withColumn("cluster", assignCol(col("v"), cents))
        .select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cluster", "i").agg(round(avg("x"), 6).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
        .toSeq.sortBy(_._1)
    }
    cents
  }

  private def checkpointInput(p: Pins, emb: DataFrame, idCol: String,
                              vecCol: String): DataFrame =
    // one materialization of the skinny (id, v) projection: every
    // assignment round and every centroid aggregation re-reads this,
    // and without the checkpoint each would re-scan the source
    p(emb.select(col(idCol).as("id"), col(vecCol).as("v")))

  /** k-means cluster assignment: one row per input id,
    * (idCol, cluster). `iters` assignment rounds run against the
    * centroids of the previous round; the returned assignment is the
    * final round's, materialized (localCheckpoint) so the input
    * checkpoint can be freed before returning. */
  def kMeans(emb: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = Pins.scope { p =>
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0: $k, $iters")
    val d0 = checkpointInput(p, emb, idCol, vecCol)
    val cents = trainedCents(d0, k, iters)
    d0.withColumn("cluster", assignCol(col("v"), cents))
      .select(col("id").as(idCol), col("cluster").cast("int")
        .as("cluster"))
      .localCheckpoint(true)
  }

  /** [[kMeans]] plus the assignment similarity:
    * (idCol, cluster, csim) where csim is the 6-dp cosine between each
    * vector and its OWN final cluster's centroid — the quantity
    * SemDeDup ranks survivors on ([[Dedup.semDedup]]).
    *
    * The cluster id comes from the same dispatched assignment
    * expression as [[kMeans]] (literal inlining at k ≤ LiteralKMax,
    * reference-object expression above). csim is then computed against
    * a broadcast (cluster → centroid) table rather than a k-wide
    * literal lookup, so the similarity plan stays constant-size at any
    * k. Zero-norm products score the -2.0 sentinel, as in assignment.
    */
  def kMeansWithSim(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int): DataFrame = Pins.scope { p =>
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0: $k, $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val d0 = checkpointInput(p, emb, idCol, vecCol)
    val cents = trainedCents(d0, k, iters)
    val centDf = cents.map { case (c, cvec) => (c, cvec.toSeq) }
      .toDF("cluster", "cv")
    val denom = Similarity.norm(col("v")) * Similarity.norm(col("cv"))
    d0.withColumn("cluster", assignCol(col("v"), cents))
      .join(broadcast(centDf), Seq("cluster"))
      .withColumn("csim", when(denom === 0d, lit(-2d))
        .otherwise(round(Similarity.dot(col("v"), col("cv")) / denom, 6)))
      .select(col("id").as(idCol), col("cluster").cast("int")
        .as("cluster"), col("csim"))
      .localCheckpoint(true)
  }
}
