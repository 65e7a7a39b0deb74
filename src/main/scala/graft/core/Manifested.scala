package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** Partition-rewritten parquet layouts with an opt-in id→partition
  * MANIFEST, and the one file-system seam the durable write paths go
  * through. Two layouts use it: the fact store of
  * [[graft.operators.Incremental]] (`dir`, partitioned by `batch`,
  * manifest `dir__manifest`) and the IVF-PQ code table of
  * [[graft.operators.Quantization]] (`dir/codes`, partitioned by `cell`,
  * manifest `dir/nid_manifest`). The manifest is a skinny (id,
  * partition) table partitioned like the data, so a retraction probes
  * it for its touched partitions instead of reading the id column of
  * every partition.
  *
  * The crash rules every manifested layout keeps: a manifest exists
  * only when its last write committed ([[committed]]); [[Layout.append]]
  * writes the manifest BEFORE the data and [[Layout.rewrite]] rewrites
  * it AFTER, so a crash between the two leaves the manifest
  * over-claiming (a needless later rewrite), never missing a landed id
  * (retracted rows kept serving); null ids are refused at every
  * manifested write ([[requireNoNullIds]]), since discovery and rewrite
  * match ids by equi-join; every delete is delete-or-die
  * ([[deleteIfExists]]). Each layout keeps its own refusal messages
  * and its own policy for a rewrite that empties a data partition (the
  * fact store refuses, the IVF-PQ layout deletes the cell). Layout
  * reads start no schema job ([[Tables.parquet]], the partition column
  * typed as given). */
object Manifested {

  /** The Hadoop filesystem `path` lives on, resolved FROM the path (the
    * default filesystem would be the wrong one for a qualified path),
    * under the session's Hadoop configuration. */
  def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Whether the last write job into `path` committed: its `_SUCCESS`
    * marker, not bare directory existence (job setup creates the
    * directory before anything lands). A deployment that disables
    * success markers reads every manifest as absent, so a manifested
    * commit refuses loudly rather than trusting one. */
  def committed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** Delete-or-die: callers' deletes are load-bearing (a stale layout
    * surviving a reset or a takedown serves what it should not), and
    * Hadoop filesystems report failure by RETURN VALUE as well as by
    * exception, so a false return refuses. An absent path is fine. */
  def deleteIfExists(spark: SparkSession, path: String,
                     refusal: => String = ""): Unit = {
    val (f, p) = fs(spark, path)
    if (f.exists(p)) require(f.delete(p, true), {
      val r = refusal
      if (r.nonEmpty) r
      else s"could not delete $path - refusing to continue past a " +
        "stale layout that would silently survive"
    })
  }

  /** Rename-or-die, for moves that must land (a compaction swap). */
  def rename(spark: SparkSession, from: String, to: String,
             refusal: => String): Unit = {
    val (f, target) = fs(spark, to)
    require(f.rename(new Path(from), target), refusal)
  }

  def requireNoNullIds(ids: DataFrame, idCol: String,
                       refusal: => String): Unit =
    require(ids.filter(col(idCol).isNull).isEmpty, refusal)

  /** What one sync job found: (id, partition) pairs whose multiplicity
    * differs between data and manifest, and partition groups holding a
    * null id on each side. */
  final case class Sync(differ: Long, manifestNulls: Long,
                        dataNulls: Long)

  /** A data layout partitioned by `part` with its manifest at
    * `manifest`, both read with `part` typed as given. */
  final case class Layout(data: String, manifest: String,
                          part: StructField) {
    private def p = part.name

    def read(spark: SparkSession): DataFrame =
      Tables.parquet(spark, data, part)

    def readManifest(spark: SparkSession): DataFrame =
      Tables.parquet(spark, manifest, part)

    /** A half-written manifest reads as absent: discovery falls back
      * to the exact scan. */
    def manifested(spark: SparkSession): Boolean =
      committed(spark, manifest)

    /** Retraction discovery: the partitions holding any of `ids` — one
      * probe of the manifest when `manifested`, else of `scan` (the
      * layout's own rows). Result-identical by the sync invariant; only
      * the source differs. At most one value per partition reaches the
      * driver. */
    def touched(spark: SparkSession, scan: DataFrame, ids: DataFrame,
                idCol: String, manifested: Boolean): Array[Any] =
      (if (manifested) readManifest(spark) else scan)
        .join(ids, Seq(idCol), "left_semi")
        .select(p).distinct().collect().map(_.get(0))

    /** Append rows, with their (id, partition) `pairs` when manifested:
      * the manifest FIRST (see the crash rules above). */
    def append(pairs: Option[DataFrame], rows: DataFrame): Unit = {
      pairs.foreach(_.write.partitionBy(p).mode("append").parquet(manifest))
      rows.write.partitionBy(p).mode("append").parquet(data)
    }

    /** Reset `path` (the data, the manifest, or a compaction tempdir
      * beside one) to `rows`, partitioned like this layout. The
      * overwrite mode is pinned static per write: under a session
      * default of dynamic overwrite, a reset would leave stale
      * partitions behind. */
    def overwrite(rows: DataFrame, path: String): Unit =
      rows.write.option("partitionOverwriteMode", "static")
        .partitionBy(p).mode("overwrite").parquet(path)

    /** Rewrite the `touched` partitions without `ids`, the data (read
      * as `scan`) first and then, when `manifested`, the manifest. Each
      * side's survivors pin until its dynamic overwrite has landed,
      * because the overwrite replaces the directories it reads; the pin
      * also observes which partitions keep rows. Dynamic overwrite
      * writes nothing for a partition without survivors, so its stale
      * files would keep serving: `dataEmptied` gets the emptied data
      * partitions before the overwrite (to refuse, or to delete them),
      * and emptied manifest partitions are deleted. */
    def rewrite(spark: SparkSession, scan: DataFrame, touched: Array[Any],
                ids: DataFrame, idCol: String, manifested: Boolean)
               (dataEmptied: Set[Any] => Unit): Unit = {
      rewriteOne(scan, data, touched, ids, idCol)(dataEmptied)
      if (manifested)
        rewriteOne(readManifest(spark), manifest, touched, ids, idCol)(
          deleteEmptied(spark, manifest, _, c =>
            s"could not delete emptied manifest partition $p=$c of " +
              s"$manifest - its stale pairs would drive needless " +
              "rewrites forever; refusing to report success"))
    }

    private def rewriteOne(from: DataFrame, path: String,
                           touched: Array[Any], ids: DataFrame,
                           idCol: String)
                          (emptied: Set[Any] => Unit): Unit =
      Pins.scope { pins =>
        val (observed, kept) = Observed.row(
          from.filter(col(p).isin(touched: _*))
            .join(ids, Seq(idCol), "left_anti"),
          collect_set(col(p)))
        val survivors = pins(observed)
        emptied(touched.toSet -- kept().getSeq[Any](0))
        survivors.write.option("partitionOverwriteMode", "dynamic")
          .partitionBy(p).mode("overwrite").parquet(path)
      }

    /** Delete-or-die the `emptied` partition directories under `path`. */
    def deleteEmptied(spark: SparkSession, path: String,
                      emptied: Set[Any], refusal: Any => String): Unit =
      emptied.foreach(c =>
        deleteIfExists(spark, s"$path/$p=$c", refusal(c)))

    /** The manifest sync check, in one job: the weighted-union
      * symmetric diff of the data's distinct (id, partition) pairs and
      * the manifest's rows (+1 / -1 per pair, grouped, any nonzero sum
      * differs; a null id groups with itself, where an equi-join would
      * report equal layouts as diverged), with each side's null ids
      * counted in the same pass. `scope` limits both sides to some
      * partitions. */
    def sync(spark: SparkSession, idCol: String,
             scope: Option[Seq[Any]] = None): Sync = {
      def side(df: DataFrame, w: Long) =
        scope.fold(df)(s => df.filter(col(p).isin(s: _*)))
          .select(col(idCol), col(p)).withColumn("__graft_w", lit(w))
      val r = side(read(spark), 1L).distinct()
        .unionByName(side(readManifest(spark), -1L))
        .groupBy(col(idCol), col(p))
        .agg(sum("__graft_w").as("__graft_w"),
          min("__graft_w").as("__graft_m"), max("__graft_w").as("__graft_d"))
        .agg(
          count(when(col("__graft_w") =!= 0L, 1)),
          count(when(col(idCol).isNull && col("__graft_m") < 0L, 1)),
          count(when(col(idCol).isNull && col("__graft_d") > 0L, 1)))
        .head()
      Sync(r.getLong(0), r.getLong(1), r.getLong(2))
    }
  }
}
