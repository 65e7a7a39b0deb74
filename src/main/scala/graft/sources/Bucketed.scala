package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed warehouse tables — the co-located-join path for the big
  * fact tables of a 100 TB store. Writing both sides of a recurring
  * join `bucketBy` the join key persists an identical hash clustering
  * into every file group, so later joins read matching buckets
  * side-by-side and skip the key shuffle entirely (the plan's only
  * exchanges are whatever downstream aggregation needs). This is the
  * Spark-native replacement for the reference's habit of keeping
  * SQLite tables pre-ordered by rowid/key (ref
  * `scripts/ingest/tags2db.py` import clustering): the clustering
  * lives in the table layout, not in every query.
  *
  * `sortBy` additionally pre-sorts inside each bucket, letting a
  * sort-merge join skip its sort too (bucket files stream directly
  * into the merge).
  */
object Bucketed {

  /** Persist `df` as a bucketed parquet table in the session catalog's
    * warehouse. Overwrites any previous table of the same name —
    * including a STALE warehouse directory left by an earlier session:
    * the default in-memory catalog forgets tables across JVMs while
    * their directories persist, and `saveAsTable` refuses to create
    * over an unmanaged leftover (LOCATION_ALREADY_EXISTS). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    graft.core.Manifested.deleteIfExists(spark, new org.apache.hadoop.fs
      .Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      .toString)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }

  /** Hive-style partitioned layout: one directory per partition value.
    * A filter on a partition column prunes at FILE-LISTING time — the
    * scan never opens non-matching directories, the first-order scan
    * reducer for time-partitioned 100 TB stores (production lakes
    * partition fact tables by ingest date for exactly this). Pruning
    * composes with [[writeBucketed]] (co-located joins inside a
    * partition) and Z-order (min/max pruning inside files): directory
    * → bucket → file, three independent layers of skipping. */
  def writePartitioned(df: DataFrame, dir: String,
                       partCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(dir)
}
