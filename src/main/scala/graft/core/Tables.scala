package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}

/** Test-table readers for the driver-generated parquet under the
  * sf0.001 / sf0.01 / sf0.1 testdata dirs (see TESTDATA.md). Column
  * pruning + predicate
  * pushdown reach the parquet scan automatically because every query is
  * declared against these DataFrames (Catalyst ColumnPruning /
  * PushDownPredicate). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema comes from one data file's footer, read on the Spark driver and
    * converted by the session's own parquet converter, exactly as
    * inference would (the first data file in path order; a Spark-
    * written footer's stored schema wins over the converted one).
    * `partitions` are the layout's partition columns, appended with
    * the given types where inference would append its guesses (a
    * store pins `batch` to LONG). A path with no data file, or one
    * partitioned by other columns, takes the inferring read, so it
    * fails with that read's error. */
  def parquet(spark: SparkSession, path: String,
              partitions: StructField*): DataFrame =
    footerSchema(spark, path, partitions.map(_.name)) match {
      case Some(data) =>
        spark.read.schema(StructType(data.fields ++ partitions))
          .parquet(path)
      case None =>
        val inferred = spark.read.parquet(path).schema
        spark.read.schema(StructType(inferred.map(f =>
          partitions.find(_.name == f.name).getOrElse(f)))).parquet(path)
    }

  /** The data schema of `path`'s first data file, when the file sits
    * under exactly the `partitions` directories. Hidden names (`_`,
    * `.`) are skipped as the file index skips them. */
  private def footerSchema(spark: SparkSession, path: String,
                           partitions: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }
    def first(st: FileStatus, dirs: Seq[String])
        : Option[(FileStatus, Seq[String])] =
      if (st.isFile) Some(st -> dirs)
      else fs.listStatus(st.getPath).filter(visible)
        .sortBy(_.getPath.toString).iterator
        .flatMap(c => first(c,
          if (c.isDirectory) dirs :+ c.getPath.getName.takeWhile(_ != '=')
          else dirs))
        .nextOption()
    if (!fs.exists(root)) None
    else first(fs.getFileStatus(root), Nil).collect {
      case (f, dirs) if dirs == partitions =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(t(s, d, "events"))

  /** Every consumer of the events table assumes `ts` is long epoch
    * NANOS. What the parquet physically carries has varied across
    * fixture generations: TIMESTAMP(NANOS) (read as long under
    * `nanosAsLong`), or µs-precision TIMESTAMP / TIMESTAMP_NTZ.
    * Normalize here — the single chokepoint — so downstream arithmetic
    * (`ts div 1000`, gap thresholds in nanos) and the DuckDB oracles
    * (`epoch_us`/`epoch_ns`, both precision-independent) agree
    * regardless of the generator's precision choice. µs inputs become
    * micros×1000 (nanos with zero sub-µs remainder — exactly what
    * `epoch_ns` yields on a µs timestamp). NTZ wall clock is
    * interpreted as UTC; every SparkSession in this repo pins
    * `spark.sql.session.timeZone=UTC`, making the cast the identity
    * on instants. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected long " +
            "nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
