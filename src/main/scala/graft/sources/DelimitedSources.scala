package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text-delimited sources and report sinks (SURVEY §2.1 S12-S15).
  *
  * - MusicBrainz-style TSV dumps: tab-separated, `\N` nulls, no header
  *   (ref `scripts/mdm/harvest/harvest_mb_artists.py:39-62`; null
  *   policy `harvest_mb_works.py:34-38`).
  * - Pipe-delimited score files `<key>|DR<n>` with row-level validation
  *   (ref `scripts/pipeline/19-...py:61-99`).
  * - CSV/TSV report sinks (ref `15-...py:378-380`, `amg_todo_list.py`).
  *
  * All of these are plain DataFrame reader/writer configurations — the
  * reference's hand-rolled streaming/batching (tar members, commit
  * intervals) is exactly what Spark's partitioned file scan replaces.
  */
object DelimitedSources {

  /** TSV dump source: headerless, tab-separated, `\N` → NULL, no
    * quoting (MB dumps are raw). Caller supplies the column schema. */
  def readMbTsv(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("nullValue", "\\N")
      .option("header", "false")
      .option("quote", "")
      .schema(schema)
      .csv(path)

  /** Pipe-delimited `<key>|DR<n>` source with validation: malformed
    * rows surface in a `valid` flag instead of being dropped silently
    * (ref 19-...py parses and counts rejects). */
  def readDrScores(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.text(path)
    raw
      .withColumn("key", regexp_extract(col("value"), "^([^|]+)\\|", 1))
      .withColumn("dr",
        regexp_extract(col("value"), "\\|DR(\\d{1,2})\\z", 1))
      .withColumn("valid", col("key") =!= "" && col("dr") =!= "")
      .select(
        when(col("valid"), col("key")).as("key"),
        when(col("valid"), col("dr").cast("int")).as("dr"),
        col("valid"), col("value").as("raw"))
  }

  /** CSV report sink (header, overwrite) — exception-report shape. */
  def writeCsvReport(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSONL sink — the LLM-training interchange format (one JSON object
    * per line; WebDataset/HF-datasets ingest shape). Spark's json sink
    * IS line-delimited JSON, partitioned into one file per task — at
    * 100 TB the shard layout falls out of the upstream partitioning,
    * and a compression codec option rides along when needed. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL source with an explicit schema: inference would scan the
    * whole corpus once just to guess types (twice the IO at scale) and
    * can mis-type sparse fields; training-corpus schemas are known. */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S13: Wikidata-dump-style JSON source — the reference streams the
    * full dump and keeps only entities carrying MusicBrainz/AllMusic
    * identifier claims, denormalized to one wide row (ref
    * `harvest_wikimedia.py:1-26`). Spark reads JSON (gzip transparently)
    * partitioned; the filter + select prune before any shuffle. `ids`
    * is the claim-property allowlist (e.g. P434 MusicBrainz artist id).
    */
  def readWikidataEntities(spark: SparkSession, path: String,
                           ids: Seq[String]): DataFrame = {
    val raw = spark.read.json(path)
    val idCols = ids.map(p =>
      col(s"claims.$p").as(p.toLowerCase))
    raw.select((col("id").as("entity_id") +:
      col("labels.en").as("label_en") +: idCols): _*)
      .filter(ids.map(p => col(p.toLowerCase).isNotNull).reduce(_ || _))
  }
}
