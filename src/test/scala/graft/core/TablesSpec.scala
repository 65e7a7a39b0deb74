package graft.core

import scala.util.Try

import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.operators.Incremental

/** The footer schema reader: the schema `spark.read.parquet` infers,
  * without the inference job. */
class TablesSpec extends SparkSpec {

  private val tables = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")

  test("the footer schema is the inferred schema of every testdata " +
    "table at every scale, and reading it starts no Spark job") {
    // the session reads `events` under nanosAsLong, as every builder
    // of this repo does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val paths = for (sf <- scales; t <- tables)
      yield s"/root/testdata/$sf/$t.parquet"
    val (footer, jobs) = JobCounter(spark.sparkContext)(
      paths.map(Tables.parquet(spark, _).schema))
    assert(jobs == 0)
    paths.zip(footer).foreach { case (path, sch) =>
      assert(sch == spark.read.parquet(path).schema, path)
    }
  }

  test("a missing path fails as spark.read.parquet fails") {
    val missing = s"$sf0001/no_such_table.parquet"
    val inferred = Try(spark.read.parquet(missing)).failed.get
    val footer = Try(Tables.parquet(spark, missing)).failed.get
    assert(footer.getClass == inferred.getClass)
  }

  test("a store read keeps batch LONG and prunes batch = 1 as a " +
    "partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables")
      .toString + "/store"
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Incremental.initSnapshotStore(rows, dir, manifestIdCol = Some("doc_id"))
    Incremental.commitSnapshotBatch(Seq((3L, "c")).toDF("doc_id", "text"),
      dir, 1L, manifestIdCol = Some("doc_id"))
    // the manifest is read through the store reader, batch included
    val m = Incremental.loadSnapshotStoreManifest(spark, dir)
    assert(m.schema("batch").dataType == LongType)
    val one = m.filter(col("batch") === 1L)
    val filters = one.queryExecution.sparkPlan.collect {
      case scan: FileSourceScanExec => scan.partitionFilters
    }.flatten
    assert(filters.exists(_.references.exists(_.name == "batch")))
    assert(one.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }
}
