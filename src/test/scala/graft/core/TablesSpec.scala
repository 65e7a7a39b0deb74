package graft.core

import scala.util.Try

import org.apache.spark.JobCounter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.operators.{Dedup, Incremental, Quantization}

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
    val root = java.nio.file.Files.createTempDirectory("graft_tables")
      .toString
    try {
      val dir = s"$root/store"
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
    } finally rmTree(root)
  }

  test("the durable layouts and their sidecars read with the inferred " +
    "schema, the partition column typed as the layout reads it, and " +
    "start no Spark job") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_layouts")
      .toString
    try {
      val store = s"$root/store"
      Incremental.initSnapshotStore(
        Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), store,
        manifestIdCol = Some("doc_id"))
      Incremental.commitSnapshotBatch(Seq((3L, "c")).toDF("doc_id", "text"),
        store, 1L, manifestIdCol = Some("doc_id"))
      Dedup.writeBandParams(spark, store, k = 5, numPerm = 64, bands = 16)
      val vecs = Seq(
        (0L, Array(1f, 0f, 1f, 0f)), (1L, Array(0f, 1f, 0f, 1f)),
        (2L, Array(1f, 0.2f, 1f, 0f)), (3L, Array(0.2f, 1f, 0f, 1f)))
        .toDF("vec_id", "embedding")
      val idx = Quantization.ivfPqIndex(vecs, "vec_id", "embedding",
        nlist = 2, coarseIters = 2, m = 2, ksub = 2, pqIters = 2)
      val ivf = s"$root/ivf"
      try Quantization.persistIvfPqIndex(idx, ivf, manifest = true)
      finally org.apache.spark.sql.graftshim.Shims
        .unpersistLocalCheckpoint(idx.codes)
      val batch = StructField("batch", LongType)
      val cell = StructField("cell", IntegerType)
      val layouts = Seq(store -> Some(batch),
        s"${store}__manifest" -> Some(batch),
        s"${store}__band_params" -> None,
        s"$ivf/codes" -> Some(cell), s"$ivf/nid_manifest" -> Some(cell),
        s"$ivf/cells" -> None, s"$ivf/pq" -> None, s"$ivf/meta" -> None)
      val (footer, jobs) = JobCounter(spark.sparkContext)(
        layouts.map { case (path, part) =>
          Tables.parquet(spark, path, part.toSeq: _*).schema })
      assert(jobs == 0)
      layouts.zip(footer).foreach { case ((path, part), sch) =>
        val inferred = spark.read.parquet(path).schema
        // inference types the small batch ids INT; stores read it LONG
        assert(sch == StructType(inferred.map(f =>
          if (f.name == "batch") batch else f)), path)
        part.foreach(f => assert(sch.last == f, path))
      }
      assert(spark.read.parquet(s"$ivf/codes").schema("cell") == cell)
    } finally rmTree(root)
  }

  private def rmTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
