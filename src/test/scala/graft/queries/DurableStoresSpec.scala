package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.core.{Fixtures, Pins}
import graft.operators.{Dedup, Incremental, Search, TextAnalysis}
import graft.queries.MaintainedArtifacts.Store

/** The durable store handles serve what the in-memory path computes:
  * after the two crawl eras, a takedown and (where the lifecycle
  * queries compact) a compaction, each handle's certified `load()`
  * equals the direct `retractDocs` / `subtract*` result over the same
  * documents. One planted corruption per store kind refuses through
  * `load()` with the store's own message. */
class DurableStoresSpec extends SparkSpec with BeforeAndAfterAll {

  // 40 docs need no parallel shuffle: one partition per stage keeps
  // each store write to one file per batch and the suite's Spark jobs
  // short; the shared session gets its setting back afterwards
  private lazy val partitions = spark.conf.get("spark.sql.shuffle.partitions")
  override def beforeAll(): Unit = {
    partitions
    spark.conf.set("spark.sql.shuffle.partitions", "1")
  }
  override def afterAll(): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", partitions)

  private lazy val tmp = java.nio.file.Files
    .createTempDirectory("graft_durable_stores").toString

  /** 40 docs in two languages: a repeated boilerplate line, a footer
    * shared three ways, and one line unique to each doc. */
  private lazy val docs: DataFrame = {
    val s = spark
    import s.implicits._
    (1 to 40).map { i =>
      val text = Seq(
        s"page $i talks about topic ${i % 3} with word${i % 7} and " +
          s"term${i % 5} in a longer sentence for shingles",
        if (i % 4 == 0) "subscribe to our newsletter for updates today"
        else s"unique line number $i",
        s"shared footer ${i % 3}").mkString("\n")
      (i.toLong, if (i % 2 == 0) "en" else "de", text)
    }.toDF("doc_id", "lang", "text")
  }

  private val quarantined: Column = col("doc_id") % 3 === 1
  private def ids(df: DataFrame) = df.select("doc_id")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private lazy val gone = docs.filter(quarantined)

  /** (handle, the in-memory state over `docs` minus the quarantined
    * slice, and whether the handle's lifecycle queries compact). */
  private def cases: Seq[(String, String => Store, () => DataFrame,
                          Boolean)] = {
    def kept(of: DataFrame => DataFrame) = () =>
      Incremental.retractDocs(of(docs), ids(gone))
    Seq(
      ("bm25_tf", MaintainedArtifacts.tfStore(spark, _),
        kept(Search.tfSnapshot(_, "doc_id", "text")), true),
      ("kn_lm", MaintainedArtifacts.knStore(spark, _),
        kept(TextAnalysis.knSnapshot(_, "doc_id", "text")), false),
      ("lsh_bands", MaintainedArtifacts.bandStore(spark, _),
        kept(Dedup.minHashBands(_, "doc_id", "text", k = 5)), true),
      ("boiler_counts", MaintainedArtifacts.boilerStore(spark, _),
        () => Dedup.subtractLineCounts(Dedup.lineCountPartial(docs, "text"),
          Dedup.lineCountPartial(gone, "text")), true),
      ("grouped_counts", MaintainedArtifacts.groupedStore(spark, _),
        () => Dedup.subtractGroupedLineCounts(
          Dedup.groupedLineCountPartial(docs, "lang", "text"),
          Dedup.groupedLineCountPartial(gone, "lang", "text")), false))
  }

  for ((name, handle, expected, compacts) <- cases)
    test(s"$name store serves the in-memory state after eras, " +
      s"retract${if (compacts) " and compact" else ""}") {
      val st = handle(s"$tmp/$name")
      st.eras(docs)
      st.retract(gone)
      if (compacts) st.compact()
      Pins.scope { p =>
        val served = st.load(p)
        assert(rows(served) ==
          rows(expected().select(served.columns.map(col).toSeq: _*)))
      }
    }

  test("a fact store whose manifest lost a batch refuses at load") {
    // reuses the kn_lm case's store (batches 0 and 1) when it ran first
    val st = MaintainedArtifacts.knStore(spark, s"$tmp/kn_lm")
    val lost = s"${st.dir}__manifest/batch=1"
    if (!new java.io.File(lost).isDirectory) st.eras(docs)
    Fixtures.deleteTree(lost)
    val e = intercept[IllegalArgumentException](
      Pins.scope(p => st.load(p)))
    assert(e.getMessage.contains(s"manifest out of sync with ${st.dir}"))
  }

  test("a rollup store holding a tombstone with no matching commit " +
    "refuses at load") {
    val st = MaintainedArtifacts.boilerStore(spark, s"$tmp/boiler_refuse")
    st.init(docs.filter(col("doc_id") % 2 === 0))
    st.retract(docs.filter(col("doc_id") % 2 =!= 0))
    val e = intercept[IllegalArgumentException](
      Pins.scope(p => st.load(p)))
    assert(e.getMessage.contains("line-count table corrupt"))
  }

  /** Every data file under `dir` with its size and modification time
    * (markers and checksums skipped). */
  private def dataFiles(dir: String): Set[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator.asScala
      .map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => (root.relativize(f.toPath).toString, f.length,
        f.lastModified))
      .toSet
  }

  /** The refusal `call` throws; the store's data files are the same
    * before and after it. */
  private def refusal(st: Store)(call: => Any): String = {
    val before = dataFiles(st.dir)
    val e = intercept[IllegalArgumentException](call)
    assert(dataFiles(st.dir) == before)
    e.getMessage
  }

  test("rollup store refusals keep their messages and leave the store " +
    "unchanged; a vacuous retract lands no batch") {
    val st = MaintainedArtifacts.boilerStore(spark, s"$tmp/boiler_guards")
    st.eras(docs)
    val none = docs.filter(lit(false))
    assert(refusal(st)(st.init(none)).contains(
      s"refusing to init ${st.dir} from an empty snapshot"))
    assert(refusal(st)(st.commit(none)).contains(
      "refusing to commit an empty snapshot partial as batch 2 of " +
        st.dir))
    val landed = dataFiles(st.dir)
    st.retract(none)
    assert(dataFiles(st.dir) == landed)
    assert(!new java.io.File(s"${st.dir}/batch=3").exists)
    // a slice never committed drives its counts negative
    st.retract(docs.filter(quarantined))
    st.retract(docs.filter(quarantined))
    assert(refusal(st)(Pins.scope(p => st.load(p))).contains(
      "line-count table corrupt"))
    // the screen set certifies the whole fold, not only the rows it
    // keeps
    assert(refusal(st)(Pins.scope(p => st.boilerplate(p, 3))).contains(
      "line-count table corrupt"))
  }

  test("a null-poisoned rollup fold refuses at load") {
    val st = MaintainedArtifacts.boilerStore(spark, s"$tmp/boiler_null")
    st.init(docs)
    val s = spark
    import s.implicits._
    Incremental.commitSnapshotBatch(
      Seq((42L, Option.empty[Long])).toDF("key", "cnt"), st.dir, 7L)
    assert(refusal(st)(Pins.scope(p => st.load(p))).contains(
      "line-count table corrupt: 1 negative counts"))
  }

  test("the boiler handle's eras, retract, compact and load cycle runs " +
    "a fixed number of Spark jobs") {
    val st = MaintainedArtifacts.boilerStore(spark, s"$tmp/boiler_budget")
    val (_, jobs) = JobCounter(spark.sparkContext) {
      st.eras(docs)
      st.retract(gone)
      st.compact()
      Pins.scope { p => st.load(p); () }
    }
    assert(jobs == 12)
  }
}
