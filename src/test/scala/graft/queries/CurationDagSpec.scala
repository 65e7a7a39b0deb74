package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The curation-flagship harness around what the DuckDB oracle gate
  * cannot see: the near-dup stage's planted-cluster cut, and the
  * health run-store side channel (captures, idempotent
  * re-invocation). */
class CurationDagSpec extends SparkSpec {

  private lazy val tmp = java.nio.file.Files
    .createTempDirectory("graft_curation").toString

  test("curation DAG: the near-dup stage cuts survivors exact dedup " +
    "cannot") {
    val funnel = LlmQueries.curationDag(spark, sf0001, nearDup = true)
      .collect()
    val byStage = funnel.map(r =>
      r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    // the variant members carry DISTINCT fingerprints, so they ride
    // through stage 5 and fall only to the Jaccard stage: the planted
    // % 68 == 36 lattice (7 members at 500 docs) keeps its minimum id
    // and loses the rest, plus the exact-cluster keeper (a near-dup
    // of the variant page at J ~ 0.84)
    assert(byStage("6_neardup") < byStage("5_dedup"))
    assert(byStage("5_dedup") - byStage("6_neardup") >= 6)
    // stage indices shift by one past the near stage
    assert(byStage.contains("7_screen") && byStage.contains("10_shards"))
  }

  test("curation DAG: health run store captures raw+curated, " +
    "re-invocation stays two runs") {
    val hdir = s"$tmp/health"
    LlmQueries.curationDag(spark, sf0001, nearDup = false,
      healthRunsDir = Some(hdir)).collect()
    // run 0 overwrites, run 1 appends: a re-invocation RESETS the
    // store instead of growing it - the query stays idempotent
    LlmQueries.curationDag(spark, sf0001, nearDup = false,
      healthRunsDir = Some(hdir)).collect()
    val store = spark.read.parquet(hdir)
    assert(store.count() == 2)
    assert(store.orderBy("run_seq").select("run_id").collect()
      .map(_.getString(0)).toSeq == Seq("raw", "curated"))
    val delta = LlmQueries.healthRunsDelta(store).collect()
    assert(delta.length == 10) // the HealthMetrics battery
    val nDocs = delta.find(_.getAs[String]("metric") == "n_docs").get
    // curation strictly shrinks the corpus on the planted fixture
    assert(nDocs.getAs[Double]("new_value") <
      nDocs.getAs[Double]("prev_value"))
  }
}
