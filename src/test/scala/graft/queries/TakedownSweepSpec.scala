package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The takedown sweep (d89) around what the DuckDB oracle gate cannot
  * see: that every maintained artifact is audited and only shrinks,
  * that the two id-keyed artifacts lose EXACTLY the quarantined slice
  * (doc_id / vec_id % 13 == 7), and that re-invocation is idempotent
  * even though the query persists a scratch IVF-PQ layout and then
  * removes from it. */
class TakedownSweepSpec extends SparkSpec {

  private val artifacts = Seq("bm25_tf", "boiler_counts",
    "grouped_counts", "ivfpq_codes", "kn_lm", "lsh_bands",
    "prefix_index")

  private def sweep() = graft.SparkEntry.queries("d89_takedown_sweep")(
    spark, sf0001).collect().toSeq

  private lazy val rows = sweep()

  test("takedown sweep: every artifact is audited and none grows") {
    assert(rows.map(_.getAs[String]("artifact")) == artifacts)
    rows.foreach { r =>
      assert(r.getAs[Long]("rows_after") <= r.getAs[Long]("rows_before"),
        r.getAs[String]("artifact"))
    }
  }

  test("takedown sweep: the band table and the IVF-PQ layout lose " +
    "exactly the quarantined docs and vectors") {
    def drop(a: String) = {
      val r = rows.find(_.getAs[String]("artifact") == a).get
      r.getAs[Long]("mass_before") - r.getAs[Long]("mass_after")
    }
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") % 13 === 7).count()
    val nVecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 13 === 7).count()
    assert(nDocs >= 1 && nVecs >= 1)
    assert(drop("lsh_bands") == nDocs)
    assert(drop("ivfpq_codes") == nVecs)
  }

  test("takedown sweep: re-invocation is idempotent (the persisted " +
    "layout resets; the removal does not compound)") {
    assert(sweep() == rows)
  }
}
