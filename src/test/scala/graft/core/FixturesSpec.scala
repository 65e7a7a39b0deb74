package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.JobCounter
import org.scalatest.BeforeAndAfterAll

import graft.{SparkEntry, SparkSpec}

/** The fixture catalog: one build per key, nested builds, retry after
  * a failed build, and [[Fixtures.reset]] giving a query the same rows
  * and the same Spark job count as its first run in the application. */
class FixturesSpec extends SparkSpec with BeforeAndAfterAll {

  // later suites rebuild what they need instead of reading a tree
  // this suite deleted
  override def afterAll(): Unit =
    try Fixtures.reset(spark) finally super.afterAll()

  private def rows(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, sf0001).collect().map(_.toSeq).toSeq

  test("get builds once per key, nests, and retries after a failed build") {
    val d = "fixtures-spec"
    val builds = new AtomicInteger
    def inner = Fixtures.get(spark, d, "inner") { builds.incrementAndGet(); 1 }
    // a build that reads another fixture runs outside the map's lock
    assert(Fixtures.get(spark, d, "outer") { inner + 1 } == 2)
    assert(Fixtures.get[Int](spark, d, "outer")(sys.error("rebuilt")) == 2)
    assert(inner == 1 && builds.get == 1)
    intercept[IllegalStateException] {
      Fixtures.get(spark, d, "flaky")(throw new IllegalStateException("x"))
    }
    assert(Fixtures.get(spark, d, "flaky")(3) == 3)
    Fixtures.reset(spark)
    assert(Fixtures.get(spark, d, "outer")(5) == 5)
  }

  for (name <- Seq("d89_takedown_sweep", "st_dedup_stream", "inc_lsh_store"))
    test(s"$name after a reset repeats its rows and its job count") {
      val Seq((rows1, jobs1), (rows2, jobs2)) = Seq.fill(2) {
        Fixtures.reset(spark)
        JobCounter(spark.sparkContext)(rows(name))
      }
      info(s"$name: $jobs1 then $jobs2 Spark jobs")
      assert(rows1.nonEmpty && rows1 == rows2)
      assert(jobs1 > 0 && jobs1 == jobs2)
    }

  // the two builds that nest: the CC labels read the edge fixture, and
  // st_ann_probe's stream forces the shared IVF-PQ index per batch
  for (name <- Seq("g2_connected_components", "st_ann_probe"))
    test(s"$name rebuilds its nested fixtures after a reset") {
      val before = rows(name)
      Fixtures.reset(spark)
      assert(before.nonEmpty && rows(name) == before)
    }
}
