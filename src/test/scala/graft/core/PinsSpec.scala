package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.GraphOps

class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame = (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "g")

  test("scope frees every pin on normal exit, newest first") {
    val before = persisted
    val n = Pins.scope { p =>
      val a = p(frame)
      val b = p(a.groupBy("g").count())
      assert((persisted -- before).size == 2)
      a.count() + b.count()
    }
    assert(n == 23L)
    assert(persisted == before)
  }

  test("scope frees every pin when the body throws") {
    val before = persisted
    val e = intercept[IllegalArgumentException] {
      Pins.scope { p =>
        p(frame)
        p.own(frame.localCheckpoint(true))
        require(false, "body failed")
      }
    }
    assert(e.getMessage.contains("body failed"))
    assert(persisted == before)
  }

  test("release frees one pin before the scope exits") {
    val before = persisted
    Pins.scope { p =>
      val a = p(frame)
      val b = p(frame.filter(col("g") === 0))
      p.release(a)
      assert((persisted -- before).size == 1)
      assert(b.count() == 6L)
      intercept[IllegalArgumentException](p.release(a))
    }
    assert(persisted == before)
  }

  test("own refuses a frame that is not a local checkpoint") {
    val e = intercept[IllegalArgumentException] {
      Pins.scope(p => p.own(frame.filter(col("g") === 1)))
    }
    assert(e.getMessage.contains("not a bare LogicalRDD"))
  }

  test("returning a lazy plan over a held pin throws and names the pin") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Pins.scope { p =>
        val a = p(frame)
        a.filter(col("g") === 1).select("id")
      }
    }
    assert(e.getMessage.contains("still reads pin 1"))
    assert(e.getMessage.contains("columns [id, g]"))
    assert(persisted == before)
    // returning the pin itself is the same hazard
    intercept[IllegalStateException](Pins.scope(p => p(frame)))
    assert(persisted == before)
  }

  test("returning a sealed checkpoint passes and keeps its blocks") {
    val before = persisted
    val out = Pins.scope { p =>
      val a = p(frame)
      a.filter(col("g") === 1).localCheckpoint(true)
    }
    assert((persisted -- before).size == 1)
    assert(out.count() == 7L)
    org.apache.spark.sql.graftshim.Shims.unpersistLocalCheckpoint(out)
    assert(persisted == before)
  }

  test("connectedComponents over its iteration cap throws and leaves " +
    "no persisted RDD behind") {
    val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("src", "dst")
    val before = persisted
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(persisted == before)
    intercept[IllegalStateException] {
      GraphOps.connectedComponentsStar(chain, maxIter = 1)
    }
    assert(persisted == before)
  }
}
