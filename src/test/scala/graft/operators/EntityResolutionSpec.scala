package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  test("key stages rank-align duplicate keys 1:1 deterministically") {
    // two 'ann' on each side: pair by id order within the key
    val l = Seq((1L, "ann"), (2L, "ann"), (3L, "bob"))
      .toDF("lid", "lkey")
    val r = Seq((11L, "ann"), (12L, "ann"), (13L, "zoe"))
      .toDF("rid", "rkey")
    val m = EntityResolution.waterfall(l, "lid", r, "rid",
      Seq(MatchStage("exact", "lkey", "rkey")))
      .orderBy("lid").collect()
    assert(m.map(x => (x.getLong(0), x.getLong(1))).toSeq
      == Seq((1L, 11L), (2L, 12L)))
    assert(m.forall(_.getString(2) == "exact"))
  }

  test("null keys sit a stage out; residue flows to the next stage") {
    val l = Seq((1L, "k1", "g"), (2L, null, "g")).toDF("lid", "lkey", "lgrp")
    val r = Seq((11L, "k1", null), (12L, null, "g"))
      .toDF("rid", "rkey", "rgrp")
    val m = EntityResolution.waterfall(l, "lid", r, "rid",
      Seq(MatchStage("exact", "lkey", "rkey"),
        MatchStage("positional", "lgrp", "rgrp")))
      .orderBy("lid").collect()
    // 1-11 exact; 2-12 positional (12's null key skipped stage 1)
    assert(m.map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
      == Seq((1L, 11L, "exact"), (2L, 12L, "positional")))
  }

  test("uniqueOnly quarantines duplicated keys on either side") {
    val l = Seq((1L, "dup"), (2L, "dup"), (3L, "solo")).toDF("lid", "lkey")
    val r = Seq((11L, "dup"), (12L, "solo")).toDF("rid", "rkey")
    val m = EntityResolution.waterfall(l, "lid", r, "rid",
      Seq(MatchStage("unique", "lkey", "rkey", uniqueOnly = true)))
      .collect()
    assert(m.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((3L, 12L)))
  }

  test("fuzzy terminal picks the best cosine per left, ties on min rid") {
    val l = Seq((1L, "red plate")).toDF("lid", "lname")
    val r = Seq((11L, "red plate deluxe"), (12L, "blue bolt"),
      (13L, "red plate deluxe")).toDF("rid", "rname")
    val m = EntityResolution.fuzzyBest(l, "lid", "lname", r, "rid", "rname",
      n = 3, theta = 0.5).collect()
    assert(m.length == 1)
    val row = m.head
    assert(row.getLong(0) == 1L && row.getLong(1) == 11L) // tie → min rid
    assert(row.getString(2) == "fuzzy" && row.getDouble(3) > 0.5)
  }

  test("fuzzy terminal scores equal tfCosinePairs' cosine at dfCap = 0") {
    val l = Seq((1L, "Red Plate"), (2L, "blue bolt "), (3L, "green cog"))
      .toDF("lid", "lname")
    val r = Seq((11L, "red plates"), (12L, "blue bolts"),
      (13L, "green cogs deluxe"), (14L, "plate red")).toDF("rid", "rname")
    val names = (l.select(col("lid").as("id"), col("lname").as("name")) union
      r.select(col("rid").as("id"), col("rname").as("name")))
      .collect().map(x => x.getLong(0) -> x.getString(1).trim.toLowerCase)
      .toMap
    val cos = Fuzzy.tfCosinePairs(l.select(col("lname").as("name")) union
        r.select(col("rname").as("name")), "name", 3, 0.0, dfCap = 0)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    val m = EntityResolution.fuzzyBest(l, "lid", "lname", r, "rid", "rname",
      n = 3, theta = 0.1, dfCap = 0).collect()
    assert(m.length == 3)
    m.foreach { x =>
      val (a, b) = (names(x.getLong(0)), names(x.getLong(1)))
      assert(x.getDouble(3) == cos(if (a < b) (a, b) else (b, a)), (a, b))
    }
  }

  test("matched ids never reappear in later stages") {
    val l = Seq((1L, "k", "k"), (2L, "k", "k")).toDF("lid", "a", "b")
    val r = Seq((11L, "k", "k")).toDF("rid", "a2", "b2")
    val m = EntityResolution.waterfall(l, "lid", r, "rid",
      Seq(MatchStage("s1", "a", "a2"), MatchStage("s2", "b", "b2")))
      .collect()
    // 11 matches once in s1 (to lid 1); s2 has no right rows left
    assert(m.length == 1 && m.head.getString(2) == "s1")
  }
}
