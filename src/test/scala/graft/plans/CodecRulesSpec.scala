package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{GraftExtensions, NativeExpressions}

class CodecRulesSpec extends SparkSpec {

  test("array_distinct(array_distinct(x)) collapses to one pass") {
    import spark.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ CollapseRedundantArrayOps
    val df = Seq(Seq("a", "b", "a")).toDF("xs")
      .select(array_distinct(array_distinct(col("xs"))).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val occurrences = "array_distinct".r.findAllIn(optimized).length
    assert(occurrences <= 1, s"inner array_distinct survived:\n$optimized")
    assert(df.collect().head.getSeq[String](0) == Seq("a", "b"))
  }

  test("per-session SQL registration resolves uuid5/title_case") {
    NativeExpressions.register(spark)
    val r = spark.sql("SELECT uuid5('6ba7b810-9dad-11d1-80b4-00c04fd430c8', " +
      "'python.org') AS u, title_case('war and peace') AS t").collect().head
    assert(r.getString(0) == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
    assert(r.getString(1) == "War and Peace")
  }

  test("GraftExtensions.install registers SQL functions and the " +
    "optimizer rule") {
    GraftExtensions.install(spark)
    val u = spark.sql(
      "SELECT uuid5('6ba7b810-9dad-11d1-80b4-00c04fd430c8', 'python.org')")
      .collect().head.getString(0)
    assert(u == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
    assert(spark.experimental.extraOptimizations
      .contains(CollapseRedundantArrayOps))
  }

  test("GraftExtensions wires functions + rule into a builder hook") {
    // constructive smoke: applying the extensions class populates the
    // injection points without error (full builder wiring is a
    // deployment concern: spark.sql.extensions=graft.functions.GraftExtensions)
    new GraftExtensions().apply(new SparkSessionExtensions)
  }
}
