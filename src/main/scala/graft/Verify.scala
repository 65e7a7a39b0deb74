package graft
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.graftshim.Shims
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  * Beside it, in `plans/counts_<sf>_c<cpus>.json` under the working
  * directory, the Spark jobs, stages and tasks each query started (its
  * result write included), in `SparkEntry.queries` order;
  * `tools/counts_diff.py` compares two such files. Counting adds no
  * Spark job. */
object Verify {
  /** Jobs, stages and tasks started since the last [[take]]. */
  private final class Counts extends SparkListener {
    private val n = new AtomicLongArray(3)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      n.incrementAndGet(0)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      n.incrementAndGet(1)
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      n.incrementAndGet(2)
    def take(): Seq[Long] = (0 until 3).map(n.getAndSet(_, 0L))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query names (local iteration
    // aid; the driver always runs the full set)
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    val perQuery = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      Shims.drainListenerBus(sc)
      counts.take()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free result-sized localCheckpoints left for the caller (see
      // Bench) — 110 queries' worth would otherwise accrete in one JVM
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Shims.drainListenerBus(sc)
      name -> counts.take()
    }
    sc.removeSparkListener(counts)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val countsFile = Paths.get("plans",
      s"counts_${Paths.get(sfDir).getFileName}_c$cpus.json")
    Files.createDirectories(countsFile.getParent)
    Files.writeString(countsFile, perQuery.map { case (name, c) =>
      s"""  ${q(name)}: {"jobs": ${c(0)}, "stages": ${c(1)}, "tasks": ${c(2)}}"""
    }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
