package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Runs one workload's queries pass after pass, each pass in a fresh
  * Spark application, and writes the raw per-pass records to
  * `<out>/passes.json` (and, traced, the spans to `<out>/trace.json`).
  * `perfbench/run.py` turns them into metrics.
  *
  * Usage: Harness --queries q1,q2 --seed N --seconds S --trace 0|1
  *   --cores C --out DIR
  *
  * A fresh application per pass matters: the AvailableNow stream memo,
  * the shared fixtures and the `/tmp/graft_<appId>` stores are all
  * memoized per applicationId, so a second pass in one application
  * would do less work than the first.
  *
  * The first pass of a run writes each result as parquet at the
  * oracle scale for the DuckDB check and warms the JVM; it is not
  * measured. Untraced, the run then measures passes until `--seconds`
  * have gone by, at least one. Traced, it measures a traced, an
  * untraced and a traced pass: the traced pair shows whether counts
  * repeat, and the untraced pass between them gives the tracer's
  * overhead without favouring either side with JVM warm-up. */
object Harness {
  private sealed trait Kind
  private case object Oracle extends Kind
  private case object Plain extends Kind
  private case object Traced extends Kind

  /** Scale dirs beside the one `SparkEntry.entry` reads: the timed
    * passes run at sf0.1, the oracle pass at sf0.01. */
  private val BenchScale = "sf0.1"
  private val OracleScale = "sf0.01"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val queries = opt("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = queries.filterNot(SparkEntry.queries.keySet)
    require(queries.nonEmpty && unknown.isEmpty,
      s"unknown or missing queries: ${unknown.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out"))
    val order = new scala.util.Random(seed).shuffle(queries)
    val h = new Harness(order, cores, out)

    val records = Seq.newBuilder[String]
    records += h.pass(Oracle, OracleScale, 1)
    // two bring-ups on their own, so that a run has three set-up samples
    // even when it measures one pass
    val setups = Seq(2, 3).map(h.setupOnly(BenchScale, _))
    h.settle()
    var idx = 4
    def run(kind: Kind): Unit = { records += h.pass(kind, BenchScale, idx); idx += 1 }
    if (traced) Seq(Traced, Plain, Traced).foreach(run)
    else {
      val t0 = System.nanoTime()
      do run(Plain) while ((System.nanoTime() - t0) / 1e9 < seconds)
    }
    val oracleSql = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(out.resolve("passes.json"), Json.obj(
      "order" -> Json.arr(order.map(Json.str)),
      "bench_dir" -> Json.str(h.dataDir(BenchScale)),
      "oracle_dir" -> Json.str(h.dataDir(OracleScale)),
      "setup_only_s" -> Json.arr(setups.map(Json.num)),
      "oracle_sql" -> Json.obj(oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "passes" -> Json.arr(records.result())))
    if (traced) Files.writeString(out.resolve("trace.json"), Json.arr(h.spans.toSeq))
  }
}

private final class Harness(order: Seq[String], cores: Int, out: Path) {
  import Harness._

  val spans = scala.collection.mutable.ArrayBuffer.empty[String]

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs = osBean.getProcessCpuTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private val jit = ManagementFactory.getCompilationMXBean
  private def jitMs = jit.getTotalCompilationTime
  private def heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    .getUsed / 1048576.0

  /** Waits, up to 10 s, until the JIT compilers have been idle for a
    * quarter second, so that the first timed pass does not share the
    * cores with the compilations the oracle pass queued. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (jitMs != last && System.nanoTime() < deadline) {
      last = jitMs
      Thread.sleep(250)
    }
  }

  def localDir(idx: Int) = out.resolve(s"spark-local/p$idx")

  /** The session settings of `graft.Bench`, with scratch kept under `out`. */
  def session(idx: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.local.dir", localDir(idx).toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      // the tracer must see every task; the default queue drops events
      // under load
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def unpersistAll(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Set-up: session bring-up and a warm-up that reads a table and runs
    * one aggregation. Returns the session and the seconds it took. */
  private def setup(scale: String, idx: Int, tracer: Option[Tracer]): (SparkSession, String, Double) = {
    val t0 = System.nanoTime()
    val spark = session(idx)
    if (root == null) root = Paths.get(new java.net.URI(SparkEntry.entry(spark).inputFiles.head))
      .getParent.getParent
    val dir = dataDir(scale)
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.sqlListener)
      spark.streams.addListener(t.streamListener)
      spark.sparkContext.setJobGroup("setup", "setup")
    }
    graft.core.Tables.documents(spark, dir).count()
    spark.range(16).select(org.apache.spark.sql.functions.sum("id")).collect()
    (spark, dir, (System.nanoTime() - t0) / 1e9)
  }

  /** The testdata root, found from the first session. */
  private var root: Path = _
  def dataDir(scale: String): String = root.resolve(scale).toString

  def setupOnly(scale: String, idx: Int): Double = {
    val (spark, _, secs) = setup(scale, idx, None)
    spark.stop()
    delete(localDir(idx))
    secs
  }

  def pass(kind: Kind, scale: String, idx: Int): String = {
    val t0 = System.nanoTime()
    val tracer = if (kind == Traced) Some(new Tracer(cores)) else None
    val (spark, dir, setupS) = setup(scale, idx, tracer)
    val sc = spark.sparkContext
    unpersistAll(spark)
    System.gc()

    val windows = Map.newBuilder[String, (Long, Long)]
    val buildEnd = Map.newBuilder[String, Long]
    val rows = order.map { q =>
      val fn = SparkEntry.queries(q)
      if (tracer.isDefined) {
        sc.setJobGroup(q, q)
        sc.setLocalProperty(Tracer.PhaseProp, "build")
      }
      val (gc0, jit0, cpu0) = (gcMs, jitMs, cpuNs)
      val (w0, n0) = (System.currentTimeMillis(), System.nanoTime())
      var nb = n0
      var wb = w0
      val error = try {
        val df = fn(spark, dir)
        nb = System.nanoTime(); wb = System.currentTimeMillis()
        if (tracer.isDefined) sc.setLocalProperty(Tracer.PhaseProp, "final")
        sink(kind, df, q)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val (n1, w1) = (System.nanoTime(), System.currentTimeMillis())
      val (cpu1, jit1, gc1) = (cpuNs, jitMs, gcMs)
      if (tracer.isDefined) {
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.PhaseProp, null)
      }
      windows += q -> (w0, w1)
      buildEnd += q -> wb
      // heap and pins as the query left them, before they are freed; the
      // oracle pass reports neither and skips the collection
      if (kind != Oracle) System.gc()
      val heap = heapMb
      val leaked = sc.getPersistentRDDs.size
      error.foreach(e => System.err.println(s"[perfbench] $q failed: $e"))
      unpersistAll(spark)
      Json.obj(
        "name" -> Json.str(q),
        "ok" -> error.isEmpty.toString,
        "wall_s" -> Json.num((n1 - n0) / 1e9),
        "build_s" -> Json.num((nb - n0) / 1e9),
        "final_s" -> Json.num((n1 - nb) / 1e9),
        "cpu_s" -> Json.num((cpu1 - cpu0) / 1e9),
        "gc_s" -> Json.num((gc1 - gc0) / 1e3),
        "jit_s" -> Json.num((jit1 - jit0) / 1e3),
        "heap_live_mb" -> Json.num(heap),
        "pins_leaked" -> leaked.toString)
    }
    val appId = sc.applicationId
    spark.stop()

    // the pass's durable stores: measured, then deleted with the
    // pass's Spark local dir so passes do not fill the disk
    val store = Paths.get(s"/tmp/graft_$appId")
    val files = walk(store).filter(Files.isRegularFile(_))
    val storeBytes = files.map(Files.size).sum
    delete(store)
    delete(localDir(idx))

    val layers = tracer.map { t =>
      val w = windows.result()
      val be = buildEnd.result()
      order.foreach { q =>
        val (a, b) = w(q)
        val fa = be(q)
        val jobs = t.jobSpans(q).map { j =>
          Json.obj("name" -> Json.str(s"job ${j.id}"), "module" -> Json.str(j.module),
            "call_site" -> Json.str(j.site),
            "phase" -> Json.str(j.phase), "start_ms" -> j.start.toString,
            "end_ms" -> j.end.toString)
        }
        spans += Json.obj("name" -> Json.str(q), "pass" -> idx.toString,
          "start_ms" -> a.toString, "end_ms" -> b.toString,
          "children" -> Json.arr(Seq(
            Json.obj("name" -> Json.str("build"), "start_ms" -> a.toString,
              "end_ms" -> fa.toString),
            Json.obj("name" -> Json.str("final"), "start_ms" -> fa.toString,
              "end_ms" -> b.toString)) ++ jobs))
      }
      (t.summary(w) + ("setup.jobs" -> t.jobCount("setup").toDouble)).toSeq.sortBy(_._1)
    }
    Json.obj(
      "kind" -> Json.str(kind.toString.toLowerCase),
      "app_id" -> Json.str(appId),
      "setup_s" -> Json.num(setupS),
      "elapsed_s" -> Json.num((System.nanoTime() - t0) / 1e9),
      "store_files" -> files.size.toString,
      "store_bytes" -> storeBytes.toString,
      "queries" -> Json.arr(rows),
      "layers" -> Json.obj(layers.getOrElse(Nil).map { case (k, v) => k -> Json.num(v) }: _*))
  }

  /** The timed run goes through the `noop` sink, as in `graft.Bench`;
    * the oracle pass keeps the result for the DuckDB check. */
  private def sink(kind: Kind, df: DataFrame, q: String): Unit = kind match {
    case Oracle => df.coalesce(1).write.mode("overwrite")
      .parquet(out.resolve(s"oracle/$q").toString)
    case _ => df.write.format("noop").mode("overwrite").save()
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq finally s.close()
    }

  def delete(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)
}

/** Just enough JSON for the harness's records. */
private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
