package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query end-to-end at the
  * SPARK_GRAFT_SF_DIR scale factor and prints ONE JSON line.
  *
  * Plans are forced through the `noop` sink, not `.count()` — a bare
  * count lets Catalyst prune every column and measures a fraction of
  * the real query cost (round-1 verdict "What's wrong" #3). noop runs
  * the full physical plan including projections and writes nothing.
  */
object Bench {
  def main(args: Array[String]): Unit =
    if (args.contains("--solo")) solo() else suite()

  /** The session settings of every main that runs queries — this
    * bench, [[Verify]]'s oracle dump and counts file, and [[PlanDump]]'s
    * plans — so their results, counts and plans describe one
    * configuration. */
  private[graft] def sessionBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // historical fixtures carried TIMESTAMP(NANOS), which Spark 4
      // rejects without this flag; current fixtures are µs. Either way
      // Tables.normalizeEventTs presents `ts` as long epoch nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "1024")

  /** Solo mode (`runMain graft.Bench --solo`): each query in a FRESH
    * SparkContext, timed twice — `cold` is the first execution in the
    * new context (session bring-up amortized out, codegen compilation
    * in), `warm` the immediate re-run (plans/codegen hot; memoized
    * scratch tables materialized). In-suite numbers are NOT comparable
    * to these (shared-suite codegen shapes + inter-query GC attribution
    * make suite times read 2-4× higher for some queries); this mode
    * exists to pin per-query cost claims (PLANS.md) to a measured
    * artifact, BENCH_SOLO.json. The JVM itself is shared across the
    * loop, so JIT state carries over — `cold` is cold-context, not
    * cold-JVM. */
  private def solo(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("pl_infer_works", "g2_connected_components",
        "d24_bm25_search", "rp_profile", "d5_minhash_lsh",
        "st_attrib_stream", "d6_simhash", "j4_cooccur_join"))
    // fail fast on typos — otherwise a bad name throws a bare
    // NoSuchElementException mid-loop and discards every timing
    // already taken
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown SPARK_GRAFT_ONLY queries: ${unknown.mkString(", ")}")
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val results = names.map { name =>
      SparkSession.getActiveSession.foreach(_.stop())
      val spark = sessionBuilder(cpus).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val warm = once()
      System.err.println(s"[bench-solo] $name cold=${f(cold)} warm=${f(warm)}")
      (name, cold, warm)
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val qs = results.map { case (k, c, w) =>
      "\"" + k + "\":{\"cold\":" + f(c) + ",\"warm\":" + f(w) + "}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"solo","unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SOLO.json"), line + "\n")
    println(line)
  }

  /** In-suite runs execute in HASH-ASSIGNED BATCHES, each in a FRESH
    * SparkContext: round 14 showed that one shared 303-query JVM
    * smears GC/bring-up cost across alphabetically-later queries
    * (+13.1% on an unchanged common subset, 85 queries reading >25%
    * up with unchanged plans, provable only by manual solo pins) —
    * the in-suite number had stopped being a per-query regression
    * signal. A context reset per batch bounds how much
    * codegen-cache, broadcast and old-gen state any query can
    * inherit, at the cost of one session bring-up per batch — paid
    * in the harness gap between batches, never inside a measured
    * window.
    *
    * Two round-15 lessons fixed here: (1) batch membership is
    * murmur3(name) mod SPARK_GRAFT_BUCKETS (default 8), NOT
    * alphabetical slices of the growing query list — a slice
    * boundary shifts every time a query is added, re-baselining
    * every downstream batch each round, where a hash assignment
    * moves nothing that already existed; (2) the warmup PRE-BUILDS
    * the (session, fixture)-memoized shared fixtures (IVF-PQ layout,
    * BPE merges, LR scores), which under per-batch contexts would
    * otherwise rebuild inside each batch's FIRST consumer's measured
    * window (r15: d80 read 5.04× for being batch 2's first index
    * caller). */
  private def suite(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val numBuckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "8").toInt
    require(numBuckets > 0,
      s"SPARK_GRAFT_BUCKETS must be positive: $numBuckets")
    // the r15 knob was renamed; a script still setting it must fail
    // loud, not silently run a different harness configuration
    require(!sys.env.contains("SPARK_GRAFT_BATCH"),
      "SPARK_GRAFT_BATCH was replaced by SPARK_GRAFT_BUCKETS in r16 " +
        "(hash-bucket batch assignment) - update the caller")
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (local profiling aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // stable under query additions: a name's bucket never changes, so
    // round-over-round diffs compare like batch environments; a
    // subset run (SPARK_GRAFT_ONLY) keeps each query in its usual
    // bucket too
    val groups = selected
      .groupBy { case (n, _) => math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(n), numBuckets) }
      .toSeq.sortBy(_._1)
      .map { case (_, qs) => qs.sortBy(_._1) }
    val results = groups.iterator.flatMap { group =>
      SparkSession.getActiveSession.foreach(_.stop())
      val spark = sessionBuilder(cpus).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // per-batch JVM/codegen/parquet-reader warmup so the batch's
      // first query isn't inflated by ~2s of session start-up cost,
      // plus the shared-fixture pre-build (scaladoc above) so no
      // measured window pays a fixture the previous context built
      // for free
      try {
        graft.core.Tables.documents(spark, sfDir).count()
        spark.range(16).select(org.apache.spark.sql.functions.sum("id")).collect()
        graft.queries.LlmQueries.prebuildSharedFixtures(spark, sfDir)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
      }
      // the prebuilds allocate heavily (Lloyd iterations, CC
      // fixpoint, LR training) — sweep their cache/broadcast residue
      // and GC BEFORE the first measured window, exactly as between
      // queries, so warmup heap state doesn't smear into the batch
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      group.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // sweep cached blocks between queries: operators free their own
        // big intermediates, but result-sized localCheckpoints (dedup
        // pairs, CC labels) survive by design for the caller — left
        // cached they accrete across 100+ queries and polluted round 3's
        // j*/f_* timings 2-17×. unpersist on a plain .cache() is always
        // safe (lineage intact); on a consumed checkpoint it's final.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // Spark's ContextCleaner frees broadcasts/shuffles only when the
        // driver GC collects their weak refs; across 141 queries that
        // backlog plus old-gen growth caused intermittent 10-25× timings
        // on trivial queries (round 4: f_json_extract 23s vs 0.9s solo).
        // An explicit GC here attributes cleanup cost to the harness gap
        // between queries, never to the next query's measured window.
        System.gc()
        (name, sec, ok)
      }
    }.toSeq
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // The driver keeps only the LAST 2000 chars of stdout; a ~3.5 KB
    // single line with all 110+ per-query timings gets its head cut off
    // and fails to parse (rounds 2-3). So: full per-query map → sidecar
    // file in the repo (plus a first line for humans/wide tails), and
    // the LAST line printed is a compact summary — always inside the
    // tail window — carrying the slowest queries and the sidecar path.
    // base_changed: queries whose measured WORK changed this round
    // under an unchanged name (the d86-health-captures lesson —
    // a number whose meaning silently changes under a constant name
    // rots round-over-round diffs); the map self-describes the
    // comparability break in the artifact itself
    val notes = BaseChanged
      .filter { case (k, _) => results.exists(_._1 == k) }
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${f(total)},"unit":"sec","buckets":$numBuckets,"harness_note":"$HarnessNote","queries":$qs,"failed":$failed,"base_changed":$notes,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_QUERIES.json"), full + "\n")
    // ALSO write the map run-stamped (r17 verdict: the driver's
    // 8-core run clobbered the 32-core run's full map — per-query
    // evidence for the main configuration was destroyed by the
    // scaling run minutes later). The live BENCH_QUERIES.json stays
    // for every existing consumer; the stamped copy (core count in
    // the name; under plans/r<round>/ when SPARK_GRAFT_ROUND is
    // exported, else under plans/) survives sibling runs at other
    // core counts. Additive only: the printed one-line contract is
    // untouched.
    val stampDir = java.nio.file.Paths.get("plans",
      sys.env.get("SPARK_GRAFT_ROUND").map(r => s"r$r").toSeq: _*)
    java.nio.file.Files.createDirectories(stampDir)
    java.nio.file.Files.writeString(
      stampDir.resolve(s"BENCH_QUERIES_c$cpus.json"), full + "\n")
    println(full)
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"buckets":$numBuckets,"queries":$slowest,"failed":$failed,"queries_file":"BENCH_QUERIES.json","sf":"$sfDir"}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The one-sentence comparability disclosure the round-15 verdict
    * asked for — carried INSIDE the artifact so a reader of the raw
    * JSON sees the harness semantics without re-deriving them. */
  private val HarnessNote: String =
    "r16 harness: batches = murmur3(name) mod buckets (stable under " +
      "query additions; r15 used alphabetical slices, which shifted " +
      "every boundary per added query), and the applicationId-" +
      "memoized shared fixtures (IVF-PQ layout, BPE merges, LR " +
      "scores, co-occurrence edges + CC labels) pre-build in each " +
      "batch's UNTIMED warmup - r15 landed their build on each " +
      "batch's first consumer. Noise floor: two same-code full-suite " +
      "r16 runs differed ~10% in median with ~50 sub-second queries " +
      "reading >25% apart - treat sub-2x movement on sub-second " +
      "queries as shot noise and solo-pin anything larger"

  /** Comparability notes for the current round (see the base_changed
    * emission above). Empty: r18 re-baselined every query, and no
    * query's measured work has changed under its name since. Earlier
    * rounds' notes stay in their committed sidecars
    * (BENCH_QUERIES_r16.json, BENCH_QUERIES_r17_c8.json). */
  private val BaseChanged: Map[String, String] = Map.empty
}
