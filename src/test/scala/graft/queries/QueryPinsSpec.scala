package graft.queries

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSpec}

/** Queries that pin intermediate state — a streaming twin's static
  * screen set or running fold, a prefix-cross index and its
  * refreshed/retracted successor, a durable store lifecycle's
  * survivors and band builds — free those checkpoints before they
  * return: after the query, no RDD it persisted is still registered.
  * Each query runs against a private copy of the sf0.001 tables, so
  * the fixture catalog's per-(app, dataset) streams cannot skip the
  * run because another suite in this JVM already served the same
  * twin. */
class QueryPinsSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("graft_stream_pins")
    val src = Paths.get(sf0001)
    Files.walk(src).forEach { f =>
      val to = dir.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to)
    }
    dir.toString
  }

  /** RDD ids the query left persisted, beyond the checkpoint its
    * result reads (a sealed result escapes to the caller by design).
    * A poller holds every RDD the query persists strongly while it
    * runs, so Spark's ContextCleaner cannot unpersist an orphaned
    * checkpoint on a lucky GC and hide the leak. */
  private def leaves(name: String): Set[Int] = {
    val sc = spark.sparkContext
    // the memoized shared fixtures (the IVF-PQ layout among them)
    // live for the session by design: build them before the snapshot
    LlmQueries.prebuildSharedFixtures(spark, fixture)
    val before = sc.getPersistentRDDs.keySet.toSet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        sc.getPersistentRDDs.foreach { case (id, r) => held.put(id, r) }
        Thread.sleep(5)
      })
    poller.setDaemon(true)
    poller.start()
    val result =
      try SparkEntry.queries(name)(spark, fixture)
      finally { polling = false; poller.join() }
    val reads = result.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    result.collect()
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before -- reads
    reads.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    leaked
  }

  for (name <- Seq("st_inc_rollup", "st_sample_n", "st_cross_spans",
                   "st_line_dedup", "st_inc_boiler", "st_inc_bm25",
                   "st_inc_grouped_boiler", "st_inc_grams",
                   "st_decontam_stream", "st_cross_near", "st_inc_prefix",
                   "st_inc_lsh_store", "inc_prefix_refresh",
                   "inc_prefix_remove", "d11_neardup_clusters",
                   "d12_dedup_survivors",
                   "d89_takedown_sweep", "d90_crawl_commit",
                   "d91_recrawl_update", "d92_store_ingest",
                   "inc_boiler_store", "inc_lsh_store", "inc_bm25_store",
                   "inc_kn_store", "inc_store_levels",
                   "st_inc_boiler_store", "st_inc_bm25_store",
                   "st_inc_kn_store", "st_dedup_stream",
                   "st_inc_ivfpq_add", "st_inc_ivfpq_remove",
                   "st_inc_boiler_remove", "st_inc_kn_remove",
                   "st_inc_bm25_remove", "st_inc_kn",
                   "inc_boiler_remove")) {
    test(s"$name frees its pinned state before it returns") {
      val leaked = leaves(name)
      assert(leaked.isEmpty, s"$name left ${leaked.size} persisted RDD(s)")
    }
  }
}
