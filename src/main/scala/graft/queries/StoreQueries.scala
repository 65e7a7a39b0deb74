package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.core.{Fixtures, Tables => T}
import graft.sources.{AlibStore, DbBridge, DelimitedSources, FileScan}

/** Store-lifecycle, source/sink, and CDC-maintenance operators as
  * driver-checked queries (SURVEY §2.1 S1/S3/S5/S12-S15, §2.2 P4,
  * §2.9 M3/M5-M8): each builds a deterministic scenario from the
  * provided tables so the DuckDB oracle can state the expected outcome
  * directly. The round-trip queries write REAL files under /tmp (fake
  * audio payloads, MB-style TSV with \N nulls, Wikidata-style JSON,
  * pipe-delimited scores, CSV reports) and read them back through the
  * corresponding source — scanning, parsing, null encoding and row
  * validation are exercised end-to-end, not mocked.
  */
object StoreQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The year-partitioned orders copy for s18, written ONCE per
    * (application, dataset dir) and read thereafter: re-running the
    * query must time the partition-pruned READ, not a rewrite, and two
    * concurrent constructions in one app must not race on one
    * overwrite path. */
  private def partitionedOrders(s: SparkSession, d: String): String =
    Fixtures.get(s, d, "orders_part") {
      val root = Fixtures.dir(s, d, "orders_part")
      graft.sources.Bucketed.writePartitioned(
        T.orders(s, d).withColumn("o_year",
          year(col("o_orderdate").cast("date"))),
        root, Seq("o_year"))
      root
    }

  val defs: Map[String, Q] = Map(
    // S5: INSERT OR REPLACE upsert — incoming (10% of docs, lang
    // rewritten) wins on key collision, everything else survives.
    "s5_upsert" -> ((s, d) => {
      val cur = T.documents(s, d)
      val inc = cur.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
      AlibStore.upsert(cur, inc, "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // S5 + schema evolution: incoming batch carries a column the table
    // has never seen (ref tags2db.py:660-670 discovered-tag ALTER);
    // existing rows must backfill NULL, incoming rows keep their value.
    "s5_upsert_evolve" -> ((s, d) => {
      val cur = T.documents(s, d)
      val inc = cur.filter(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .withColumn("rating", (col("doc_id") % 5).cast("string"))
      AlibStore.upsertEvolving(cur, inc, "doc_id")
        .select("doc_id", "lang", "rating")
        .orderBy("doc_id")
    }),

    // P4: allowlist column nulling — everything outside the keep set
    // (and not system-prefixed) is nulled, schema preserved.
    "p4_keepcols" -> ((s, d) =>
      AlibStore.applyKeepColumns(T.documents(s, d),
          keep = Set("doc_id", "lang"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // M6: rebuild dropping all-null non-system columns — the injected
    // empty data column goes, the system column stays.
    "m6_rebuild" -> ((s, d) => {
      val df = T.documents(s, d)
        .withColumn("all_null", lit(null).cast("string"))
        .withColumn("__sys_null", lit(null).cast("string"))
      val out = AlibStore.rebuildDroppingEmpty(df)
      out.select(col("doc_id"), col("lang"),
          lit(out.columns.length).as("n_cols"))
        .orderBy("doc_id")
    }),

    // M8: key rename with referential rewrite, verified via the
    // post-rename distribution (changelog rewrite is spec-covered).
    "m8_rename" -> ((s, d) => {
      import s.implicits._
      val renames = Seq(("src1", "source_one"), ("src2", "source_two"))
        .toDF("old", "new")
      val cur = T.documents(s, d)
      val log = cur.select(col("source").as("key"),
        lit("lang").as("column"))
      val (newAlib, _) = AlibStore.renameWithRewrite(cur, log, "source", renames)
      newAlib.groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    // S12: MB-style TSV round-trip — write tab-separated with \N nulls,
    // read back through the source; null encoding must survive.
    "s12_tsv_roundtrip" -> ((s, d) => {
      val src = T.customer(s, d).select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .otherwise(col("c_mktsegment")).as("seg"))
      val dir = Fixtures.dir(s, "s12_tsv")
      src.write.mode("overwrite").option("sep", "\t")
        .option("nullValue", "\\N").option("header", "false")
        .option("quote", "").csv(dir)
      DelimitedSources.readMbTsv(s, dir, src.schema)
        .orderBy("c_custkey")
    }),

    // S1/S3: file scan + tag-parse round-trip — write one fake audio
    // file per nation, scan via the binaryFile source (glob +
    // recursive), parse per partition; name and byte length must
    // round-trip (the decode itself is the documented stub).
    "s1_scan_parse" -> ((s, d) => {
      implicit val sp: SparkSession = s
      val dir = Fixtures.dir(s, "s1_files")
      Fixtures.deleteTree(dir)
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(root)
      T.nation(s, d)
        .select(col("n_name"),
          concat(col("n_name"), lit("-"), col("n_regionkey")).as("payload"))
        .collect().foreach { r =>
          java.nio.file.Files.write(root.resolve(r.getString(0) + ".mp3"),
            r.getString(1).getBytes("UTF-8"))
        }
      // output names must avoid pyarrow's reserved dataset-virtual
      // fields (__filename/__size) or the driver's oracle read fails
      FileScan.parseTags(FileScan.scanAudioFiles(s, root.toString))
        .select(col("__filename").as("file_name"),
          col("__size").as("file_size"))
        .orderBy("file_name")
    }),

    // S13: Wikidata-style JSON round-trip — entities with optional
    // claim structs; the source must keep only id-bearing entities.
    "s13_wikidata_roundtrip" -> ((s, d) => {
      val src = T.nation(s, d).select(
        concat(lit("Q"), col("n_nationkey")).as("id"),
        struct(col("n_name").as("en")).as("labels"),
        struct(when(col("n_nationkey") % 2 === 0,
          concat(lit("mbid-"), col("n_nationkey"))).as("P434")).as("claims"))
      val dir = Fixtures.dir(s, "s13_wd")
      src.write.mode("overwrite").json(dir)
      DelimitedSources.readWikidataEntities(s, dir, Seq("P434"))
        .orderBy("entity_id")
    }),

    // S15: CSV report sink round-trip (header on, schema supplied on
    // the way back in).
    "s15_csv_roundtrip" -> ((s, d) => {
      val rep = T.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val dir = Fixtures.dir(s, "s15_csv")
      DelimitedSources.writeCsvReport(rep, dir)
      s.read.option("header", "true").schema(rep.schema).csv(dir)
        .orderBy("n_nationkey")
    }),

    // S19 (beyond parity): JSONL round-trip — the training-corpus
    // interchange format. The full documents table (text included, so
    // JSON string escaping is exercised) writes as line-delimited JSON
    // and reads back under its own schema.
    "s19_jsonl_roundtrip" -> ((s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      val dir = Fixtures.dir(s, "s19_jsonl")
      DelimitedSources.writeJsonl(docs, dir)
      DelimitedSources.readJsonl(s, dir, docs.schema)
        .orderBy("doc_id")
    }),

    // S6: DB -> DataFrame bridge over a REAL embedded JDBC database
    // (Derby ships with Spark): typed rows write out through Spark's
    // JDBC sink, read back through DbBridge, and the string-default
    // policy (ref tm_polars_db.py:51-150) must hold — every column
    // string except the system ints, __sqlmodded NULL coalesced to 0.
    "s6_jdbc_roundtrip" -> ((s, d) => {
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val url = s"jdbc:derby:${Fixtures.dir(s, "s6_derby")};create=true"
      val src = T.nation(s, d).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"),
        when(col("n_nationkey") % 3 === 0, lit(null))
          .otherwise((col("n_nationkey") % 3)).cast("int").as("__sqlmodded"))
      src.write.mode("overwrite").option("driver",
        "org.apache.derby.jdbc.EmbeddedDriver").jdbc(url, "alib", props)
      DbBridge.readJdbc(s, url, "alib", props)
        .orderBy("n_nationkey")
    }),

    // S10: export-to-files round trip — tag rows under a directory
    // prefix write per-directory manifests with the reference's write
    // semantics (NULL => DELETE tag, delimited => one SET per value,
    // mtime mode recorded per file; tags2db.py:1447-1741), then the
    // manifests are read back as lines and verified against the
    // expected action stream.
    "s10_export_files" -> ((s, d) => {
      val out = Fixtures.dir(s, "s10_export")
      val dir = concat(lit("/lib/"), col("c_mktsegment"))
      val rows = T.customer(s, d).select(
        dir.as("__dirpath"),
        concat(dir, lit("/"), col("c_name")).as("__path"),
        when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
          .when(col("c_custkey") % 3 === 1, lit("rock"))
          .otherwise(lit("rock\\\\jazz")).as("genre"))
      FileScan.exportByDirectory(rows, "/lib/B", out,
        tagCols = Seq("genre"), mtimeMode = "preserve")
      s.read.text(out).select(col("value").as("line")).orderBy("line")
    }),

    // S11: export-DB builder — columns narrowed to system + changelog-
    // touched columns, rows semi-joined to the changelog's touched keys
    // (ref 98-create-export-db.py:87-371, 313-335).
    "s11_build_export" -> ((s, d) => {
      val orig = T.documents(s, d)
      val next = orig.withColumn("text",
        regexp_replace(col("text"), "batch batch", "batch"))
      val (_, log) = Cdc.diffAndLog(orig, next, "doc_id",
        Seq("text", "lang"), "norm_text")
      AlibStore.buildExport(next, log, "doc_id", systemCols = Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // M3: audit snapshot diff — out-of-band edits surface as changelog
    // rows under the trigger's script tag.
    "m3_audit_diff" -> ((s, d) => {
      val last = T.documents(s, d)
      val cur = last.withColumn("lang",
        when(col("doc_id") % 4 === 0, lit("zz")).otherwise(col("lang")))
      Cdc.auditSnapshotDiff(last, cur, "doc_id", Seq("lang", "source"))
        .orderBy("key", "column")
    }),

    // M5: modification-counter reset after export.
    "m5_reset" -> ((s, d) =>
      AlibStore.resetSqlmodded(T.documents(s, d)
          .withColumn("__sqlmodded", (col("doc_id") % 3).cast("int")))
        .select(col("doc_id"), col("__sqlmodded"))
        .orderBy("doc_id")),

    // M7: changelog schema migration — rowid-keyed legacy rows backfill
    // to the stable key, unmapped rowids keep a sentinel key.
    "m7_migrate" -> ((s, d) => {
      val oldLog = T.customer(s, d).select(
        col("c_custkey").as("rowid"),
        lit("genre").as("column"),
        col("c_mktsegment").as("old_value"),
        lit("Rock").as("new_value"),
        lit("step-10").as("script"))
      val mapping = T.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("rowid"), col("c_name").as("key"))
      Cdc.migrateChangelog(oldLog, mapping).orderBy("key")
    }),

    // Skew-safe two-phase salted aggregation — identical result to a
    // plain groupBy count, but no reducer ever owns a hot key's whole
    // traffic (the aggregation-side skew handling AQE doesn't do).
    "sk_salted_count" -> ((s, d) =>
      graft.core.Scale.saltedCount(T.lineitem(s, d),
          "l_suppkey", "l_orderkey")
        .orderBy("l_suppkey")),

    // Skew-salted JOIN: fact rows salt into 8 buckets, the dim side
    // replicates across all 8, the join runs on (key, salt) — same
    // rows as the plain join (the oracle), but a hot orderkey spreads
    // over 8 reducers. The explicit fallback for skew AQE can't split.
    "sk_salted_join" -> ((s, d) => {
      val fact = T.lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_quantity"), col("l_partkey"))
      val dim = T.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderpriority"))
      graft.core.Scale.saltedJoin(fact, dim, "k", "l_partkey", n = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(l_quantity*100) AS BIGINT)")).as("qty_cents"))
        .orderBy("o_orderpriority")
    }),

    // Bloom runtime-filter semi-join: the dim folds into one sketch,
    // the fact scan drops misses BEFORE any exchange, the exact join
    // removes false positives — row-identical to the plain semi-join
    // (the oracle) at any fpp.
    "rf_bloom_semi" -> ((s, d) =>
      graft.operators.RuntimeFilter.bloomSemiJoin(
          T.lineitem(s, d), T.part(s, d).filter(col("p_size") === 1),
          "l_partkey", "p_partkey", expectedItems = 10000)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(l_quantity*100) AS BIGINT)")).as("qty_cents"))
        .orderBy("l_returnflag")),

    // Bloom runtime-filter ANTI-join (the dual): probe-false rows are
    // definite non-members and bypass the join entirely; only probe
    // hits shuffle in to resolve false positives exactly.
    "rf_bloom_anti" -> ((s, d) =>
      graft.operators.RuntimeFilter.bloomAntiJoin(
          T.orders(s, d),
          T.customer(s, d).filter(col("c_mktsegment") === "BUILDING"),
          "o_custkey", "c_custkey", expectedItems = 10000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice*100) AS BIGINT)"))
            .as("price_cents"))
        .orderBy("o_orderpriority")),

    // S17 (beyond-parity): bucketed co-located join — both sides
    // persisted bucketBy the join key, so the join itself runs with NO
    // key shuffle (asserted in BucketedSpec); only the final customer
    // rollup exchanges. The oracle sees just the arithmetic.
    "s17_bucketed_join" -> ((s, d) => {
      import graft.sources.Bucketed
      Bucketed.writeBucketed(T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity")),
        "graft_li_b", "l_orderkey", buckets = 8,
        sortCols = Seq("l_orderkey"))
      Bucketed.writeBucketed(T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey")),
        "graft_or_b", "o_orderkey", buckets = 8,
        sortCols = Seq("o_orderkey"))
      s.table("graft_li_b")
        .join(s.table("graft_or_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(graft.core.Exprs.cents(col("l_quantity"))).as("qty_cents"))
        .orderBy("o_custkey")
    }),

    // Hive-partitioned layout round-trip: orders written partitioned
    // by order year, read back with a partition predicate — the scan
    // lists only the matching year directory (pruning asserted in
    // PlanSpec), then aggregates. The oracle restates the same agg
    // over the unpartitioned table: layout must never change answers.
    // The partitioned copy is written ONCE per (app, dataset) — see
    // [[partitionedOrders]]; re-invocations (bench iterations,
    // concurrent constructions) read, never racing on an overwrite.
    "s18_partition_prune" -> ((s, d) =>
      s.read.parquet(partitionedOrders(s, d))
        .filter(col("o_year") === 1995)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(graft.core.Exprs.cents(col("o_totalprice"))).as("sum_cents"))
        .orderBy("o_orderpriority")),

    // Z-order layout: Morton z-values of the (partkey, suppkey) filter
    // pair — the bit-interleave that bounds every range-partitioned
    // output file in BOTH dimensions (see operators/Layout.scala; the
    // file-pruning property itself is asserted in LayoutSpec).
    "zo_zvalue" -> ((s, d) =>
      T.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
        .withColumn("zval",
          graft.operators.Layout.zValue2(col("l_partkey"),
            col("l_suppkey"), bits = 16))
        .orderBy("zval", "l_partkey", "l_suppkey")),

    // S14: pipe-delimited DR-score round-trip — every 11th row is
    // malformed on purpose; validation must flag, not drop.
    "s14_dr_roundtrip" -> ((s, d) => {
      val lines = T.customer(s, d).select(
        when(col("c_custkey") % 11 === 0,
          concat(col("c_name"), lit("|missing")))
          .otherwise(concat(col("c_name"), lit("|DR"),
            (col("c_custkey") % 15).cast("int"))).as("value"))
      val dir = Fixtures.dir(s, "s14_dr")
      lines.write.mode("overwrite").text(dir)
      DelimitedSources.readDrScores(s, dir)
        .orderBy("raw")
    }),
  )

  val sql: Map[String, String] = Map(
    "s5_upsert" ->
      """SELECT doc_id,
        |CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang, source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s5_upsert_evolve" ->
      """SELECT doc_id,
        |CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
        |CASE WHEN doc_id % 10 = 0 THEN CAST(doc_id % 5 AS VARCHAR)
        |  ELSE NULL END AS rating
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p4_keepcols" ->
      """SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
        |CAST(NULL AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m6_rebuild" ->
      """SELECT doc_id, lang, CAST(6 AS INT) AS n_cols
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m8_rename" ->
      """SELECT CASE WHEN source = 'src1' THEN 'source_one'
        |WHEN source = 'src2' THEN 'source_two' ELSE source END AS source,
        |COUNT(*) AS n FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "s1_scan_parse" ->
      """SELECT n_name || '.mp3' AS file_name,
        |CAST(length(n_name || '-' || CAST(n_regionkey AS VARCHAR)) AS BIGINT)
        |  AS file_size
        |FROM nation ORDER BY file_name""".stripMargin,
    "s13_wikidata_roundtrip" ->
      """SELECT 'Q' || CAST(n_nationkey AS VARCHAR) AS entity_id,
        |n_name AS label_en,
        |'mbid-' || CAST(n_nationkey AS VARCHAR) AS p434
        |FROM nation WHERE n_nationkey % 2 = 0 ORDER BY entity_id""".stripMargin,
    "s15_csv_roundtrip" ->
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // round-trip must preserve every value verbatim, so the oracle is
    // the identity projection of the source table
    "s19_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // ordered on the STRING form of the key (the policy output), so the
    // oracle orders lexicographically too
    "s6_jdbc_roundtrip" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        |CAST(n_regionkey AS VARCHAR) AS n_regionkey,
        |CASE WHEN n_nationkey % 3 = 0 THEN 0
        |  ELSE CAST(n_nationkey % 3 AS INT) END AS __sqlmodded
        |FROM nation ORDER BY CAST(n_nationkey AS VARCHAR)""".stripMargin,
    // DuckDB single-quoted strings do not process backslash escapes, so
    // 'rock\\jazz' is the literal two-backslash-delimited cell and
    // string_split(genre, '\\') splits on the delimiter.
    "s10_export_files" ->
      """WITH rows AS (
        |  SELECT '/lib/' || c_mktsegment || '/' || c_name AS path,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL
        |         WHEN c_custkey % 3 = 1 THEN 'rock'
        |         ELSE 'rock\\jazz' END AS genre
        |  FROM customer WHERE c_mktsegment LIKE 'B%')
        |SELECT line FROM (
        |  SELECT path || chr(9) || '__mtime' || chr(9) || 'preserve' AS line
        |  FROM rows
        |  UNION ALL
        |  SELECT path || chr(9) || 'genre' || chr(9) || 'DELETE'
        |  FROM rows WHERE genre IS NULL
        |  UNION ALL
        |  SELECT path || chr(9) || 'genre' || chr(9) || 'SET' || chr(9) || seg
        |  FROM (SELECT path, unnest(string_split(genre, '\\')) AS seg
        |        FROM rows WHERE genre IS NOT NULL))
        |ORDER BY line""".stripMargin,
    "s11_build_export" ->
      """SELECT doc_id, regexp_replace(text, 'batch batch', 'batch', 'g') AS text
        |FROM documents
        |WHERE text <> regexp_replace(text, 'batch batch', 'batch', 'g')
        |ORDER BY doc_id""".stripMargin,
    "m3_audit_diff" ->
      """SELECT doc_id AS key, 'lang' AS "column", lang AS old_value,
        |'zz' AS new_value, 'TRIGGER_AUDIT' AS script
        |FROM documents WHERE doc_id % 4 = 0 AND lang IS DISTINCT FROM 'zz'
        |ORDER BY key, "column"""".stripMargin,
    "m5_reset" ->
      """SELECT doc_id, CAST(NULL AS INT) AS __sqlmodded
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m7_migrate" ->
      """SELECT CASE WHEN c_custkey % 3 <> 0 THEN c_name
        |  ELSE 'rowid:' || CAST(c_custkey AS VARCHAR) END AS key,
        |'genre' AS "column", c_mktsegment AS old_value,
        |'Rock' AS new_value, 'step-10' AS script
        |FROM customer ORDER BY key""".stripMargin,
    "sk_salted_count" ->
      """SELECT l_suppkey, COUNT(*) AS n FROM lineitem
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "sk_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
        |  AS qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rf_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
        |  AS qty_cents
        |FROM lineitem WHERE l_partkey IN (
        |  SELECT p_partkey FROM part WHERE p_size = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rf_bloom_anti" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |  AS price_cents
        |FROM orders o WHERE NOT EXISTS (
        |  SELECT 1 FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s17_bucketed_join" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
        |  AS qty_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "s18_partition_prune" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |  AS sum_cents
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "zo_zvalue" ->
      """SELECT l_partkey, l_suppkey, CAST(list_sum(
        |[((l_partkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
        | + ((l_suppkey >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
        | FOR i IN range(0, 16)]) AS BIGINT) AS zval
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |ORDER BY zval, l_partkey, l_suppkey""".stripMargin,
    "s12_tsv_roundtrip" ->
      """SELECT c_custkey, c_name,
        |CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "s14_dr_roundtrip" ->
      """SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_name END AS key,
        |CASE WHEN c_custkey % 11 = 0 THEN NULL
        |  ELSE CAST(c_custkey % 15 AS INT) END AS dr,
        |c_custkey % 11 <> 0 AS valid,
        |CASE WHEN c_custkey % 11 = 0 THEN c_name || '|missing'
        |  ELSE c_name || '|DR' || CAST(c_custkey % 15 AS VARCHAR) END AS raw
        |FROM customer ORDER BY raw""".stripMargin,
  )
}
