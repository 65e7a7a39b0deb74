package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Graph operators: similarity-graph build + connected components
  * (ref graph build `src/tagminder/core/tm_graph.py:106-451`; union-find
  * components `scripts/pipeline/15-...py:334`).
  *
  * Connected components is iterative min-label propagation (the
  * two-table join form of label propagation / "small-star" contraction):
  * each round every vertex takes the min component id among itself and
  * its neighbors; converges in O(diameter) rounds. Each round is one
  * shuffle on the vertex id; no driver-side graph state — scales to
  * billions of edges. `localCheckpoint` every few rounds truncates the
  * growing lineage.
  */
object GraphOps {

  /** Co-occurrence edge build: distinct members per group → all ordered
    * pairs within the group → weighted undirected edges (src < dst)
    * (ref album-scope co-occurrence `tm_graph.py:294-316, 524-533`).
    *
    * Shape: ONE shuffle on the group key with map-side partial
    * `collect_set` aggregation, pair explosion entirely map-side on the
    * aggregated array, then the (src, dst) count shuffle — two
    * exchanges total. The previous distinct + self-join formulation
    * cost four (distinct, both join sides, final count) and re-shipped
    * every (group, member) row twice. Group fan-out is quadratic in
    * members-per-group under EITHER formulation; the reference's groups
    * (albums) are small and bounded. A pathological group would need
    * upstream capping regardless of join strategy. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, memberCol: String,
                        minWeight: Long = 1L): DataFrame =
    df.select(col(groupCol).as("g"), col(memberCol).as("m"))
      // null groups never co-occur (the join formulation's g = g
      // dropped them implicitly; keep that contract explicit)
      .where(col("g").isNotNull)
      .groupBy("g").agg(array_sort(collect_set(col("m"))).as("ms"))
      // ms is sorted + distinct, so pairing each element with its
      // strict suffix yields exactly the src < dst pairs. TWO chained
      // generators, not one flattened array: the first emits one row
      // per member, the second that member's suffix — peak per-row
      // allocation stays O(group), never the O(group²) a single
      // flatten would materialize on a pathological group
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "src")))
      .select(col("src"),
        explode(slice(col("ms"), col("i") + 2, size(col("ms")))).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)

  /** Connected components over an undirected edge list. Returns
    * (node, component) where component = min node id in the component.
    *
    * Converges in O(diameter) rounds. If the cap is hit before
    * convergence the labels are WRONG (one component reported as
    * several), so by default this throws rather than silently
    * returning them; pass `failOnMaxIter = false` to get the partial
    * labels plus a stderr warning instead.
    *
    * Per-round cost: one shuffle (the min-label groupBy). The
    * symmetric edge list is repartitioned on `src` and checkpointed
    * once, so the per-round join reuses its partitioning; the
    * changed-row convergence check is a scan of the freshly
    * checkpointed result, not a join against the previous labels. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          failOnMaxIter: Boolean = true)
      : DataFrame = Pins.scope { p =>
    // materialize the edge list once — without this every iteration
    // re-runs the upstream edge-build lineage (measured 10×+ slowdown
    // when edges come from a join+aggregate pipeline)
    val sym = p(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")))
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("comp", col("node"))
    var prev: Option[DataFrame] = None // previous round's checkpoint
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst").as("node")).agg(min("comp").as("nbr_comp"))
      // truncate lineage; also acts as a barrier
      val next = p(labels.join(msgs, Seq("node"), "left")
        .select(col("node"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("comp")))
      // `next` is materialized (eager checkpoint) → the previous round's
      // blocks have been fully consumed and can be freed; without this
      // every round holds a labels-sized cache until the scope exits
      prev.foreach(p.release)
      prev = Some(next)
      converged =
        next.filter(col("comp") =!= col("__old")).limit(1).count() == 0
      labels = next.select("node", "comp")
      i += 1
    }
    warnOrFail(converged,
      s"connectedComponents did not converge in $maxIter rounds; " +
        "labels would split components. Raise maxIter.", failOnMaxIter)
    // copy the final (small) labels out of the last round's checkpoint so
    // the scope can free the edge cache and the last per-round block; only
    // the labels-sized result stays cached for the caller to consume
    labels.localCheckpoint(true)
  }

  /** The `maxIter` cap's report: throw (the default) or warn on stderr
    * when the iteration stopped before convergence. */
  private def warnOrFail(converged: Boolean, msg: => String,
                         failOnMaxIter: Boolean): Unit =
    if (!converged) {
      if (failOnMaxIter) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] WARNING: $msg")
    }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014): converges in O(log n) rounds REGARDLESS
    * of component diameter — the scale path when components can be
    * long chains, where [[connectedComponents]]'s min-label
    * propagation needs O(diameter) rounds. Two shuffles per round
    * (the per-node min and the distinct), checkpointed and freed with
    * the same leak discipline. Same contract: (node, comp) with
    * comp = min node id of the component.
    *
    * Kept alongside the propagation variant rather than replacing it:
    * on the short-diameter similarity graphs the reference produces,
    * propagation does fewer total shuffles; on adversarial chains this
    * one wins asymptotically (GraphOpsSpec checks both agree). */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50,
                              failOnMaxIter: Boolean = true)
      : DataFrame = Pins.scope { p =>
    // one materialization of the (possibly expensive) edge build; both
    // the node universe and the canonical edge list derive from it
    val base = p(edges.select(col("src"), col("dst")))
    val allNodes = p(base.select(col("src").as("node"))
      .union(base.select(col("dst").as("node"))).distinct())
    var e = p(base
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    p.release(base)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every neighbor v > u re-points at u's minimum
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
      val ls = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .distinct()
      // small-star: every smaller neighbor (and u itself) re-points at
      // the minimum of u's smaller neighborhood
      val mins2 = ls.groupBy("u").agg(min("v").as("mn"))
      val next = p(ls.join(mins2, Seq("u"))
        .select(col("v").as("u"), col("mn").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(mins2.select(col("u"), col("mn").as("v")))
        .distinct())
      converged = next.count() == e.count() &&
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() == 0
      p.release(e)
      e = next
      i += 1
    }
    warnOrFail(converged, "connectedComponentsStar did not converge in " +
      s"$maxIter rounds. Raise maxIter.", failOnMaxIter)
    // one row per node even on the non-converged escape hatch: mid-run
    // a node can hold several out-edges, and a bare left join would fan
    // out into conflicting labels — min(comp) keeps the contract
    allNodes
      .join(e.select(col("u").as("node"), col("v").as("comp")),
        Seq("node"), "left")
      .groupBy("node")
      .agg(min(coalesce(col("comp"), col("node"))).as("comp"))
      .localCheckpoint(true)
  }

  /** Per-component rollup stats (ref cluster stats `15-...py:347-375`):
    * size, member list sorted and joined. */
  def componentStats(labels: DataFrame): DataFrame =
    labels.groupBy("comp").agg(
      count(lit(1)).as("n_members"),
      array_join(transform(array_sort(collect_list(col("node"))),
        _.cast("string")), " | ").as("members"))

  /** Weighted PageRank over an undirected edge list (src, dst, weight),
    * fixed iteration count — graph centrality as a per-node quality
    * signal (web-crawl curation weighs documents by link centrality;
    * the similarity graph's analogue ranks members by how embedded
    * they are in heavily co-occurring neighborhoods).
    *
    * Semantics: the undirected graph is symmetrized (each edge feeds
    * both directions), so every node has out-weight > 0 and the
    * dangling-mass term vanishes. Each round,
    * pr'(v) = round((1−d)/N + d·Σ_{u→v} pr(u)·w(u,v)/outw(u), 6).
    * Fixed `iters` (not convergence-tested) keeps the operator a
    * deterministic, oracle-expressible prefix of the power iteration —
    * the d29 k-means discipline.
    *
    * Cross-engine exactness: per-edge contributions are rounded to
    * INTEGER MICROS before summing (long sums are order-independent,
    * so shuffle/aggregation order cannot perturb the result — the
    * d28/d31 log-prob discipline), and each round's rank is rounded to
    * 6 dp so float drift cannot compound across rounds. All scalar
    * arithmetic mirrors the oracle's operation order exactly.
    *
    * Scale shape: the symmetrized edge list joins its out-weight table
    * once, is repartitioned on `src` and checkpointed — each round's
    * contribution join then reuses that partitioning against the
    * rank table and pays ONE aggregation shuffle on `dst`. N rides as
    * a one-row broadcast scalar (no driver round-trip). Per-round
    * lineage is truncated (eager checkpoint) and the previous round's
    * blocks freed — the [[connectedComponents]] leak discipline.
    *
    * @return (node, pr) */
  def pageRank(edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = Pins.scope { p =>
    require(iters >= 1, s"iters must be >= 1: $iters")
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    val withOw = p(sym
      .join(sym.groupBy("src").agg(sum("weight").as("ow")), Seq("src"))
      .repartition(col("src")))
    // one-row N scalar, materialized once — every round broadcasts it,
    // and without the checkpoint each broadcast would re-run the
    // distinct+count aggregation
    val nRow = p(withOw.select(col("src").as("node")).distinct()
      .agg(count(lit(1)).as("nn")))
    // uniform start, rounded as the oracle rounds it
    var pr = p(withOw.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(nRow))
      .select(col("node"),
        round(lit(1.0).cast("double") / col("nn"), 6).as("pr")))
    var i = 0
    while (i < iters) {
      // every node of the symmetric graph has an in-edge, so the
      // contribution aggregation covers the full node set — no
      // left-join backfill needed
      val next = p(withOw.join(pr, withOw("src") === pr("node"))
        .select(col("dst"),
          round(col("pr") * col("weight") / col("ow") * lit(1e6))
            .cast("long").as("__c"))
        .groupBy(col("dst").as("node")).agg(sum("__c").as("__sm"))
        .crossJoin(broadcast(nRow))
        .select(col("node"),
          round((lit(1.0) - lit(damping)) / col("nn")
            + lit(damping)
              * (col("__sm").cast("double") / lit(1e6)), 6).as("pr")))
      p.release(pr)
      pr = next
      i += 1
    }
    // copy the (small) ranks out so the scope can free the edge cache
    pr.localCheckpoint(true)
  }
}
