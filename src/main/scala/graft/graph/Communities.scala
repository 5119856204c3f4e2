package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, Fixpoint}

/**
 * Community detection by synchronous label propagation (Raghavan et al.
 * 2007, arXiv:0709.2938) — the mirror-farm / template-cluster signal of
 * crawl curation (a community of near-identically-linked hosts is one
 * "site" for mixing purposes).
 *
 * Determinism: the classic algorithm breaks ties randomly and updates
 * asynchronously; this variant is SYNCHRONOUS (all nodes update from
 * the previous round's labels) with a total tie order — most frequent
 * neighbor label, ties to the SMALLEST label — and a fixed round count.
 * Every step is then pure relational algebra on integers: identical
 * results under any partitioning, and a SQL oracle replays rounds
 * verbatim. (Synchronous LPA can oscillate on bipartite structures;
 * for the curation use the fixed-round label snapshot is the feature —
 * stable ids are what downstream grouping needs, convergence per se is
 * not.)
 *
 * Scale shape per round: one equi-join of the label frame onto the
 * (node-keyed) adjacency, then TWO map-side-combinable aggregates —
 * count by (node, neighbor-label), then struct-max by node for the
 * arg-max — no window over raw neighbors, so a celebrity node costs
 * its distinct-neighbor-LABEL count after partial aggregation, not its
 * degree, and nothing corpus-sized crosses the driver.
 */
object Communities {

  /**
   * `iters` rounds of synchronous min-tie label propagation over the
   * undirected simple graph of `edges`. Returns `(node, label)` —
   * nodes sharing a label are one community. Labels start as own ids,
   * so every label is some member's id.
   */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
      iters: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Triangles.canonicalEdges(edges, src, dst)
    // Dual-regime layout (see CheckpointLayout.ClusterLayoutMinRows):
    // small graphs keep the fully-adaptive statSafe loop (labels
    // broadcast per round, adjacency streams). Past the bound, the
    // adjacency is clustered ONCE by its JOIN side (b, the neighbor
    // carrying the label lookup) and round labels leave their arg-max
    // aggregate hash-partitioned by node and KEEP that layout — every
    // round's adj⋈labels join is then co-partitioned and streams both
    // sides in place, so the round's only exchanges are the two
    // map-side-combined aggregates (the celebrity contract in the
    // scaladoc is untouched: the first shuffle still carries
    // (node, label) partial counts, never raw neighbor rows).
    val (adj0, freeAdj0) = Barriers.statSafeFreeable(
      e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b"))))
    // Gate on the SLIM side (one label row per node), not the adjacency —
    // adjacency rows are 2x edges and over-trigger the clustered regime
    // on dense graphs whose label frame still broadcasts fine. The
    // distinct node frame IS the initial label frame, so the gate's
    // aggregate is reused, not redundant; its count also materializes
    // adj0, which round 1 needs anyway.
    val (nodes0, freeNodes0) = Barriers.statSafeFreeable(
      adj0.select(col("a").as("node")).distinct())
    val nNodes = nodes0.count()
    val (adj, freeAdj, cluster) = CheckpointLayout.statSafeReclusterIfOver(
      adj0, freeAdj0, measured = nNodes, key = "b")
    val (labels0, freeLabels0) =
      if (cluster) {
        val (l0, free0) = CheckpointLayout.statSafeClusteredBy(
          nodes0, key = "node")
        l0.queryExecution.toRdd.count() // materialize, then drop the source
        freeNodes0()
        (l0.select(col("node"), col("node").as("label")), free0)
      } else
        // nodes0 is already a stat-safe checkpoint; the label frame is a
        // trivial projection over it — a second barrier would only pin
        // one more session-lifetime RDD
        (nodes0.select(col("node"), col("node").as("label")), () => ())
    Fixpoint.fixedRounds(labels0, freeLabels0, iters, cluster, checkpointDir,
        release = freeAdj) { labels =>
      // slim-side hint (CheckpointLayout.slimHint): small regime = node
      // count measured ≤ the cluster bound, so the label frame broadcasts
      // by measurement and the adjacency never re-exchanges per round
      adj.join(CheckpointLayout.slimHint(labels, cluster),
          adj("b") === labels("node"))
        .select(adj("a").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        // arg-max by (count desc, label asc) == max of (c, -label)
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
  }

  /** Community roll-up: one row per final label with member count and
    * smallest member id (a stable community representative). */
  def communities(edges: DataFrame, src: Column, dst: Column,
      iters: Int): DataFrame =
    labelPropagation(edges, src, dst, iters)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("rep"))
}
