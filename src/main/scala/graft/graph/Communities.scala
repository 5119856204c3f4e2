package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, DriverRegime, Fixpoint}

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
 * Scale shape: the canonical edge frame is measured first. At or under
 * the layout bound (`CheckpointLayout.smallRegime`) it is collected once
 * and the rounds are replayed on the driver over primitive arrays — no
 * job per round, the result a local relation that collects without a
 * job. Past it, per round:
 * one equi-join of the label frame onto the (node-keyed) adjacency, then
 * TWO map-side-combinable aggregates — count by (node, neighbor-label),
 * then struct-max by node for the arg-max — no window over raw
 * neighbors, so a celebrity node costs its distinct-neighbor-LABEL count
 * after partial aggregation, not its degree, and nothing corpus-sized
 * crosses the driver.
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
    val (e0, freeE0) = Barriers.statSafeFreeable(Triangles.canonicalEdges(edges, src, dst))
    DriverRegime.collectIfSmall(e0, freeE0) match {
      case Some(rows) => DriverRegime.frame(edges.sparkSession,
        labelsLocal(DriverRegime.Edges(rows, "u", "v"), iters), LabelSchema)
      case None => labelLoop(e0, freeE0, iters, checkpointDir)
    }
  }

  private val LabelSchema = StructType(Seq(
    StructField("node", LongType), StructField("label", LongType)))

  /** The small regime of [[labelPropagation]]: the loop's synchronous
    * rounds replayed over the collected canonical edges. Per round each
    * node sorts its neighbours' labels and takes the longest run, the
    * first (smallest) label among equally long runs. */
  private def labelsLocal(g: DriverRegime.Edges, iters: Int): Seq[Row] = {
    // undirected adjacency in CSR form: node i's neighbours are
    // nbr(start(i) until start(i + 1))
    val start = new Array[Int](g.nodes + 1)
    for (i <- 0 until g.size) { start(g.src(i) + 1) += 1; start(g.dst(i) + 1) += 1 }
    for (i <- 0 until g.nodes) start(i + 1) += start(i)
    val nbr = new Array[Int](2 * g.size)
    val fill = start.clone()
    for (i <- 0 until g.size) {
      nbr(fill(g.src(i))) = g.dst(i); fill(g.src(i)) += 1
      nbr(fill(g.dst(i))) = g.src(i); fill(g.dst(i)) += 1
    }
    val buf = new Array[Long](if (g.nodes == 0) 0 else
      (0 until g.nodes).map(i => start(i + 1) - start(i)).max)
    var labels = g.ids
    for (_ <- 1 to iters) {
      labels = Array.tabulate(g.nodes) { v =>
        val d = start(v + 1) - start(v)
        for (j <- 0 until d) buf(j) = labels(nbr(start(v) + j))
        java.util.Arrays.sort(buf, 0, d)
        var best = buf(0)
        var bestRun = 0
        var j = 0
        while (j < d) {
          var k = j
          while (k < d && buf(k) == buf(j)) k += 1
          if (k - j > bestRun) { best = buf(j); bestRun = k - j }
          j = k
        }
        best
      }
    }
    g.ids.indices.map(i => Row(g.ids(i), labels(i)))
  }

  /** The loop regime of [[labelPropagation]] over the measured canonical
    * edge barrier `e0`. */
  private def labelLoop(e0: DataFrame, freeE0: () => Unit, iters: Int,
      checkpointDir: Option[String]): DataFrame = {
    // The adjacency is clustered ONCE by its JOIN side (b, the neighbor
    // carrying the label lookup) and round labels leave their arg-max
    // aggregate hash-partitioned by node and KEEP that layout — every
    // round's adj⋈labels join is then co-partitioned and streams both
    // sides in place, so the round's only exchanges are the two
    // map-side-combined aggregates (the celebrity contract in the
    // scaladoc is untouched: the first shuffle still carries
    // (node, label) partial counts, never raw neighbor rows).
    val (adj, freeAdj) = CheckpointLayout.statSafeRecluster(
      e0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e0.select(col("v").as("a"), col("u").as("b"))), freeE0, key = "b")
    // the distinct nodes ride the clustering shuffle; the label frame is
    // a projection over that checkpoint
    val (nodes, freeNodes) = CheckpointLayout.statSafeRecluster(
      adj.select(col("a").as("node")), () => (), key = "node", distinct = true)
    Fixpoint.fixedRounds(nodes.select(col("node"), col("node").as("label")), freeNodes,
        iters, checkpointDir, release = freeAdj) { labels =>
      adj.join(labels, adj("b") === labels("node"))
        .select(adj("a").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        // arg-max by (count desc, label asc) == max of (c, ~label): the
        // bitwise NOT reverses the order like a negation, and unlike one
        // cannot overflow on Long.MinValue under ANSI arithmetic
        .groupBy(col("node"))
        .agg(max(struct(col("c"), bitwise_not(col("label")).as("nl"))).as("m"))
        .select(col("node"), bitwise_not(col("m.nl")).as("label"))
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
