package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.graph.H3Graph

/**
 * Driver-contract queries for the graph module (SURVEY.md §2.8, P1-P11).
 *
 * The oracle strategy has two tiers:
 *  - p14-p17 build an *abstract* weighted path graph whose node ids are
 *    bit-synthesized cells (portable to DuckDB). On a path graph, shortest
 *    path cost is a prefix-sum difference, nodes/downsample are pure
 *    relational logic — so Dijkstra, node typing and downsampling get
 *    EXACT value oracles in SQL.
 *  - h3_22 builds an H3-native graph (real directed edges + metric
 *    weights from a traced linestring) and checks structural laws as
 *    booleans (oracle = TRUE), covering the geometry-coupled parts.
 */
object GraphQueries {

  /** The reference's prepared Germany street-graph fixture — the one
    * non-testdata input. Shared with Verify's pre-warm (single source of
    * truth for the path). */
  private[graft] val GermanyFixture =
    "/root/reference/data/graph-germany_r7_f64.bincode.lz"

  private val N = 300 // chain nodes 0..N

  /** p114/p116 express-chain length — shared by BOTH drivers and BOTH
    * oracle CTEs so the fixture cannot silently desynchronize. */
  private val ExpressM = 120

  /** weight of the k -> k+1 edge; portable arithmetic. */
  private val wSql = "CAST((event_id * 37) % 100 AS DOUBLE) / 10.0 + 1.0"

  /** the chain edge list (k, cell(k), cell(k+1), w(k)) for k in 0..N-1. */
  private def chainEdges(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") < N)
      .select(col("event_id"),
        expr(SparkEntry.Synth.cellSql("event_id", 5)).as("origin"),
        expr(SparkEntry.Synth.cellSql("event_id + 1", 5)).as("destination"),
        expr(wSql).as("weight"))
  }

  /** The p114/p116 fixture: an M-node bidirectional chain with
    * cost-neutral express edges (k -> k+15 weighted by the chain-sum they
    * span) — shortest-path costs stay prefix-sum differences while the
    * graph converges in ~M/15 + 15 relaxation rounds instead of M. */
  private def expressChainGraph(s: SparkSession, dir: String, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") < m)
      .select(col("event_id").as("k"),
        expr(SparkEntry.Synth.cellSql("event_id", 5)).as("origin"),
        expr(SparkEntry.Synth.cellSql("event_id + 1", 5)).as("destination"),
        expr(wSql).as("weight"))
    val pfx = base.select(col("k"), col("origin").as("cell"),
      coalesce(sum(col("weight")).over(
        Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)).as("s"))
    val express = pfx.as("a").join(pfx.as("b"), expr("b.k = a.k + 15"))
      .select(col("a.cell").as("origin"), col("b.cell").as("destination"),
        (col("b.s") - col("a.s")).as("weight"))
    val fwd = base.select(col("origin"), col("destination"), col("weight"))
      .unionByName(express)
    val bwd = fwd.select(col("destination").as("origin"),
      col("origin").as("destination"), col("weight"))
    H3Graph.graphFromEdgeList(fwd.unionByName(bwd), "origin", "destination", "weight")
  }

  /** The p116 query body with a sweepable hopsPerRound (the r16 residual
    * decomposition swept {4, 8, 16}; the catalog entry pins 8 —
    * ~12 relax + ~18 walk barriers collapse to ~4 + ~5, this query's cost
    * was pure round-barrier scheduling floor, 18% of the whole r13 bench
    * wall). Output and fixpoint are hop-count-invariant (spec-pinned). */
  private[graft] def p116WithHops(s: SparkSession, dir: String,
      hopsPerRound: Int): DataFrame = {
    val graph = expressChainGraph(s, dir, ExpressM).localCheckpoint(false)
    val origins = Seq(0L, 60L).map(SparkEntry.Synth.cell(_, 5))
    val dests = Seq(25L, 40L).map(SparkEntry.Synth.cell(_, 5))
    val paths = H3Graph.shortestPathsIterativePaths(s, graph, origins, dests,
        hopsPerRound = hopsPerRound)
      .localCheckpoint(false) // 4 rows; feeds the output AND the walk law
    val hops = paths.select(col("origin"), col("destination"), posexplode(col("path")))
      .select(col("origin"), col("destination"), col("pos"), col("col").as("cell"))
    val pairs = hops.as("a").join(hops.as("b"),
        expr("a.origin = b.origin AND a.destination = b.destination AND b.pos = a.pos + 1"))
      .select(col("a.origin").as("po"), col("a.destination").as("pd"),
        col("a.cell").as("o"), col("b.cell").as("d"))
    val walkCost = pairs.join(graph,
        pairs("o") === graph("origin") && pairs("d") === graph("destination"))
      .groupBy(col("po"), col("pd")).agg(sum(col("weight")).as("walk_cost"))
    paths.join(walkCost,
        paths("origin") === walkCost("po") && paths("destination") === walkCost("pd"))
      .select(paths("origin"), paths("destination"),
        round(col("cost"), 4).as("cost"),
        (abs(col("walk_cost") - col("cost")) < lit(1e-6) &&
          expr("path[0]") === paths("origin") &&
          expr("path[size(path) - 1]") === paths("destination")).as("walk_ok"))
      .orderBy(col("origin"), col("destination"))
  }

  private def oracleChain: String = oracleChainN(N)

  private def oracleChainN(n: Int): String =
    s"""chain AS (
       |  SELECT event_id AS k,
       |    ${SparkEntry.Synth.oracleCellSql("event_id", 5)} AS origin,
       |    ${SparkEntry.Synth.oracleCellSql("event_id + 1", 5)} AS destination,
       |    CAST((event_id * 37) % 100 AS DOUBLE) / 10.0 + 1.0 AS weight
       |  FROM events WHERE event_id < $n),
       |pfx AS (
       |  SELECT k, origin AS cell,
       |    COALESCE(SUM(weight) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS s
       |  FROM chain
       |  UNION ALL
       |  SELECT $n AS k,
       |    ${SparkEntry.Synth.oracleCellSql(s"$n", 5)} AS cell,
       |    (SELECT SUM(weight) FROM chain) AS s)""".stripMargin

  /** one unrolled integer-lattice PageRank iteration (oracle side). */
  private def prIterSql(t: Int): String = {
    val prev = s"r${t - 1}"
    s"""c$t AS (SELECT e.dst AS node, CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS s
       |  FROM e JOIN $prev r ON e.src = r.node JOIN dg d ON e.src = d.src GROUP BY e.dst),
       |r$t AS (SELECT nd.node, (SELECT tele FROM c0) + coalesce(c$t.s, 0) AS r
       |  FROM nodes nd LEFT JOIN c$t USING (node))""".stripMargin
  }

  /** The planted 5-block community graph over events: users (id+1000)
    * connect to their own block's 40 hubs via md5-routed edges, with
    * sparse (1/17) cross-block links — the shared fixture of
    * p93/p96/p97/p99/p101. */
  private def blockGraphEdges(ev: DataFrame): DataFrame = {
    import graft.pipeline.TextOps.md5Long
    val hm = pmod(md5Long(col("event_id").cast("string")), lit(40L))
    val cross = pmod(md5Long(concat(col("event_id").cast("string"), lit("x"))),
      lit(17L)) === 0
    ev.select((col("user_id") + 1000L).as("src"),
      (when(cross, ((col("user_id") + 1) % 5) * 40 + hm)
        .otherwise((col("user_id") % 5) * 40 + hm)).as("dst"))
  }

  /** [[blockGraphEdges]] verbatim in the oracle dialect (the `raw` CTE
    * body every block-graph oracle starts from). */
  private val blockGraphRawSql: String =
    """raw AS (SELECT user_id + 1000 AS s,
      |  CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'x'), 1, 15))::BIGINT % 17 = 0
      |       THEN ((user_id + 1) % 5) * 40 + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 40
      |       ELSE (user_id % 5) * 40 + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 40
      |  END AS d FROM events)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // link-graph authority ranking: integer-lattice PageRank (3
    // iterations) on a deterministic synthetic user->user edge list —
    // the crawl host-ranking shape, exactly replayable (no floats)
    "p88_pagerank" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val edges = ev.select(col("user_id").as("src"),
        pmod(graft.pipeline.TextOps.md5Long(col("event_id").cast("string")),
          lit(150L)).as("dst"))
      graft.graph.Ranks.pageRank(edges, col("src"), col("dst"), iters = 3)
        .orderBy(col("node"))
    }),

    // personalized PageRank: teleport only to the seed users — rank =
    // proximity to the trusted seeds (the TrustRank / crawl-frontier
    // prioritization shape), same integer-lattice iteration as p88
    "p105_personalized_pagerank" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val edges = ev.select(col("user_id").as("src"),
        pmod(graft.pipeline.TextOps.md5Long(col("event_id").cast("string")),
          lit(150L)).as("dst"))
      graft.graph.Ranks.personalizedPageRank(edges, col("src"), col("dst"),
        seeds = Seq(0L, 1L, 2L), iters = 3)
        .orderBy(col("node"))
    }),

    // triangle counting + local clustering coefficients via
    // degree-ordered orientation (wedges only at each triangle's
    // lowest-rank apex — skew capped at outdeg O(sqrt(m)) by
    // construction); the link-farm / community-structure signal
    "p92_triangles" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val edges = ev.select(col("user_id").as("src"),
        pmod(graft.pipeline.TextOps.md5Long(col("event_id").cast("string")),
          lit(150L)).as("dst"))
      graft.graph.Triangles.nodeTriangles(edges, col("src"), col("dst"))
        .orderBy(col("node"))
    }),

    // community detection: synchronous min-tie label propagation (3
    // rounds) over a planted 5-block graph — users connect mostly to
    // their block's hubs with sparse md5-routed cross-links; LPA
    // recovers the blocks, exactly replayable (deterministic tie order)
    "p93_lpa_communities" -> ((s, dir) => {
      val edges = blockGraphEdges(s.read.parquet(s"$dir/events.parquet"))
      graft.graph.Communities.labelPropagation(edges, col("src"), col("dst"), iters = 3)
        .select(col("node"), col("label").cast("long").as("label"))
        .orderBy(col("node"))
    }),

    // link prediction: common-neighbor count + Adamic-Adar over
    // non-edges of the block graph — same-block users share hubs, so
    // predictions recover the planted structure; per-term e6
    // quantization keeps the sum order-free
    "p101_link_prediction" -> ((s, dir) => {
      val edges = blockGraphEdges(s.read.parquet(s"$dir/events.parquet"))
      graft.graph.Triangles.commonNeighborScores(edges, col("src"), col("dst"),
        minCommon = 3, maxDegree = 1000)
        .orderBy(col("u"), col("v"))
    }),

    // skip-gram co-occurrence + PMI over the walk corpus: the
    // word2vec-style association table an embedding trainer
    // approximates — pairs within window 2 of each 4-step walk,
    // integer counts, e4-quantized ln
    "p99_walk_pmi" -> ((s, dir) => {
      val edges = blockGraphEdges(s.read.parquet(s"$dir/events.parquet"))
      val w = graft.graph.Walks.walks(edges, col("src"), col("dst"), steps = 4)
      graft.graph.Walks.walkPmi(w, steps = 4, window = 2)
        .orderBy(col("u"), col("v"))
    }),

    // graph-feature macro: triangles/clustering + k-core + PageRank +
    // LPA community size assembled into one per-node feature frame
    // with a link-farm flag — ONE declarative plan, each operator's
    // output joined on node id (the spam-scoring composition)
    "p98_graph_features" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      // materialize the raw edge projection ONCE: all four operators
      // derive their own (directed for PageRank, canonical-undirected
      // for the rest) frame from it — without this barrier each would
      // re-scan the source and re-run the md5 projection (4 scans -> 1)
      val edges = graft.util.Barriers.statSafe(
        ev.select(col("user_id").as("src"),
          pmod(graft.pipeline.TextOps.md5Long(col("event_id").cast("string")),
            lit(150L)).as("dst")))
      val tri = graft.graph.Triangles.nodeTriangles(edges, col("src"), col("dst"))
      val core = graft.graph.Cores.kCore(edges, col("src"), col("dst"), k = 4, rounds = 4)
        .select(col("node"), lit(1L).as("in_core"))
      val rank = graft.graph.Ranks.pageRank(edges, col("src"), col("dst"), iters = 3)
      val lpa = graft.graph.Communities.labelPropagation(edges, col("src"), col("dst"), iters = 3)
      val csize = lpa.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
      tri.join(rank, Seq("node"))
        .join(lpa, Seq("node"))
        .join(csize, Seq("label"))
        .join(core, Seq("node"), "left")
        .select(col("node"), col("degree"), col("n_tri"), col("lcc_e6"),
          coalesce(col("in_core"), lit(0L)).as("in_core"),
          col("rank_e9"), col("label").as("community"), col("community_size"),
          when(col("lcc_e6") >= 500000 && col("degree") >= 10, 1L).otherwise(0L)
            .as("spam"))
        .orderBy(col("node"))
    }),

    // bounded-round k-core peeling on the block graph: per round, one
    // degree aggregate + two semi-joins against the slim survivor set;
    // the dense-core signal for link-ring detection
    "p97_kcore" -> ((s, dir) => {
      val edges = blockGraphEdges(s.read.parquet(s"$dir/events.parquet"))
      graft.graph.Cores.kCore(edges, col("src"), col("dst"), k = 4, rounds = 4)
        .orderBy(col("node"))
    }),

    // deterministic random walks (DeepWalk/node2vec corpus step): one
    // 4-step walk per node, hash-driven neighbor choice — uniform per
    // step yet exactly replayable; per step the frontier equi-joins
    // the ranked adjacency on (node, index), one row per visit
    "p96_random_walks" -> ((s, dir) => {
      val edges = blockGraphEdges(s.read.parquet(s"$dir/events.parquet"))
      graft.graph.Walks.walks(edges, col("src"), col("dst"), steps = 4)
        .orderBy(col("walk_id"))
    }),

    // authority-weighted selection: PageRank over a synthetic source-
    // citation graph, documents admitted with probability proportional
    // to their source's authority (rank-derived e4 rate, deterministic
    // hash admission) — the rank-weighted curation composition
    "p89_authority_mix" -> ((s, dir) => {
      import graft.pipeline.TextOps.md5Long
      val d = s.read.parquet(s"$dir/documents.parquet")
      val edges = d.select(md5Long(col("source")).as("src"),
        md5Long(concat(lit("src"),
          pmod(md5Long(col("doc_id").cast("string")), lit(20L)))).as("dst"))
      val ranks = graft.graph.Ranks.pageRank(edges, col("src"), col("dst"), iters = 3)
      val maxR = ranks.agg(max(col("rank_e9"))).head().getLong(0)
      d.select(col("doc_id"), col("source"), md5Long(col("source")).as("node"))
        .join(broadcast(ranks), Seq("node"))
        .withColumn("rate10k", expr(s"(rank_e9 * 10000) div $maxR"))
        .withColumn("__b", graft.pipeline.TextOps.hashBucket10k(col("doc_id"), "am1"))
        .groupBy(col("source"))
        .agg(max(col("rank_e9")).as("rank_e9"),
          count(lit(1)).as("n_docs"),
          sum(when(col("__b") < col("rate10k"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // P5-P7: many-to-many Dijkstra on the bidirectional chain — exact costs
    "p14_graph_sssp" -> ((s, dir) => {
      val fwd = chainEdges(s, dir).select(col("origin"), col("destination"), col("weight"))
      val bwd = fwd.select(col("destination").as("origin"), col("origin").as("destination"),
        col("weight"))
      val graph = H3Graph.graphFromEdgeList(fwd.unionByName(bwd), "origin", "destination", "weight")
      val origins = Seq(0L, 100L, 200L).map(SparkEntry.Synth.cell(_, 5))
      val dests = (0L to N).map(SparkEntry.Synth.cell(_, 5))
      H3Graph.shortestPaths(s, graph, origins, dests)
        .select(col("origin"), col("destination"),
          round(col("cost"), 4).as("cost"),
          size(col("path")).cast("long").as("path_len"))
        .orderBy(col("origin"), col("destination"))
    }),

    // P6/P7 iterative SSSP: the PAST-broadcast-bound routing path
    // (shortestPathsIterative, synchronous relaxation) on a 120-node
    // bidirectional chain with exactly cost-neutral express edges
    // (k -> k+15 weighted by the chain-sum they span) so the relaxation
    // converges in ~diameter/15 + 15 hops instead of 120 — costs still
    // equal prefix-sum differences, the same oracle law as p14. At catalog
    // sizes the edge table is under the small-regime bound, so this query
    // pins the one-operator relaxation hash-exact against DuckDB; the
    // clustered Fixpoint loop past the bound is pinned row-identical to it
    // by H3GraphSpec's regime-equivalence specs; p14 pins the broadcast
    // Dijkstra.
    "p114_sssp_iterative" -> ((s, dir) => {
      val graph = expressChainGraph(s, dir, ExpressM)
      val origins = Seq(0L, 60L).map(SparkEntry.Synth.cell(_, 5))
      val dests = (0L to ExpressM.toLong).map(SparkEntry.Synth.cell(_, 5))
      // hopsPerRound=8: the fixture's express edges bound convergence at
      // ~23 relaxation hops, so deep hops cut the materialized rounds (and
      // their fixed per-round scheduling latency) ~4x at identical total
      // shuffle volume; the fixpoint is hop-count-invariant (spec-pinned
      // for 1/2/4/8 in H3GraphSpec)
      H3Graph.shortestPathsIterative(s, graph, origins, dests, hopsPerRound = 8)
        .select(col("origin"), col("destination"), round(col("cost"), 4).as("cost"))
        .orderBy(col("origin"), col("destination"))
    }),

    // P12 parity for iterative SSSP: shortestPathsIterativePaths on the
    // p114 fixture (120-node chain + cost-neutral express edges), run in
    // the one-operator small regime at catalog sizes (the loop regime's
    // walks are pinned identical to it by H3GraphSpec).
    // Costs are the same prefix-sum-difference oracle as p114; the walk is
    // NOT pinned (express edges create equal-cost alternates — the
    // argmin tie-break is deterministic in-engine but not an oracle law);
    // instead walk_ok asserts the path CONTRACT in-plan: endpoints match
    // and the walk's edge weights sum to the reported cost.
    "p116_sssp_paths" -> ((s, dir) => p116WithHops(s, dir, 8)),

    // P6/P14 on REAL data: the reference's own prepared Germany street
    // graph (75k nodes / 312k edges, bincode+lz4) routed through its
    // route_many_to_many bench query — Wangen im Allgaeu -> {Emden,
    // Stralsund} (route_germany.rs:27-55). Costs/path lengths are pinned
    // literals in the oracle; walk_ok re-derives each cost by joining the
    // decompressed cell walk back to the normalized edge list (the Path
    // contract law, path.rs:13-266). SF-independent by design: the input
    // is the fixture, not the testdata tables.
    "p115_germany_route" -> ((s, dir) => {
      val fixture = GermanyFixture
      // cached parse (parquet under target/, keyed by fixture mtime): the
      // bench macro measures ROUTING, matching the reference's bench which
      // loads the graph once outside the timed loop (route_germany.rs:57-60);
      // the uncached parse path stays exercised by GermanyGraphSpec
      val edges = graft.sources.bincode.PreparedGraphBincode.edgesDFCached(s, fixture)
      val graph = H3Graph.graphFromEdgeList(edges, "origin", "destination", "weight")
        .localCheckpoint(false) // feeds Dijkstra AND the walk-law join
      val wangen = graft.h3.H3Geo.latLngToCell(47.68708804564653, 9.834909439086914, 7)
      val emden = graft.h3.H3Geo.latLngToCell(53.3689915114596, 7.20600128173828, 7)
      val stralsund = graft.h3.H3Geo.latLngToCell(54.3153216473314, 13.092269897460938, 7)
      val paths = H3Graph.shortestPaths(s, graph, Seq(wangen), Seq(emden, stralsund))
        .localCheckpoint(false) // small (2 rows); two consumers below
      val hops = paths.select(col("destination"), posexplode(col("path")))
        .select(col("destination"), col("pos"), col("col").as("cell"))
      val pairs = hops.as("a").join(hops.as("b"),
          expr("a.destination = b.destination AND b.pos = a.pos + 1"))
        .select(col("a.destination").as("dest"), col("a.cell").as("o"),
          col("b.cell").as("d"))
      val walkCost = pairs.join(graph,
          pairs("o") === graph("origin") && pairs("d") === graph("destination"))
        .groupBy(col("dest")).agg(sum(col("weight")).as("walk_cost"))
      paths.join(walkCost, paths("destination") === walkCost("dest"))
        .select(paths("destination"),
          expr("CAST(floor(cost * 10000 + 0.5) AS BIGINT)").as("cost_q"),
          size(col("path")).cast("long").as("path_len"),
          (abs(col("walk_cost") - col("cost")) < lit(1e-6)).as("walk_ok"))
        .orderBy(col("destination"))
    }),

    // P8: isochrone flood within threshold 80 from node 150 — exact set
    "p15_graph_isochrone" -> ((s, dir) => {
      val fwd = chainEdges(s, dir).select(col("origin"), col("destination"), col("weight"))
      val bwd = fwd.select(col("destination").as("origin"), col("origin").as("destination"),
        col("weight"))
      val graph = H3Graph.graphFromEdgeList(fwd.unionByName(bwd), "origin", "destination", "weight")
      H3Graph.withinWeightThreshold(s, graph, Seq(SparkEntry.Synth.cell(150L, 5)), 80.0)
        .select(col("cell"), round(col("weight"), 4).as("weight"))
        .orderBy(col("cell"))
    }),

    // P2: node typing on the directed chain — exact
    "p16_graph_nodes" -> ((s, dir) => {
      val graph = H3Graph.graphFromEdgeList(chainEdges(s, dir), "origin", "destination", "weight")
      H3Graph.nodes(graph).orderBy(col("cell"))
    }),

    // P4: downsample to res 3 with min-combine — exact (parents are bit ops)
    "p17_graph_downsample" -> ((s, dir) => {
      val graph = H3Graph.graphFromEdgeList(chainEdges(s, dir), "origin", "destination", "weight")
      H3Graph.downsample(graph, 3, "min")
        .select(col("origin"), col("destination"), round(col("weight"), 4).as("weight"))
        .orderBy(col("origin"), col("destination"))
    }),

    // P13 end-to-end: OSM-shaped way-table ingestion — tags-driven
    // analyzer (weight/skip/oneway), per-way partitioned window, duplicate
    // -edge min across overlapping ways, cross-component isolation
    // P13 binary half: the OSM PBF codec as a distributed in-plan
    // roundtrip — nodes (dense delta-coded coords + tags) and ways
    // (delta-zigzag refs) derived from `events`, pushed through the FULL
    // on-disk path (PrimitiveBlock → zlib Blob → BlobHeader framing) and
    // decoded back. The oracle replicates the only lossy step, coordinate
    // quantization to the granularity-100 lattice:
    // decoded = 1e-9 * (100 * floor(deg * 1e7 + 0.5)).
    "p31_osm_pbf" -> ((s, dir) => {
      val events = s.read.parquet(s"$dir/events.parquet")
      val nodesIn = events.select(
        col("event_id").as("id"),
        ((col("event_id") % 1700).cast("double") / 100.0 - 8.5).as("lat"),
        ((col("event_id") % 3500).cast("double") / 100.0 - 17.5).as("lon"),
        col("event_type").as("tagv"))
      val waysIn = events.groupBy(col("user_id").as("id"))
        .agg(sort_array(collect_list(col("event_id"))).as("refs"))
      val nodesOut = graft.sources.osm.OsmPbfRoundtrip.nodes(nodesIn)
        .select(lit("node").as("entity"), col("id"), col("lat"), col("lon"),
          lit(null).cast("long").as("n_refs"), lit(null).cast("long").as("refs_sum"),
          col("tagv"))
      val waysOut = graft.sources.osm.OsmPbfRoundtrip.ways(waysIn)
        .select(lit("way").as("entity"), col("id"),
          lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
          size(col("refs")).cast("long").as("n_refs"),
          aggregate(col("refs"), lit(0L), _ + _).as("refs_sum"),
          lit(null).cast("string").as("tagv"))
      nodesOut.unionByName(waysOut).orderBy(col("entity"), col("id"))
    }),

    "p23_graph_ways" -> ((s, dir) => {
      import s.implicits._
      val res = 8
      val wkt1 = "LINESTRING (-122.45 37.70, -122.40 37.73)" // primary, w=3
      val wkt4 = wkt1 // secondary duplicate of way 1 geometry, w=4
      val wkt2 = "LINESTRING (-122.40 37.73, -122.35 37.76)" // residential oneway, w=8
      val wkt3 = "LINESTRING (-122.42 37.68, -122.38 37.69)" // footway: skipped
      val wkt5 = "LINESTRING (2.35 48.85, 2.38 48.87)" // tertiary, disjoint (Paris)
      val ways = Seq(
        (1L, Map("highway" -> "primary"), wkt1),
        (2L, Map("highway" -> "residential", "oneway" -> "yes"), wkt2),
        (3L, Map("highway" -> "footway"), wkt3),
        (4L, Map("highway" -> "secondary"), wkt4),
        (5L, Map("highway" -> "tertiary"), wkt5)).toDF("way_id", "tags", "wkt")
      val graph = H3Graph.graphFromWays(ways, col("way_id"), col("wkt"), res,
        H3Graph.highwayClassWeight(col("tags")), H3Graph.highwayBidirectional(col("tags")))

      def trace(wkt: String): Seq[Long] = graft.h3.H3Polygon.lineStringToCells(
        graft.h3.H3Polygon.parseLineStringWkt(wkt).get, res)
      val c1 = trace(wkt1); val c2 = trace(wkt2); val c3 = trace(wkt3); val c5 = trace(wkt5)
      val edges = graph.select(col("origin"), col("destination"), col("weight"))
        .as[(Long, Long, Double)].collect()
      val edgeMap = edges.map(e => (e._1, e._2) -> e._3).toMap
      val nodeSet = edges.flatMap(e => Seq(e._1, e._2)).toSet

      // analyzer skip: the footway contributes nothing
      val skipOk = !c3.exists(nodeSet.contains)
      // oneway: way-2 pairs present forward, absent backward (pairs clear
      // of the way-1 junction overlap judged only)
      val p2 = c2.zip(c2.tail).filter { case (a, b) => !c1.contains(a) && !c1.contains(b) }
      val onewayOk = p2.nonEmpty &&
        p2.forall { case (a, b) => edgeMap.contains((a, b)) && !edgeMap.contains((b, a)) }
      // duplicate ways: overlapping primary(3)/secondary(4) edges keep 3
      val minwOk = c1.zip(c1.tail).filter { case (a, b) => a != b }
        .forall { case (a, b) => edgeMap.get((a, b)).contains(3.0) }
      // cross-way isolation: the Paris component never touches SF cells
      val sfCells = (c1 ++ c2).toSet
      val parisOk = c5.exists(nodeSet.contains) &&
        edges.forall(e => !(sfCells.contains(e._1) && c5.contains(e._2)) &&
          !(c5.contains(e._1) && sfCells.contains(e._2)))
      // connectivity through the way-1/way-2 junction; oneway blocks the
      // reverse route
      val lg = H3Graph.localGraph(graph)
      val fwdRoute = H3Graph.shortestPathsLocal(s, lg, Seq(c1.head), Seq(c2.last)).count()
      val revRoute = H3Graph.shortestPathsLocal(s, lg, Seq(c2.last), Seq(c1.head)).count()

      Seq((skipOk, onewayOk, minwOk, parisOk, fwdRoute == 1L, revRoute == 0L))
        .toDF("skip_ok", "oneway_ok", "minw_ok", "isolation_ok", "route_ok", "oneway_route_ok")
    }),

    // H3-native graph laws: chain build (P13), metric routing (P6),
    // differential exclusion (P9), covered area (P11), snapping (P10)
    "h3_22_graph_native" -> ((s, dir) => {
      import s.implicits._
      val wkt = "LINESTRING (-122.45 37.70, -122.35 37.75, -122.30 37.72)"
      val cells = graft.h3.H3Polygon.lineStringToCells(
        graft.h3.H3Polygon.parseLineStringWkt(wkt).get, 8)
      val chainDf = cells.zipWithIndex.toSeq.toDF("cell", "ord")
      val graph = H3Graph.graphFromCellChain(chainDf, "cell", "ord")
      val first = cells.head
      val last = cells.last

      // ONE driver collect of the (broadcast-sized) graph serves every
      // routing call below — the reference likewise prepares the graph
      // once; before round 3 each call re-collected it (4 extra jobs)
      val lg = H3Graph.localGraph(graph)
      val route = H3Graph.shortestPathsLocal(s, lg, Seq(first), Seq(last))
      val routeRow = route.select(col("cost"), size(col("path")).as("n")).collect().head
      val totalLen = lg.totalUndirectedWeight

      val mid = cells(cells.length / 2)
      // differential routing: `route` above IS the before-side; only the
      // excluded-graph side needs another Dijkstra pass
      val afterRows = H3Graph.shortestPathsLocal(s, lg.excluding(Set(mid)),
        Seq(first), Seq(last)).collect()

      val iso = H3Graph.withinWeightThresholdLocal(s, lg, Seq(mid), 1e9).count()
      val covered = H3Graph.coveredAreaWkt(graph, 3).as[String].collect().head
      // snapping: a neighbor cell off the chain snaps onto a graph node
      val offChain = graft.h3.H3Traversal.gridRing(mid, 1)
        .filterNot(cells.contains).head
      val snapped = H3Graph.shortestPathsLocal(s, lg, Seq(offChain), Seq(last), maxSnapK = 2).count()

      Seq((
        routeRow.getInt(1) == cells.length,
        math.abs(routeRow.getDouble(0) - totalLen) < 1e-6,
        afterRows.isEmpty, // chain cut at mid: unreachable after exclusion
        iso == cells.length,
        covered.startsWith("MULTIPOLYGON"),
        snapped == 1L
      )).toDF("route_ok", "cost_ok", "diff_ok", "iso_ok", "covered_ok", "snap_ok")
    })
  )

  // ---------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "p89_authority_mix" ->
      s"""WITH e AS (SELECT DISTINCT
         |  ('0x' || substr(md5(source), 1, 15))::BIGINT AS src,
         |  ('0x' || substr(md5('src' ||
         |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 20)), 1, 15))::BIGINT AS dst
         |  FROM documents),
         |dg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |c0 AS (SELECT (1000000000 // count(*)) AS rinit,
         |  ((100 - 85)::BIGINT * 1000000000) // (100 * count(*)) AS tele FROM nodes),
         |r0 AS (SELECT node, (SELECT rinit FROM c0) AS r FROM nodes),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)},
         |mx AS (SELECT CAST(max(r) AS BIGINT) AS mr FROM r3),
         |rated AS (SELECT d.source, CAST(r3.r AS BIGINT) AS rank_e9,
         |  (CAST(r3.r AS BIGINT) * 10000) // (SELECT mr FROM mx) AS rate10k,
         |  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'am1'), 1, 15))::BIGINT % 10000 AS b
         |  FROM documents d
         |  JOIN r3 ON r3.node = ('0x' || substr(md5(d.source), 1, 15))::BIGINT)
         |SELECT source, CAST(max(rank_e9) AS BIGINT) AS rank_e9,
         |  count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN b < rate10k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM rated GROUP BY source ORDER BY source""".stripMargin,

    "p101_link_prediction" ->
      s"""WITH $blockGraphRawSql,
         |e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |deg AS (SELECT n, count(*)::BIGINT AS deg FROM
         |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
         |adj AS (SELECT w, nb,
         |    CASE WHEN deg >= 2
         |         THEN CAST(floor(1000000.0 / ln(deg::DOUBLE) + 0.5) AS BIGINT)
         |         ELSE 0 END AS aa
         |  FROM (SELECT u AS w, v AS nb FROM e UNION ALL SELECT v, u FROM e)
         |  JOIN deg ON deg.n = w WHERE deg <= 1000),
         |wed AS (SELECT a.nb AS u, b.nb AS v, a.aa
         |  FROM adj a JOIN adj b ON a.w = b.w AND a.nb < b.nb),
         |sc AS (SELECT u, v, count(*)::BIGINT AS n_common, CAST(sum(aa) AS BIGINT) AS adamic_adar_e6
         |  FROM wed GROUP BY u, v HAVING count(*) >= 3)
         |SELECT sc.u, sc.v, sc.n_common, sc.adamic_adar_e6
         |FROM sc LEFT JOIN e ON e.u = sc.u AND e.v = sc.v
         |WHERE e.u IS NULL ORDER BY sc.u, sc.v""".stripMargin,

    "p99_walk_pmi" -> {
      def stepCte(t: Int) = {
        val prev = s"s${t - 1}"
        // each step is referenced twice (next step + wk): materialized,
        // or default inlining re-derives the join chain doubling per step
        s"""w$t AS MATERIALIZED (SELECT w.walk_id, adj.b AS s$t
           |  FROM w${t - 1} w JOIN dg ON dg.a = w.$prev
           |  JOIN adj ON adj.a = w.$prev AND adj.rn =
           |    ('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || '|$t|' || CAST(w.$prev AS VARCHAR)), 1, 15))::BIGINT % dg.deg)""".stripMargin
      }
      val combos = for { i <- 0 to 4; j <- (i + 1) to math.min(i + 2, 4) } yield (i, j)
      val pairUnion = combos.map { case (i, j) =>
        s"SELECT least(s$i, s$j) AS u, greatest(s$i, s$j) AS v FROM wk"
      }.mkString("\n  UNION ALL ")
      // MATERIALIZED throughout: adj/dg feed one join per walk step and
      // wk feeds the 7-way pair union — default CTE inlining re-derives
      // the whole walk-join chain per reference, which is the measured
      // DuckDB OOM (> 6 GB at sf0.01; ~1 GB materialized)
      s"""WITH $blockGraphRawSql,
         |e AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |adj AS MATERIALIZED (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS rn FROM und),
         |dg AS MATERIALIZED (SELECT a, count(*)::BIGINT AS deg FROM und GROUP BY a),
         |w0 AS (SELECT DISTINCT a AS walk_id, a AS s0 FROM und),
         |${(1 to 4).map(stepCte).mkString(",\n")},
         |wk AS MATERIALIZED (SELECT w0.walk_id, w0.s0, w1.s1, w2.s2, w3.s3, w4.s4
         |  FROM w0 JOIN w1 USING (walk_id) JOIN w2 USING (walk_id)
         |    JOIN w3 USING (walk_id) JOIN w4 USING (walk_id)),
         |pp AS ($pairUnion),
         |pc AS MATERIALIZED (SELECT u, v, count(*)::BIGINT AS n_cooc FROM pp GROUP BY u, v),
         |tt AS (SELECT CAST(sum(n_cooc) AS BIGINT) AS t FROM pc),
         |mg AS (SELECT n, CAST(sum(c) AS BIGINT) AS cn FROM
         |  (SELECT u AS n, n_cooc AS c FROM pc UNION ALL SELECT v, n_cooc FROM pc) GROUP BY n)
         |SELECT pc.u, pc.v, pc.n_cooc,
         |  CAST(floor(ln((pc.n_cooc::DOUBLE * (SELECT t FROM tt)::DOUBLE)
         |      / (mu.cn::DOUBLE * mv.cn::DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS pmi_e4
         |FROM pc JOIN mg mu ON mu.n = pc.u JOIN mg mv ON mv.n = pc.v
         |ORDER BY u, v""".stripMargin
    },

    "p98_graph_features" -> {
      // MATERIALIZED per round: ke/kp are referenced 3x per k-core
      // round (3^4 inline blowup without it), each PageRank iteration
      // re-references pe/pd, each LPA round re-references adj — the
      // measured DuckDB OOM under a 3 GB cap at sf0.01
      def kcoreCte(t: Int) =
        s"""kd$t AS (SELECT n, count(*) AS deg FROM (SELECT u AS n FROM ke${t - 1} UNION ALL SELECT v FROM ke${t - 1}) GROUP BY n),
           |kp$t AS MATERIALIZED (SELECT n FROM kd$t WHERE deg >= 4),
           |ke$t AS MATERIALIZED (SELECT u, v FROM ke${t - 1} WHERE u IN (SELECT n FROM kp$t) AND v IN (SELECT n FROM kp$t))""".stripMargin
      def prCte(t: Int) =
        s"""pc$t AS (SELECT pe.dst AS node, CAST(sum((r.r * 85) // (100 * pd.deg)) AS BIGINT) AS s
           |  FROM pe JOIN pr${t - 1} r ON pe.src = r.node JOIN pd ON pe.src = pd.src GROUP BY pe.dst),
           |pr$t AS MATERIALIZED (SELECT nd.node, (SELECT tele FROM pcfg) + coalesce(pc$t.s, 0) AS r
           |  FROM pnodes nd LEFT JOIN pc$t USING (node))""".stripMargin
      def lpaCte(t: Int) =
        s"""nl$t AS (SELECT adj.a AS node, l.label, count(*)::BIGINT AS c
           |  FROM adj JOIN lab${t - 1} l ON adj.b = l.node GROUP BY 1, 2),
           |lab$t AS MATERIALIZED (SELECT node, label FROM (
           |  SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn FROM nl$t)
           |  WHERE rn = 1)""".stripMargin
      val lccSql = """(CASE WHEN deg.degree < 2 THEN 0
                     |       ELSE (2 * coalesce(pn.n_tri, 0) * 1000000) // (deg.degree * (deg.degree - 1)) END)""".stripMargin
      s"""WITH raw AS MATERIALIZED (SELECT user_id AS s,
         |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 150 AS d FROM events),
         |e AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |deg AS (SELECT n, count(*)::BIGINT AS degree FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
         |tri AS MATERIALIZED (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pn AS (SELECT n, count(*)::BIGINT AS n_tri FROM
         |  (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY n),
         |ke0 AS (SELECT u, v FROM e),
         |${(1 to 4).map(kcoreCte).mkString(",\n")},
         |kc AS (SELECT DISTINCT n FROM (SELECT u AS n FROM ke4 UNION ALL SELECT v FROM ke4)),
         |pe AS MATERIALIZED (SELECT DISTINCT s AS src, d AS dst FROM raw),
         |pd AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM pe GROUP BY src),
         |pnodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM pe UNION ALL SELECT dst FROM pe)),
         |pcfg AS (SELECT (1000000000 // count(*)) AS rinit, ((100 - 85)::BIGINT * 1000000000) // (100 * count(*)) AS tele FROM pnodes),
         |pr0 AS (SELECT node, (SELECT rinit FROM pcfg) AS r FROM pnodes),
         |${(1 to 3).map(prCte).mkString(",\n")},
         |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |lab0 AS (SELECT DISTINCT a AS node, a AS label FROM adj),
         |${(1 to 3).map(lpaCte).mkString(",\n")},
         |cs AS (SELECT label, count(*)::BIGINT AS community_size FROM lab3 GROUP BY label)
         |SELECT deg.n AS node, deg.degree, coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
         |  CAST($lccSql AS BIGINT) AS lcc_e6,
         |  CAST(CASE WHEN kc.n IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core,
         |  CAST(pr3.r AS BIGINT) AS rank_e9, lab3.label AS community, cs.community_size,
         |  CAST(CASE WHEN $lccSql >= 500000 AND deg.degree >= 10 THEN 1 ELSE 0 END AS BIGINT) AS spam
         |FROM deg LEFT JOIN pn ON pn.n = deg.n
         |JOIN pr3 ON pr3.node = deg.n
         |JOIN lab3 ON lab3.node = deg.n
         |JOIN cs ON cs.label = lab3.label
         |LEFT JOIN kc ON kc.n = deg.n
         |ORDER BY node""".stripMargin
    },

    "p97_kcore" -> {
      // MATERIALIZED per round: e_{t-1} is referenced 3x per peel
      // round — default inlining is a 3^4 re-derivation (measured OOM
      // under a 3 GB cap at sf0.01)
      def roundCte(t: Int) =
        s"""dg$t AS (SELECT n, count(*) AS deg FROM
           |  (SELECT u AS n FROM e${t - 1} UNION ALL SELECT v FROM e${t - 1}) GROUP BY n),
           |kp$t AS MATERIALIZED (SELECT n FROM dg$t WHERE deg >= 4),
           |e$t AS MATERIALIZED (SELECT u, v FROM e${t - 1}
           |  WHERE u IN (SELECT n FROM kp$t) AND v IN (SELECT n FROM kp$t))""".stripMargin
      s"""WITH $blockGraphRawSql,
         |e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |${(1 to 4).map(roundCte).mkString(",\n")}
         |SELECT n AS node, count(*)::BIGINT AS degree FROM
         |  (SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4) GROUP BY n ORDER BY node""".stripMargin
    },

    "p96_random_walks" -> {
      def stepCte(t: Int) = {
        val prev = s"s${t - 1}"
        // materialized: each step is referenced twice (next step + the
        // final join) — see the p99 OOM note
        s"""w$t AS MATERIALIZED (SELECT w.walk_id, adj.b AS s$t
           |  FROM w${t - 1} w JOIN dg ON dg.a = w.$prev
           |  JOIN adj ON adj.a = w.$prev AND adj.rn =
           |    ('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || '|$t|' || CAST(w.$prev AS VARCHAR)), 1, 15))::BIGINT % dg.deg)""".stripMargin
      }
      s"""WITH $blockGraphRawSql,
         |e AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |adj AS MATERIALIZED (SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS rn FROM und),
         |dg AS MATERIALIZED (SELECT a, count(*)::BIGINT AS deg FROM und GROUP BY a),
         |w0 AS (SELECT DISTINCT a AS walk_id, a AS s0 FROM und),
         |${(1 to 4).map(stepCte).mkString(",\n")}
         |SELECT w0.walk_id, w0.s0, w1.s1, w2.s2, w3.s3, w4.s4
         |FROM w0 JOIN w1 USING (walk_id) JOIN w2 USING (walk_id)
         |  JOIN w3 USING (walk_id) JOIN w4 USING (walk_id)
         |ORDER BY walk_id""".stripMargin
    },

    "p93_lpa_communities" -> {
      def iterCte(t: Int) =
        s"""nl$t AS (SELECT adj.a AS node, l.label, count(*)::BIGINT AS c
           |  FROM adj JOIN lab${t - 1} l ON adj.b = l.node GROUP BY 1, 2),
           |lab$t AS (SELECT node, label FROM (
           |  SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |  FROM nl$t) WHERE rn = 1)""".stripMargin
      s"""WITH $blockGraphRawSql,
         |e AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |lab0 AS (SELECT DISTINCT a AS node, a AS label FROM adj),
         |${(1 to 3).map(iterCte).mkString(",\n")}
         |SELECT node, CAST(label AS BIGINT) AS label FROM lab3 ORDER BY node""".stripMargin
    },

    "p92_triangles" ->
      s"""WITH raw AS (SELECT user_id AS s,
         |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 150 AS d FROM events),
         |e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s != d),
         |deg AS (SELECT n, count(*)::BIGINT AS degree FROM
         |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
         |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pn AS (SELECT n, count(*)::BIGINT AS n_tri FROM
         |  (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY n)
         |SELECT deg.n AS node, degree, coalesce(n_tri, 0)::BIGINT AS n_tri,
         |  CAST(CASE WHEN degree < 2 THEN 0
         |       ELSE (2 * coalesce(n_tri, 0) * 1000000) // (degree * (degree - 1)) END AS BIGINT)
         |    AS lcc_e6
         |FROM deg LEFT JOIN pn USING (n) ORDER BY node""".stripMargin,

    "p105_personalized_pagerank" -> {
      def iterCte(t: Int) =
        s"""c$t AS (SELECT e.dst AS node, CAST(sum((r.r * 85) // (100 * d.deg)) AS BIGINT) AS s
           |  FROM e JOIN r${t - 1} r ON e.src = r.node JOIN dg d ON e.src = d.src GROUP BY e.dst),
           |r$t AS (SELECT nd.node,
           |  (CASE WHEN nd.node IN (0, 1, 2) THEN (SELECT tele FROM cfg) ELSE 0 END)
           |    + coalesce(c$t.s, 0) AS r
           |  FROM nodes nd LEFT JOIN c$t USING (node))""".stripMargin
      s"""WITH e AS (SELECT DISTINCT user_id AS src,
         |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 150 AS dst
         |  FROM events),
         |dg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |cfg AS (SELECT (1000000000 // 3)::BIGINT AS rinit,
         |  (((100 - 85)::BIGINT * 1000000000) // (100 * 3))::BIGINT AS tele),
         |r0 AS (SELECT node,
         |  CASE WHEN node IN (0, 1, 2) THEN (SELECT rinit FROM cfg) ELSE 0 END AS r
         |  FROM nodes),
         |${(1 to 3).map(iterCte).mkString(",\n")}
         |SELECT node, CAST(r AS BIGINT) AS rank_e9 FROM r3 ORDER BY node""".stripMargin
    },

    "p88_pagerank" ->
      s"""${SparkEntry.OracleMemGuard}WITH e AS MATERIALIZED (SELECT DISTINCT user_id AS src,
         |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 150 AS dst
         |  FROM events),
         |dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |c0 AS (SELECT (1000000000 // count(*)) AS rinit,
         |  ((100 - 85)::BIGINT * 1000000000) // (100 * count(*)) AS tele FROM nodes),
         |r0 AS (SELECT node, (SELECT rinit FROM c0) AS r FROM nodes),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)}
         |SELECT node, CAST(r AS BIGINT) AS rank_e9 FROM r3 ORDER BY node""".stripMargin,
    "p14_graph_sssp" ->
      s"""WITH $oracleChain,
         |origins AS (SELECT k, cell, s FROM pfx WHERE k IN (0, 100, 200))
         |SELECT o.cell AS origin, d.cell AS destination,
         |  round(abs(d.s - o.s), 4) AS cost,
         |  CAST(abs(d.k - o.k) + 1 AS BIGINT) AS path_len
         |FROM origins o CROSS JOIN pfx d
         |ORDER BY origin, destination""".stripMargin,

    "p114_sssp_iterative" ->
      s"""WITH ${oracleChainN(ExpressM)},
         |origins AS (SELECT k, cell, s FROM pfx WHERE k IN (0, 60))
         |SELECT o.cell AS origin, d.cell AS destination,
         |  round(abs(d.s - o.s), 4) AS cost
         |FROM origins o CROSS JOIN pfx d
         |ORDER BY origin, destination""".stripMargin,

    "p116_sssp_paths" ->
      s"""WITH ${oracleChainN(ExpressM)},
         |origins AS (SELECT k, cell, s FROM pfx WHERE k IN (0, 60)),
         |dests AS (SELECT k, cell, s FROM pfx WHERE k IN (25, 40))
         |SELECT o.cell AS origin, d.cell AS destination,
         |  round(abs(d.s - o.s), 4) AS cost, TRUE AS walk_ok
         |FROM origins o CROSS JOIN dests d
         |ORDER BY origin, destination""".stripMargin,

    // pinned from the fixture route (deterministic: unique-min Dijkstra
    // over integral weights); walk_ok is the in-plan path-cost law
    "p115_germany_route" ->
      """SELECT * FROM (VALUES
        |  (608531400022294527, CAST(13300000 AS BIGINT), CAST(421 AS BIGINT), TRUE),
        |  (608532734163288063, CAST(11600000 AS BIGINT), CAST(363 AS BIGINT), TRUE))
        |AS t(destination, cost_q, path_len, walk_ok)
        |ORDER BY destination""".stripMargin,

    "p15_graph_isochrone" ->
      s"""WITH $oracleChain,
         |o AS (SELECT s FROM pfx WHERE k = 150)
         |SELECT pfx.cell, round(abs(pfx.s - o.s), 4) AS weight
         |FROM pfx, o WHERE abs(pfx.s - o.s) <= 80.0
         |ORDER BY cell""".stripMargin,

    "p16_graph_nodes" ->
      s"""WITH $oracleChain
         |SELECT cell,
         |  (CASE WHEN k = 0 THEN 'Origin' WHEN k = $N THEN 'Destination'
         |        ELSE 'OriginAndDestination' END) AS node_type
         |FROM pfx ORDER BY cell""".stripMargin,

    "p17_graph_downsample" ->
      s"""WITH $oracleChain,
         |reanchored AS (
         |  SELECT ((origin & ~(15::BIGINT << 52)) | (3::BIGINT << 52)) | ((1::BIGINT << 36) - 1) AS origin,
         |    ((destination & ~(15::BIGINT << 52)) | (3::BIGINT << 52)) | ((1::BIGINT << 36) - 1) AS destination,
         |    weight
         |  FROM chain)
         |SELECT origin, destination, round(min(weight), 4) AS weight
         |FROM reanchored WHERE origin <> destination
         |GROUP BY 1, 2 ORDER BY origin, destination""".stripMargin,

    "h3_22_graph_native" ->
      """SELECT TRUE AS route_ok, TRUE AS cost_ok, TRUE AS diff_ok,
        |  TRUE AS iso_ok, TRUE AS covered_ok, TRUE AS snap_ok""".stripMargin,

    "p23_graph_ways" ->
      """SELECT TRUE AS skip_ok, TRUE AS oneway_ok, TRUE AS minw_ok,
        |  TRUE AS isolation_ok, TRUE AS route_ok, TRUE AS oneway_route_ok""".stripMargin,

    "p31_osm_pbf" ->
      """SELECT 'node' AS entity, event_id AS id,
        |  1e-9 * (100 * floor(((event_id % 1700)::DOUBLE / 100.0 - 8.5) * 1e7 + 0.5)) AS lat,
        |  1e-9 * (100 * floor(((event_id % 3500)::DOUBLE / 100.0 - 17.5) * 1e7 + 0.5)) AS lon,
        |  NULL::BIGINT AS n_refs, NULL::BIGINT AS refs_sum, event_type AS tagv
        |FROM events
        |UNION ALL
        |SELECT 'way', user_id,
        |  NULL::DOUBLE, NULL::DOUBLE, count(*), sum(event_id)::BIGINT, NULL::VARCHAR
        |FROM events GROUP BY user_id
        |ORDER BY entity, id""".stripMargin
  )
}
