package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, DriverRegime, Fixpoint}
import scala.collection.mutable

/**
 * Graph operators over H3 cells (SURVEY.md §2.8, reference h3ron-graph):
 * the graph is a plain DataFrame of weighted directed edges between cells —
 * `(origin, destination, weight [, edge])` — and every algorithm is either
 * a declarative plan (build/nodes/stats/downsample, P1-P4) or a broadcast
 * adjacency + `mapPartitions` local Dijkstra (P5-P10), mirroring the
 * reference's rayon-per-origin parallelism (shortest_path.rs:174-186) with
 * Spark tasks as the parallel unit.
 *
 * Scale notes: routing broadcasts the adjacency (the reference holds the
 * whole `PreparedH3EdgeGraph` in memory too, prepared.rs:74-79); origins
 * fan out over partitions so 1000 executors route 1000 origin batches
 * concurrently. Graphs beyond broadcast size would need an iterative
 * Pregel-style relaxation — out of scope, documented.
 */
object H3Graph {

  /** P1: normalize an edge list — duplicate edges keep the minimum weight
    * (h3edge.rs:96-109); union graphs by unioning inputs first. */
  def graphFromEdgeList(df: DataFrame, origin: String, dest: String, weight: String): DataFrame =
    df.select(col(origin).as("origin"), col(dest).as("destination"), col(weight).as("weight"))
      .groupBy(col("origin"), col("destination"))
      .agg(min(col("weight")).as("weight"))

  /** Bound for the single-chain (`chainCol=None`) convenience path: one
    * chain is inherently sequential (its global-order window runs as ONE
    * task), so that path is only valid for small, driver-adjacent chains —
    * a traced linestring, a fixture. Corpus-scale ingestion MUST pass
    * `chainCol`: per-chain windows run shuffle-parallel. */
  val MaxSingleChainRows: Long = 1000000L

  /** P13 (DataFrame part): consecutive cells of an ordered chain become
    * bidirectional edges carrying the H3 directed-edge ids
    * (iter/edge.rs:89-141 `continuous_cells_to_edges`). Pass `chainCol`
    * (e.g. the OSM way id) when the frame holds MANY chains: the window
    * then partitions per chain and the lag runs shuffle-parallel instead
    * of collapsing to a single partition — the scale path for ingesting
    * millions of ways. Without `chainCol` the frame is treated as ONE
    * declared chain, guarded by [[MaxSingleChainRows]]. */
  def graphFromCellChain(df: DataFrame, cellCol: String, orderCol: String,
      chainCol: Option[String] = None,
      maxSingleChainRows: Long = MaxSingleChainRows): DataFrame = {
    val (src, w) = chainCol match {
      case Some(c) =>
        (df, org.apache.spark.sql.expressions.Window.partitionBy(col(c)).orderBy(col(orderCol)))
      case None =>
        // guard: fail fast (limit-bounded count, early-exits the scan)
        // instead of silently collapsing an unbounded frame onto one task
        val n = df.limit((maxSingleChainRows + 1).toInt).count()
        require(n <= maxSingleChainRows,
          s"graphFromCellChain without chainCol is the single-chain path (one global-order " +
            s"window = ONE task); frame exceeds $maxSingleChainRows rows - pass chainCol " +
            "for parallel multi-chain ingestion")
        // declared single chain: a constant partition key keeps the same
        // one-task execution the global order requires, but explicitly —
        // not via the WindowExec "No Partition Defined" scale trap
        (df.withColumn("__chain", lit(0)),
          org.apache.spark.sql.expressions.Window.partitionBy(col("__chain")).orderBy(col(orderCol)))
    }
    val pairs = src.select(col(cellCol).as("a"), lead(col(cellCol), 1).over(w).as("b"))
      .filter(col("b").isNotNull && col("a") =!= col("b"))
    val fwd = pairs.select(col("a").as("origin"), col("b").as("destination"))
    val bwd = pairs.select(col("b").as("origin"), col("a").as("destination"))
    fwd.unionByName(bwd)
      .withColumn("edge", h3_cells_to_directed_edge(col("origin"), col("destination")))
      .withColumn("weight", h3_edge_length_m(col("edge")))
      .groupBy(col("origin"), col("destination"))
      .agg(min(col("edge")).as("edge"), min(col("weight")).as("weight"))
  }

  /** The reference's example WayAnalyzer (graph_from_osm.rs:21-48)
    * expressed as a column over an OSM-style `map<string,string>` tags
    * column: highway-class routing weight; NULL (analyzer `None`) means
    * the way is skipped by [[graphFromWays]]. */
  def highwayClassWeight(tags: Column): Column = {
    val hw = lower(element_at(tags, "highway"))
    when(hw.isin("motorway", "motorway_link", "trunk", "trunk_link",
      "primary", "primary_link"), 3.0)
      .when(hw.isin("secondary", "secondary_link"), 4.0)
      .when(hw.isin("tertiary", "tertiary_link"), 5.0)
      .when(hw.isin("unclassified", "residential", "living_street", "service"), 8.0)
      .when(hw === "road", 9.0)
      .when(hw === "pedestrian", 50.0)
  }

  /** oneway handling of the example analyzer (graph_from_osm.rs:36-42):
    * bidirectional unless `oneway=yes` (reversed `oneway=-1` unsupported
    * there too). */
  def highwayBidirectional(tags: Column): Column =
    coalesce(lower(element_at(tags, "oneway")) =!= "yes", lit(true))

  /** P13 end-to-end: OSM-shaped way-table ingestion
    * (io/osm.rs:25-121 minus the PBF binary datasource — the way-table
    * contract `(way_id, tags, linestring)` is the engine's entry point;
    * PBF->parquet extraction is an offline prep step). Per way: the
    * analyzer columns decide weight (NULL = skip way) and
    * bidirectionality; the linestring is traced to a cell chain at `res`
    * (G3); consecutive cells pair into directed edges under a PER-WAY
    * window (shuffle-parallel over millions of ways — the scale path);
    * duplicate edges across ways keep the minimum weight
    * (h3edge.rs:96-109). Output schema matches [[graphFromEdgeList]] +
    * `edge`. */
  def graphFromWays(ways: DataFrame, wayId: Column, wkt: Column, res: Int,
      weight: Column, bidirectional: Column): DataFrame =
    tracedChainsToEdges(ways
      .select(wayId.as("__way"), weight.cast("double").as("__w"),
        coalesce(bidirectional, lit(true)).as("__bidir"), wkt.as("__wkt"))
      .filter(col("__w").isNotNull)
      .select(col("__way"), col("__w"), col("__bidir"),
        h3_linestring_to_cells(col("__wkt"), lit(res)).as("__cells")))

  /** Shared tail of every way-shaped ingestion: explode each way's traced
    * cell chain, pair consecutive cells under a PER-WAY window
    * (shuffle-parallel over millions of ways), mirror bidirectional ways,
    * and keep the minimum weight per duplicate edge (h3edge.rs:96-109). */
  private def tracedChainsToEdges(chains: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__way")).orderBy(col("__ord"))
    val pairs = chains
      .select(col("__way"), col("__w"), col("__bidir"),
        posexplode(col("__cells")).as(Seq("__ord", "__cell")))
      .select(col("__way"), col("__w"), col("__bidir"), col("__cell").as("a"),
        lead(col("__cell"), 1).over(w).as("b"))
      .filter(col("b").isNotNull && col("a") =!= col("b"))
    val fwd = pairs.select(col("a").as("origin"), col("b").as("destination"), col("__w"))
    val bwd = pairs.filter(col("__bidir"))
      .select(col("b").as("origin"), col("a").as("destination"), col("__w"))
    fwd.unionByName(bwd)
      .withColumn("edge", h3_cells_to_directed_edge(col("origin"), col("destination")))
      .groupBy(col("origin"), col("destination"))
      .agg(min(col("edge")).as("edge"), min(col("__w")).as("weight"))
  }

  /** P13, full OSM shape: build the routing graph from OSM `nodes`
    * (id, lat, lon, tags) and `ways` (id, refs, tags) frames — the two
    * tables [[graft.sources.osm.OsmPbfSource]] scans out of a `.osm.pbf`
    * file. Reproduces the reference's single-machine reader loop
    * (io/osm.rs:67-108) as a distributed plan:
    *  - analyzer first: ways with NULL `weight` are dropped BEFORE the
    *    refs explode (the selective predicate runs against the way scan);
    *  - node-coordinate resolution is an equi-join on ref id — the
    *    distributed replacement for the reference's driver-side
    *    `nodeid_coordinates` hashmap (osm.rs:71-80), which cannot hold
    *    planet-scale node sets on one machine. Missing refs drop out of
    *    the inner join exactly like the reference's `filter_map`
    *    (osm.rs:84-88);
    *  - each way's ordered polyline is re-assembled per way (one shuffle)
    *    and traced with the SAME linestring kernel as G3
    *    (`h3_points_to_cells` — no lossy WKT round-trip), then the shared
    *    chain→edges tail applies weights/bidirectionality per edge. */
  def graphFromOsm(nodes: DataFrame, ways: DataFrame, res: Int,
      weight: Column = highwayClassWeight(col("tags")),
      bidirectional: Column = highwayBidirectional(col("tags"))): DataFrame = {
    val kept = ways
      .select(col("id").as("__way"), col("refs").as("__refs"),
        weight.cast("double").as("__w"), coalesce(bidirectional, lit(true)).as("__bidir"))
      .filter(col("__w").isNotNull && size(col("__refs")) >= 2)
    val coords = kept
      .select(col("__way"), col("__w"), col("__bidir"),
        posexplode(col("__refs")).as(Seq("__ord", "__ref")))
      .join(nodes.select(col("id").as("__ref"), col("lat").as("__lat"), col("lon").as("__lon")),
        Seq("__ref"))
    val chains = coords
      .groupBy(col("__way"), col("__w"), col("__bidir"))
      .agg(array_sort(collect_list(struct(col("__ord"), col("__lon"), col("__lat")))).as("__pts"))
      .filter(size(col("__pts")) >= 2)
      .select(col("__way"), col("__w"), col("__bidir"),
        h3_points_to_cells(
          transform(col("__pts"), p => p.getField("__lon")),
          transform(col("__pts"), p => p.getField("__lat")), lit(res)).as("__cells"))
    tracedChainsToEdges(chains)
  }

  /** P13 end-to-end from a `.osm.pbf` path: distributed PBF scan
    * ([[graft.sources.osm.OsmPbfSource]]) + [[graphFromOsm]] — the Spark
    * equivalent of the reference's `OsmPbfH3EdgeGraphBuilder::read_pbf` +
    * `build_graph` (io/osm.rs:67-121). */
  def graphFromOsmPbf(spark: SparkSession, path: String, res: Int): DataFrame = {
    val nodes = spark.read.format("osmpbf").option("entity", "nodes").load(path)
    val ways = spark.read.format("osmpbf").option("entity", "ways").load(path)
    graphFromOsm(nodes, ways, res)
  }

  /** P2: nodes with Origin / Destination / OriginAndDestination typing
    * (h3edge.rs:128-157). */
  def nodes(graph: DataFrame): DataFrame = {
    val o = graph.select(col("origin").as("cell")).distinct().withColumn("is_o", lit(true))
    val d = graph.select(col("destination").as("cell")).distinct().withColumn("is_d", lit(true))
    o.join(d, Seq("cell"), "full_outer")
      .select(col("cell"),
        when(coalesce(col("is_o"), lit(false)) && coalesce(col("is_d"), lit(false)),
          "OriginAndDestination")
          .when(coalesce(col("is_o"), lit(false)), "Origin")
          .otherwise("Destination").as("node_type"))
  }

  /** P3: (num_nodes, num_edges). */
  def stats(graph: DataFrame): (Long, Long) =
    (nodes(graph).count(), graph.count())

  /** P4: re-anchor edges at parent cells, drop intra-cell edges, combine
    * parallel edges (h3edge.rs:215-260); `combine` is "min" or "max". */
  def downsample(graph: DataFrame, targetRes: Int, combine: String = "min"): DataFrame = {
    val aggFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (combine == "max") max(_) else min(_)
    graph.select(
      h3_cell_to_parent(col("origin"), lit(targetRes)).as("origin"),
      h3_cell_to_parent(col("destination"), lit(targetRes)).as("destination"),
      col("weight"))
      .filter(col("origin") =!= col("destination"))
      .groupBy(col("origin"), col("destination"))
      .agg(aggFn(col("weight")).as("weight"))
  }

  /** Ceiling for the broadcast-adjacency routing path: ~8.4M edges ≈ a few
    * hundred MB on the driver and per executor. The reference shares this
    * in-memory bound (`PreparedH3EdgeGraph`, prepared.rs:74-79); beyond it,
    * use [[shortestPathsIterative]] (distributed relaxation) or
    * [[downsample]] to a coarser resolution first. */
  val MaxBroadcastEdges: Int = 8 << 20

  /** P5: adjacency for broadcast — (origin -> [(dest, weight)...]) with
    * deterministic neighbor order. The collect itself is bounded by
    * `maxEdges` (limit pushdown), so an over-size graph fails fast with an
    * actionable error instead of OOMing the driver. */
  def collectAdjacency(graph: DataFrame,
      maxEdges: Int = MaxBroadcastEdges): Map[Long, Array[(Long, Double)]] = {
    val rows = graph.select(col("origin"), col("destination"), col("weight").cast("double"))
      .limit(maxEdges + 1).collect()
    require(rows.length <= maxEdges,
      s"graph exceeds $maxEdges edges - beyond the broadcast-adjacency routing path. " +
        "Use shortestPathsIterative (distributed relaxation) for graphs this size, " +
        "or downsample() to a coarser resolution first")
    adjacencyOf(rows)
  }

  /** (origin, destination, weight) rows of longs and a double grouped by
    * origin, neighbors in destination order; duplicate edges are kept. */
  private def adjacencyOf(rows: Array[Row]): Map[Long, Array[(Long, Double)]] =
    rows
      .groupBy(_.getLong(0))
      .map { case (o, rs) =>
        o -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
      }

  /** A contracted fork-free chain (the reference's `LongEdge`,
    * longedge.rs:37-47): entering the chain at its head via `firstHop`
    * reaches `dest` at cost `weight`; `cellPath` is the full cell walk
    * head..dest (path decompression + exclusion/destination disjointness
    * tests, mirroring the reference's `cell_lookup` treemap). */
  final case class LongEdge(firstHop: Long, dest: Long, weight: Double, cellPath: Array[Long])

  /** Minimum chain length (in edges) worth contracting
    * (MIN_LONGEDGE_LENGTH, prepared.rs:259). */
  val MinLongEdgeLength: Int = 3

  /** Long-edge contraction (prepared.rs:260-345): for every edge (u,v)
    * that can START a chain — the count of edges leading into u from cells
    * other than v differs from 1 (a junction, a dead start, or a one-way
    * head) — follow the unique continuations (excluding the immediate
    * backward edge) until a junction, end, or edge-cycle, and record
    * chains of >= `minEdges` edges as [[LongEdge]] shortcuts keyed by
    * origin. Results are provably identical with or without the shortcuts
    * (a shortcut replays an existing path at the identical cost); deep
    * chain graphs settle O(junctions) nodes instead of O(cells). */
  private[graph] def contractLongEdges(adj: Map[Long, Array[(Long, Double)]],
      minEdges: Int = MinLongEdgeLength): Map[Long, Array[LongEdge]] = {
    val inNbrs = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    for ((u, arr) <- adj; (v, _) <- arr)
      inNbrs.getOrElseUpdate(v, mutable.HashSet.empty) += u
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[LongEdge]]
    for ((u, arr) <- adj; (v0, w0) <- arr) {
      val incoming = inNbrs.getOrElse(u, mutable.HashSet.empty[Long])
      val nLeadIn = incoming.size - (if (incoming.contains(v0)) 1 else 0)
      if (nLeadIn != 1) {
        val path = mutable.ArrayBuffer(u, v0)
        val seen = mutable.HashSet((u, v0))
        var prev = u; var cur = v0; var total = w0; var go = true
        while (go) {
          val conts = adj.getOrElse(cur, Array.empty[(Long, Double)]).filter(_._1 != prev)
          if (conts.length != 1) go = false
          else {
            val (nxt, w) = conts(0)
            if (!seen.add((cur, nxt))) go = false // stop on edge cycles
            else { path += nxt; total += w; prev = cur; cur = nxt }
          }
        }
        if (path.length - 1 >= minEdges)
          out.getOrElseUpdate(u, mutable.ArrayBuffer.empty) +=
            LongEdge(v0, cur, total, path.toArray)
      }
    }
    out.map { case (k, v) => k -> v.sortBy(le => (le.firstHop, le.dest)).toArray }.toMap
  }

  /** P5: a collected graph — adjacency, derived node set, and long-edge
    * shortcuts — reusable across routing calls so one driver collect
    * serves many queries (mirrors the reference preparing
    * `PreparedH3EdgeGraph` once, prepared.rs:408-442). */
  final case class LocalGraph(adj: Map[Long, Array[(Long, Double)]], nodes: Set[Long],
      longEdges: Map[Long, Array[LongEdge]] = Map.empty) {
    /** graph view with a cell set removed (ExcludeCells, modifiers.rs:11-93);
      * shortcuts whose chain touches an excluded cell are dropped (their
      * single-edge walk is then correctly cut at the excluded cell). */
    def excluding(cells: Set[Long]): LocalGraph = {
      val adj2 = (adj -- cells).map { case (o, arr) => o -> arr.filterNot(t => cells(t._1)) }
        .filter(_._2.nonEmpty)
      val le2 = longEdges.collect { case (o, arr) if !cells(o) =>
        o -> arr.filterNot(_.cellPath.exists(cells))
      }.filter(_._2.nonEmpty)
      LocalGraph(adj2, adj2.keySet ++ adj2.valuesIterator.flatMap(_.map(_._1)), le2)
    }
    /** total weight over undirected edges (each symmetric pair once). */
    def totalUndirectedWeight: Double =
      adj.iterator.flatMap { case (o, arr) => arr.collect { case (d, w) if o < d => w } }.sum
  }

  def localGraph(graph: DataFrame): LocalGraph = {
    val adj = collectAdjacency(graph)
    LocalGraph(adj, adj.keySet ++ adj.valuesIterator.flatMap(_.map(_._1)),
      contractLongEdges(adj))
  }

  /** deterministic local Dijkstra; returns dest -> (cost, predecessor,
    * via-path). A single-edge hop settles with `via = null`; a long-edge
    * hop settles with the full chain cell path (pred..node) for path
    * decompression. Following the reference (dijkstra.rs:186-204), a
    * shortcut REPLACES its first single edge when the chain contains no
    * target cell — interior chain cells are then never enqueued — and
    * falls back to the single edge otherwise (so targets inside a chain
    * are still reached step by step). */
  private[graph] def dijkstra(adj: Map[Long, Array[(Long, Double)]],
      shortcuts: Map[Long, Array[LongEdge]], source: Long,
      targets: Set[Long], maxCost: Double): mutable.LongMap[(Double, Long, Array[Long])] = {
    val settled = new mutable.LongMap[(Double, Long, Array[Long])]()
    val best = new mutable.LongMap[Double]()
    // (cost, node, pred, via) ordered by cost then node id for determinism
    implicit val ord: Ordering[(Double, Long, Long, Array[Long])] =
      Ordering.by[(Double, Long, Long, Array[Long]), (Double, Long)](t => (-t._1, -t._2))
    val pq = mutable.PriorityQueue.empty[(Double, Long, Long, Array[Long])]
    pq.enqueue((0.0, source, source, null))
    best(source) = 0.0
    var remaining = if (targets.isEmpty) Int.MaxValue else targets.size
    while (pq.nonEmpty && remaining > 0) {
      val (cost, node, pred, via) = pq.dequeue()
      if (!settled.contains(node) && cost <= maxCost) {
        settled(node) = (cost, pred, via)
        if (targets.contains(node)) remaining -= 1
        val les = shortcuts.getOrElse(node, Array.empty[LongEdge])
        for ((next, w) <- adj.getOrElse(node, Array.empty)) {
          val le = les.find(l => l.firstHop == next && !l.cellPath.exists(targets.contains))
          val (relaxTo, c2, path) = le match {
            case Some(l) => (l.dest, cost + l.weight, l.cellPath)
            case None => (next, cost + w, null)
          }
          if (c2 <= maxCost && !settled.contains(relaxTo) &&
              best.get(relaxTo).forall(c2 < _)) {
            best(relaxTo) = c2
            pq.enqueue((c2, relaxTo, node, path))
          }
        }
      }
    }
    settled
  }

  /** P10: snap a cell to the nearest graph node within k grid-disk steps
    * (nearest_graph_nodes.rs:7-114); identity when already a node. */
  def snapToNode(cell: Long, nodeSet: Set[Long], maxK: Int): Option[Long] = {
    if (nodeSet.contains(cell)) return Some(cell)
    var k = 1
    while (k <= maxK) {
      val hits = graft.h3.H3Traversal.gridRing(cell, k).filter(nodeSet.contains)
      if (hits.nonEmpty) return Some(hits.min)
      k += 1
    }
    None
  }

  private val pathSchema = StructType(Seq(
    StructField("origin", LongType, nullable = false),
    StructField("destination", LongType, nullable = false),
    StructField("cost", DoubleType, nullable = false),
    StructField("path", ArrayType(LongType, containsNull = false), nullable = false)))

  /**
   * P6/P7: many-to-many shortest paths. Origins fan out over partitions;
   * each task runs local Dijkstra against the broadcast adjacency and emits
   * `(origin, destination, cost, path-cells)` rows (the reference's
   * `Path`, path.rs:13-266). Unreachable destinations emit nothing. Origins
   * and destinations not on the graph are snapped within `maxSnapK`.
   */
  def shortestPaths(spark: SparkSession, graph: DataFrame, origins: Seq[Long],
      destinations: Seq[Long], maxSnapK: Int = 0): DataFrame =
    shortestPathsLocal(spark, localGraph(graph), origins, destinations, maxSnapK)

  /** [[shortestPaths]] over a pre-collected [[LocalGraph]]. */
  def shortestPathsLocal(spark: SparkSession, lg: LocalGraph, origins: Seq[Long],
      destinations: Seq[Long], maxSnapK: Int = 0): DataFrame = {
    val adj = lg.adj
    val nodeSet = lg.nodes
    val bAdj = spark.sparkContext.broadcast(adj)
    val bNodes = spark.sparkContext.broadcast(nodeSet)
    val bLong = spark.sparkContext.broadcast(lg.longEdges)
    val destSnapped: Map[Long, Long] = destinations.flatMap { d =>
      snapToNode(d, nodeSet, maxSnapK).map(d -> _)
    }.toMap
    val bDest = spark.sparkContext.broadcast(destSnapped)

    val originDf = originsToDF(spark, origins)
    implicit val enc = RowEncoder.encoderFor(pathSchema)
    originDf.mapPartitions { rows =>
      val adjL = bAdj.value
      val nodesL = bNodes.value
      val destL = bDest.value
      val targets = destL.values.toSet
      rows.flatMap { r =>
        val rawOrigin = r.getLong(0)
        snapToNode(rawOrigin, nodesL, maxSnapK).iterator.flatMap { source =>
          val settled = dijkstra(adjL, bLong.value, source, targets, Double.MaxValue)
          destL.iterator.flatMap { case (rawDest, snappedDest) =>
            settled.get(snappedDest).map { case (cost, _, _) =>
              // reconstruct path by predecessor chain, decompressing
              // long-edge hops into their full cell walk (path.rs parity)
              var segs: List[Array[Long]] = Nil
              var cur = snappedDest
              while (cur != source) {
                val (_, pred, via) = settled(cur)
                segs = (if (via != null) via.drop(1) else Array(cur)) :: segs
                cur = pred
              }
              Row(rawOrigin, rawDest, cost, (Array(source) :: segs).toArray.flatten)
            }
          }
        }
      }
    }
  }

  /** P8: isochrone flood — all cells reachable within `threshold`
    * accumulated weight, per origin (within_weight_threshold.rs:16-101).
    * The merged variant is a plain `groupBy(cell).agg(min(weight))` on
    * this output. */
  def withinWeightThreshold(spark: SparkSession, graph: DataFrame, origins: Seq[Long],
      threshold: Double, maxSnapK: Int = 0): DataFrame =
    withinWeightThresholdLocal(spark, localGraph(graph), origins, threshold, maxSnapK)

  /** [[withinWeightThreshold]] over a pre-collected [[LocalGraph]]. */
  def withinWeightThresholdLocal(spark: SparkSession, lg: LocalGraph, origins: Seq[Long],
      threshold: Double, maxSnapK: Int = 0): DataFrame = {
    val adj = lg.adj
    val nodeSet = lg.nodes
    val bAdj = spark.sparkContext.broadcast(adj)
    val bNodes = spark.sparkContext.broadcast(nodeSet)
    val schema = StructType(Seq(
      StructField("origin", LongType, nullable = false),
      StructField("cell", LongType, nullable = false),
      StructField("weight", DoubleType, nullable = false)))
    implicit val enc = RowEncoder.encoderFor(schema)
    originsToDF(spark, origins).mapPartitions { rows =>
      val adjL = bAdj.value
      rows.flatMap { r =>
        val rawOrigin = r.getLong(0)
        snapToNode(rawOrigin, bNodes.value, maxSnapK).iterator.flatMap { source =>
          // no shortcuts: the flood must settle every interior chain cell
          // (the reference's threshold dijkstra likewise skips longedges,
          // dijkstra.rs:103)
          dijkstra(adjL, Map.empty, source, Set.empty, threshold).iterator.map {
            case (cell, (cost, _, _)) => Row(rawOrigin, cell, cost)
          }
        }
      }
    }
  }

  /** Distributed SSSP for graphs beyond [[MaxBroadcastEdges]]: the
    * synchronous Bellman-Ford relaxation of every origin at once. Each
    * materialized round of the loop performs `hopsPerRound` relaxation
    * hops (default 2 — the barrier job is the latency driver at scale,
    * and total shuffle volume per hop is unchanged), so it converges in
    * <= ceil(diameter / hopsPerRound) + 1 rounds; at or under the
    * small-regime bound the same relaxation runs as one operator (see
    * `iterativeSssp`). Costs match local Dijkstra exactly (spec-pinned);
    * paths are not materialized here — predecessor reconstruction at this
    * scale belongs in storage, not a result column. Origins/destinations
    * must be graph nodes (no snapping on the distributed path). */
  def shortestPathsIterative(spark: SparkSession, graph: DataFrame, origins: Seq[Long],
      destinations: Seq[Long], maxRounds: Int = 256,
      checkpointDir: Option[String] = None, hopsPerRound: Int = 2): DataFrame =
    iterativeSssp(spark, graph, origins, destinations, maxRounds, checkpointDir,
      hopsPerRound, withPaths = false)

  /** [[shortestPathsIterative]] with P12 path parity: the relaxation
    * additionally threads a PREDECESSOR (argmin via
    * `min(struct(cost, pred))` — ties break on the smaller pred cell, so
    * the walk is deterministic), and paths are reconstructed after
    * convergence by walking the predecessors backward — <= diameter
    * rounds, no driver state, in the loop regime. Each reconstruction
    * round joins the small (origins x destinations)-row walk table against
    * the best-cost table; the walk side is broadcast, so the big table is
    * scanned, never shuffled. That makes reconstruction cost `path-length
    * x best-scan` — right for routing a bounded pair set; for bulk path
    * materialization at 100 TB, persist the `(cell, src, pred)` table to
    * parquet and walk it in storage instead (the reference's Path
    * contract, path.rs:13-266, is per-query too). Output: `(origin,
    * destination, cost, path)`. */
  def shortestPathsIterativePaths(spark: SparkSession, graph: DataFrame,
      origins: Seq[Long], destinations: Seq[Long], maxRounds: Int = 256,
      checkpointDir: Option[String] = None, hopsPerRound: Int = 2): DataFrame =
    iterativeSssp(spark, graph, origins, destinations, maxRounds, checkpointDir,
      hopsPerRound, withPaths = true)

  /** Both iterative SSSP variants. The filtered edge table is measured
    * once; its row count picks the regime against
    * `CheckpointLayout.smallRegime` (the frontier's size is unknowable
    * upfront, so the edge count stands in for it):
    *  - small: the edges are collected into a broadcast adjacency and
    *    [[relaxLocal]] replays the loop's relaxation and walk, origins
    *    fanned over tasks, in ONE job — below the bound each hop of the
    *    loop costs Spark jobs, not data (`checkpointDir` is unused);
    *  - past the bound: the table is re-clustered ONCE by the relax-join
    *    key, so every hop's frontier⋈edges join streams it in place and
    *    the frontier (slim) is the only thing that moves, and the
    *    [[Fixpoint]] loop runs ([[relaxIterative]], then [[walkPaths]]).
    *
    * Edges: null-endpoint OR null-weight rows are not edges (a null
    * destination folds a phantom null cell into the best-cost table; a
    * null weight makes `min(cost)` carry nulls, so the frontier's
    * improved-filter keeps the row forever and the loop never converges —
    * and the paths variant's `min(struct(cost, ...))` argmin sorts a null
    * cost FIRST, letting it beat real finite paths). Origins are not
    * snapped: every origin is its own row at cost 0. */
  private def iterativeSssp(spark: SparkSession, graph: DataFrame, origins: Seq[Long],
      destinations: Seq[Long], maxRounds: Int, checkpointDir: Option[String],
      hopsPerRound: Int, withPaths: Boolean): DataFrame = {
    require(hopsPerRound >= 1, s"hopsPerRound must be >= 1, got $hopsPerRound")
    import spark.implicits._
    val (e0, freeE0) = Barriers.statSafeFreeable(
      graph.select(col("origin").as("__eo"), col("destination").as("__ed"),
        col("weight").cast("double").as("__ew"))
        .filter(col("__eo").isNotNull && col("__ed").isNotNull &&
          col("__ew").isNotNull))
    val measuredEdges = e0.count()
    if (CheckpointLayout.smallRegime(spark, measuredEdges)) {
      val adj = adjacencyOf(e0.select(col("__eo").cast("long"), col("__ed").cast("long"),
        col("__ew")).collect())
      freeE0()
      relaxLocal(spark, adj, origins, destinations, maxRounds, hopsPerRound, withPaths)
    } else {
      val (edges, freeEdges, _) = CheckpointLayout.statSafeReclusterIfOver(
        e0, freeE0, measured = measuredEdges, key = "__eo")
      val best = relaxIterative(spark, edges, freeEdges, origins, maxRounds,
        checkpointDir, hopsPerRound, withPred = withPaths)
      val dests = destinations.distinct.toDF("cell")
      // the result's lineage reads only the final fold's checkpoint blocks
      if (withPaths) walkPaths(best, dests, maxRounds, checkpointDir, hopsPerRound)
      else best.frame.join(broadcast(dests), "cell")
        .select(col("src").as("origin"), col("cell").as("destination"), col("cost"))
    }
  }

  private def warnRoundCap(maxRounds: Int): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"iterative SSSP stopped after maxRounds=$maxRounds with the frontier " +
        "still active: reported costs (and paths, whose walk law cannot " +
        "detect this) may be suboptimal upper bounds; raise maxRounds")

  private def requireWalked(walked: Boolean, maxRounds: Int): Unit =
    require(walked,
      s"path reconstruction did not terminate in $maxRounds rounds " +
        "(cyclic predecessor chain would indicate a relaxation bug)")

  /** A row's cost is an improvement over its pre-fold best: Spark's
    * double ordering (NaN is the largest value, -0.0 equals 0.0), as the
    * loop's `cost < __old` filter evaluates it. */
  private def cheaper(cost: Double, old: Double): Boolean =
    SQLOrderingUtil.compareDoubles(cost, old) < 0

  /** One origin's lane of the synchronous relaxation: each reached cell's
    * best cost and predecessor (the origin has none unless a negative
    * cycle improves it) and whether a hop improved nothing. */
  private final case class Lane(cost: mutable.LongMap[Double],
      pred: mutable.LongMap[Long], converged: Boolean) {
    /** The backward predecessor walk origin..dest, or None when it needs
      * more than `maxSteps` hops (or never reaches the origin). */
    def walk(origin: Long, dest: Long, maxSteps: Long): Option[Array[Long]] = {
      var path = List(dest)
      var steps = 0L
      val limit = math.min(maxSteps, cost.size.toLong) // longer is a cycle
      while (path.head != origin && steps < limit) { path = pred(path.head) :: path; steps += 1 }
      if (path.head == origin) Some(path.toArray) else None
    }
  }

  /** The loop's fold, replayed hop by hop for one origin for at most
    * `maxHops` hops. The frontier is the set of cells improved in the
    * previous hop (the origin first); a candidate costs `cost + weight`;
    * among fresh candidates the cheaper wins, then the smaller pred; the
    * settled row wins cost ties; a cell improves when it is new or its
    * cost drops strictly ([[cheaper]]). Lanes are independent — the loop
    * groups by (cell, src) — and a lane whose frontier empties stays
    * fixed, so replaying every lane to its own end equals the loop's
    * global stop. */
  private def relaxLane(adj: Map[Long, Array[(Long, Double)]], origin: Long,
      maxHops: Long): Lane = {
    val cost = mutable.LongMap(origin -> 0.0)
    val pred = mutable.LongMap.empty[Long]
    var frontier = Array(origin)
    var hops = 0L
    var converged = false
    while (!converged && hops < maxHops) {
      val cand = mutable.LongMap.empty[(Double, Long)]
      for (u <- frontier; (v, w) <- adj.getOrElse(u, Array.empty[(Long, Double)])) {
        val c = cost(u) + w
        val wins = cand.get(v).forall { case (c0, p0) =>
          val o = SQLOrderingUtil.compareDoubles(c, c0)
          o < 0 || (o == 0 && u < p0)
        }
        if (wins) cand(v) = (c, u)
      }
      val improved = mutable.ArrayBuilder.make[Long]
      cand.foreach { case (v, (c, p)) =>
        if (cost.get(v).forall(cheaper(c, _))) { cost(v) = c; pred(v) = p; improved += v }
      }
      frontier = improved.result()
      hops += 1
      converged = frontier.isEmpty
    }
    Lane(cost, pred, converged)
  }

  /** The small regime of both iterative SSSP variants as one operator: the
    * adjacency is broadcast, origins fan out over tasks like
    * [[shortestPathsLocal]], and each task replays its origins' lanes
    * ([[relaxLane]]) and walks ([[Lane.walk]]) under the loop's hop cap
    * `maxRounds × hopsPerRound`. The lanes come back to the driver in that
    * one job, so the round-cap warning and the walk's `require` fire at
    * call time, as the loop's do. The rows are bounded by the
    * origins × destinations pair set the loop's walk table already
    * broadcast; the result is a parallelized frame, so nothing stays
    * pinned. */
  private def relaxLocal(spark: SparkSession, adj: Map[Long, Array[(Long, Double)]],
      origins: Seq[Long], destinations: Seq[Long], maxRounds: Int, hopsPerRound: Int,
      withPaths: Boolean): DataFrame = {
    val sc = spark.sparkContext
    val maxHops = math.max(maxRounds, 0).toLong * hopsPerRound
    val dests = destinations.distinct
    val os = origins.distinct
    val bAdj = sc.broadcast(adj)
    // per origin: lane converged, every walk reached its origin, rows
    val lanes = sc.parallelize(os, math.max(1, math.min(os.size, 32))).map { o =>
      val lane = relaxLane(bAdj.value, o, maxHops)
      val reached = dests.filter(lane.cost.contains)
      if (!withPaths) (lane.converged, true, reached.map(d => Row(o, d, lane.cost(d))))
      else {
        val walks = reached.map(d => d -> lane.walk(o, d, maxHops))
        (lane.converged, walks.forall(_._2.isDefined), walks.collect {
          case (d, Some(path)) => Row(o, d, lane.cost(d), path)
        })
      }
    }.collect()
    bAdj.destroy()
    // the loop runs no round when maxRounds <= 0, so it never converges
    if (maxRounds < 1 || !lanes.forall(_._1)) warnRoundCap(maxRounds)
    if (withPaths) requireWalked(maxRounds >= 1 && lanes.forall(_._2), maxRounds)
    val rows = lanes.flatMap(_._3).toSeq
    DriverRegime.frame(spark, rows,
      StructType(if (withPaths) pathSchema.fields else pathSchema.fields.take(3)))
  }

  /** The loop regime's relaxation, Pregel-style entirely in DataFrames
    * and run through [[Fixpoint.converge]] over the clustered edge table
    * (released once a round has run). Each generation is the fold frame
    * `(cell, src, cost[, pred], __old)`: the best known cost from origin
    * `src` to `cell` (plus, with `withPred`, the argmin predecessor) and
    * the pre-fold best `__old`. The best table and the improved frontier
    * are both projections of it, and the convergence count (improved
    * rows) rides its materializing job. Each round joins the frontier
    * against the edge table and keeps per-(cell, src) minima with a
    * map-side partial min. Returns the final generation projected to the
    * best table. Stats stay dropped. */
  private def relaxIterative(spark: SparkSession, edges: DataFrame, freeEdges: () => Unit,
      origins: Seq[Long], maxRounds: Int, checkpointDir: Option[String], hopsPerRound: Int,
      withPred: Boolean): Fixpoint.Result = {
    import spark.implicits._
    val stateCols = Seq("cell", "src", "cost") ++ (if (withPred) Seq("pred") else Nil)
    // the origins are their own first frontier: a null pre-fold best marks
    // every row improved (the projection sits above the checkpoint, which
    // keeps the state columns only)
    val best0 = origins.distinct.toDF("cell")
      .select(Seq(col("cell"), col("cell").as("src"), lit(0.0).as("cost")) ++
        (if (withPred) Seq(lit(null).cast("long").as("pred")) else Nil): _*)
      .localCheckpoint(false)
      .withColumn("__old", lit(null).cast("double"))
    def relax(f: DataFrame): DataFrame =
      f.join(edges, col("cell") === col("__eo"))
        .select(Seq(col("__ed").as("cell"), col("src"),
          (col("cost") + col("__ew")).as("cost")) ++
          (if (withPred) Seq(col("__eo").as("pred")) else Nil): _*)
    // The fold carries the PRE-fold best as a second agg column: `b` has
    // unique (cell, src) — origins are distinct and every later `b` is a
    // fold output — so `min(cost over b's lane)` IS the old best cost, and
    // the former improved-join (per hop: one broadcast build of the old
    // best + one join; per round at scale: a full shuffle join) collapses
    // into one agg column plus a filter (guide §2.4 — remove shuffles
    // outright).
    // With `withPred` the fold is an argmin with a priority lane: the
    // accumulated best (prio 0) WINS cost ties against fresh relax
    // candidates (prio 1). Keeping the already-settled pred on ties makes
    // the predecessor graph provably acyclic even with zero-weight edges:
    // a pred is only ever assigned on first appearance (where every
    // candidate pred is from an older generation) or on a STRICT cost
    // improvement — two equal-cost neighbors can never flip their preds
    // onto each other, which would spin the backward walk forever. Fresh
    // ties still break on the smaller pred id for determinism.
    // `struct(cost, ...)` ordering compares cost first, so the settled
    // costs are identical in both variants (spec-pinned); without pred the
    // fold stays a plain `min(cost)`, one column narrower in the shuffle.
    def fold(b: DataFrame, r: DataFrame): DataFrame = {
      val lanes = b.withColumn("__prio", lit(0)).unionByName(r.withColumn("__prio", lit(1)))
        .groupBy(col("cell"), col("src"))
      val old = min(when(col("__prio") === 0, col("cost"))).as("__old")
      if (withPred)
        lanes.agg(min(struct(col("cost"), col("__prio"), col("pred"))).as("__m"), old)
          .select(col("cell"), col("src"), col("__m.cost").as("cost"),
            col("__m.pred").as("pred"), col("__old"))
      else lanes.agg(min(col("cost")).as("cost"), old)
    }
    def bestOf(f: DataFrame): DataFrame = f.select(stateCols.map(col): _*)
    def improvedOf(f: DataFrame): DataFrame =
      bestOf(f.filter(col("__old").isNull || col("cost") < col("__old")))
    val improved: Fixpoint.Changed = { schema =>
      val (cost, old) = (schema.fieldIndex("cost"), schema.fieldIndex("__old"))
      r => r.isNullAt(old) || cheaper(r.getDouble(cost), r.getDouble(old))
    }
    val res = Fixpoint.converge(best0, () => (), maxRounds, checkpointDir,
        release = freeEdges) { (state, _) =>
      // hopsPerRound relaxation hops per materialized round: the per-round
      // barrier job is the latency driver at scale (rounds = graph
      // diameter / hopsPerRound) while total shuffle volume is unchanged —
      // the same per-hop fold runs either way, intermediate hops just stay
      // lazy behind statSafe instead of paying their own barrier.
      // Convergence stays exact: each hop re-relaxes the previous hop's
      // improvements within the round, so a round whose LAST hop improves
      // nothing has propagated every improvement — the Bellman-Ford
      // fixpoint. Default 2 suits grid-like H3 routing graphs (diameter ~
      // sqrt(N)); pass 1 for low-diameter graphs where the extra per-round
      // plan depth outweighs the saved barriers.
      val (acc, front, frees) = (1 until hopsPerRound).foldLeft(
          (bestOf(state), improvedOf(state), List.empty[() => Unit])) {
        case ((acc, front, frees), _) =>
          val (f, free) = Barriers.statSafeFreeable(fold(acc, relax(front)))
          (bestOf(f), improvedOf(f), free :: frees)
      }
      Fixpoint.Round(fold(acc, relax(front)), improved, frees)
    }
    if (!res.converged) warnRoundCap(maxRounds)
    res.copy(frame = bestOf(res.frame))
  }

  /** The loop regime's path reconstruction: an iterative backward walk
    * over the predecessors in `best`, one row per reached (src,
    * destination); `cur` is the cell whose predecessor extends the walk
    * next, done when cur == src. The walk side (bounded by the origins ×
    * destinations pair set — always slim) is broadcast each hop. */
  private def walkPaths(best: Fixpoint.Result, dests: DataFrame, maxRounds: Int,
      checkpointDir: Option[String], hopsPerRound: Int): DataFrame = {
    val walk0 = best.frame.join(broadcast(dests), "cell")
      .select(col("src"), col("cell").as("destination"), col("cost"),
        col("cell").as("cur"), array(col("cell")).as("path"))
      .localCheckpoint(false)
    val preds = best.frame.select(col("cell").as("__pc"), col("src").as("__ps"),
      col("pred").as("__pp"))
    // one backward pred-hop; done rows (cur == src) pass through unchanged,
    // so composing the step is idempotent past the origin
    def step(w: DataFrame): DataFrame = broadcast(w)
      .join(preds, col("cur") === col("__pc") && col("src") === col("__ps"), "left")
      .select(col("src"), col("destination"), col("cost"),
        when(col("cur") === col("src"), col("cur"))
          .otherwise(col("__pp")).as("cur"),
        when(col("cur") === col("src"), col("path"))
          .otherwise(concat(array(col("__pp")), col("path"))).as("path"))
    // the best-cost generation feeds every walk round and is released once
    // the walk table is its own checkpoint
    val walk = Fixpoint.converge(walk0, () => (), maxRounds, checkpointDir,
        release = best.free) { (w, _) =>
      // hopsPerRound pred-hops per barrier: the walk table is tiny, so the
      // extra hops are additional broadcast joins inside the SAME job —
      // rounds (and their driver-side barrier latency) halve at equal work
      Fixpoint.Round((1 to hopsPerRound).foldLeft(w)((w, _) => step(w)),
        Fixpoint.differs("src", "cur"))
    }
    requireWalked(walk.converged, maxRounds)
    walk.frame.select(col("src").as("origin"), col("destination"), col("cost"), col("path"))
  }

  /** P9: differential routing — costs before and after excluding a cell
    * set (differential_shortest_path.rs:18-150 + the ExcludeCells view,
    * modifiers.rs:11-93). NULL cost_after = unreachable after exclusion. */
  def differentialShortestPaths(spark: SparkSession, graph: DataFrame, origins: Seq[Long],
      destinations: Seq[Long], excluded: Set[Long], maxSnapK: Int = 0): DataFrame = {
    val before = shortestPaths(spark, graph, origins, destinations, maxSnapK)
      .select(col("origin"), col("destination"), col("cost").as("cost_before"))
    val filtered = graph.filter(!col("origin").isInCollection(excluded) &&
      !col("destination").isInCollection(excluded))
    val after = shortestPaths(spark, filtered, origins, destinations, maxSnapK)
      .select(col("origin"), col("destination"), col("cost").as("cost_after"))
    before.join(after, Seq("origin", "destination"), "left_outer")
  }

  /** P11: covered area — nodes coarsened by `changeResBy`, deduped,
    * dissolved to a multipolygon (covered_area.rs:13-52 + G8). */
  def coveredAreaWkt(graph: DataFrame, changeResBy: Int): DataFrame = {
    nodes(graph)
      .select(col("cell"),
        h3_get_resolution(col("cell")).as("res"))
      .select(h3_cell_to_parent(col("cell"),
        greatest(col("res") - changeResBy, lit(0))).as("parent"))
      .distinct()
      .agg(collect_list(col("parent")).as("cells"))
      .select(h3_cells_to_multipolygon_wkt(col("cells"), lit(false)).as("wkt"))
  }

  private def originsToDF(spark: SparkSession, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("origin").repartition(math.max(1, math.min(xs.size, 32)))
  }
}
