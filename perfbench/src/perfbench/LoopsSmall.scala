package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.df.H3Clusters
import graft.graph.{Communities, Cores, H3Graph, Ranks}
import graft.h3.{H3Geo, H3Traversal}
import graft.pipeline.Dedup
import perfbench.Check._

/** The iterative catalog shapes at or below their sf0.1 catalog sizes:
  * every loop runs in its small regime, where a pass is bound by driver work
  * and job scheduling rather than by data. */
final class LoopsSmall(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  // ---- seeded inputs, driver side (the checks read these) ---------------

  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
  private def uniformCell(res: Int, latSpan: Double = 100.0): Long =
    H3Geo.latLngToCell(rnd.nextDouble() * latSpan - latSpan / 2,
      rnd.nextDouble() * 340.0 - 170.0, res)

  /** The express chain: nodes 0..M on distinct res-9 cells, chain edges
    * k -> k+1 with weights on the 0.1 lattice, and cost-neutral express
    * edges k -> k+S weighted by the chain sum they span, both directions.
    * Shortest costs are prefix-sum differences whatever route wins, and
    * every optimal route needs at most M/S + S - 1 = 8 hops. */
  private val ChainM = 25
  private val ExpressS = 5
  private val chainCells: Array[Long] =
    H3Traversal.gridDiskSpiral(uniformCell(9), 4).distinct.take(ChainM + 1)
  private val chainW: Array[Double] = Array.fill(ChainM)(1.0 + rnd.nextInt(100) / 10.0)
  private val prefix: Array[Double] = chainW.scanLeft(0.0)(_ + _)
  private val chainEdges: Seq[(Long, Long, Double)] = {
    val fwd = (0 until ChainM).map(k => (chainCells(k), chainCells(k + 1), chainW(k))) ++
      (0 to ChainM - ExpressS).map(k =>
        (chainCells(k), chainCells(k + ExpressS), prefix(k + ExpressS) - prefix(k)))
    fwd ++ fwd.map { case (a, b, w) => (b, a, w) }
  }
  private val chainIndex: Map[Long, Int] = chainCells.zipWithIndex.toMap
  private val ssspOrigins = Seq(0, 12).map(chainCells(_))
  private val pathDests = Seq(9, 24).map(chainCells(_))

  /** The p88 user -> host link graph: 100k edges, src in [0, 1500), dst in
    * [0, 150). */
  private val rankEdges: Array[(Long, Long)] =
    Array.fill(100000)((rnd.nextInt(1500).toLong, rnd.nextInt(150).toLong))

  /** The planted 5-block graph of p93/p97: users (id + 1000) link to their
    * block's 40 hubs, with a 1/17 chance of a link into the next block. */
  private val blockEdges: Array[(Long, Long)] = Array.fill(100000) {
    val user = rnd.nextInt(1500).toLong
    val block = if (rnd.nextInt(17) == 0) (user + 1) % 5 else user % 5
    (user + 1000, block * 40 + rnd.nextInt(40))
  }

  /** Near-dup corpus: random base documents, exact copies and tail-edited
    * copies of some of them under higher ids. */
  private val vocab: Array[String] = Array.fill(2000) {
    val n = 3 + rnd.nextInt(7)
    new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
  }
  private val baseDocs: Seq[(Long, String)] = (0L until 1200L).map { id =>
    id -> Seq.fill(20 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }
  private val exactCopies: Seq[(Long, String)] = baseDocs.filter(_._1 % 8 == 3)
    .map { case (id, t) => (id + 100000L, t) }
  private val tailCopies: Seq[(Long, String)] = baseDocs.filter(_._1 % 8 == 5)
    .map { case (id, t) => (id + 200000L, t + " extra token tail") }
  private val corpusRows = baseDocs ++ exactCopies ++ tailCopies

  /** Cell blobs for cellClusters: k=2 disks on a lattice of centers far
    * enough apart never to touch, with a fifth of their cells knocked out,
    * so some blobs split. */
  private val clusterCells: Array[Long] = {
    val anchor = uniformCell(9, 120.0)
    val set = mutable.LinkedHashSet.empty[Long]
    H3Traversal.gridRing(anchor, 60).zipWithIndex.foreach { case (center, i) =>
      if (i % 12 == 0) H3Traversal.gridDisk(center, 2).foreach(x => if (rnd.nextInt(5) != 0) set += x)
    }
    set.toArray
  }

  /** Routing graph: a k=15 disk of res-8 cells, each linked to its
    * neighbors by directed edges with seeded weights. */
  private val routeEdges: Seq[(Long, Long, Double)] = {
    val cells = H3Traversal.gridDisk(uniformCell(8), 15)
    val inside = cells.toSet
    cells.toSeq.flatMap { c =>
      H3Traversal.gridDisk(c, 1).filter(n => n != c && inside(n))
        .map(n => (c, n, 1.0 + rnd.nextInt(90) / 10.0))
    }
  }
  private val routeNodes = routeEdges.map(_._1).distinct.sorted
  private val routeOrigins = Seq.fill(4)(routeNodes(rnd.nextInt(routeNodes.size))).distinct
  private val routeDests = Seq.fill(60)(routeNodes(rnd.nextInt(routeNodes.size))).distinct

  // ---- Spark-side inputs -------------------------------------------------

  private var chainDf: DataFrame = _
  private var rankDf: DataFrame = _
  private var blockDf: DataFrame = _
  private var corpusDf: DataFrame = _
  private var clusterDf: DataFrame = _
  private var routeDf: DataFrame = _

  private def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  def generate(): Unit = {
    Seq(chainDf, rankDf, blockDf, corpusDf, clusterDf, routeDf).filter(_ != null)
      .foreach(_.unpersist(blocking = true))
    chainDf = cached(chainEdges.toDF("origin", "destination", "weight"))
    rankDf = cached(rankEdges.toSeq.toDF("src", "dst"))
    blockDf = cached(blockEdges.toSeq.toDF("src", "dst"))
    corpusDf = cached(corpusRows.toDF("doc_id", "text"))
    clusterDf = cached(clusterCells.toSeq.toDF("cell"))
    routeDf = cached(routeEdges.toDF("origin", "destination", "weight"))
  }

  def sizes: Seq[(String, Long)] = Seq(
    "chain_nodes" -> chainCells.length.toLong, "chain_edges" -> chainEdges.size.toLong,
    "rank_edges" -> rankEdges.length.toLong, "block_edges" -> blockEdges.length.toLong,
    "corpus_docs" -> corpusRows.size.toLong, "cluster_cells" -> clusterCells.length.toLong,
    "route_edges" -> routeEdges.size.toLong, "route_pairs" ->
      (routeOrigins.size * routeDests.size).toLong)

  // ---- checks ------------------------------------------------------------

  private def chainCost(o: Long, d: Long): Double =
    math.abs(prefix(chainIndex(d)) - prefix(chainIndex(o)))

  private lazy val chainWeight: Map[(Long, Long), Double] =
    chainEdges.groupBy(e => (e._1, e._2)).map { case (k, es) => k -> es.map(_._3).min }

  private lazy val routeWeight: Map[(Long, Long), Double] =
    routeEdges.groupBy(e => (e._1, e._2)).map { case (k, es) => k -> es.map(_._3).min }

  /** A path is a walk from `o` to `d` over existing edges whose weights sum
    * to `cost`. */
  private def checkWalk(w: Map[(Long, Long), Double], o: Long, d: Long,
      cost: Double, path: Seq[Long]): Unit = {
    expect(path.head == o && path.last == d, s"path ends ${path.head}->${path.last} != $o->$d")
    val sum = path.sliding(2).filter(_.size == 2).map(p => w.getOrElse((p(0), p(1)),
      throw new CheckFailed(s"path uses a missing edge ${p(0)}->${p(1)}"))).sum
    expect(close(sum, cost), s"walk weight $sum != cost $cost")
  }

  /** The p88 integer-lattice PageRank recurrence, run sequentially. */
  private lazy val refRanks: Map[Long, Long] = {
    val es = rankEdges.distinct
    val deg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length.toLong
    val tele = (15L * 1000000000L) / (100L * n)
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 3) {
      val in = mutable.LongMap.empty[Long].withDefaultValue(0L)
      es.foreach { case (s, d) => in(d) = in(d) + (r(s) * 85L) / (100L * deg(s)) }
      r = nodes.map(v => v -> (tele + in(v))).toMap
    }
    r
  }

  private def undirected(es: Array[(Long, Long)]): Set[(Long, Long)] =
    es.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet

  /** The k-core by sequential peeling. */
  private def refCore(es: Set[(Long, Long)], k: Int): Set[Long] = {
    var e = es
    var changed = true
    while (changed) {
      val deg = (e.toSeq.map(_._1) ++ e.toSeq.map(_._2)).groupBy(identity).view
        .mapValues(_.size).toMap
      val next = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next.size != e.size
      e = next
    }
    e.flatMap { case (a, b) => Seq(a, b) }
  }

  private lazy val blockUndirected = undirected(blockEdges)
  private lazy val blockCore = refCore(blockUndirected, 4)
  private lazy val blockNodes: Set[Long] = blockEdges.flatMap { case (a, b) => Seq(a, b) }.toSet

  private def longPairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  // ---- operators ---------------------------------------------------------

  def ops: Seq[Op[_, _]] = Seq(
    Op("graph", "sssp_paths") {
      H3Graph.shortestPathsIterativePaths(spark,
        H3Graph.graphFromEdgeList(chainDf, "origin", "destination", "weight"),
        ssspOrigins, pathDests, hopsPerRound = 8)
    }(_.select("origin", "destination", "cost", "path").collect()) { rows =>
      expect(rows.length == ssspOrigins.size * pathDests.size, s"${rows.length} path rows")
      rows.foreach { r =>
        val (o, d, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        expect(close(c, chainCost(o, d)), s"cost $o->$d = $c, prefix law ${chainCost(o, d)}")
        checkWalk(chainWeight, o, d, c, r.getSeq[Long](3))
      }
    },
    Op("graph", "pagerank") {
      Ranks.pageRank(rankDf, col("src"), col("dst"), iters = 3)
    }(df => longPairs(df.select("node", "rank_e9").collect())) { got =>
      val n = refRanks.size.toLong
      val mass = got.map(_._2).sum
      expect(mass <= 1000000000L && mass >= n * ((15L * 1000000000L) / (100L * n)),
        s"rank mass $mass outside the lattice bounds")
      expect(got.toMap == refRanks, "ranks differ from the sequential recurrence")
    },
    Op("graph", "lpa") {
      Communities.labelPropagation(blockDf, col("src"), col("dst"), iters = 3)
    }(df => longPairs(df.select(col("node"), col("label").cast("long")).collect())) { got =>
      expect(got.map(_._1).toSet == blockNodes, "LPA node set differs from the graph's")
      got.foreach { case (n, l) => expect(blockNodes(l), s"label $l of $n is not a member id") }
    },
    Op("graph", "kcore") {
      Cores.kCore(blockDf, col("src"), col("dst"), k = 4, rounds = 16)
    }(df => longPairs(df.select(col("node"), col("degree").cast("long")).collect())) { got =>
      val nodes = got.map(_._1).toSet
      val sub = blockUndirected.filter { case (a, b) => nodes(a) && nodes(b) }
      val deg = (sub.toSeq.map(_._1) ++ sub.toSeq.map(_._2)).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      got.foreach { case (n, d) =>
        expect(deg.getOrElse(n, 0L) >= 4 && deg(n) == d, s"survivor $n: degree $d, subgraph ${deg.get(n)}")
      }
      expect(nodes == blockCore, s"${nodes.size} survivors, sequential peel keeps ${blockCore.size}")
    },
    Op("pipeline", "near_dup_groups") {
      val pairs = Dedup.lshCandidatePairs(corpusDf, col("doc_id"), col("text"), k = 8,
        maxBucket = Int.MaxValue)
      val verified = Dedup.ngramJaccardVerify(corpusDf, col("doc_id"), col("text"),
        n = 8, threshold = 0.5, pairs)
      (verified, Dedup.nearDupGroups(corpusDf, col("doc_id"), verified))
    } { case (verified, groups) =>
      (longPairs(groups.select("doc_id", "group_id").collect()), verified)
    } { case (got, verified) =>
      val uf = new UnionFind
      longPairs(verified.select("id_a", "id_b").collect()).foreach { case (a, b) => uf.union(a, b) }
      val ref = uf.labels
      expect(got.length == corpusRows.size, s"${got.length} group rows")
      got.foreach { case (d, g) =>
        expect(g == ref.getOrElse(d, d), s"doc $d in group $g, union-find says ${ref.getOrElse(d, d)}")
      }
      expect(exactCopies.forall(c => ref.get(c._1).contains(c._1 - 100000L)),
        "an exact copy is not grouped with its original")
    },
    Op("df", "cell_clusters") {
      H3Clusters.cellClusters(clusterDf, "cell")
    }(df => longPairs(df.select("cell", "cluster").collect())) { got =>
      val uf = new UnionFind
      val set = clusterCells.toSet
      clusterCells.foreach { c =>
        uf.find(c)
        H3Traversal.gridDisk(c, 1).foreach(n => if (set(n)) uf.union(c, n))
      }
      expect(got.length == clusterCells.length, s"${got.length} cluster rows")
      got.foreach { case (c, k) => expect(k == uf.find(c), s"cell $c in cluster $k, union-find ${uf.find(c)}") }
    },
    Op("graph", "routing") {
      H3Graph.shortestPaths(spark,
        H3Graph.graphFromEdgeList(routeDf, "origin", "destination", "weight"),
        routeOrigins, routeDests)
    }(_.select("origin", "destination", "cost", "path").collect()) { rows =>
      val adj = routeEdges.groupBy(_._1).map { case (k, es) => k -> es.map(e => (e._2, e._3)) }
      val ref = routeOrigins.map(o => o -> Dijkstra.costs(adj, o)).toMap
      val reachable = for (o <- routeOrigins; d <- routeDests if ref(o).contains(d)) yield (o, d)
      expect(rows.length == reachable.size, s"${rows.length} routes, ${reachable.size} reachable pairs")
      rows.foreach { r =>
        val (o, d, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        expect(close(c, ref(o)(d)), s"route $o->$d costs $c, Dijkstra ${ref(o)(d)}")
        checkWalk(routeWeight, o, d, c, r.getSeq[Long](3))
      }
    }
  )
}
