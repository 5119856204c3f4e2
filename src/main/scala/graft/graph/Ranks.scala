package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, DriverRegime, Fixpoint}

/**
 * Link-graph authority ranking — the URL/domain-ranking step of a crawl
 * curation pipeline (Common Crawl publishes exactly this artifact for
 * its host graph; curation recipes weight documents by it).
 *
 * PageRank on the e9 INTEGER lattice: ranks are int64 billionths, and
 * one iteration is
 * `r'(v) = tele + Σ_{u→v} (r(u) * dampNum) div (dampDen * outdeg(u))`
 * with `tele = ((dampDen-dampNum) * 1e9) div (dampDen * n)` — every term
 * integral division of longs, NO floating point anywhere, so the result
 * is bit-identical in any engine and under any partitioning/summation
 * order, and a SQL oracle replays iterations verbatim. (Classic PR
 * normalizes dangling mass; here dangling mass simply decays — fine for
 * RANKING, which only needs the order, and exactly replayable.)
 *
 * Scale shape: the distinct edge frame is measured first. At or under
 * the layout bound (`CheckpointLayout.smallRegime`) it is collected once
 * and the rounds are replayed on the driver over primitive arrays — no
 * job per round, the result a local relation that collects without a
 * job. Past it, per
 * iteration: one equi-join of ranks onto the (src-keyed,
 * checkpointed-once) edge+outdeg frame, one map-side-combined sum by
 * dst, one left join back to the node set — all hash-partitioned by node
 * id, no broadcast of anything corpus-sized. Those rounds run through
 * [[Fixpoint.fixedRounds]], whose stat-safe barriers keep Catalyst's
 * size-only stats from electing a stale broadcast inside the loop (the
 * connected-components lesson).
 */
object Ranks {

  /** Returns `(node, rank_e9)` for every node appearing as src or dst.
    * `checkpointDir` (clustered regime only): reliable-checkpoint cadence
    * for executor-loss durability, as in connectedComponents. */
  def pageRank(edges: DataFrame, src: Column, dst: Column, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointDir: Option[String] = None): DataFrame =
    rankLoop(edges, src, dst, iters, dampNum, dampDen, checkpointDir, seeds = None)

  /** The shared body of [[pageRank]] / [[personalizedPageRank]]: the
    * distinct edges are measured, then ranked on the driver
    * ([[ranksLocal]]) at or under the layout bound and by the loop
    * ([[ranksLoop]]) past it. `seeds` is the ONLY place the two ranks
    * differ: None teleports to every node (the lattice mass is split over
    * the node count), Some to the seed set (split over `seeds.length`,
    * duplicates counted; membership is set membership). */
  private def rankLoop(edges: DataFrame, src: Column, dst: Column, iters: Int,
      dampNum: Long, dampDen: Long, checkpointDir: Option[String],
      seeds: Option[Seq[Long]]): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen")
    val (e0, freeE0) = Barriers.statSafeFreeable(
      edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
        // a NULL endpoint is not an edge (the other graph ops drop them
        // via canonicalEdges' null-propagating comparisons; same contract)
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    // (initial rank, teleport) of a teleport target, over `n` nodes
    def lattice(n: Long): (Long, Long) = {
      val m = seeds.fold(n)(_.length.toLong)
      (1000000000L / m, ((dampDen - dampNum) * 1000000000L) / (dampDen * m))
    }
    DriverRegime.collectIfSmall(e0, freeE0) match {
      case Some(rows) =>
        DriverRegime.frame(edges.sparkSession, ranksLocal(DriverRegime.Edges(rows, "src", "dst"),
          iters, dampNum, dampDen, seeds.map(_.toSet), lattice), RankSchema)
      case None =>
        ranksLoop(e0, freeE0, iters, dampNum, dampDen, checkpointDir, lattice) { v =>
          seeds.fold(lit(v))(s => when(col("node").isin(s: _*), lit(v)).otherwise(lit(0L)))
        }
    }
  }

  private val RankSchema = StructType(Seq(
    StructField("node", LongType), StructField("rank_e9", LongType)))

  /** The small regime of [[rankLoop]]: the loop's rounds replayed over the
    * collected distinct edges — per source one term
    * `(r * dampNum) div (dampDen * outdeg)` per round, summed into each
    * destination over its in-edges, plus the teleport of a target. */
  private def ranksLocal(g: DriverRegime.Edges, iters: Int, dampNum: Long,
      dampDen: Long, seeds: Option[Set[Long]],
      lattice: Long => (Long, Long)): Seq[Row] = {
    if (g.nodes == 0) return Nil
    val (init, tele) = lattice(g.nodes.toLong)
    val target = g.ids.map(v => seeds.forall(_.contains(v)))
    val deg = new Array[Long](g.nodes)
    g.src.foreach(u => deg(u) += 1)
    var r = target.map(t => if (t) init else 0L)
    for (_ <- 1 to iters) {
      val term = Array.tabulate(g.nodes) { u =>
        if (deg(u) == 0) 0L
        else Math.multiplyExact(r(u), dampNum) / Math.multiplyExact(dampDen, deg(u))
      }
      val next = target.map(t => if (t) tele else 0L)
      for (i <- 0 until g.size) next(g.dst(i)) += term(g.src(i))
      r = next
    }
    g.ids.indices.map(i => Row(g.ids(i), r(i)))
  }

  /** The loop regime of [[rankLoop]] over the measured edge barrier `e0`:
    * out-degree frame + node set, then per round one equi-join, one
    * map-side-combined sum by dst, one left join back — statSafe barriers
    * throughout so size-only stats can never elect a stale broadcast
    * inside the loop. `targeted(v)` is `v` on a teleport target and 0
    * elsewhere. */
  private def ranksLoop(e0: DataFrame, freeE0: () => Unit, iters: Int, dampNum: Long,
      dampDen: Long, checkpointDir: Option[String], lattice: Long => (Long, Long))(
      targeted: Long => Column): DataFrame = {
    // The edge frame is re-laid-out ONCE off its materialized checkpoint
    // clustered by src (the degree window rides it exchange-free), the
    // nodes by node, and round outputs keep their hash(node)+sorted layout
    // through the barrier, making every round's two joins co-partitioned:
    // the ONLY per-round exchange is the map-side-combined contribution
    // sum. Stats are dropped at every barrier (the statSafe contract).
    val (nodes0, freeNodes0) = Barriers.statSafeFreeable(
      e0.select(col("src").as("node")).unionAll(e0.select(col("dst").as("node")))
        .distinct())
    val n = nodes0.count()
    // empty graph: no nodes to rank (and the teleport would divide by 0).
    // nodes0.count() has already materialized e0's checkpoint blocks, and
    // the returned frame reads only nodes0 — free e0 here or its blocks
    // stay pinned for the session (nodes0 must stay: the result reads it).
    if (n == 0L) {
      freeE0()
      return nodes0.select(col("node"), col("node").as("rank_e9"))
    }
    val (e, freeE) = CheckpointLayout.statSafeRecluster(e0, freeE0, key = "src")
    val (nodes, freeNodes) = CheckpointLayout.statSafeRecluster(nodes0, freeNodes0, key = "node")
    val (withDeg, freeWithDeg) = CheckpointLayout.roundBarrierKeepingLayout(
      e.withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    val (init, tele) = lattice(n)
    val (ranks0, freeRanks0) = CheckpointLayout.roundBarrierKeepingLayout(
      nodes.select(col("node"), targeted(init).as("r")))
    Fixpoint.fixedRounds(ranks0, freeRanks0, iters, checkpointDir,
        release = () => { freeE(); freeNodes(); freeWithDeg() }) { ranks =>
      val contrib = withDeg.join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr(s"(r * $dampNum) div ($dampDen * deg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (targeted(tele) + coalesce(col("s"), lit(0L))).as("r"))
    }.select(col("node"), col("r").as("rank_e9"))
  }

  /**
   * Personalized PageRank (Jeh & Widom, WWW'03): teleport mass returns
   * only to the SEED set, so rank measures proximity to the seeds —
   * the crawl-frontier prioritization / trusted-seed propagation shape
   * (TrustRank, Gyöngyi et al. VLDB'04). Same e9 integer lattice and
   * iteration plan as [[pageRank]] (one join + one map-side-combined
   * sum + one left join per round, nothing corpus-sized broadcast);
   * the seed membership test is a tiny literal IN-list (seeds are a
   * handful of trusted hosts, never corpus-sized — a large seed frame
   * would become a broadcast join on node id, same plan shape).
   */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
      seeds: Seq[Long], iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(seeds.nonEmpty, "need a non-empty seed set")
    rankLoop(edges, src, dst, iters, dampNum, dampDen, checkpointDir, Some(seeds))
  }
}
