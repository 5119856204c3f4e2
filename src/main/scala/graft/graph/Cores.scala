package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, DriverRegime, Fixpoint}

/**
 * Bounded-round k-core peeling (Seidman 1983; the distributed peel of
 * Montresor et al. 2013) — the "dense-core" signal of link-graph
 * curation: a k-core surviving high k is a tightly-linked cluster
 * (forum, wiki farm, link ring) that mixing rules treat as one source.
 *
 * Each round removes every node whose CURRENT degree is below `k`
 * (synchronously — all of a round's degrees are measured before any
 * removal), then drops edges touching removed nodes. A fixed `rounds`
 * budget makes the operator a finite relational program: identical
 * results in any engine, SQL oracle unrolls rounds verbatim. (The true
 * k-core is the fixpoint; on real graphs peeling converges in a few
 * rounds — the loop detects the fixpoint from the per-round survivor
 * count and skips the remaining no-op rounds, so a generous budget
 * costs nothing.)
 *
 * Scale shape: the canonical edge frame is measured first. At or under
 * the layout bound (`CheckpointLayout.smallRegime`) it is collected once
 * and the peel is replayed on the driver over primitive arrays — no job
 * per round, the result a parallelized frame. Past it, per round: one
 * degree aggregate (map-side combinable) and two semi-joins of the edge
 * frame against the slim survivor set, all hash-partitioned on node ids;
 * the edge frame only ever SHRINKS.
 */
object Cores {

  /** Nodes of the `rounds`-round k-core: `(node, degree)` with the
    * degree measured in the surviving subgraph.
    *
    * At or under the layout bound the peel runs on the driver
    * ([[coreLocal]]); past it, rounds run through [[Fixpoint.converge]]:
    * eager, with the superseded edge generation's blocks freed as soon as
    * its successor is materialized (a lazy chain pins every generation —
    * `rounds` × edge-frame memory, the LayoutScaleProbe lesson). The row
    * count rides
    * the materializing job's accumulator for free and doubles as a
    * FIXPOINT exit: `e` only ever shrinks under the semi-joins, so an
    * unchanged count means an unchanged set and every remaining round is
    * a no-op — results are identical to running the full budget
    * (spec-pinned). `checkpointDir` gives the loop the same executor-loss
    * durability cadence as CC/LPA/PR (a reliable file checkpoint every
    * [[Barriers.ReliableEvery]]-th round; local blocks otherwise). */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
      rounds: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got $k/$rounds")
    val (e0, freeE0) = Barriers.statSafeFreeable(Triangles.canonicalEdges(edges, src, dst))
    DriverRegime.collectIfSmall(e0, freeE0) match {
      case Some(g) => DriverRegime.frame(edges.sparkSession, coreLocal(g, k, rounds), CoreSchema)
      case None => coreLoop(e0, freeE0, k, rounds, checkpointDir)
    }
  }

  private val CoreSchema = StructType(Seq(
    StructField("node", LongType), StructField("degree", LongType)))

  /** The small regime of [[kCore]]: the loop's peel replayed over the
    * collected canonical edges, with the loop's exit — at most `rounds`
    * rounds, stopping early once a round keeps every edge. */
  private def coreLocal(g: DriverRegime.Edges, k: Int, rounds: Int): Seq[Row] = {
    def degrees(alive: Array[Int]): Array[Long] = {
      val deg = new Array[Long](g.nodes)
      alive.foreach { i => deg(g.src(i)) += 1; deg(g.dst(i)) += 1 }
      deg
    }
    var alive = Array.range(0, g.size)
    var round = 0
    var changed = true
    while (changed && round < rounds) {
      val deg = degrees(alive)
      val next = alive.filter(i => deg(g.src(i)) >= k && deg(g.dst(i)) >= k)
      changed = next.length != alive.length
      alive = next
      round += 1
    }
    val deg = degrees(alive)
    g.ids.indices.collect { case i if deg(i) > 0 => Row(g.ids(i), deg(i)) }
  }

  /** The loop regime of [[kCore]] over the measured canonical edge barrier
    * `e0`. */
  private def coreLoop(e0: DataFrame, freeE0: () => Unit, k: Int, rounds: Int,
      checkpointDir: Option[String]): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val e = Fixpoint.converge(e0, freeE0, rounds, checkpointDir,
        stop = Fixpoint.sameCount) { (e, prevRows) =>
      val (keep, freeKeep) = Barriers.statSafeFreeable(
        degrees(e).filter(col("deg") >= k).select(col("n")))
      // slim-side hint (CheckpointLayout.slimHint): the loop starts with
      // its edges over the cluster bound (under it the peel ran on the
      // driver) and the edge frame only shrinks, so the previous round's
      // measured row count stands in — round 0 runs unhinted, and from
      // round 1 the keep set (≤ distinct nodes ≤ 2× the measured edges)
      // broadcasts when the survivors are measured under the bound. A
      // shrinking frame can only ENTER the hinted regime.
      // ONE broadcast frame serves BOTH semi-joins: the u- and v-joins
      // reference the same subtree, so exchange reuse builds the keep
      // set's broadcast once per round (the former per-side `.as(c)`
      // aliases made the subtrees canonically distinct and the broadcast
      // was built twice).
      val bound = CheckpointLayout.clusterMinRows(e.sparkSession)
      val big = prevRows < 0 || bound <= 0 || prevRows > bound
      val hintedKeep = CheckpointLayout.slimHint(keep, clustered = big)
      Fixpoint.Round(
        e.join(hintedKeep, col("u") === col("n"), "leftsemi")
          .join(hintedKeep, col("v") === col("n"), "leftsemi")
          .select(col("u"), col("v")),
        Fixpoint.everyRow, Seq(freeKeep))
    }.frame
    degrees(e).select(col("n").as("node"), col("deg").as("degree"))
  }
}
