package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.TextOps.md5Long
import graft.util.Barriers

/**
 * Deterministic random walks on a link graph — the corpus-generation
 * step of DeepWalk (Perozzi et al. KDD'14) / node2vec (Grover &
 * Leskovec KDD'16): emit one fixed-length walk per start node; the
 * walk sequences are the "sentences" a downstream embedding trainer
 * consumes.
 *
 * Determinism: step `t` from node `c` in walk `w` takes the
 * `md5(w|t|c) mod deg(c)`-th neighbor in neighbor-id order — a
 * hash-driven choice instead of an RNG, so walks are independent and
 * uniform per step yet EXACTLY replayable in any engine and invariant
 * under partitioning (the SQL oracle unrolls the steps verbatim).
 *
 * Scale shape per step: the walk frontier joins a slim `(node, deg)`
 * frame to compute the neighbor INDEX first, then equi-joins the
 * ranked adjacency on `(node, index)` — so a walk visiting a
 * 10⁸-degree hub touches exactly ONE adjacency row, never the
 * neighbor list (ranking the adjacency once up front is a
 * row_number window by source node, the only corpus-sized shuffle).
 * Walk count scales with nodes, steps are a fixed loop — at 100 TB
 * this is `steps` bounded self-equi-joins, nothing quadratic.
 */
object Walks {

  /**
   * One `steps`-step walk from every node of the undirected simple
   * graph of `edges`. Returns `(walk_id, s0..s{steps})` where
   * `walk_id = s0 =` the start node. Every node reached has degree
   * ≥ 1 by construction (it appears in an edge), so walks never
   * strand.
   */
  def walks(edges: DataFrame, src: Column, dst: Column, steps: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val e = Triangles.canonicalEdges(edges, src, dst)
    // Dual-regime layout (see CheckpointLayout.ClusterLayoutMinRows):
    // small graphs keep the fully-adaptive statSafe frames (adj/deg
    // broadcast into each step). Past the bound, the undirected frame is
    // clustered by node ONCE — the neighbor-index window and the degree
    // aggregate then run exchange-free over it, and each step's two
    // joins (degree lookup, then neighbor pick on the SAME current-node
    // key) stream the static sides in place, so a step's only exchange
    // is the walk frame moving to its new key.
    val (und0, freeUnd0) = Barriers.statSafeFreeable(
      e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b"))))
    // Gate on the SLIM side (one walk row per node), not the adjacency —
    // adjacency rows are 2x edges and over-trigger the clustered regime
    // on dense graphs. The distinct node frame IS the walk-init frame,
    // so the gate's aggregate is reused, not redundant; its count also
    // materializes und0, which the degree/adjacency builds need anyway.
    val (nodes0, freeNodes0) = Barriers.statSafeFreeable(
      und0.select(col("a").as("walk_id")).distinct())
    val nNodes = nodes0.count()
    val (und, freeUnd, cluster) =
      graft.pipeline.CheckpointLayout.statSafeReclusterIfOver(
        und0, freeUnd0, measured = nNodes, key = "a")
    // Unlike the round loops (PR/LPA/CC/SSSP), walks materializes no
    // per-round generations: the steps are a fixed-depth lazy join tree
    // over three STATIC checkpoints (adj/deg/w0), and the executor-loss
    // durability parameter applies to those. With `checkpointDir` set, the
    // clustered regime writes them as RELIABLE file checkpoints
    // (roundBarrierKeepingLayout with the cadence position pinned to the
    // reliable slot) instead of local blocks. Every barrier is eager, so
    // once adj/deg/w0 exist the clustered und copy and nodes0 can go.
    def barrier(df: DataFrame): DataFrame =
      if (cluster) graft.pipeline.CheckpointLayout.roundBarrierKeepingLayout(
        df, Barriers.ReliableEvery - 1, checkpointDir)._1
      else Barriers.statSafe(df)
    val adj = barrier(
      und.select(col("a"), col("b"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("a")).orderBy(col("b"))) - 1).cast("long").as("rn")))
    val deg = barrier(und.groupBy(col("a")).agg(count(lit(1)).as("deg")))

    var w: DataFrame =
      if (cluster) {
        // w0 lives in the result's lineage (step 1 reads it); the durable
        // variant copies it to files and frees the clustered blocks
        val w0c = graft.pipeline.CheckpointLayout.clusteredBy(nodes0, key = "walk_id")
        val w0 =
          if (checkpointDir.isEmpty) w0c
          else { val ck = barrier(w0c); Barriers.freeThunk(w0c)(); ck }
        freeNodes0(); freeUnd()
        w0.select(col("walk_id"), col("walk_id").as("s0"))
      } else nodes0.select(col("walk_id"), col("walk_id").as("s0"))
    for (t <- 1 to steps) {
      val cur = col(s"s${t - 1}")
      val idx = pmod(md5Long(concat(col("walk_id").cast("string"),
        lit(s"|$t|"), cur.cast("string"))), col("deg"))
      w = w.join(deg, w(s"s${t - 1}") === deg("a"))
        .withColumn("__idx", idx)
        .drop("a", "deg")
        .join(adj, cur === adj("a") && col("__idx") === adj("rn"))
        .withColumn(s"s$t", col("b"))
        .drop("a", "b", "rn", "__idx")
    }
    w
  }

  /**
   * Skip-gram co-occurrence statistics over a walk corpus — the
   * word2vec-style association table trained from [[walks]] output
   * ("sentences" of nodes): unordered node pairs within `window`
   * positions, with pointwise mutual information
   * `PMI = ln(c(a,b)·T / (c(a)·c(b)))` where `c(a)` counts slot
   * occurrences and `T` total pair instances. High-PMI pairs are
   * same-community nodes; the (node, node, pmi) frame is exactly what
   * an embedding trainer's negative-sampling objective approximates
   * (Levy & Goldberg, NeurIPS'14).
   *
   * Engine-exactness: counts are integers; the single ln argument is
   * formed by one double multiply/divide chain in a fixed order and
   * floor-quantized to the e4 lattice immediately (the LM-score
   * discipline). `T` is one driver long (bounded-frame contract).
   * Scale: one explode of 7 struct pairs per walk row, one pair count
   * with map-side partials, one slot-marginal aggregate off the
   * counted frame (distinct-pair-sized), two joins back on node id.
   */
  def walkPmi(walkFrame: DataFrame, steps: Int, window: Int): DataFrame = {
    require(steps >= 1 && window >= 1)
    val combos = for { i <- 0 to steps; j <- (i + 1) to math.min(i + window, steps) }
      yield (i, j)
    val pairArr = array(combos.map { case (i, j) =>
      struct(least(col(s"s$i"), col(s"s$j")).as("u"),
        greatest(col(s"s$i"), col(s"s$j")).as("v"))
    }: _*)
    val pc = Barriers.statSafe(
      walkFrame.select(explode(pairArr).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_cooc")))
    // sum over an EMPTY pair frame is one NULL row — an empty walk
    // corpus must yield an empty result, not an NPE
    val totalRow = pc.agg(sum(col("n_cooc"))).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val marg = Barriers.statSafe(
      pc.select(col("u").as("n"), col("n_cooc"))
        .unionAll(pc.select(col("v").as("n"), col("n_cooc")))
        .groupBy(col("n")).agg(sum(col("n_cooc")).as("cn")))
    pc.join(marg.select(col("n").as("u"), col("cn").as("cu")), Seq("u"))
      .join(marg.select(col("n").as("v"), col("cn").as("cv")), Seq("v"))
      .select(col("u"), col("v"), col("n_cooc"),
        floor(log(col("n_cooc").cast("double") * lit(total.toDouble)
            / (col("cu").cast("double") * col("cv").cast("double")))
          * 10000.0 + 0.5).cast("long").as("pmi_e4"))
  }
}
