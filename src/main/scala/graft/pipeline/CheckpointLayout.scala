package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shims

import graft.util.Barriers

/** Frames laid out by a key that every downstream consumer can trust: a
  * `HashPartitioning(key)` plus an in-partition sort, declared on a
  * checkpoint's `LogicalRDD` leaf. An iterative loop's static frames and
  * its round outputs re-read many times clustered by the same key (a round
  * join, a per-key window, a final per-key aggregate) then stream in place
  * instead of being re-shuffled and re-sorted per read.
  *
  * Every frame here is built in the caller's own session with AQE on and
  * checkpointed EAGERLY: one job, and no shared conf is ever touched, so
  * concurrent threads and downstream queries plan adaptive as usual. Under
  * AQE the checkpoint's leaf itself reports `UnknownPartitioning` (the
  * adaptive root does), so `shims.declareLayout` declares the layout of
  * the finished run's final physical plan on the leaf, mapped by position
  * onto fresh attributes, and only when it holds row by row: a
  * `HashPartitioning` over output columns with the checkpoint's partition
  * count. A frame whose final plan has no such layout (a coalesced read, a
  * projection that dropped the key) is declared nothing; downstream then
  * pays its usual exchanges, never a wrong plan.
  *
  * [[clusteredBy]] shapes a frame with `repartition(n, key)` at
  * n = `spark.sql.shuffle.partitions`: an explicit count makes the exchange
  * `REPARTITION_BY_NUM`, which AQE does not coalesce, so the layout
  * survives to the final plan. [[roundBarrierKeepingLayout]] shapes
  * nothing; it keeps whatever layout the frame's plan already has (a
  * window or round join over clustered frames). */
object CheckpointLayout {

  /** The one bound on what an operator collects to the driver: measured
    * rows at or under it run the one-operator small regime, rows past it
    * the distributed loop ([[smallRegime]]; `graft.util.DriverRegime`
    * collects). The measured frames: iterative SSSP's edge rows,
    * `cellClusters(fixedRounds = None)`'s distinct keys, the distinct edge
    * rows of PageRank/PPR, label propagation and k-core, connected
    * components' distinct bidirectional edge rows, or the pair rows of a
    * local pairs frame, and the near-dup pipeline's LSH band rows (one per
    * document and band; the pairs they enumerate are held to the bound
    * too) and `ngramJaccardVerify`'s candidate pair rows — the last four
    * for integral ids only. 1M rows of two or three longs is 16-24 MB on
    * the driver. Past the
    * bound the loops run clustered (static frames laid out once by their
    * join key, [[statSafeRecluster]]), except connected components,
    * random walks and `TextOps.classifierTrain`, which still gate the
    * layout on the size of their slim side (nodes or documents): below it
    * that side fits AQE's runtime broadcast, and clustering would only add
    * a build shuffle.
    *
    * Skew trade the clustered regime accepts: the co-partitioned round
    * join loses AQE's runtime skew-splitting, so a celebrity key's
    * partition becomes one long task instead of being split. The
    * per-round AGGREGATES still collapse hot keys map-side before their
    * shuffle (the LPA/PR contract), bounding the damage to the join's
    * probe work.
    */
  val ClusterLayoutMinRows = 1000000L

  /** [[ClusterLayoutMinRows]], overridable per session via the
    * `graft.layout.clusterMinRows` conf: a non-negative integer (0 forces
    * the loops — used by plan-shape and regime-equivalence specs; a huge
    * value disables them). Any other value is rejected. */
  def clusterMinRows(spark: SparkSession): Long = {
    val v = spark.conf.get("graft.layout.clusterMinRows", ClusterLayoutMinRows.toString)
    v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"graft.layout.clusterMinRows must be a non-negative integer, got '$v'"))
  }

  /** Whether `measured` rows are in the small regime: at or under the
    * session's [[clusterMinRows]], which must be positive (0 forces the
    * clustered regime even for an empty frame). */
  def smallRegime(spark: SparkSession, measured: Long): Boolean = {
    val bound = clusterMinRows(spark)
    bound > 0 && measured <= bound
  }

  /** `df` laid out by `key`: hash-partitioned into
    * `spark.sql.shuffle.partitions` partitions and sorted by `key` within
    * each, eagerly checkpointed (one job) with the layout declared. Its
    * leaf carries no origin statistics (the `Barriers.statSafe` contract:
    * an edges/pairs subtree routinely estimates far smaller than it runs,
    * and a tiny estimate would let the static planner broadcast-build the
    * big side of every round's join). `distinct` dedups on the same
    * shuffle: equal rows share the key, hence the partition. Free its
    * blocks with `Barriers.freeThunk` once every consumer has run.
    *
    * The payoff at scale: a loop that joins a static big frame against a
    * slim evolving frame every round stops re-shuffling AND re-sorting the
    * big side per round in the non-broadcast regime; one shuffle of the
    * big frame at build replaces O(rounds) of them. Skew note: a hot key
    * concentrates its rows in one partition, which any downstream per-key
    * consumer has anyway. */
  def clusteredBy(df: DataFrame, key: String, distinct: Boolean = false): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val clustered = df.repartition(n, col(key))
    val shaped = if (distinct) clustered.dropDuplicates() else clustered
    roundBarrierKeepingLayout(shaped.sortWithinPartitions(col(key)))._1
  }

  /** Re-lays the materialized stat-safe `frame0` out clustered by `key`
    * off its blocks (one shuffle, no recompute) and frees the original.
    * Returns the copy and its free thunk. */
  def statSafeRecluster(frame0: DataFrame, free0: () => Unit, key: String,
      distinct: Boolean = false): (DataFrame, () => Unit) = {
    val c = clusteredBy(frame0, key, distinct)
    free0()
    (c, Barriers.freeThunk(c))
  }

  /** The node-count layout gate of connected components and random walks:
    * keep the already-measured statSafe frame when `measured` (their node
    * count) is at or under the session bound; past it,
    * [[statSafeRecluster]]. Returns the frame to loop over, its free
    * thunk, and whether the clustered layout is on. */
  def statSafeReclusterIfOver(frame0: DataFrame, free0: () => Unit,
      measured: Long, key: String): (DataFrame, () => Unit, Boolean) =
    if (smallRegime(frame0.sparkSession, measured)) (frame0, free0, false)
    else {
      val (c, f) = statSafeRecluster(frame0, free0, key)
      (c, f, true)
    }

  /** Eager barrier that KEEPS whatever layout the frame's plan already
    * has, for frames built exchange-free over clustered inputs (a window
    * over a [[clusteredBy]] frame, an iterative round's co-partitioned
    * join) or ending in an aggregate keyed like the next round's join: a
    * plain `Barriers.statSafe` would lose the layout to AQE's unknown
    * partitioning, and [[clusteredBy]] would add a same-key re-shuffle.
    * The checkpoint is `Barriers.roundCheckpoint`'s (reliable every
    * `Barriers.ReliableEvery`-th `round` under `checkpointDir`, so a
    * clustered loop survives executor loss; local otherwise): it runs the
    * frame's lineage once, in the caller's session with AQE on, before
    * this returns, so the previous generation can be freed right after. Returns the frame, declared as for [[clusteredBy]], and
    * the thunk that frees its blocks (a reliable round's data lives in
    * files). */
  def roundBarrierKeepingLayout(df: DataFrame, round: Int = 0,
      checkpointDir: Option[String] = None): (DataFrame, () => Unit) = {
    val cp = Barriers.roundCheckpoint(df, round, checkpointDir)
    (shims.declareLayout(cp, df), Barriers.freeThunk(cp))
  }
}
