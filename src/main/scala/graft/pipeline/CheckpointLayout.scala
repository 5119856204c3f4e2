package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.util.Barriers.{freeAll, freeThunk}

/** Checkpoint a frame so that a `HashPartitioning(key)` + in-partition
  * sort survives into every downstream consumer — the layout a frame
  * needs when it is re-read many times clustered by the same key (an
  * iterative trainer's per-key window, an iterative loop's round joins,
  * a final per-key aggregate).
  *
  * Two Spark realities make this non-trivial:
  *
  *  1. Under AQE, `Dataset.localCheckpoint` captures the adaptive root's
  *     partitioning — `UnknownPartitioning` before the final plan exists —
  *     so the layout is lost. AQE is therefore suspended for just the
  *     checkpoint CAPTURE (checkpoints here are created lazily, so the
  *     window covers planning only, never job execution) — via a
  *     THROWAWAY SESSION CLONE whose conf has AQE off, with the captured
  *     plan re-rooted back onto the caller's session afterwards
  *     (`shims.cloneSessionWithConf`/`reRoot`/`rebindCheckpoint`; see
  *     `captureAqeOff` for why a thread-local SQLConf override cannot
  *     work on 4.1.2). No shared state is ever mutated, so downstream
  *     queries, concurrent threads, and the materializing jobs run with
  *     AQE untouched — pinned by CheckpointLayoutSpec's concurrent
  *     watcher.
  *  2. `LogicalRDD.fromDataset` copies the physical plan's
  *     outputPartitioning/outputOrdering VERBATIM — it rewrites origin
  *     statistics and constraints onto the new output attributes
  *     (`rewriteStatsAndConstraints`) but not the layout. When the
  *     optimizer collapses a redundant alias in the checkpointed subtree
  *     (`RemoveRedundantAliases`: e.g. `col("doc_id").cast("long")
  *     .as("doc_id")` over an already-long column — the cast dies to
  *     SimplifyCasts and the same-name alias dies with it), the physical
  *     output carries the ORIGINAL exprIds while the new LogicalRDD's
  *     output carries the analysis-time ones, so the captured
  *     partitioning references attributes that no longer exist and
  *     EnsureRequirements re-shuffles anyway — silently. Defused
  *     structurally: every column is re-aliased to an internal name
  *     before the repartition (a NAME-CHANGING alias is one
  *     RemoveRedundantAliases must keep) and renamed back above the
  *     checkpoint (ProjectExec is partitioning- and order-preserving
  *     through aliases). A probed double-checkpoint fallback guards
  *     shapes the rename shield cannot cover; it is expected never to
  *     run.
  */
object CheckpointLayout {

  /** Rows of the loop's SLIM evolving side (labels, ranks — one row per
    * node) above which an iterative loop's static frames are worth
    * clustering. Below it the slim side fits AQE's runtime broadcast, so
    * the big side already streams without exchanges and clustering would
    * only ADD a build shuffle and cost the rounds their adaptive plans
    * (measured: +40-70% on the sf0.1 graph-feature bench queries, whose
    * graphs are thousands of nodes). Above it the slim side no longer
    * broadcasts and every round starts re-shuffling the big frame — the
    * regime the layout exists for. 1M rows ≈ 16-24 MB of (id, value)
    * pairs, past the 10 MB default broadcast threshold with headroom;
    * same spirit as connectedComponents' driverEdgeLimit bound. Loops
    * whose slim-side size is unknowable upfront (SSSP's frontier, CC's
    * label set) gate on their big-frame row count as a proxy and say so.
    *
    * The same bound also selects the one-operator small regime of the
    * loops whose whole input fits the driver: iterative SSSP (measured
    * edge rows) and `cellClusters(fixedRounds = None)` (measured distinct
    * keys) collect their input once and replace the job-per-hop loop with
    * one broadcast-adjacency job or a driver union-find; PageRank/PPR,
    * label propagation and k-core (measured distinct edge rows) collect
    * their edges once and replay their rounds on the driver (see
    * [[smallRegime]] and `graft.util.DriverRegime`). Past the bound they
    * run their `Fixpoint` loop — SSSP always clustered, PageRank and label
    * propagation still gated on their node count as above, so their lazy
    * unclustered chain serves only dense graphs.
    *
    * Skew trade the clustered regime accepts: the co-partitioned round
    * join loses AQE's runtime skew-splitting, so a celebrity key's
    * partition becomes one long task instead of being split. The
    * per-round AGGREGATES still collapse hot keys map-side before their
    * shuffle (the LPA/PR contract), bounding the damage to the join's
    * probe work; a workload where join skew outweighs the per-round
    * shuffle savings sets the conf high to stay adaptive.
    */
  val ClusterLayoutMinRows = 1000000L

  /** [[ClusterLayoutMinRows]], overridable per session via the
    * `graft.layout.clusterMinRows` conf (0 forces the clustered regime and
    * the loops — used by plan-shape and regime-equivalence specs; a huge
    * value disables it). */
  def clusterMinRows(spark: SparkSession): Long =
    spark.conf.get("graft.layout.clusterMinRows", ClusterLayoutMinRows.toString).toLong

  /** Whether `measured` rows are in the small regime: at or under the
    * session's [[clusterMinRows]], which must be positive (0 forces the
    * clustered regime even for an empty frame). */
  def smallRegime(spark: SparkSession, measured: Long): Boolean = {
    val bound = clusterMinRows(spark)
    bound > 0 && measured <= bound
  }

  /** AQE off for the capture via a THROWAWAY SESSION CLONE, never by
    * mutating the shared session conf. `InsertAdaptiveSparkPlan` reads the
    * plan's OWN session's conf directly (bypassing `SQLConf.get`'s
    * thread-local hook — verified in the 4.1.2 bytecode), so re-rooting
    * the frame under a clone with AQE off compiles the capture
    * non-adaptive while queries planned concurrently by OTHER threads —
    * or later, downstream — keep their adaptive plans: zero shared state,
    * zero exposure window, no lock. `build` runs entirely under the
    * clone; the returned checkpoint's LogicalRDD leaf is re-bound to the
    * caller's session so nothing downstream ever plans against the
    * clone's suspended conf. Spec-pinned both ways (CheckpointLayoutSpec:
    * capture stays usable; a query planned on a second thread mid-window
    * stays adaptive and the session conf never changes). */
  private def captureAqeOff(spark: SparkSession, tagged: DataFrame)(
      build: DataFrame => (DataFrame, Seq[DataFrame])): (DataFrame, Seq[DataFrame]) = {
    val shims = org.apache.spark.sql.graft.shims
    val clone = shims.cloneSessionWithConf(spark, "spark.sql.adaptive.enabled" -> "false")
    val (ck, held) = build(shims.reRoot(tagged, clone))
    (shims.rebindCheckpoint(ck, spark), held)
  }

  private def tag(n: String) = "__ckl_" + n

  /** Core build: tag-shielded clustering checkpoint. Returns the
    * renamed-back frame plus EVERY checkpoint Dataset created (the
    * fallback's inner boundary is unreachable from the returned frame's
    * plan, so the caller's free thunk must hold it explicitly or its
    * blocks leak for the session). */
  private def clusteredByImpl(df: DataFrame, key: String,
      distinct: Boolean): (DataFrame, Seq[DataFrame]) = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    // `distinct` rides the clustering shuffle for free: dropDuplicates
    // over an input already hash-partitioned by `key` needs no further
    // exchange (equal full rows share the key, hence the partition).
    // Skew note: a hot key concentrates its rows in one partition here —
    // but any downstream per-key consumer has that profile anyway.
    def shape(base: DataFrame): DataFrame = {
      val clustered = base.repartition(col(tag(key)))
      val deduped = if (distinct) clustered.dropDuplicates() else clustered
      deduped.sortWithinPartitions(col(tag(key)))
    }
    val (ck, held) = captureAqeOff(spark, tagged) { cTagged =>
      val candidate = shape(cTagged).localCheckpoint(false)
      if (layoutIsUsable(candidate)) (candidate, Seq(candidate))
      else {
        // planning-only candidate abandoned (never materialized);
        // rebuild over an exprId-stable LogicalRDD leaf
        val inner = cTagged.localCheckpoint(false)
        val outer = shape(inner).localCheckpoint(false)
        (outer, Seq(outer, inner))
      }
    }
    (ck.select(names.map(n => col(tag(n)).as(n)): _*), held)
  }

  /** `df` checkpointed with `HashPartitioning(key)` + in-partition sort
    * by `key` guaranteed visible downstream. Lazy (materializes on first
    * action), like `localCheckpoint(eager = false)`. `distinct` dedups
    * on the same shuffle. */
  def clusteredBy(df: DataFrame, key: String, distinct: Boolean = false): DataFrame =
    clusteredByImpl(df, key, distinct)._1

  /** [[clusteredBy]] that also returns every checkpoint Dataset created
    * (head = the returned frame's own checkpoint; a second element is the
    * fallback's inner boundary, unreachable from the returned plan).
    * Callers that materialize the frame and keep it for their result's
    * lifetime can still free the TAIL to avoid leaking the fallback's
    * inner copy. */
  private[graft] def clusteredByHeld(df: DataFrame, key: String,
      distinct: Boolean = false): (DataFrame, Seq[DataFrame]) =
    clusteredByImpl(df, key, distinct)

  /** [[clusteredBy]] for the STATIC frame of an iterative loop: the
    * layout-true checkpoint with its origin statistics DROPPED (the
    * `Barriers.statSafe` contract — an edges/pairs subtree routinely
    * estimates far smaller than it runs, and a tiny estimate makes the
    * static planner broadcast-build the big side of every round's join;
    * with no origin stats the LogicalRDD reports
    * `spark.sql.defaultSizeInBytes`, so only AQE's exact runtime sizes
    * can still elect a broadcast) — plus the unpersist thunk for ALL
    * checkpoint blocks created (including the fallback's inner boundary).
    *
    * The payoff at scale: a loop that joins a static big frame against a
    * slim evolving frame every round stops re-shuffling AND re-sorting
    * the big side per round in the non-broadcast regime — each round
    * exchanges only the slim side. One shuffle of the big frame at build
    * replaces O(rounds) of them.
    */
  def statSafeClusteredBy(df: DataFrame, key: String,
      distinct: Boolean = false): (DataFrame, () => Unit) = {
    val (out, held) = clusteredByImpl(df, key, distinct)
    (org.apache.spark.sql.graft.shims.dropOriginStats(out), freeAll(held))
  }

  /** Regime-gated broadcast hint for a loop's SLIM evolving side (labels,
    * ranks, keep-sets — the r16 SSSP frontier-hint generalized): in the
    * small regime the loop's inputs are MEASURED at or under
    * [[ClusterLayoutMinRows]] (≤ 1M rows of 2-3 longs ≈ tens of MB), so
    * the slim side is broadcast-safe by measurement and the static hint
    * removes the per-round big-side exchange AQE would otherwise
    * materialize before its own runtime broadcast decision (measured on
    * SSSP: the wall of a tiny-regime loop is stage scheduling, not task
    * work). In the clustered regime the hint would broadcast an unbounded
    * frame — identity keeps the co-partitioned streaming join. */
  def slimHint(df: DataFrame, clustered: Boolean): DataFrame =
    if (clustered) df else org.apache.spark.sql.functions.broadcast(df)

  /** The dual-regime step every loop shares: keep the already-measured
    * statSafe frame when `measured` is at or under the session bound;
    * past it, re-lay the frame out clustered by `key` off its
    * materialized blocks (one shuffle, no recompute), materialize the
    * copy, and free the original. Returns the frame to loop over, its
    * free thunk, and whether the clustered regime is on (the caller
    * keys its per-round barrier choice off it). `measured` should be
    * the SLIM side's row count where the caller knows it (node count);
    * big-frame counts are an accepted proxy where it does not (SSSP
    * frontier, CC labels) — see [[ClusterLayoutMinRows]].
    */
  def statSafeReclusterIfOver(frame0: DataFrame, free0: () => Unit,
      measured: Long, key: String,
      distinct: Boolean = false): (DataFrame, () => Unit, Boolean) = {
    if (smallRegime(frame0.sparkSession, measured)) (frame0, free0, false)
    else {
      val (c, f) = statSafeClusteredBy(frame0, key, distinct)
      materialize(c) // then free the original
      free0()
      (c, f, true)
    }
  }

  /** Shuffle-free eager materialization: `Dataset.count()` would add a
    * partial-count + SinglePartition exchange job on top of the scan —
    * one pointless shuffle-writing stage PER ROUND in an iterative loop
    * (and noise in any stage-count plan pin). Counting the executed
    * plan's InternalRow RDD runs the captured plan and persists the
    * checkpoint blocks with no aggregation exchange at all. */
  private[pipeline] def materialize(ck: DataFrame): Unit = {
    ck.queryExecution.toRdd.count(); ()
  }

  /** Stat-safe lazy barrier that KEEPS whatever partitioning/ordering the
    * frame already has — no repartition of its own. For frames whose
    * build is already exchange-free over clustered inputs (a window over
    * a [[statSafeClusteredBy]] frame, an iterative round's co-partitioned
    * join output): a plain `Barriers.statSafe` would discard the layout
    * through its RDD re-wrap, and [[statSafeClusteredBy]] would insert a
    * pointless same-key re-shuffle. Same tag/rename exprId shield and
    * AQE-suspended (planning-only) capture as [[clusteredBy]]; no
    * usability probe — if the child has no layout the capture is
    * Unknown/RoundRobin and downstream simply pays its usual exchanges
    * (graceful degradation, never a wrong plan: an unusable captured
    * layout fails requirement checks and gets an exchange, it is never
    * trusted for co-location).
    *
    * CAVEAT the caller accepts: the frame's build plan is CAPTURED with
    * AQE off, so that one query executes non-adaptive when it later
    * materializes. Meant for slim or already-clustered intermediates
    * whose plans are exchange-free or single-aggregate — not for plans
    * that want AQE's runtime broadcast/skew decisions (checkpoint those
    * plainly first, then cluster off the leaf).
    */
  def statSafeKeepingLayout(df: DataFrame): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    val (ck, _) = captureAqeOff(spark, tagged) { t =>
      val c = t.localCheckpoint(false); (c, Seq(c))
    }
    val out = ck.select(names.map(n => col(tag(n)).as(n)): _*)
    (org.apache.spark.sql.graft.shims.dropOriginStats(out), freeThunk(ck))
  }

  /** EAGER layout-keeping round barrier for the clustered regime of an
    * iterative loop (reached through `Fixpoint.fixedRounds`) —
    * [[statSafeKeepingLayout]] plus the round-barrier durability contract: every
    * `Barriers.ReliableEvery`-th round writes a reliable checkpoint that
    * survives executor loss (a localCheckpoint-only chain cannot
    * recompute lost blocks — the CC lesson applied to rank/LPA), other
    * rounds stay on cheap local blocks. The checkpoint is CREATED lazily
    * inside the suspended-AQE window (planning only) and materialized by
    * an explicit count AFTER the conf is restored, so the round's job
    * never executes inside the window; eager-by-count so the PREVIOUS
    * generation's blocks can be freed as soon as this returns. Returns
    * the frame plus that unpersist thunk (no-op effect on reliable
    * rounds — their data lives in files).
    */
  def roundBarrierKeepingLayout(df: DataFrame, round: Int,
      checkpointDir: Option[String]): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    val reliable = checkpointDir.isDefined &&
      round % graft.util.Barriers.ReliableEvery == graft.util.Barriers.ReliableEvery - 1
    val (ck, _) = captureAqeOff(spark, tagged) { t =>
      val c =
        if (reliable) {
          graft.util.Barriers.ensureCheckpointDir(spark.sparkContext, checkpointDir.get)
          t.checkpoint(false)
        } else t.localCheckpoint(false)
      (c, Seq(c))
    }
    if (reliable) {
      // RDD.doCheckpoint re-RUNS the checkpoint-marked RDD after the
      // materializing action to write its files — without a persist the
      // round's full lineage executes twice (the
      // Barriers.roundBarrierCountingFreeable lesson). Cache the marked
      // RDD for the window between the two jobs, then drop the blocks:
      // reads afterwards come off the checkpoint files.
      val marked = ck.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd
      }
      marked.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      materialize(ck) // outside the window (the plan is already captured)
      marked.foreach(_.unpersist(blocking = false))
    } else materialize(ck)
    val out = ck.select(names.map(n => col(tag(n)).as(n)): _*)
    (org.apache.spark.sql.graft.shims.dropOriginStats(out), freeThunk(ck))
  }

  /** The double-materialization fallback shape, exposed for the spec: an
    * inner lazy checkpoint whose LogicalRDD leaf gives the outer
    * clustering shape a subtree with no aliases to collapse, so the
    * capture is stable by construction. The PRODUCTION fallback path
    * (inside [[clusteredBy]]) additionally keeps the inner frame in its
    * free thunk — this spec-facing variant leaks the inner copy and must
    * not be used outside tests. */
  private[pipeline] def stableBoundaryCheckpoint(df: DataFrame,
      shape: DataFrame => DataFrame): DataFrame =
    captureAqeOff(df.sparkSession, df) { d =>
      val c = shape(d.localCheckpoint(false)).localCheckpoint(false)
      (c, Seq(c))
    }._1

  /** The checkpoint's captured layout references its own output (and is
    * a real partitioning, not Unknown/single-partition degenerate).
    */
  private def layoutIsUsable(ck: DataFrame): Boolean =
    ck.queryExecution.analyzed.collectFirst { case l: LogicalRDD =>
      val out = AttributeSet(l.output)
      val partRefs = l.outputPartitioning match {
        // HashPartitioning is an Expression; Unknown/SinglePartition are not
        case e: org.apache.spark.sql.catalyst.expressions.Expression => e.references
        case _ => AttributeSet.empty
      }
      partRefs.nonEmpty && partRefs.subsetOf(out) &&
        l.outputOrdering.forall(_.references.subsetOf(out))
    }.getOrElse(false)
}
