package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.shims

/** Lineage barriers for iterative DataFrame loops (distributed connected
  * components, label propagation, SSSP relaxation). Each round must cut
  * lineage or the plan doubles per iteration; `localCheckpoint` does that
  * but at executor-block durability only — an executor loss mid-iteration
  * invalidates its blocks AND the truncated lineage can no longer
  * recompute them, killing the job. On long 100-TB runs the loops
  * therefore accept an optional reliable-checkpoint directory (HDFS/S3):
  * every [[ReliableEvery]]-th round writes a reliable `checkpoint` that
  * survives executor death (Spark documents reliable checkpointing for
  * exactly this long-lineage iterative case); intermediate rounds stay on
  * the cheap local path, bounding re-computation after a failure to at
  * most [[ReliableEvery]] rounds. Without a directory every round uses
  * `localCheckpoint` — the fast single-box default. Every barrier is a
  * Dataset checkpoint with its origin statistics dropped
  * ([[statSafeOf]]), so a loop keeps Catalyst's internal rows end to
  * end. */
object Barriers {
  /** Cadence of reliable checkpoints within an iterative loop. */
  val ReliableEvery = 5

  /** Install `dir` as the session's reliable-checkpoint directory unless
    * it already points there. The previous only-if-empty policy silently
    * kept writing to whatever directory the FIRST loop of a long-lived
    * session installed — a later caller's explicit `checkpointDir` was
    * ignored. `getCheckpointDir` returns the installed path plus a random
    * UUID child, hence the containment test. */
  private[graft] def ensureCheckpointDir(sc: org.apache.spark.SparkContext, dir: String): Unit = {
    // the installed dir is `setCheckpointDir`'s argument plus a random
    // UUID child, so compare the PARENT of the current dir — a bare
    // prefix test would false-positive on siblings sharing a string
    // prefix (/data/ckpt vs /data/ckpt-old). Scheme/authority must match
    // too when the request specifies one (hdfs:// vs file:/ are
    // different filesystems at the same path).
    val want = new org.apache.hadoop.fs.Path(dir)
    val matches = sc.getCheckpointDir.exists { cur =>
      val parent = new org.apache.hadoop.fs.Path(cur).getParent
      parent != null &&
        parent.toUri.getPath == want.toUri.getPath &&
        (want.toUri.getScheme == null ||
          (want.toUri.getScheme == parent.toUri.getScheme &&
            want.toUri.getAuthority == parent.toUri.getAuthority))
    }
    if (!matches) sc.setCheckpointDir(dir)
  }

  /** Unpersist thunk for a checkpointed frame: unpersists every RDD inside
    * a `LogicalRDD` leaf of its plan — the persisted RDD is the one inside
    * the checkpoint's leaf; unpersisting a derived wrapper's .rdd would
    * drop a wrapper and leak the actual blocks. Call only after every
    * consumer of the frame has been materialized (the truncated lineage
    * cannot recompute freed blocks); an unexpected plan shape leaks rather
    * than misfrees. */
  private[graft] def freeThunk(cp: DataFrame): () => Unit =
    () => try {
      cp.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () } // leak, don't fail

  /** One [[freeThunk]] over every frame in `held`. */
  private[graft] def freeAll(held: Seq[DataFrame]): () => Unit =
    () => held.foreach(f => freeThunk(f)())

  /** Stat-safe lazy barrier: `localCheckpoint(eager = false)` with the
    * checkpoint's origin statistics dropped (`shims.dropOriginStats`). A
    * plain lazy localCheckpoint KEEPS the origin plan's estimated
    * statistics — and a pairs/edges subtree (distinct over an exploded
    * band join) routinely estimates far SMALLER than it runs, which lets
    * the static planner elect a BroadcastHashJoin whose build side is
    * actually tens of millions of rows: measured as a rebuilt-every-round
    * 10M-row broadcast inside connected components (248 s of p61's 30×
    * probe) and an outright `notEnoughMemoryToBuildAndBroadcastTable`
    * failure on p62 at 30×. With no origin stats the leaf reports
    * `spark.sql.defaultSizeInBytes` (huge), so only AQE's RUNTIME sizes —
    * which are exact — can still choose a broadcast. Use for any frame
    * whose size estimate is untrustworthy and that feeds a join. The leaf
    * keeps the source's column exprIds; joins against frames derived from
    * the same source resolve as for any checkpoint. */
  def statSafe(df: DataFrame): DataFrame = statSafeFreeable(df)._1

  /** [[statSafe]] that also returns an unpersist thunk, for intra-round
    * intermediates that are dead once the round's action has run — same
    * call-after-every-consumer-materialized contract as [[freeThunk]]. */
  def statSafeFreeable(df: DataFrame): (DataFrame, () => Unit) =
    statSafeOf(df.localCheckpoint(eager = false))

  /** EAGER [[statSafe]] whose blocks can be FREED: returns the stat-safe
    * frame plus a thunk that unpersists the generation's checkpoint
    * blocks. For foreachBatch loops that supersede a cumulative frame
    * every epoch (streaming triangle counting's accumulated graph) —
    * without freeing, every epoch's localCheckpoint blocks survive for
    * the stream's lifetime. Eager: the blocks exist before this returns,
    * so the PREVIOUS generation can be freed immediately after. Call the
    * thunk only once every consumer of the frame has been materialized —
    * the lineage behind the blocks is truncated, so a recompute after
    * unpersist fails loudly rather than silently rescanning. */
  def generation(df: DataFrame): (DataFrame, () => Unit) =
    statSafeOf(df.localCheckpoint(eager = true))

  /** The eager checkpoint of loop round `round` (0-based): a reliable
    * `checkpoint` every [[ReliableEvery]]-th round under `checkpointDir`,
    * a `localCheckpoint` otherwise. Either runs the lineage once, in one
    * job, before it returns; a reliable round's data lives in files and
    * pins no block. */
  private[graft] def roundCheckpoint(df: DataFrame, round: Int,
      checkpointDir: Option[String]): DataFrame = checkpointDir match {
    case Some(dir) if round % ReliableEvery == ReliableEvery - 1 =>
      ensureCheckpointDir(df.sparkSession.sparkContext, dir)
      df.checkpoint(eager = true)
    case _ => df.localCheckpoint(eager = true)
  }

  /** The checkpoint `cp` with its origin statistics dropped, and the
    * thunk that frees its blocks: every barrier of the loops ends here. */
  private[graft] def statSafeOf(cp: DataFrame): (DataFrame, () => Unit) =
    (shims.dropOriginStats(cp), freeThunk(cp))
}
