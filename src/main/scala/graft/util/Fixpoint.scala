package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.pipeline.CheckpointLayout

/** The round machinery of every iterative DataFrame loop (k-core, connected
  * components, cell clusters, SSSP relaxation and walk, PageRank, label
  * propagation): the barrier per round, freeing the generation a round
  * supersedes, the reliable-checkpoint cadence, the convergence count and
  * the round cap. A loop supplies only its step; broadcast hints and any
  * other plan choice stay inside the step.
  *
  * Two disciplines:
  *  - [[converge]]: every round is ONE eager job that materializes the
  *    step's frame and counts its changed rows through an accumulator
  *    (`Barriers.roundBarrierCountingFreeable`); the loop stops at its
  *    stop rule or at `maxRounds`.
  *  - [[fixedRounds]]: a fixed number of rounds; a lazy stat-safe chain in
  *    the small regime, an eager layout-keeping barrier per round in the
  *    clustered one (`CheckpointLayout.roundBarrierKeepingLayout`).
  *
  * Blocks held at any moment in an eager loop: the current generation
  * (plus the caller's static frames), not one generation per round. */
object Fixpoint {

  /** A per-row change test bound BY NAME to the schema of the frame being
    * barriered, so a step may emit its columns in any order. */
  type Changed = StructType => Row => Boolean

  /** Rows whose columns `a` and `b` hold different values. */
  def differs(a: String, b: String): Changed = { schema =>
    val (i, j) = (schema.fieldIndex(a), schema.fieldIndex(b))
    r => r.get(i) != r.get(j)
  }

  /** Every row counts: the round's count is its row count. */
  val everyRow: Changed = _ => _ => true

  /** Stop rules over (this round's count, the previous round's count; -1
    * before the first round). */
  type Stop = (Long, Long) => Boolean
  val noChange: Stop = (n, _) => n == 0L
  /** For a frame that only shrinks: an unchanged row count is an
    * unchanged frame, so every further round is a no-op. */
  val sameCount: Stop = (n, prev) => n == prev

  /** One converging round: the frame to barrier, its change test, and the
    * free thunks of the round's intermediates (dead once the barrier has
    * materialized the frame). */
  final case class Round(frame: DataFrame, changed: Changed,
      intermediates: Seq[() => Unit] = Nil)

  /** The final generation, its free thunk (call once nothing reads the
    * frame any more), the rounds run, and whether the stop rule fired. */
  final case class Result(frame: DataFrame, free: () => Unit, rounds: Int,
      converged: Boolean)

  /** Run `step` from `init` until `stop` holds or `maxRounds` rounds have
    * run. `step` receives the current generation and the previous round's
    * count (-1 before the first round). After each round's job the round's
    * intermediates and the superseded generation (first `freeInit`) are
    * freed. `release` frees the caller's static frames once at least one
    * round has run — the final generation is then its own checkpoint and
    * no longer reads them. */
  def converge(init: DataFrame, freeInit: () => Unit, maxRounds: Int,
      checkpointDir: Option[String], stop: Stop = noChange,
      release: () => Unit = () => ())(step: (DataFrame, Long) => Round): Result = {
    var state = init
    var free = freeInit
    var prev = -1L
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val r = step(state, prev)
      val (next, n, freeNext) = Barriers.roundBarrierCountingFreeable(
        r.frame, rounds, checkpointDir)(r.changed(r.frame.schema))
      r.intermediates.foreach(_())
      free()
      state = next
      free = freeNext
      converged = stop(n, prev)
      prev = n
      rounds += 1
    }
    if (rounds > 0) release()
    Result(state, free, rounds, converged)
  }

  /** Run `rounds` rounds of `step` from `init`. Small regime: each round's
    * frame is a lazy `Barriers.statSafe` barrier and the whole chain runs
    * in the consumer's job; nothing is freed. Clustered regime: each round
    * is an eager layout-keeping barrier (reliable every
    * `Barriers.ReliableEvery`-th round under `checkpointDir`), the
    * superseded generation (first `freeInit`) is freed, and `release`
    * frees the caller's static frames after the last round. */
  def fixedRounds(init: DataFrame, freeInit: () => Unit, rounds: Int,
      clustered: Boolean, checkpointDir: Option[String],
      release: () => Unit = () => ())(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var free = freeInit
    for (round <- 0 until rounds) {
      if (clustered) {
        val (next, freeNext) = CheckpointLayout.roundBarrierKeepingLayout(
          step(state), round, checkpointDir)
        free()
        state = next
        free = freeNext
      } else state = Barriers.statSafe(step(state))
    }
    if (clustered) release()
    state
  }
}
