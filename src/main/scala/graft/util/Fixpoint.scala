package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count_if, lit}

import graft.pipeline.CheckpointLayout

/** The round machinery of every iterative DataFrame loop (k-core, connected
  * components, cell clusters, SSSP relaxation and walk, PageRank, label
  * propagation): the barrier per round, freeing the generation a round
  * supersedes, the reliable-checkpoint cadence, the convergence count and
  * the round cap. A loop supplies only its step; broadcast hints and any
  * other plan choice stay inside the step.
  *
  * Two disciplines, both eager (one barrier job per round):
  *  - [[converge]]: each round's frame is observed with the count of its
  *    changed rows and materialized by an eager Dataset checkpoint
  *    (`Barriers.roundCheckpoint`), so the count rides the barrier's job;
  *    the loop stops at its stop rule or at `maxRounds`.
  *  - [[fixedRounds]]: a fixed number of rounds, each materialized by the
  *    same eager checkpoint with the layout of its final plan declared on
  *    it (`CheckpointLayout.roundBarrierKeepingLayout`), so a clustered
  *    loop's next round joins in place.
  *
  * Blocks held at any moment: the current generation
  * (plus the caller's static frames), not one generation per round. */
object Fixpoint {

  /** A round's change test: a boolean Column over the barriered frame,
    * resolved BY NAME, so a step may emit its columns in any order. */
  type Changed = Column

  /** Rows whose columns `a` and `b` hold different values (null-safe: a
    * null differs from any value, two nulls do not). */
  def differs(a: String, b: String): Changed = !(col(a) <=> col(b))

  /** Every row counts: the round's count is its row count. */
  val everyRow: Changed = lit(true)

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
      val obs = new Observation()
      val cp = Barriers.roundCheckpoint(
        r.frame.observe(obs, count_if(r.changed).as("n")), rounds, checkpointDir)
      val n = obs.get("n").asInstanceOf[Long]
      r.intermediates.foreach(_())
      free()
      val (next, freeNext) = Barriers.statSafeOf(cp)
      state = next
      free = freeNext
      converged = stop(n, prev)
      prev = n
      rounds += 1
    }
    if (rounds > 0) release()
    Result(state, free, rounds, converged)
  }

  /** Run `rounds` rounds of `step` from `init`, each an eager
    * layout-keeping barrier (reliable every `Barriers.ReliableEvery`-th
    * round under `checkpointDir`). The superseded generation (first
    * `freeInit`) is freed, and `release` frees the caller's static frames
    * after the last round. */
  def fixedRounds(init: DataFrame, freeInit: () => Unit, rounds: Int,
      checkpointDir: Option[String],
      release: () => Unit = () => ())(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var free = freeInit
    for (round <- 0 until rounds) {
      val (next, freeNext) = CheckpointLayout.roundBarrierKeepingLayout(
        step(state), round, checkpointDir)
      free()
      state = next
      free = freeNext
    }
    release()
    state
  }
}
