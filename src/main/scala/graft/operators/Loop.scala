package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** graft's one iteration engine: every checkpointed driver loop runs
  * its rounds through it.
  *
  * `Loop(name, init, budget)(step)` runs `step` from `init` at most
  * `budget` times, each round under `Phase(s"$name.round")` and
  * checkpointed, which cuts its lineage. The carried state keeps
  * `init`'s columns (a step may add columns for its convergence test,
  * like propagation's `__old`) and passes through [[reframed]], which
  * drops the checkpoint's inherited size estimate.
  *
  * Without `changed` the loop runs its whole budget and checkpoints
  * eagerly. With it, the loop stops after the first round whose
  * `changed` count is 0 and checkpoints lazily, so the count is the one
  * job that materializes the round. Rounds run in `init`'s session and
  * the result is `(frame, rounds, converged)` in it; `converged` is
  * whether `changed` reached 0.
  */
object Loop {
  def apply(name: String, init: DataFrame, budget: Int,
      changed: Option[DataFrame => Long] = None)(
      step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    val carried = init.columns.toSeq.map(col)
    var frame = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < budget) graft.Phase(s"$name.round") {
      val round = step(frame).localCheckpoint(eager = changed.isEmpty)
      converged = changed.exists(_(round) == 0L)
      frame = reframed(round.select(carried: _*))
      rounds += 1
    }
    (frame, rounds, converged)
  }
}
