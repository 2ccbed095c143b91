package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.traverse.Traverse.freeCheckpoint

/** The one round loop of the synchronous algorithms in [[GraphAlgos]]
  * (GraphX's Pregel operator, over DataFrames): `step` maps round r's
  * state to round r+1's, and `run` owns everything around it —
  * [[Ckpt.mat]] of each new state (plan depth stays constant), freeing
  * the state it supersedes, the round counter, and the single
  * convergence probe its [[Superstep.Stop]] rule names. Fixed-round
  * (oracle-replay) runs probe nothing, so they cost no Spark action
  * beyond the per-round checkpoints. */
private[algo] object Superstep {
  /** Column in which a probed step keeps each row's previous value;
    * `run` drops it once the probe has read it. */
  val Old = "__old"

  /** `c` as the [[Old]] column when `probed`, else nothing: the
    * projection a step adds for an [[Stop.Unchanged]] or
    * [[Stop.Delta]] rule on `c`. */
  def old(c: String, probed: Boolean): Seq[Column] =
    if (probed) Seq(col(c).as(Old)) else Nil

  sealed trait Stop
  object Stop {
    /** Exactly `maxRounds` rounds, no probe. */
    case object Fixed extends Stop
    /** Until no row's `c` differs from its [[Old]] copy: one count per
      * round. */
    final case class Unchanged(c: String) extends Stop
    /** Until max |c − [[Old]]| ≤ `tol`: one aggregate per round. */
    final case class Delta(c: String, tol: Double) extends Stop
    /** Until a round keeps the row count — the fixpoint of a monotone
      * state (a shrinking or growing set): one count up front and one
      * per round. */
    case object SameRows extends Stop
  }

  /** Run `step` from `init` for at most `maxRounds` rounds, stopping
    * early when `stop` sees a fixpoint. Returns the final state and
    * whether the probe saw that fixpoint (never under [[Stop.Fixed]]).
    * Every state but the returned one is freed. */
  def run(init: DataFrame, maxRounds: Int, stop: Stop = Stop.Fixed)
         (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    var state = Ckpt.mat(init)
    var rows = if (stop == Stop.SameRows) state.count() else 0L
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      val next = Ckpt.mat(step(state, round))
      converged = stop match {
        case Stop.Fixed => false
        case Stop.Unchanged(c) =>
          next.filter(col(c) =!= col(Old)).count() == 0
        case Stop.Delta(c, tol) =>
          !(next.agg(max(abs(col(c) - col(Old)))).head.getDouble(0) > tol)
        case Stop.SameRows =>
          val before = rows
          rows = next.count()
          rows == before
      }
      freeCheckpoint(state) // every row now lives in `next`
      state = stop match {
        case _: Stop.Unchanged | _: Stop.Delta => next.drop(Old)
        case _ => next
      }
      round += 1
    }
    (state, converged)
  }
}
