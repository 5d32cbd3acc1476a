package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.col

/** The one round loop every iterative operator runs (PageRank, HITS, the
  * dup-cluster fixpoints): `Fixpoint(seed, maxIters, converged)(step)`
  * applies `step` to `seed` round by round and returns (final state,
  * rounds run, whether `converged` held). Its rules are fixed, not
  * options:
  *
  *   - [[pin]] is the only lineage cut. It writes a reliable
  *     `checkpoint()` when the context has a checkpoint dir
  *     (`spark.checkpoint.dir` or `setCheckpointDir`), else a
  *     `localCheckpoint()`: a deployment picks durability for every loop
  *     at once, and no operator repoints the shared context.
  *   - Convergence mode (`converged` given): every round is pinned as
  *     `pin(step(state).observe(converged))`, so the test is read from the
  *     job that pins the round, with no driver action of its own. The
  *     loop stops after the first round whose test holds, or after
  *     `maxIters`. A null test (an empty round) counts as converged.
  *     Scratch columns the step added for the test are dropped with
  *     `select(seed.columns)`.
  *   - Fixed mode (`converged` = None): exactly `maxIters` rounds, pinned
  *     every 3rd intermediate round. Pinning every round materializes a
  *     state-sized job per round for nothing at short horizons; never
  *     pinning grows the analyzed plan linearly in `maxIters` (SCALING.md
  *     round 18). The final state is left lazy for the caller's action,
  *     and the flag is false: no test ran.
  *   - The seed is never pinned: round 1 folds it into its own job.
  */
object Fixpoint {

  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  def apply(seed: DataFrame, maxIters: Int, converged: Option[Column])
           (step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, s"Fixpoint: maxIters ($maxIters) must be >= 1")
    converged match {
      case None =>
        val state = (1 to maxIters).foldLeft(seed) { (s, i) =>
          val next = step(s)
          if (i % 3 == 0 && i < maxIters) pin(next) else next
        }
        (state, maxIters, false)
      case Some(test) =>
        val keep = seed.columns.map(col).toSeq
        @scala.annotation.tailrec
        def round(s: DataFrame, i: Int): (DataFrame, Int, Boolean) = {
          val obs = Observation()
          val next = pin(step(s).observe(obs, test.as("converged"))).select(keep: _*)
          val done = Option(obs.get("converged")).forall(_.asInstanceOf[Boolean])
          if (done || i == maxIters) (next, i, done) else round(next, i + 1)
        }
        round(seed, 1)
    }
  }
}
