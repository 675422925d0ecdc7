package graft.ops

import org.apache.spark.sql.DataFrame

/** The driver of the batched fixpoint loops: [[WebGraph.kCore]], the
  * trim, color and extract phases of [[WebGraph.stronglyConnected]],
  * and [[Dedup.components]].
  *
  * Each barrier runs `hops` steps, then one Spark action, the
  * convergence test, which materializes the batch: a driver round-trip
  * costs fixed job latency at any data size, and steps past the
  * fixpoint are identity. Each step is cut from the lineage with
  * `localCheckpoint(false)`: a step reads its input two or three times,
  * so an unbroken chain grows the logical plan ~3^hops (one hops=5 SCC
  * trim batch on 15 edges took 517 s of planning). The lazy checkpoint
  * truncates the plan at once but runs no job. Swap in reliable
  * checkpoints where executor loss mid-loop must be survivable.
  *
  * One instance holds one operator's budget of barriers, shared by
  * every loop it runs. Running out throws `IllegalStateException`
  * naming the operator and the budget, never returns a non-fixpoint. */
private[ops] final class Fixpoint(op: String, budget: Int, hops: Int) {
  require(budget >= 1 && hops >= 1, s"$op: budget and hops must be >= 1")
  private var barriers = 0

  /** Steps from `start` until `done(batchStart, batchEnd)` holds, and
    * returns that batch end. `done` runs the barrier's one action. */
  @annotation.tailrec
  def run(start: DataFrame)(step: DataFrame => DataFrame)
         (done: (DataFrame, DataFrame) => Boolean): DataFrame = {
    if (barriers == budget)
      throw new IllegalStateException(s"$op did not converge within $budget barriers")
    barriers += 1
    val end = (1 to hops).foldLeft(start)((s, _) => step(s).localCheckpoint(false))
    if (done(start, end)) end else run(end)(step)(done)
  }

  /** [[run]] until `measure` (the barrier's action) repeats from one
    * batch end to the next; `first` is the start's measure when the
    * caller already has it. The measure must change whenever the state
    * does: a count of a set that steps only shrink or only grow, or a
    * fingerprint of the whole state. */
  def stable[M](start: DataFrame, first: Option[M] = None)(step: DataFrame => DataFrame)
               (measure: DataFrame => M): DataFrame = {
    var prev = first
    run(start)(step) { (_, end) =>
      val m = measure(end)
      val same = prev.contains(m)
      prev = Some(m)
      same
    }
  }
}
