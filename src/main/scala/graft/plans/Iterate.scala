package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, lit, when}

/** The driver loop every iterative operator repeats: run a step, cut
  * its lineage with one eager `localCheckpoint`, go again. Each round
  * is one checkpoint job (plus one job per exchange under AQE), so a
  * loop's cost on a big cluster is its count of driver round-trips,
  * and a round that cannot change the answer is pure waste.
  *
  * [[untilUnchanged]] adds the exact early exit (Pregel's
  * vote-to-halt): the step also names the rows its round changed, and
  * that count is gathered by `Dataset.observe` inside the round's own
  * checkpoint job — no extra job. When a step is a deterministic
  * function of its state, a round that changed no row has reached a
  * fixpoint, so every later round would return the same state and
  * stopping there is bit-identical to running them all.
  *
  * The count is read synchronously from the checkpointed query's own
  * executed plan, never by blocking on an `Observation`. If it is
  * missing (a plan that never ran its metrics node) the loop treats
  * the round as changed and runs on: a lost exit costs rounds, never
  * a wrong or hung answer.
  *
  * `localCheckpoint` keeps the round's blocks on the executors; a
  * fault-tolerant cluster job would checkpoint to reliable storage. */
object Iterate {

  /** How a loop ended: the last round's checkpointed state, and
    * whether that round changed nothing. */
  final case class Result(state: DataFrame, converged: Boolean)

  /** `rounds` rounds of `step` (state, round number from 1), each
    * checkpointed; for steps that must not stop early. */
  def apply(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, rounds)((s, r) => (step(s, r), None)).state

  /** Up to `maxRounds` rounds of `step`, stopping after the first round
    * in which no output row satisfies the step's `changed` predicate.
    * The predicate is evaluated over the step's output, so a step
    * carries whatever it compares against (an old value, the round
    * number) in its own columns. */
  def untilUnchanged(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => (DataFrame, Column)): Result =
    loop(init, maxRounds) { (s, r) =>
      val (out, changed) = step(s, r)
      (out, Some(changed))
    }

  /** Eagerly checkpoints `df` and counts its rows matching `pred` in
    * the same job; None if the count did not come back. */
  def checkpointCounting(df: DataFrame, pred: Column): (DataFrame, Option[Long]) = {
    // a fresh name per call: observed names must be unique in a plan
    val name = s"graft_iterate_${ids.incrementAndGet()}"
    val observed = df.observe(name, count(when(pred, lit(1))).as("n"))
    val ckpt = observed.localCheckpoint(true)
    (ckpt, observed.queryExecution.observedMetrics.get(name).map(_.getLong(0)))
  }

  private val ids = new AtomicLong()

  private def loop(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => (DataFrame, Option[Column])): Result = {
    var state = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      step(state, round) match {
        case (out, None) => state = out.localCheckpoint(true)
        case (out, Some(changed)) =>
          val (ckpt, n) = checkpointCounting(out, changed)
          state = ckpt
          converged = n.contains(0L)
      }
    }
    Result(state, converged)
  }
}
