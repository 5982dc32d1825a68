package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.RddShim

/** The round loop every iterative operator runs on ([[Components]],
  * [[GraphOps.bfsHops]], [[GraphOps.kCorePeel]], the Lloyd loops of
  * `SimilarityPipeline`). A call site supplies only its step, its probe
  * and its stop test; the lifecycle of the loop state is decided here:
  *
  *  - '''pin''': every round's new state is pinned LAZILY — `aligned`
  *    in Pin's non-adaptive clone, keeping the state's partitioning
  *    ([[Pin.pinAligned]]), else under the caller's conf ([[Pin]]).
  *    Unpinned, the plan lineage and planning time double per round;
  *  - '''probe''': the round's ONE action is the probe on the new state.
  *    It materializes the pin in the same job (an eager pin would run
  *    the round's plan twice). It runs in the non-adaptive clone: a
  *    1-row answer over a fresh pin leaves adaptive execution nothing
  *    to re-plan, and under it the probe's exchange is a job of its own;
  *  - '''release''': the superseded state's blocks are released right
  *    after the probe, never before — until then the new state's plan
  *    still reads them. Live pinned storage stays at two generations;
  *  - '''bound''': at most `maxRounds` rounds. The [[Outcome]] says how
  *    many ran and whether `stop` ended the loop (else the bound did).
  *
  * [[iterate]] pins and probes the initial state too, so `stop` can end
  * the loop before any round and round 1's `step` sees its probe.
  * `stop(previous, current)` sees the probe of the state before the
  * round (None when testing the initial state) and of the state the
  * round produced. [[fixed]] is the form with no stop test.
  *
  * Pins of loop-invariant inputs (the symmetrized edge frame of
  * components, BFS and k-core) belong to the caller, which releases
  * them once the loop returns: the final state is materialized by then
  * and no longer reads them.
  */
object Rounds {

  /** The loop's final state (pinned and materialized), the rounds it
    * ran, and whether `stop` ended it.
    */
  final case class Outcome(state: DataFrame, rounds: Int, stopped: Boolean)

  def iterate[P](init: DataFrame, maxRounds: Int, aligned: Boolean = false)(
      probe: DataFrame => P)(
      step: (DataFrame, P) => DataFrame)(
      stop: (Option[P], P) => Boolean): Outcome = {
    val first = pin(init, aligned)
    val p = Pin.onClone(first)(probe)
    if (stop(None, p)) Outcome(first, 0, stopped = true)
    else loop(first, p, maxRounds, aligned)(probe)(step)(stop)
  }

  /** `rounds` rounds of `step` with no stop test. Nothing decides on
    * the initial state, so it is used as given — neither pinned nor
    * probed; each round's probe is its state's row count.
    */
  def fixed(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    loop(init, 0L, rounds, aligned = false)(_.count())((s, _) => step(s))((_, _) => false).state

  private def pin(df: DataFrame, aligned: Boolean): DataFrame =
    if (aligned) Pin.pinAligned(df, eager = false) else Pin(df, eager = false)

  private def loop[P](init: DataFrame, initProbe: P, maxRounds: Int, aligned: Boolean)(
      probe: DataFrame => P)(
      step: (DataFrame, P) => DataFrame)(
      stop: (Option[P], P) => Boolean): Outcome = {
    var state = init
    var p = initProbe
    var stopped = false
    var rounds = 0
    while (!stopped && rounds < maxRounds) {
      val next = pin(step(state, p), aligned)
      val q = Pin.onClone(next)(probe)
      RddShim.unpersistPinned(state)
      stopped = stop(Some(p), q)
      state = next
      p = q
      rounds += 1
    }
    Outcome(state, rounds, stopped)
  }
}
