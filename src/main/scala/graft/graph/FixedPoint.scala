package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one fixed-point driver every propagation loop runs through (the
  * Pregelix split: the runtime owns the superstep loop and its
  * checkpoints, each algorithm supplies only its step). It owns, each in
  * exactly one place:
  *
  *   - the loop: `rounds` applications of `step` from `state0`;
  *   - the per-round checkpoint ([[graft.Layout.roundCheckpoint]]): the
  *     layout-pinning checkpoint when the state is co-partitioned, a lazy
  *     local checkpoint under the broadcast gate;
  *   - eager materialization of the final round — consumers fan out over
  *     the returned state, so it is never a lazy checkpoint (an early
  *     exit returns a round its probe has already materialized);
  *   - the monotone early exit and its probe cadence.
  *
  * Step contract: `step` references its input state ONCE. Under the
  * broadcast gate a non-final round is a not-yet-materialized lazy
  * checkpoint, and the next round's single read is what materializes it;
  * a second reference in the same query would execute the round twice.
  *
  * Monotone families (min-label components, k-core peeling) flag every
  * row whose value moved this round in a boolean `changed` column. An
  * unchanged round is their fixed point, so every remaining round is a
  * no-op and stopping there returns exactly the full unrolling. The probe
  * runs after every round when co-partitioned (each round is already
  * materialized, the probe is a scan); every second round under the
  * broadcast gate (there the probe is the job that materializes the lazy
  * round, so an every-round probe only adds a scheduling round-trip —
  * the cost of the cadence is at most one no-op round past the fixed
  * point); and never after the last round, whose answer no one reads.
  * Non-monotone families (PageRank, LPA, power iteration) always run
  * every round. */
private[graft] object FixedPoint {
  def run(state0: DataFrame, rounds: Int, coPartitioned: Boolean,
          monotone: Boolean = false)(step: DataFrame => DataFrame): DataFrame = {
    var state = state0
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      state = graft.Layout.roundCheckpoint(step(state),
        preserveLayout = coPartitioned, last = r == rounds)
      if (monotone && r < rounds && (coPartitioned || r % 2 == 0))
        converged = state.filter(col("changed")).isEmpty
    }
    state
  }
}
