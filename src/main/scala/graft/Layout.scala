package graft

import org.apache.spark.sql.DataFrame

/** Materialization that keeps a physical layout VISIBLE to downstream
  * plans.
  *
  * `localCheckpoint(eager = true)` captures the physical plan's
  * outputPartitioning/outputOrdering into the LogicalRDD it leaves
  * behind — but under AQE the physical plan is an AdaptiveSparkPlanExec,
  * which reports Unknown partitioning, so the captured layout is Unknown
  * and every downstream consumer re-shuffles and re-sorts what was
  * already partitioned and sorted. Measured on one rank-propagation
  * round: 4 exchanges + 2 sorts with the naive checkpoint vs
  * 1 exchange + 1 sort with this one — and the extra exchanges are on
  * the EDGE side, i.e. the 100 TB relation re-shuffling per iteration.
  *
  * A layout checkpoint therefore materializes with AQE disabled for just
  * that job: a static `repartition + sortWithinPartitions` plan needs no
  * runtime re-planning, and the resulting LogicalRDD faithfully reports
  * hashpartitioning + sort order, which is what makes iterative state
  * joins exchange-free on the static side (the local twin of a bucketed
  * warehouse table; asserted in PlanAuditSpec).
  *
  * The AQE toggle is scoped to a CLONED session (SessionShim), not the
  * caller's: flipping the caller's conf is session-global, so any query
  * planned concurrently (Serve's request pool during a first-touch
  * build) would silently run without AQE. The clone shares the
  * SparkContext; only this one materialization plans under it, and the
  * checkpointed LogicalRDD is re-bound to the caller's session.
  *
  * Durability contract: every checkpoint here is a `localCheckpoint`,
  * whose blocks live in executor storage. That is sound on `local[n]`,
  * where driver and executors share one JVM, but it does not survive
  * executor loss: a lost block fails the query instead of recomputing
  * it. The cluster-mode swap is reliable checkpointing, `checkpoint()`
  * into `spark.checkpoint.dir` (`SparkContext.setCheckpointDir`).
  */
object Layout {
  def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.SessionShim.checkpointWithoutAqe(df)

  /** Per-ROUND checkpoint policy of [[graft.graph.FixedPoint]], the
    * propagation driver and its only caller. The co-partitioned
    * (over-the-gate) path materializes every round: the next round's
    * exchange-free sort-merge join hangs on the pinned layout, and at
    * 10⁹-vertex state the plan must stay shallow. The broadcast path
    * checkpoints every round but LAZILY (localCheckpoint(eager = false)):
    * the plan is truncated to a LogicalRDD at call time — every round's
    * plan is depth-1 — while the materialization rides INSIDE the job the
    * next round's state broadcast already runs, so no round pays a
    * separate checkpoint job. That is sound only because each step reads
    * its state once (the driver's step contract). History of this knob
    * (all at sf0.1 on the shared 10-round rank loop): eager every round
    * 5.8 s; eager every second round 3.4 s; FULLY lazy (no truncation)
    * 5.9 s — the lazy chain re-planned the whole history each round; lazy
    * per-round checkpointing removes the materialization jobs without the
    * re-planning (OPTIMIZATION_r16.md). The final round is always
    * materialized eagerly — consumers fan out over it. Bit parity is
    * untouched: segmentation only moves materialization boundaries, never
    * the computation or its order. */
  def roundCheckpoint(df: DataFrame, preserveLayout: Boolean,
                      last: Boolean): DataFrame =
    if (preserveLayout) checkpoint(df)
    else df.localCheckpoint(last)
}
