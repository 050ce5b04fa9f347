package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CheckpointBlocks

/** Lineage truncation for iterative DataFrame programs (SSSP, connected
  * components, DBSCAN, kNN): each round must cut its plan or Catalyst
  * analysis grows exponentially (see GraphOps.sssp).
  *
  * Mode switch: when the SparkContext has a checkpoint dir configured
  * (`spark.sparkContext.setCheckpointDir(...)` — cluster jobs), rounds use
  * RELIABLE `checkpoint`, whose files survive executor loss; otherwise
  * `localCheckpoint`, whose executor-local blocks are faster but die with
  * the executor — correct single-JVM, fragile on a real cluster.
  *
  * Round policy: [[iterate]] owns it for every relational GraphOps loop —
  * when each round is cut, when a superseded round's blocks are released,
  * when a fixpoint stops the loop, and when the loop's cached inputs are
  * dropped. An operator supplies only its init state and its round. */
object Materialize {

  /** A fixpoint exit for [[iterate]]: `of` is a full aggregate over a
    * round's state, and the loop stops after the first round whose value
    * equals the previous round's. `before` is the init state's value when
    * the caller knows it without running a job; without it, round 1 never
    * stops the loop. */
  final case class Signature(of: DataFrame => Row, before: Option[Row] = None)

  /** Runs up to `rounds` rounds of `step` from `init` and returns the last
    * state, materialized and with its lineage cut.
    *
    * `init` is cut eagerly. With a signature, each round is
    * `cutLazy(step(state))` and the signature aggregate is its
    * materializing action, so a round is one action and cutLazy's
    * full-scan contract holds by construction. Without one, each round is
    * an eager [[cut]] and exactly `rounds` rounds run (the fixed-round
    * operators' SQL oracles unroll that count). A superseded state's
    * blocks are released once the state after it is materialized.
    * `cached` — the frames the caller persisted for the loop — are
    * unpersisted when the loop ends, also when a round throws. */
  def iterate(init: DataFrame, rounds: Int, signature: Option[Signature] = None,
      cached: Seq[DataFrame] = Nil)(step: DataFrame => DataFrame): DataFrame =
    try {
      var state = cut(init)
      var last = signature.flatMap(_.before)
      var converged = false
      for (_ <- 1 to rounds if !converged) {
        val next = signature match {
          case None => cut(step(state))
          case Some(sig) =>
            val fused = cutLazy(step(state))
            val value = sig.of(fused)
            converged = last.contains(value)
            last = Some(value)
            fused
        }
        // df.unpersist is a cache-manager no-op for checkpointed frames;
        // left to the ContextCleaner, dead rounds' blocks accumulate across
        // a suite run and GC-thrash unrelated queries.
        CheckpointBlocks.release(state)
        state = next
      }
      state
    } finally cached.foreach(_.unpersist())

  /** Lineage cut whose materialization is FUSED into the caller's next
    * action (guide §1.2 "remove unnecessary passes"): `cut` is eager — it
    * spends one whole job just materializing — yet every iterative caller
    * immediately runs a small aggregate over the fresh state (the fixpoint
    * signature). `cutLazy` marks the local checkpoint lazily so that ONE
    * action both computes/stores the state blocks and returns the
    * signature, halving the jobs per iteration round (measured round-14:
    * sssp/routes 2 jobs/round → 1, CC 3 → 2).
    *
    * CONTRACT: the caller's first action on the returned frame must scan
    * every partition (count / full aggregate — what the fixpoint signatures
    * do). A partial action (`head`, `limit`) would truncate lineage with
    * blocks missing, making later reads unrecoverable. [[iterate]] keeps it
    * by construction; GraphOps' CC contraction is the one other caller.
    *
    * Reliable-checkpoint mode (cluster, checkpoint dir set) falls back to
    * the eager [[cut]]: reliable checkpointing re-runs lineage in a second
    * job unless persisted first, so the fusion buys nothing there and the
    * persist/unpersist bracket below stays the measured-cheapest shape. */
  def cutLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) cut(df)
    else df.localCheckpoint(eager = false)

  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // RDD checkpoint re-runs lineage in a second job unless the plan is
      // persisted first; persist → checkpoint → unpersist halves each
      // iteration's cost. Checkpoint FILES of superseded rounds are swept by
      // the ContextCleaner when the session sets
      // spark.cleaner.referenceTracking.cleanCheckpoints=true (GraftSession
      // does) — without it they accumulate for the app's lifetime.
      val persisted = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cut = persisted.checkpoint(eager = true)
      persisted.unpersist(blocking = false)
      cut
    } else df.localCheckpoint(eager = true)
}
