package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one BSP (bulk-synchronous parallel) round driver behind the
  * iterative graph operators — the reference's whole algorithm
  * (`BFS_map_reduce.py:115-150`: init, map, shuffle, min-reduce,
  * convergence test, repeat) as a single loop the operators plug a
  * round body into.
  *
  * A round is: the operator's `step` plans the next state from the
  * current one; the driver `localCheckpoint`s it; the operator's
  * `probe` runs ONE action on the checkpointed handle, which both
  * materializes the checkpoint (a lazy checkpoint persists its blocks
  * inside the probe's own job and truncates lineage at that job's
  * end) and answers the convergence test. Fixed-round loops have no
  * probe, so their checkpoint is eager. Either way a round costs one
  * materializing job, never two — `JobCountSpec` pins the totals.
  *
  * Release, in one place: a superseded state handle is released as
  * soon as its successor has materialized (nothing can recompute
  * through it again); when the loop ends, every frame it still holds
  * — staged edge tables and the live state — is released unless the
  * returned frame's plan reads it, and on an exception all of them
  * are. Only flat checkpoint handles own blocks here; a held frame
  * that is not one (a derived init) is simply dropped. */
private[operators] object Bsp {

  /** A round's probe result: has the loop converged, and a short note
    * (`frontier=12`) for the round's stderr line. */
  final case class Probe(done: Boolean, note: String = "")

  /** Run one iterative operator: `body` stages its inputs through
    * [[Loop.hold]] and runs its rounds through [[Loop.rounds]] or
    * [[Loop.fixedRounds]]. `aqeOff` plans the whole loop, staging
    * included, with AQE disabled (see
    * [[GraphOps.withLoopAqeDisabled]] for which loops want that). */
  def loop(tag: String, spark: SparkSession, aqeOff: Boolean)(
      body: Loop => DataFrame): DataFrame = {
    def run(): DataFrame = {
      val l = new Loop(tag)
      var out: DataFrame = null
      try { out = body(l); out }
      finally l.close(Option(out))
    }
    if (aqeOff) GraphOps.withLoopAqeDisabled(spark)(run()) else run()
  }

  final class Loop private[Bsp] (tag: String) {
    private val held = mutable.LinkedHashSet.empty[DataFrame]

    /** Keep `df` (typically a staged, checkpointed edge table) until
      * the loop ends; returns it. */
    def hold(df: DataFrame): DataFrame = { held += df; df }

    /** Rounds until `probe` reports convergence or `maxRounds` have
      * run. Each round's next state is lazily checkpointed and the
      * probe's action materializes it. Hitting the cap unconverged
      * throws `IllegalStateException(capError)` when one is given, and
      * otherwise returns the capped state. Returns the last state
      * handle. */
    def rounds(init: DataFrame, maxRounds: Int, capError: String = null)(
        step: (DataFrame, Int) => DataFrame)(
        probe: (DataFrame, Int) => Probe): DataFrame = {
      val (last, converged) = run(init, maxRounds, step, Some(probe))
      if (!converged && capError != null)
        throw new IllegalStateException(capError)
      last
    }

    /** Exactly `n` rounds, each state eagerly checkpointed. */
    def fixedRounds(init: DataFrame, n: Int)(
        step: (DataFrame, Int) => DataFrame): DataFrame =
      run(init, n, step, None)._1

    private def run(init: DataFrame, maxRounds: Int,
                    step: (DataFrame, Int) => DataFrame,
                    probe: Option[(DataFrame, Int) => Probe])
        : (DataFrame, Boolean) = {
      var state = hold(init)
      var round = 0
      var done = false
      while (!done && round < maxRounds) {
        round += 1
        val t0 = System.nanoTime()
        val next = hold(step(state, round).localCheckpoint(probe.isEmpty))
        val note = probe.fold("") { p =>
          val r = p(next, round)
          done = r.done
          if (r.note.isEmpty) "" else " " + r.note
        }
        release(state)
        state = next
        // One stderr line per round: uniform inflation across rounds
        // points at the machine, one dominant round at plan or skew.
        System.err.println(f"[$tag] round $round$note " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      (state, done)
    }

    private def release(df: DataFrame): Unit = {
      held -= df
      if (GraphOps.isFlatCheckpoint(df)) GraphOps.releaseCheckpointedFrame(df)
    }

    /** Release everything still held, except the handles `out`'s plan
      * reads. */
    private[Bsp] def close(out: Option[DataFrame]): Unit = {
      val kept = out.fold(Set.empty[Int])(rddsRead)
      held.toSeq
        .filterNot(df => GraphOps.isFlatCheckpoint(df) && kept(rddsRead(df).head))
        .foreach(release)
    }
  }

  private def rddsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
}
