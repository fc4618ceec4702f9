package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, ConnectedComponents, GraphOps, KCore, Sssp}

/** Institutionalizes the r17 one-job-per-round discipline: every BSP
  * round's lazy localCheckpoint is materialized by the SAME job that
  * reads the convergence probe (frontier count / edge count /
  * checksum), so a loop of R rounds must submit ~R jobs — an eager
  * checkpoint reintroduced before the probe doubles that. Job counts
  * are observed through a SparkListener, so the spec pins the
  * DRIVER-visible cost the verdict benchmarks actually measure (the
  * q_msf / q_bfs_smallg_golden wins were job-count wins). */
class JobCountSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Run `f` and return the number of Spark jobs it submitted.
    * Listener events are asynchronous: poll until the count is stable
    * for 500 ms (all jobs here complete inside `f`, so stability means
    * the bus has drained). */
  private def countJobs(f: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var last = -1
      var stableMs = 0
      while (stableMs < 500) {
        Thread.sleep(100)
        val cur = n.get()
        if (cur == last) stableMs += 100 else { last = cur; stableMs = 0 }
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Bfs pays one job per round: checkpoint fused with the " +
      "frontier count") {
    // tinyG: ecc(0) = 2 ⇒ exactly 3 BSP rounds (the 3rd sees an empty
    // frontier). Per round the loop legitimately submits TWO jobs:
    // the fused checkpoint+frontier-count job, and the
    // BroadcastExchange build job for the (gated-small) frontier —
    // broadcast builds always run as their own collect job, and
    // broadcasting the tiny frontier instead of shuffling it across
    // the cluster is the scale-correct choice, so that job is priced,
    // not waste. Budget: 3 × 2 + 1 result collect = 7, +1 slack for
    // engine-version drift. The pre-r17 eager-checkpoint form paid a
    // THIRD job per round (measured 10 on this fixture) and MUST trip
    // this.
    val tinyG = Seq(
      (0L, 5L), (4L, 3L), (0L, 1L), (9L, 12L), (6L, 4L), (5L, 4L),
      (0L, 2L), (11L, 12L), (9L, 10L), (0L, 6L), (5L, 3L), (0L, 7L),
      (7L, 8L), (9L, 11L), (0L, 9L)).toDF("src", "dst")
    val edges = GraphOps.symmetrize(tinyG)
    // warm once so codegen/planning one-offs don't ride the counter
    Bfs.run(edges, 0L).collect()
    val jobs = countJobs {
      Bfs.run(edges, 0L).collect()
    }
    assert(jobs <= 8,
      s"BFS on tinyG (3 rounds) submitted $jobs jobs — expected ≤ 8 " +
        "(per round: one fused checkpoint+count job + one broadcast " +
        "build; plus the collect and slack); an eager checkpoint " +
        "before the frontier count adds a job per round")
    assert(jobs >= 6, s"suspiciously few jobs ($jobs) — did the " +
      "convergence probe stop running per round?")
  }

  // The three loops below pin their whole-call job count on a small
  // fixture. Budgets are the counts measured on this fixture with one
  // job of slack, and every fixture runs more rounds than that slack:
  // a loop that starts paying one extra job per round (an eager
  // checkpoint before its probe, a second probe) trips its pin.

  // measured before the loops moved onto the shared round driver:
  // Sssp 18, ConnectedComponents 19, KCore 34 (the collect included)
  private val SsspBudget = 19
  private val CcBudget = 20
  private val KCoreBudget = 35

  /** 0 - 1 - ... - 7 symmetrized, plus the triangle 10 - 11 - 12. */
  private def chainAndTriangle = GraphOps.symmetrize(
    ((0L until 7L).map(i => (i, i + 1)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 10L))).toDF("src", "dst"))

  private def pinned(name: String, rounds: Int, budget: Int)(
      f: => Unit): Unit = {
    f // warm once so codegen/planning one-offs don't ride the counter
    val jobs = countJobs(f)
    assert(jobs <= budget,
      s"$name ($rounds rounds) submitted $jobs jobs — budget $budget; " +
        "a loop change added work per round")
    assert(jobs >= rounds, s"suspiciously few jobs ($jobs) for $name — " +
      "did the per-round probe stop running?")
  }

  test("Sssp.run job count is pinned (chain: 8 rounds)") {
    // unit weights from 0 along the chain: 7 improving rounds and the
    // empty 8th; per round the fused checkpoint+count job and the
    // broadcast build of the frontier
    val edges = chainAndTriangle.withColumn("w", lit(1L))
    pinned("Sssp.run", rounds = 8, budget = SsspBudget) {
      Sssp.run(edges, 0L).collect()
    }
  }

  test("ConnectedComponents.run job count is pinned (chain: 8 rounds)") {
    // labels need 7 rounds to cross the chain, and the 8th sees the
    // checksum unchanged
    pinned("ConnectedComponents.run", rounds = 8, budget = CcBudget) {
      ConnectedComponents.run(chainAndTriangle).collect()
    }
  }

  test("KCore.peel job count is pinned (chain peels: 5 rounds)") {
    // k = 2 peels the chain from both ends, two vertices a round, until
    // the triangle alone survives (round 4) and round 5 sees the edge
    // count unchanged. AQE stays on here, so each round's exchanges are
    // their own jobs.
    pinned("KCore.peel", rounds = 5, budget = KCoreBudget) {
      KCore.peel(chainAndTriangle, 2).collect()
    }
  }
}
