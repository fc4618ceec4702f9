package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths — Bellman-Ford as BSP rounds,
  * the weighted generalization of the reference's unweighted BFS
  * (`BFS_map_reduce.py:115-150`: same frontier/semilattice machinery,
  * min-plus instead of min-hop).
  *
  * Round structure follows [[Bfs.run]] — ONE shuffle and one frontier
  * count per round — with the one structural difference weights
  * force: BFS knows the newly-settled vertices by `dist == round`, but
  * a weighted relaxation can IMPROVE an already-reached vertex, so
  * each round's merge aggregates BOTH the new minimum and the
  * previous state's minimum per id (`min(dist)` and
  * `min(dist WHERE old)` in one partial-aggregated exchange) and the
  * next frontier is the rows where the new minimum is strictly
  * better. Rounds needed = hop count of the longest shortest path
  * (≤ |V|-1, the Bellman-Ford bound); convergence is "no vertex
  * improved".
  *
  * Weights must be non-negative integers (`w` column, long-castable).
  * The guard rides the expansion projection as a codegen'd
  * `raise_error` branch — no extra validation job (negative weights
  * would silently produce wrong fixpoints; Bellman-Ford's
  * negative-cycle semantics are not this operator's contract).
  *
  * Scale notes: identical to [[Bfs]] — edges hash-partitioned on `src`
  * once and checkpointed, frontier broadcast while small, a lazy
  * per-round localCheckpoint (materialized by the frontier count)
  * keeps lineage flat, AQE off inside the loop.
  */
object Sssp {

  /** @param maxIterations hard stop (Bellman-Ford needs ≤ |V|-1 rounds;
    *                      exceeding the cap throws — a partial fixpoint
    *                      is silently-wrong distances)
    * @see [[Bfs.Config]] for the shared knobs */
  final case class Config(
      maxIterations: Int = 200,
      broadcastFrontierRows: Long = 4000000L)

  /** SSSP over a DIRECTED weighted edge table (columns `src`, `dst`,
    * `w`). For an undirected graph pass symmetrized edges with the
    * same weight in both directions.
    *
    * @return DataFrame(id LONG, dist LONG) — reached vertices only. */
  def run(edges: DataFrame, source: Long, cfg: Config = Config()): DataFrame =
    runLoop(edges, source, cfg, boundedHops = false)

  /** Hop-bounded SSSP: the cheapest cost to each vertex over paths of
    * AT MOST `hops` edges — after round h the state is exactly the
    * min-cost-within-h-hops table (the frontier-optimized rounds
    * preserve the textbook Bellman-Ford layer invariant), so stopping
    * at `hops` is a well-defined result, not a partial fixpoint. Two
    * uses: the k-hop-budget semantics itself (bounded-latency routing,
    * influence radius), and a driver-oracle face for the iterative
    * operator — a fixed round count is expressible as unrolled SQL
    * layers, where full convergence is not (the q_pagerank_2iter
    * trick). Early convergence before `hops` rounds returns the same
    * table the remaining rounds would (they'd be no-ops). */
  def runBounded(edges: DataFrame, source: Long, hops: Int,
                 cfg: Config = Config()): DataFrame =
    runLoop(edges, source, cfg.copy(maxIterations = hops),
      boundedHops = true)

  private def runLoop(edges: DataFrame, source: Long, cfg: Config,
                      boundedHops: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("sssp", spark, aqeOff = true) { bsp =>
      val e = bsp.hold(edges.select($"src", $"dst",
          when($"w" < 0, raise_error(lit(
            "negative edge weight: Sssp requires non-negative weights")))
            .otherwise($"w".cast("long")).as("w"))
        .repartition($"src")
        // local checkpoint, not persist: no columnar decode on the
        // per-round reads (r17 loop-residency doctrine; see PageRank)
        .localCheckpoint(false))

      // lazy: round 1's jobs materialize it
      val init = Seq(source).toDF("id").select($"id", lit(0L).as("dist"))
        .localCheckpoint(false)
      var frontier = init
      var frontierRows = 1L
      val capError = if (boundedHops) null else
        s"SSSP did not converge in ${cfg.maxIterations} rounds — raise " +
          "maxIterations (Bellman-Ford needs at most |V|-1)"

      bsp.rounds(init, cfg.maxIterations, capError) { (state, _) =>
        val f0 =
          if (frontierRows <= cfg.broadcastFrontierRows) broadcast(frontier)
          else frontier
        val candidates = f0.as("f").join(e.as("e"), col("f.id") === col("e.src"))
          .select(col("e.dst").as("id"), (col("f.dist") + col("e.w")).as("dist"),
            lit(false).as("old"))

        // ONE exchange merges state and relaxations AND detects
        // improvement: newDist = min over both, oldDist = min over the
        // previous state only — improved iff newDist < oldDist (or the
        // vertex is newly reached). Both aggregates are plain mins on
        // primitive buffers: the chain stays HashAggregate/codegen.
        state.select($"id", $"dist", lit(true).as("old"))
          .union(candidates)
          .groupBy($"id")
          .agg(min($"dist").as("dist"),
            min(when($"old", $"dist")).as("old_dist"))
      } { (merged, _) =>
        frontier = merged
          .filter($"old_dist".isNull || $"dist" < $"old_dist")
          .select($"id", $"dist")
        frontierRows = frontier.count()
        Bsp.Probe(frontierRows == 0, s"improved=$frontierRows")
      }.select($"id", $"dist")
    }
  }
}
