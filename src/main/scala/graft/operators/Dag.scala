package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Directed-acyclic-graph primitives — the DIRECTED half of the graph
  * family's level/ordering toolkit ([[Bfs]] computes shortest layers
  * on an undirected graph; this computes LONGEST-path layers under
  * edge direction, the quantity scheduling/lineage/critical-path
  * queries ask of a dependency DAG).
  *
  * Longest-path layering (critical-path depth): layer(v) = length of
  * the longest directed path ending at v; vertices with no in-edges
  * sit at layer 0. Equivalently the unique fixpoint of
  * layer(v) = max(0, 1 + max{layer(u) : (u, v) ∈ E}) — on a DAG the
  * iteration converges in (depth + 1) rounds of the [[Bsp]] driver,
  * each round the same single-shuffle union-merge the
  * [[ConnectedComponents]] loop runs (one |E| message join riding the
  * src-partitioned checkpointed edge table, one exchange for the
  * per-vertex max, checksum-fused convergence probe — layers only
  * grow, so an unchanged layer sum IS the fixpoint). [[Bsp]] owns the
  * checkpoints and their release, also on the cap's throw.
  *
  * Scale shape (100 TB): edges shuffle ONCE (upfront repartition held
  * as a flat checkpoint); per round ONE exchange carries the
  * max-merge; round count is the DAG's depth, not |V| — dependency
  * DAGs are shallow by construction (build graphs, lineage graphs,
  * curriculum stages), which is what makes the fixpoint form the
  * right distributed plan. Cycles make the recurrence divergent:
  * the round cap converts that into a loud failure instead of a hang
  * (the same contract as [[ConnectedComponents.run]]'s diameter cap).
  */
object Dag {

  /** @param edges directed edge table (`src`, `dst`) — a DAG
    * @param maxRounds divergence cap; a cycle (not a DAG) would
    *        otherwise iterate forever — failing loudly mirrors the CC
    *        diameter-cap contract
    * @return DataFrame(id LONG, layer LONG) over src ∪ dst, layer =
    *         longest directed path length ending at id */
  def longestPathLayers(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("dag", spark, aqeOff = false) { bsp =>
      val e = bsp.hold(edges.select($"src", $"dst")
        .repartition($"src")
        .localCheckpoint(false))
      // layers only GROW, so an unchanged sum is the fixpoint; decimal
      // keeps the probe exact at any |V|·depth (the CC checksum shape).
      // The all-zero init sums to 0 by construction, and an empty graph
      // converges in round 1.
      def checksumOf(df: DataFrame): java.math.BigDecimal = {
        val row = df.agg(sum($"layer".cast("decimal(38,0)"))).head()
        if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
      }
      var checksum = java.math.BigDecimal.ZERO
      // lazy: round 1's probe materializes it (the Bfs round fuse)
      val init = GraphOps.vertices(e)
        .select($"id", lit(0L).as("layer"))
        .localCheckpoint(false)
      bsp.rounds(init, maxRounds,
        s"longest-path layering did not converge in $maxRounds rounds — " +
          "the input has a cycle (not a DAG) or its depth exceeds the " +
          "cap; raise maxRounds only if the depth is genuinely " +
          "larger") { (layers, _) =>
        // each edge offers layer(src) + 1 to its dst; the union-merge
        // keeps the max — exactly the CC round with (max, +1) in place
        // of (min, id)
        val offers = layers.as("l").join(e.as("e"), col("l.id") === col("e.src"))
          .select(col("e.dst").as("id"), (col("l.layer") + 1L).as("layer"))
        layers.union(offers).groupBy($"id").agg(max($"layer").as("layer"))
      } { (merged, _) =>
        val newChecksum = checksumOf(merged)
        val converged = newChecksum.compareTo(checksum) == 0
        checksum = newChecksum
        Bsp.Probe(converged)
      }
    }
  }
}
