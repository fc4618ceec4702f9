package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source BFS as iterative DataFrame rounds.
  *
  * Capability parity with the reference's MapReduce BFS
  * (`BFS_map_reduce.py:115-150` in Riachi02/BFS-MapReduce): for every
  * vertex reachable from `source`, the shortest-hop distance and
  * (optionally) one deterministic shortest path `[source .. v]`
  * inclusive — the path semantics of the reference's map phase
  * (`BFS_map_reduce.py:31-35`).
  *
  * Design — frontier-only dataflow, NOT a port of the reference:
  *   - The reference re-sends the whole vertex set through map+shuffle+
  *     reduce every round and merges proposals single-threaded on the
  *     driver (`BFS_map_reduce.py:124-136`). Here only the current
  *     frontier expands (`frontier JOIN edges`), candidates whose
  *     target is already settled are dropped before any path is built,
  *     and only the fresh ones are min-merged and appended to the
  *     state; the next frontier falls out of the state as
  *     `dist == round`. Expansion cost is O(|frontier| * avg-degree)
  *     per round, and the settled state is never aggregated again.
  *   - The reference's reduce semilattice (min dist, argmin path, darkest
  *     color — `BFS_map_reduce.py:50-70`) collapses to
  *     `min(struct(dist, parent path))` over the fresh candidates, the
  *     vertex appended after: one Catalyst aggregate, associative and
  *     order-insensitive, with a deterministic lexicographic tie-break
  *     (reference hazard H2/H6 impossible by construction). Color is
  *     derivable (visited=BLACK, else WHITE) and never materialized.
  *   - Convergence is "frontier empty", not the reference's "all BLACK"
  *     (`BFS_map_reduce.py:149-150`), so disconnected graphs terminate
  *     (reference hazard H4) and unreachable vertices surface as
  *     dist=null via [[withUnreachable]].
  *
  * Scale notes (100 TB / 1000 executors):
  *   - Edges are hash-partitioned by `dst` ONCE up front and
  *     checkpointed, and the state is hash-partitioned by `id` with the
  *     same partition count. While the frontier is below
  *     `broadcastFrontierRows` the expansion is a broadcast-hash join
  *     that streams the edge table, so its candidates come out
  *     partitioned by their target id, like the state: the settled-id
  *     anti-join, the merge and the append (`Union` keeps the
  *     children's common partitioning) plan no exchange, and a round
  *     shuffles nothing but its probe's count.
  *   - A frontier over that cap (already partitioned by id) joins the
  *     edge table re-shuffled by `src`, and the candidates are shuffled
  *     by id for the anti-join: with the probe's count, three exchanges
  *     in that round, one of them the whole edge table. The result is
  *     the same either way.
  *   - Every round's state is a lazy `localCheckpoint` — without it,
  *     plan nesting makes round N re-derive rounds 1..N-1 and planning
  *     time blows up (Catalyst has no fixpoint operator; the loop lives
  *     on the driver in [[Bsp]], one barrier per round, the same
  *     structure as the reference's `ray.get`).
  *   - The per-round probe is the `count()` on the new frontier: it
  *     materializes the checkpoint and doubles as the convergence
  *     test. A round costs two jobs — that count, plus the broadcast
  *     build of a (gated-small) frontier; `JobCountSpec` pins it.
  */
object Bfs {

  /** @param maxIterations hard stop (defense against adversarial inputs;
    *                      BFS rounds = eccentricity(source) + 1)
    * @param broadcastFrontierRows frontier row-count below which the
    *        expansion join broadcasts the frontier
    * @param withPaths also compute the lexicographically-smallest
    *        shortest path (costs an array column in every candidate
    *        row; off for distance-only analytics at scale) */
  final case class Config(
      maxIterations: Int = 200,
      broadcastFrontierRows: Long = 4000000L,
      withPaths: Boolean = false)

  /** BFS over a DIRECTED edge table (columns `src`, `dst`). For an
    * undirected graph pass `GraphOps.symmetrize(edges)`.
    *
    * Each round expands the frontier over the edge table, drops the
    * candidates whose target is already in the state (a left-anti
    * join on `id`), min-merges the rest per id (the reference's
    * reduce semilattice, `BFS_map_reduce.py:50-56`) and appends them
    * to the state; the next frontier is the state's `dist == round`
    * slice.
    *
    * @return DataFrame(id LONG, dist LONG [, path ARRAY<LONG>]) — reached
    *         vertices only; join [[withUnreachable]] for the full set. */
  def run(edges: DataFrame, source: Long, cfg: Config = Config()): DataFrame =
    runMulti(edges, Seq(source), cfg)

  /** Multi-source BFS: distance (and path) to the NEAREST of the given
    * sources — same semilattice, multi-seed init (a capability
    * extension; the reference hardcodes source 0,
    * `BFS_map_reduce.py:109`). AQE is off inside the loop: each round
    * is a fixed-shape job and AQE's per-stage scheduling costs ~20-30%
    * of loop wall-clock (see [[GraphOps.withLoopAqeDisabled]]). */
  def runMulti(edges: DataFrame, sources: Seq[Long],
               cfg: Config = Config()): DataFrame = {
    require(sources.nonEmpty, "at least one source vertex required")
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("bfs", spark, aqeOff = true) { bsp =>
      // Stage the (big) edge table once, partitioned by dst, and the
      // init state by id (the same partition count): a broadcast
      // expansion streams the edge table, so its candidates arrive
      // partitioned by target id, aligned with the state for the
      // anti-join, the merge and the union. Measured tradeoff: deferring
      // this exchange until a frontier outgrows the broadcast threshold
      // LOOKS cheaper, but a compact parquet scan yields very few
      // partitions and every round's join then runs at that
      // parallelism.
      // LOCAL CHECKPOINT, not persist (r17, measured loop-wide): the
      // columnar cache pays a decode on EVERY round's read of this
      // table; checkpoint row blocks skip both codecs. Lazy — the first
      // round's job materializes it, so the job count is unchanged.
      val e = bsp.hold(edges.select($"src", $"dst")
        .repartition($"dst")
        .localCheckpoint(false))

      val initCols =
        if (cfg.withPaths)
          Seq($"id", lit(0L).as("dist"), array($"id").as("path"))
        else Seq($"id", lit(0L).as("dist"))
      // lazy: round 1's jobs materialize it
      val init = sources.distinct.toDF("id").select(initCols: _*)
        .repartition($"id").localCheckpoint(false)
      var frontier = init
      // actual seed count — a large multi-source seed set must not slip
      // under the broadcast guard on round 1
      var frontierRows = sources.distinct.size.toLong

      bsp.rounds(init, cfg.maxIterations) { (state, _) =>
        // Expansion (reference map phase, `BFS_map_reduce.py:25-42`):
        // emit (dst, f.dist+1[, f.path]) per frontier-adjacent edge,
        // carrying the PARENT's path; the target is appended after the
        // merge, once per new vertex.
        // `f.dist + 1` (== the round number for every frontier row, which
        // is exactly the dist==round-1 slice) rather than `lit(round)`:
        // a literal that changes every round makes each round's generated
        // code unique — a whole-stage-codegen recompilation per round —
        // while the column form keeps the plan byte-identical across
        // rounds so Janino's cache hits (measured ~20% of loop time).
        // Alias both sides: the frontier's lineage contains the edge
        // table, so unqualified refs would be ambiguous.
        val f0 =
          if (frontierRows <= cfg.broadcastFrontierRows) broadcast(frontier)
          else frontier
        val f = f0.as("f")
        val candidates = f.join(e.as("e"), col("f.id") === col("e.src"))
          .select(Seq(col("e.dst").as("id"), (col("f.dist") + 1L).as("dist")) ++
            (if (cfg.withPaths) Seq(col("f.path")) else Nil): _*)
        // Prune: a target already in the state was settled in an
        // earlier round and keeps its row. The hint matters: unhinted,
        // this plans a sort-merge join, which measured slower than not
        // pruning at all; hash-built from the state's ids it runs
        // partition by partition with no exchange.
        val fresh = candidates.join(state.select($"id").hint("shuffle_hash"),
          Seq("id"), "left_anti")

        // Merge (reference reduce, `BFS_map_reduce.py:50-56`): per new
        // vertex keep the min (dist, parent path) — struct-min = argmin
        // with deterministic lexicographic tie-break (reference hazards
        // H2/H6 impossible by construction). Every fresh candidate has
        // dist == round and all of a vertex's candidate paths end in
        // that vertex, so this picks the same path as a min over the
        // full paths.
        val merged =
          if (cfg.withPaths)
            fresh.groupBy($"id")
              .agg(min(struct($"dist", $"path")).as("m"))
              .select($"id", $"m.dist".as("dist"),
                      concat($"m.path", array($"id")).as("path"))
          else fresh.groupBy($"id").agg(min($"dist").as("dist"))
        state.union(merged)
      } { (next, round) =>
        // Next frontier = vertices first reached this round; counting it
        // materializes the round's checkpoint in the same job and
        // doubles as the convergence test.
        frontier = next.filter($"dist" === round)
        frontierRows = frontier.count()
        Bsp.Probe(frontierRows == 0, s"frontier=$frontierRows")
      }
    }
  }

  /** Full vertex report in the reference's output shape: unreachable
    * vertices appear with dist=null (and path=null), color BLACK for
    * reached else WHITE (`Node.py:6-10` semantics, hazard-H4-safe). */
  def withUnreachable(reached: DataFrame, edges: DataFrame): DataFrame = {
    val all = GraphOps.vertices(edges)
    // hash-built from the vertex ids and probed by the reached rows: the
    // reached state has no sort order (its rounds append), so a
    // sort-merge join would sort every path-carrying row
    all.hint("shuffle_hash").join(reached, Seq("id"), "left_outer")
      .withColumn("color",
        when(col("dist").isNotNull, lit("BLACK")).otherwise(lit("WHITE")))
  }
}
