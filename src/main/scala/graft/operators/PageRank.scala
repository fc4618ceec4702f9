package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank by fixed-iteration power method — a further capability
  * extension on the engine's iterative BSP core (same round structure
  * as [[Bfs]]/[[ConnectedComponents]]: one partial-aggregated shuffle
  * per round over the pre-partitioned edge table, eager
  * localCheckpoint for flat lineage).
  *
  * r17 loop-residency doctrine (measured, JobProbe task-attributed at
  * sf0.1): the edge table is a LOCAL CHECKPOINT, not a persist — the
  * columnar cache's encode on build and decode on EVERY round's read
  * is the dominant CPU class for a loop-resident table (checkpoint
  * row blocks skip both); and AQE stays ON — at scan-sized
  * shuffle.partitions the per-round exchanges of |V|+|E| small rows
  * pay shuffle-machinery overhead AQE coalescing removes. The two
  * levers together: 10-round task CPU 183 -> 62s on the gate graph
  * (the KCore shrinking-frame finding generalized: AQE-off is only
  * right when partitions stay data-sized WITHOUT coalescing).
  *
  * rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outDeg(u)
  *
  * Dangling vertices (no out-edges) leak their mass — the common
  * simplified variant; on symmetrized (undirected) graphs dangling
  * vertices don't exist, so the full formula holds there.
  *
  * Determinism: per-vertex contributions are converted to FIXED-POINT
  * LONGS (scale 10^15) before the sum — integer addition is order-free,
  * so the output is byte-stable run to run (a double sum would drift
  * with partition order), and it stays inside whole-stage codegen
  * (decimal(38,18) accumulation was measured 2× slower). Total mass is
  * ≤ 1, so the scaled sum is ≤ 10^15 — no overflow; per-contribution
  * truncation is ≤ 10^-15, bounding per-round rank error at
  * ~|contribs|·10^-15.
  */
object PageRank {

  /** Fixed-point scale for contribution accumulation. */
  private val Scale = 1e15

  /** @param edges DIRECTED edge table (`src`, `dst`)
    * @return DataFrame(id LONG, rank DOUBLE) over all vertices */
  def run(edges: DataFrame, iterations: Int = 10,
          damping: Double = 0.85): DataFrame = {
    require(iterations > 0)
    // damping outside [0,1) breaks the mass-≤-1 invariant that makes
    // the fixed-point Long sum overflow-free
    require(damping >= 0.0 && damping < 1.0,
      s"damping must be in [0, 1), got $damping")
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("pagerank", spark, aqeOff = false) { bsp =>
      val e = bsp.hold(stageEdges(edges))
      val degrees = e.groupBy($"src".as("id")).agg(count(lit(1)).as("outdeg"))
      val verts = GraphOps.vertices(e)
      // ONE materialization job builds (id, outdeg); its count supplies n
      // (a separate verts.count() job costs a second distinct over the
      // full edge set)
      val stateBase = bsp.hold(verts.join(degrees, Seq("id"), "left_outer")
        .select($"id", coalesce($"outdeg", lit(0L)).as("outdeg"))
        .localCheckpoint(false))
      val n = stateBase.count()
      if (n == 0) stateBase.select($"id", lit(0.0).as("rank"))
      else {
        val base = (1.0 - damping) / n
        bsp.fixedRounds(stateBase.withColumn("rank", lit(1.0 / n)),
            iterations) { (state, _) =>
          // ONE shuffle per round, and it carries ONLY the contribution
          // stream (r20 — see the merge comment below).
          // shuffle-hash (not sort-merge): SMJ would re-SORT the cached
          // 2.4M-row edge table EVERY round; hashing the (much smaller)
          // state side reuses the edge partitioning sort-free. Unlike the
          // BFS frontier, the state is all |V| — broadcast is not the
          // scale answer here.
          val contribs = state.as("s").hint("shuffle_hash")
            .join(e.as("e"), col("s.id") === col("e.src"))
            .select(col("e.dst").as("id"),
              // fixed-point BEFORE the sum: order-free exact aggregation
              ($"s.rank" / $"s.outdeg" * Scale).cast("long").as("c"))
          // r20 (the Bfs restructure — guide §2.3/§2.4): contributions
          // partial-aggregate and exchange ALONE; the |V| carry rows merge
          // by a partition-aligned LEFT join — the state is born
          // hash(id)-partitioned (stateBase's vertices-distinct), a left
          // outer join preserves that partitioning and so does each
          // round's checkpoint, so the carry never crosses an exchange
          // (the old union shape re-shuffled it every round, plus paid a
          // max(outdeg) over |V|+|E| rows for the re-attach).
          val contribAgg = contribs.groupBy($"id").agg(sum($"c").as("csum"))
          state.select($"id", $"outdeg")
            .join(contribAgg, Seq("id"), "left")
            .select($"id", $"outdeg",
              (lit(base) + lit(damping) *
                (coalesce($"csum", lit(0L)).cast("double") / Scale)).as("rank"))
        }.select($"id", $"rank")
      }
    }
  }

  /** The edge table staged for the rounds: src-partitioned, eagerly
    * checkpointed — with AQE OFF (r21, ExecProbe-diagnosed from the
    * executed round plans): under AQE the staged repartition's final
    * read is an AQEShuffleRead whose output partitioning is UNKNOWN, so
    * the checkpoint's LogicalRDD loses the hash partitioning and EVERY
    * round's shuffle_hash join re-exchanged the full edge table (one
    * 12.9 MB exchange per round — ~130 MB of this query's 263 MB total
    * shuffle at sf0.1; at scale it is a per-round shuffle of the BIG
    * side). With the staging planned AQE-off the exchange itself is
    * the plan root, `HashPartitioning(src, spark.sql.shuffle.partitions)`
    * survives into the checkpoint, and the per-round join reads the
    * blocks in place. Rounds still run with AQE ON (the r17 finding —
    * coalesced small exchanges — is unchanged). Count stays
    * conf-derived. */
  private def stageEdges(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    GraphOps.withLoopAqeDisabled(spark) {
      edges.select(col("src"), col("dst"))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          col("src"))
        .localCheckpoint(true)
    }
  }

  /** Personalized PageRank (Jeh-Widom 2003 "random walk with
    * restart"): identical power iteration, but the restart mass lands
    * ONLY on the source set S — rank becomes proximity TO S, the
    * recommender/graph-feature variant (seed products → related
    * products). init = 1/|S| on S, 0 elsewhere; per-round base term
    * = (1-d)/|S| on S, 0 elsewhere. Same fixed-point determinism
    * contract as [[run]] (scaled-long contribution sums), same
    * dangling-mass simplification, same one-shuffle round shape (the
    * teleport flag rides the state rows like outdeg does — no extra
    * join). A SEPARATE round body rather than a parameterized [[run]]:
    * the uniform face is bench-anchored and a conditional base column
    * would perturb its plan for no gain.
    *
    * @param sources distinct vertex ids receiving restart mass; every
    *                source must exist in the graph (require-checked —
    *                a silently-absent source would skew all mass
    *                normalization) */
  def personalized(edges: DataFrame, sources: Seq[Long],
                   iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations > 0)
    require(damping >= 0.0 && damping < 1.0,
      s"damping must be in [0, 1), got $damping")
    require(sources.nonEmpty, "need at least one source")
    require(sources.distinct.size == sources.size,
      s"duplicate sources: $sources")
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("ppr", spark, aqeOff = false) { bsp =>
      val e = bsp.hold(stageEdges(edges))
      val degrees = e.groupBy($"src".as("id")).agg(count(lit(1)).as("outdeg"))
      val stateBase = bsp.hold(GraphOps.vertices(e)
        .join(degrees, Seq("id"), "left_outer")
        .select($"id", coalesce($"outdeg", lit(0L)).as("outdeg"),
          $"id".isin(sources: _*).cast("long").as("tele"))
        .localCheckpoint(false))
      val nSrc = stateBase.filter($"tele" === 1L).count()
      require(nSrc == sources.size,
        s"${sources.size - nSrc} source(s) absent from the graph: $sources")

      val baseMass = (1.0 - damping) / sources.size
      val init = stateBase.withColumn("rank",
        when($"tele" === 1L, lit(1.0 / sources.size)).otherwise(lit(0.0)))
      bsp.fixedRounds(init, iterations) { (state, _) =>
        val contribs = state.as("s").hint("shuffle_hash")
          .join(e.as("e"), col("s.id") === col("e.src"))
          .select(col("e.dst").as("id"),
            ($"s.rank" / $"s.outdeg" * Scale).cast("long").as("c"))
        // r20: partial-agg'd contributions + partition-aligned left join
        // instead of the union-merge — see [[run]]'s round comment
        // (the carry with its outdeg/tele payload never re-shuffles)
        val contribAgg = contribs.groupBy($"id").agg(sum($"c").as("csum"))
        state.select($"id", $"outdeg", $"tele")
          .join(contribAgg, Seq("id"), "left")
          .select($"id", $"outdeg", $"tele",
            (when($"tele" === 1L, lit(baseMass)).otherwise(lit(0.0)) +
              lit(damping) *
                (coalesce($"csum", lit(0L)).cast("double") / Scale)).as("rank"))
      }.select($"id", $"rank")
    }
  }
}
