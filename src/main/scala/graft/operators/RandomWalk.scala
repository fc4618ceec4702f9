package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic random-walk generation: the walk-corpus operator a
  * graph-embedding pipeline consumes (DeepWalk/node2vec train on walk
  * sequences the way a language model trains on sentences; walks are
  * also the sampling primitive for graph-context features).
  *
  * The reference iterates BFS frontiers (`BFS_map_reduce.py:25-56`);
  * walks reuse that BSP shape — per step one frontier⋈edges join and
  * one per-walk argmin reduce — but each walk follows ONE edge per
  * step instead of all of them, chosen by a salted mixed hash of
  * (walk, step, candidate). No RNG: the same graph always yields the
  * same corpus, across runs AND engines, which is what makes an
  * approximate-looking sampler hash-exact under the DuckDB oracle.
  *
  * Scale design (the 100 TB story):
  *  - edges are repartitioned on `src` once and persisted; every
  *    step's join reuses that co-location (the Bfs discipline).
  *  - per step: one exchange to move walk heads to their vertex
  *    partition, one partial-agg'd exchange for the per-walk argmin.
  *    State is one row per walk — O(|V|·walksPerVertex), independent
  *    of step count.
  *  - the hash choice is per-candidate-edge work, fully map-side; the
  *    argmin is `min(struct(score, dst, …))` — the same semilattice
  *    reduce the BFS/SSSP family uses, so ties are impossible-by-
  *    construction deterministic (equal scores break by dst).
  *  - the steps are a lazy [[Bsp]] chain: each step's state is
  *    persisted and the output checkpoint materializes all of them
  *    in one job; steps are planned with AQE disabled (per-round
  *    re-planning costs more than it saves at this shape — measured
  *    on BFS).
  *
  * Considered and rejected: indexing into a materialized adjacency
  * ARRAY (choice = neighbors[h(walk, step) mod deg]) would cut the
  * per-step candidate stream from O(Σ deg(cur)) to O(|walks|) — but
  * it puts a vertex's whole neighbor list in ONE row, so a
  * 100M-degree hub becomes an unboundedly wide record (the row that
  * OOMs a task at 100 TB). The candidate-stream + argmin form streams
  * a hub's edges across tasks like any other rows; its cost scales
  * with data, never with the worst row. Hub-degree robustness wins.
  */
object RandomWalk {

  /** Pure-BIGINT candidate scorer (r12 verdict item 2). The r9-r12
    * scorer hashed `concat(lpad(walk_id), ':', step, ':', lpad(dst))`
    * — a string build + 31-ary rolling hash PER CANDIDATE EDGE,
    * Σ deg(cur) of them per step, the inner loop of the heaviest
    * iterative family. Same determinism contract in four integer ops:
    *
    *   h     = (walk_id·A + step·B + dst) mod P   (inputs reduced mod P)
    *   score = h² mod P
    *
    * The linear form alone would make the per-candidate order a fixed
    * rotation of dst (the corpusShuffle linear-hash failure); squaring
    * wraps the modulus ~h²/P times between adjacent dst values, which
    * restores avalanche — the exact argument in [[Indexing.mixHash]]'s
    * scaladoc, minus the string. Bounds: every factor is < P ≈ 1e9, so
    * all products stay < ~2e18 < 2⁶³ in BOTH engines — DuckDB replays
    * this in plain BIGINT arithmetic with no string functions at all.
    * Constants are `private[graft]` so the SparkEntry oracle SQL
    * interpolates the same values — one source, no drift. */
  private[graft] val MixA = 1103515245L // classic LCG multiplier, < P
  private[graft] val MixB = 779359397L // large odd salt multiplier, < P
  private[graft] val SaltCand = 104729L // pool-membership salt (negatives)
  private val P = Dedup.P

  private def sqMod(h: Column): Column = (h * h) % P

  private[graft] def walkScore(walkId: Column, step: Column,
                               dst: Column): Column =
    sqMod((pmod(walkId, lit(P)) * MixA + step * MixB + pmod(dst, lit(P))) % P)

  /** One walk of `steps` steps from every vertex, `walksPerVertex`
    * times. Output: (walk_id, seed, final_vertex, path) — path is the
    * comma-joined vertex sequence starting at the seed. Walks whose
    * head reaches a vertex with no outgoing edges stop contributing
    * (dropped by the inner join — on a symmetrized graph this cannot
    * happen). */
  def walks(edges: DataFrame, walksPerVertex: Int = 1,
            steps: Int = 4): DataFrame = {
    require(walksPerVertex > 0 && steps >= 0,
      s"need walksPerVertex > 0 and steps >= 0, got $walksPerVertex/$steps")
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("walk", spark, aqeOff = false) { bsp =>
      // local checkpoint, not persist: no columnar decode on the
      // per-step reads (r17 loop-residency doctrine; see PageRank)
      val e = bsp.hold(edges.select($"src", $"dst")
        .repartition($"src")
        .localCheckpoint(false))
      val init = e.select($"src".as("seed")).distinct()
        .select($"seed", explode(sequence(lit(0), lit(walksPerVertex - 1)))
          .as("w"))
        .select(($"seed" * walksPerVertex + $"w").as("walk_id"), $"seed",
          $"seed".as("cur"), lit(0).as("step"),
          $"seed".cast("string").as("path"))
        // lazy flat checkpoint: materializes inside the chain's one
        // tail job (a flat handle contains only itself, so releasing
        // it never frees e's blocks)
        .localCheckpoint(false)
      // LAZY round chain (r20; the q_effective_diameter/neighborhood-
      // function job-count lesson): a FIXED-step loop has no
      // convergence probe to serve, so a per-step eager checkpoint job
      // would be pure driver latency — steps persist and ONE tail
      // checkpoint materializes the whole chain in a single job. Plan
      // depth is bounded by `steps`; each step's blocks still cache
      // for their two readers (the next step's candidate join and its
      // state join). Steps plan with AQE off, as they always have; the
      // staging above and the tail below plan with the session's AQE.
      val states = GraphOps.withLoopAqeDisabled(spark) {
        bsp.chain(init, steps) { (state, _) =>
          val s = state.as("s")
          // step derives from the carried column (`s.step + 1`), not
          // the round number: the per-step plan stays byte-identical,
          // so codegen caches across steps (the Bfs `dist + 1` lesson)
          // the candidate stream is Σ deg(cur) rows per step (~150× the
          // walk count on this graph) — keep it NARROW: only
          // (walk_id, score, dst) flow into the argmin; the seed/step/
          // path payload is re-attached afterwards by a walk-keyed join
          // of two |walks|-sized frames. Building the path string per
          // CANDIDATE (the old shape) did ~150× the string work and
          // dragged it through the aggregation sort. Tie behavior is
          // unchanged: min(struct(score, dst)) breaks score ties on
          // dst exactly as the wide struct did.
          val cand = s.join(e.as("e"), col("s.cur") === col("e.src"))
            .select(col("s.walk_id"),
              walkScore(col("s.walk_id"), col("s.step") + 1, col("e.dst"))
                .as("score"),
              col("e.dst"))
          val win = cand.groupBy($"walk_id")
            .agg(min(struct($"score", $"dst")).as("m"))
            .select($"walk_id", $"m.dst".as("nxt"))
          state.join(win, "walk_id")
            .select($"walk_id", $"seed", $"nxt".as("cur"),
              ($"step" + 1).as("step"),
              concat($"path", lit(","), $"nxt".cast("string")).as("path"))
        }
      }
      // ONE materialization job for the whole chain; the loop then
      // releases the step caches (walk-state-sized each, `steps` of
      // them), the staged edges and the init
      states.last
        .select($"walk_id", $"seed", $"cur".as("final_vertex"), $"path")
        .localCheckpoint(true)
    }
  }

  /** Skip-gram pair counts from a walk corpus: every position in
    * every walk path pairs with the vertices within `window` hops —
    * the word2vec/DeepWalk training-example generation step that
    * consumes [[walks]]' output. Pure per-walk array expansion
    * (≤ 2·window pairs per position, no join) and ONE exchange for
    * the (center, context) rollup; at 100 TB of walks this is a
    * projection + one keyed aggregation, nothing quadratic. */
  def skipGramPairs(walkDf: DataFrame, window: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    walkDf
      .select(split(col("path"), ",").cast("array<long>").as("vs"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(vs) - 1), i ->
           |  transform(filter(sequence(greatest(0, i - $window),
           |                            least(size(vs) - 1, i + $window)),
           |                   j -> j != i),
           |    j -> struct(element_at(vs, i + 1) AS center,
           |                element_at(vs, j + 1) AS context))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Deterministic negative sampling: for every vertex, the k
    * hash-best candidates from a fixed global candidate pool that are
    * NOT neighbors — the negative pairs a contrastive embedding /
    * link-prediction objective trains against ([[walks]] supplies the
    * positives). No RNG, same reproducibility contract as the walks.
    *
    * Shape at 100 TB:
    *  - the candidate pool is a fixed-size hash-order sample of the
    *    vertex set via distributed take-ordered (the IVF seeding
    *    shape: O(|V| log M) map-side, M rows to the driver,
    *    broadcast) — NEVER |V|² pairs.
    *  - each vertex checks the M broadcast candidates against its own
    *    adjacency list map-side (degree·M work, no edge shuffle; an
    *    anti-join against the edge table would exchange every edge on
    *    a composite key).
    *  - per-vertex top-k rides the bounded [[graft.functions.TopKBySim]]
    *    accumulator: O(k) state per vertex, one exchange on the id
    *    (the adjacency aggregation's own exchange — the candidate
    *    probe and rank are map-side after it).
    *
    * A vertex adjacent to the whole pool emits fewer than k rows
    * (document, don't pad: padding would fabricate negatives). */
  def negativeSamples(edges: DataFrame, k: Int = 5,
                      candidatePool: Int = 32): DataFrame = {
    require(k > 0 && candidatePool > 0,
      s"need k > 0 and candidatePool > 0, got $k/$candidatePool")
    val spark = edges.sparkSession
    import spark.implicits._

    val adj = GraphOps.adjacency(edges)
    // pool membership and pair score in the same pure-BIGINT mix the
    // walk scorer uses (see walkScore scaladoc) — distinct salts keep
    // the two hash families independent
    val cands = adj.select($"id".as("cand"),
        sqMod((pmod($"id", lit(P)) * MixA + SaltCand) % P).as("ch"))
      .orderBy($"ch", $"cand")
      .limit(candidatePool)
      .select($"cand")
    val scored = adj.join(broadcast(cands), lit(true))
      .filter($"cand" =!= $"id" && !array_contains($"neighbours", $"cand"))
      .withColumn("score", sqMod(
        (pmod($"id", lit(P)) * MixA + pmod($"cand", lit(P)) * MixB) % P))
    scored.groupBy($"id")
      .agg(graft.functions.TopKBySim.top_k_by_sim(
        -$"score".cast("double"), $"cand", k).as("tk"))
      .select($"id", posexplode($"tk").as(Seq("pos", "nb")))
      .select($"id", ($"pos" + 1).cast("int").as("rank"),
        $"nb.neighbor_id".as("neg_id"))
  }
}
