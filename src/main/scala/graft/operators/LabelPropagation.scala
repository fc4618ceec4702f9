package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007; the GraphX `LabelPropagation` convention: a vertex's new
  * label is the most frequent label among its NEIGHBORS' current
  * labels — its own label does not vote).
  *
  * Beyond-reference capability on the engine's iterative BSP core
  * (same round structure as [[Bfs]]/[[ConnectedComponents]]/
  * [[PageRank]]: checkpointed pre-partitioned edge table, eager
  * localCheckpoint per round for flat lineage; AQE stays on, see the
  * staging note in [[run]]).
  *
  * Determinism (the property that makes the query hash-exact against
  * a SQL oracle): ties on the neighbor-label frequency are broken by
  * the SMALLEST label, via a single `min(struct(-count, label))`
  * semilattice aggregate — the same argmin-by-struct trick as the BFS
  * path selection (reference hazards H2/H6 don't apply), so the
  * result is independent of partition order and run-to-run stable.
  * The round count is FIXED (not run-to-convergence): plain LPA is
  * not guaranteed to converge (labels can oscillate on bipartite
  * structure), so a bounded round count is the principled variant,
  * and it is what makes an unrolled SQL oracle possible.
  *
  * Scale shape (100 TB): each round is ONE repartition exchange of
  * the |E| message rows on the destination vertex; both aggregations
  * (per-(vertex,label) count, then per-vertex argmin) run
  * exchange-free on that partitioning because their grouping keys
  * contain the partition key. Messages are generated by a
  * shuffle-hash join of the (small) label state against the cached
  * edge table partitioned on `src` — the edge side is never re-sorted
  * or re-shuffled after round 0. No driver-side state; labels live
  * distributed.
  */
object LabelPropagation {

  /** @param edges  SYMMETRIZED edge table (`src`, `dst`) — each
    *               undirected edge present in both directions, so
    *               "join on src, emit to dst" enumerates exactly the
    *               neighbor multiset of every vertex.
    * @param rounds fixed number of synchronous update rounds
    * @return DataFrame(id LONG, label LONG): the community label of
    *         every vertex after `rounds` updates (labels start as the
    *         vertex's own id). */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("labelprop", spark, aqeOff = false) { bsp =>
      // NOTE (r21, measured negative — the KCore verdict applies here
      // too): AQE-off staging removes this table's per-round
      // re-exchanges (shuffle 72 → 48 MB) but costs warm wall/CPU
      // (IsoBench ×4: 2.0-2.3 s @ 12-17 CPU-s → 2.2-2.5 @ 23-26) — the
      // staged exchange materializes un-coalesced at full
      // shuffle.partitions and four fixed rounds of tiny tasks outweigh
      // the removed exchange at bench scale. See KCore.runPeel's note.
      val e = bsp.hold(edges.select($"src", $"dst")
        .repartition($"src")
        .localCheckpoint(true))
      val init = GraphOps.vertices(e)
        .select($"id", $"id".as("label"))
        .localCheckpoint(true)
      bsp.fixedRounds(init, rounds)((state, _) => lpRound(e, state))
    }
  }

  /** One synchronous update round: neighbor-label messages, then the
    * most-frequent-label argmin per vertex. Extracted (pre-checkpoint)
    * so PlanShapeSpec can pin the round's physical shape: one
    * shuffle-hash message join riding the edge table's src
    * partitioning, ONE |E| exchange on the receiver id, and both
    * aggregations exchange-free on that partitioning. */
  private[graft] def lpRound(e: DataFrame, state: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // Messages: every neighbor's current label, keyed by receiver.
    // shuffle-hash on the state side — the cached edge table keeps
    // its src partitioning; SMJ would re-sort |E| rows every round.
    val msgs = state.as("s").hint("shuffle_hash")
      .join(e.as("e"), col("s.id") === col("e.src"))
      .select(col("e.dst").as("id"), col("s.label").as("lbl"))
    // One exchange on id; the (id, lbl) count and the per-id argmin
    // both group on supersets/equals of the partition key, so
    // neither adds an exchange. argmin(struct(-count, label)) =
    // most-frequent label, ties to the smallest — order-free.
    msgs.repartition($"id")
      .groupBy($"id", $"lbl").agg(count(lit(1)).as("c"))
      .groupBy($"id")
      .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("m"))
      .select($"id", $"m.l".as("label"))
  }

  /** Newman modularity of a community assignment — the EVAL face for
    * community detection (what recall@k is to the ANN family): how
    * much denser inside the communities the graph is than a degree-
    * preserving random rewiring. Per community `c` over the
    * SYMMETRIZED edge list (|E| = 2m): `e_c` directed intra-community
    * edges, `d_c` the degree sum, and Q = Σ_c [e_c/|E| − (d_c/|E|)²].
    *
    * Exactness: per-community contributions are the RAW BIGINT
    * numerators `|E|·e_c − d_c²` (no division — the kl_drift
    * contract); only the global Q takes ONE sign-safe truncating
    * micro division, mirrored exactly in the oracle. Headroom:
    * num·10⁶ must fit 63 bits → exact while |E| < ~3×10⁶; beyond
    * that, rescale to milli or lift the one global division to
    * decimal — the per-community numerators themselves hold to
    * |E| < ~3×10⁹.
    *
    * Shape at 100 TB: labels join the edge list on src then dst —
    * two vertex-keyed exchanges of the |E| stream (the BSP-round
    * shape, AQE-splittable on hub skew); ONE groupBy(community) pass
    * computes d_c and e_c together, and the edge stream is consumed
    * EXACTLY ONCE: |E| itself is recovered as Σ_c d_c (every
    * directed edge contributes 1 to its source's community degree),
    * so there is no separate count scan, no broadcast cross, and no
    * self-join for the global sum (a per.agg ⨯ per cross was
    * measured to MISS the cache through the analyzer's relation
    * dedup and re-derive the whole edge pipeline — the windows
    * can't). Everything after the groupBy is |communities|-sized;
    * the two unpartitioned windows run over that tiny frame, the
    * skyline-global-pass situation where a single-task window is the
    * right plan. */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val lab = communities.select(col("id"), col("label"))
    val we = edges
      .join(lab.select(col("id").as("src"), col("label").as("c_src")), "src")
      .join(lab.select(col("id").as("dst"), col("label").as("c_dst")), "dst")
    val stats = we.groupBy(col("c_src").as("label"))
      .agg(count(lit(1)).as("degree_sum"),
        sum(when(col("c_src") === col("c_dst"), 1L).otherwise(0L))
          .as("intra_edges"))
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    sizes.join(stats, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .withColumn("m2", sum(col("degree_sum")).over(w))
      .withColumn("contrib_num",
        expr("m2 * intra_edges - degree_sum * degree_sum"))
      .withColumn("num", sum(col("contrib_num")).over(w))
      .withColumn("q_micro", expr(
        "CASE WHEN num >= 0 THEN num * 1000000 div (m2 * m2) " +
          "ELSE -((-num) * 1000000 div (m2 * m2)) END + " +
          // headroom enforced: num·10^6 and m2² wrap past 2^63
          // silently under non-ANSI Spark (documented bounds |E|≈3e6
          // for micro exactness, 3e9 for m2²). assert_true is NULL
          // when in bounds; `+ ifnull(...,0)` keeps it load-bearing.
          s"ifnull(cast(assert_true(" +
          s"abs(num) <= ${Long.MaxValue / 1000000L} AND " +
          s"m2 <= ${Long.MaxValue} div m2, " +
          "concat('modularity q_micro overflow: num=', num, " +
          "' m2=', m2)) as int), 0)"))
      .select(col("label"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"), col("contrib_num"), col("q_micro"))
  }
}
