package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by iterative support peeling: repeatedly
  * delete every edge that closes fewer than k-2 triangles INSIDE the
  * current subgraph; the fixed point is the k-truss (Cohen 2008) —
  * the triangle-backed refinement of the k-core (every k-truss edge
  * lies in a (k-1)-core but not vice versa; truss cohesion demands
  * actual closed wedges, which is what community structure looks
  * like, not just degree mass).
  *
  * Support per round uses the same degree-ordered orientation +
  * sorted-adjacency intersection as [[GraphOps.triangleCount]]
  * (each triangle enumerated exactly once, at its lowest-ranked
  * corner; wedge work O(m^1.5)-bounded, hot-degree-proof), then each
  * triangle credits its THREE canonical edges in one exploded
  * exchange keyed on (lo, hi) — 3·|triangles| rows, the inherent
  * output size of support counting. No all-pairs anywhere.
  *
  * Loop discipline (the [[KCore]] peel contract): the rounds run on
  * [[Bsp]] with AQE ON — the edge set shrinks monotonically (the
  * shrinking-frame doctrine: near-empty late exchanges would
  * otherwise write full scan-sized shuffle-file sets); [[Bsp]]
  * checkpoints each round lazily under the fused convergence probe
  * and releases superseded rounds. Support is monotone
  * non-increasing under edge deletion, so peeling is confluent and
  * "no edge below threshold" is a valid fixpoint test.
  *
  * Stats firewall: [[supports]] derives degree, orientation and TWO
  * adjacency join probes from the round's checkpointed state — a
  * multiplicative self-join pattern, exactly the shape that compounds
  * localCheckpoint-inherited sizeInBytes round over round (the
  * [[SpanningForest]] discovery, guarded by StatsFirewallSpec). The
  * state re-enters each round through [[GraphOps.freshStats]].
  *
  * (Beyond-reference capability, same family as [[KCore]]: the
  * reference computes one BFS; cohesive-subgraph extraction is a
  * standard consumer of the same edge tables.)
  */
object KTruss {

  /** Per-edge triangle support within the canonical edge set `canon`
    * (columns `lo` < `hi`, distinct): returns (lo, hi, sup) covering
    * EVERY input edge, sup = 0 when the edge closes no triangle.
    * Exact integer counting — orientation only bounds the wedge work,
    * the credited support is orientation-independent. */
  private[graft] def supports(canon: DataFrame): DataFrame = {
    val spark = canon.sparkSession
    import spark.implicits._
    val deg = canon.select($"lo".as("id")).union(canon.select($"hi".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("d"))
    val lower = col("d_lo") < col("d_hi") ||
      (col("d_lo") === col("d_hi") && col("lo") < col("hi"))
    val oriented = canon
      .join(deg.select($"id".as("lo"), $"d".as("d_lo")), "lo")
      .join(deg.select($"id".as("hi"), $"d".as("d_hi")), "hi")
      .select(when(lower, $"lo").otherwise($"hi").as("src"),
        when(lower, $"hi").otherwise($"lo").as("dst"))
    val adjOut = oriented.groupBy($"src")
      .agg(sort_array(collect_list($"dst")).as("nbrs"))
    // triangle {u,v,w} at its lowest-ranked corner edge (u,v):
    // w ∈ N⁺(u) ∩ N⁺(v) — the codegen'd sorted merge, not a wedge
    // shuffle (the q_triangle_count lesson)
    val tri = oriented
      .join(adjOut.select($"src", $"nbrs".as("nu")), "src")
      .join(adjOut.select($"src".as("dst"), $"nbrs".as("nv")), Seq("dst"))
      .select($"src".as("u"), $"dst".as("v"),
        graft.functions.SortedIntersectExpr
          .sorted_intersect($"nu", $"nv").as("ws"))
      .filter(size($"ws") > 0)
    // NOTE (r21, measured negative — don't retry without new evidence):
    // fusing uv/uw/vw into ONE explode-of-concat pass over tri (the
    // clusteringCoefficients r21 credits fix) HALVED process CPU here
    // (33.7 → 18.4 s warm IsoBench) but LOST wall 6.69 → 8.77 s: the
    // per-round tri re-derivation reads cheap checkpoint blocks (the
    // state is checkpointed every round), the three branches ride idle
    // cores, and the fused single stage serializes what was free
    // parallelism at bench scale. At true 100 TB scale (no idle cores)
    // the fused form's CPU/shuffle savings win — revisit only with a
    // cluster-scale measurement.
    val uv = tri.select(least($"u", $"v").as("lo"),
      greatest($"u", $"v").as("hi"), size($"ws").cast("long").as("c"))
    val uw = tri.select($"u", explode($"ws").as("w"))
      .select(least($"u", $"w").as("lo"), greatest($"u", $"w").as("hi"),
        lit(1L).as("c"))
    val vw = tri.select($"v", explode($"ws").as("w"))
      .select(least($"v", $"w").as("lo"), greatest($"v", $"w").as("hi"),
        lit(1L).as("c"))
    val sup = uv.union(uw).union(vw)
      .groupBy($"lo", $"hi").agg(sum($"c").as("sup"))
    canon.join(sup, Seq("lo", "hi"), "left")
      .select($"lo", $"hi", coalesce($"sup", lit(0L)).as("sup"))
  }

  /** Peel to the fixed point: the k-truss, with each surviving edge's
    * support INSIDE the truss.
    *
    * @param edges arbitrary (src, dst) rows — symmetrized duplicates,
    *              self-loops and multi-edges are canonicalized away
    * @param maxRounds loop bound; exceeding it THROWS (every iterative
    *                  loop here bounds rounds — a silent partial truss
    *                  would read as converged)
    * @return DataFrame(src LONG, dst LONG, support LONG), src < dst */
  def truss(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(maxRounds > 0)
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("ktruss", spark, aqeOff = false) { bsp =>
      // round-0 canonical set: eager checkpoint — supports() consumes its
      // input four ways (deg's two union branches, oriented, the final
      // left join), and the raw distinct-over-scan re-ran per consumer
      // (r21; later rounds already read the cheap filter over the
      // previous round's checkpoint blocks). Seeded with sup = k - 2, so
      // round 1 keeps every edge and is the first support pass.
      val canon0 = edges.filter($"src" =!= $"dst")
        .select(least($"src", $"dst").cast("long").as("lo"),
          greatest($"src", $"dst").cast("long").as("hi"))
        .distinct()
        .select($"lo", $"hi", lit(k - 2L).as("sup"))
        .localCheckpoint(true)
      // Loop state carries (lo, hi, sup): sup is computed ON the state's
      // own edge set, so the fixpoint frame IS the final report — no
      // extra triangle pass. The probe is fused (one job materializes
      // the lazy checkpoint AND reads both counts) and asks "how many
      // edges are BELOW threshold" — zero means the state is the truss,
      // so the converging run never pays a support pass on an unchanged
      // set (a count-equality probe would detect the fixpoint one full
      // pass later). Round 1 is the support pass over canon0, so the
      // cap is maxRounds peel rounds after it.
      bsp.rounds(canon0, maxRounds + 1,
        s"k-truss(k=$k) did not converge within $maxRounds " +
          "rounds") { (e, round) =>
        // round 1 reads canon0 as is: its stats are the distinct's own,
        // not compounded, and the firewall's rebuilt frame cost 3 more
        // jobs on the JobCountSpec fixture
        val st = if (round == 1) e else GraphOps.freshStats(e)
        supports(st.filter($"sup" >= k - 2).select($"lo", $"hi"))
      } { (next, _) =>
        val (ne, nf) = next.agg(count(lit(1)),
          coalesce(sum(when($"sup" < k - 2, 1L).otherwise(0L)), lit(0L)))
          .as[(Long, Long)].head()
        Bsp.Probe(nf == 0, s"edges=$ne below=$nf")
      }.select($"lo".as("src"), $"hi".as("dst"), $"sup".as("support"))
    }
  }
}
