package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the coloring
  * (forward-max / backward-reach) algorithm: Orzan 2004's distributed
  * SCC, the same decomposition FW-BW-style systems run (Slota et al.
  * 2014), expressed as DataFrame fixpoints.
  *
  * Per outer round, over the not-yet-assigned subgraph:
  *   1. COLOR: propagate the maximum vertex id along forward edges to
  *      fixpoint — color(v) = max({u : u reaches v} ∪ {v}). Each
  *      color class is a forward-reachability region rooted at its
  *      pivot (the vertex whose color is itself).
  *   2. EXTRACT: a vertex belongs to its pivot's SCC iff it can reach
  *      the pivot back — reverse BFS from ALL pivots simultaneously,
  *      restricted to edges whose endpoints share a color (an SCC
  *      never crosses a forward-reachability boundary).
  *   3. PEEL: assigned vertices leave; edges with an assigned
  *      endpoint leave; repeat until empty.
  *
  * Output convention: comp = the MAXIMUM vertex id of the SCC (the
  * pivot that extracted it) — deterministic and join-stable.
  *
  * Both fixpoints run as [[Bsp]] rounds and the peel between them
  * inside the same [[Bsp.loop]], which owns the checkpoints, the
  * release of superseded round states and the release of everything
  * on a cap's throw; each peel releases its outer round's color and
  * reach states and the old remaining sets once their successors
  * have materialized.
  *
  * Scale shape (100 TB): every fixpoint round is the
  * [[ConnectedComponents]] union-merge (one |E| message join riding
  * the src-partitioned checkpointed edge table, one exchange,
  * checksum-fused convergence probe); state is one row per vertex.
  * Outer rounds are bounded by the condensation's pivot-chain depth —
  * real web/dependency graphs resolve in a handful (the giant SCC leaves
  * in round 1, the bowtie periphery in the next) — and each peel
  * SHRINKS the edge set, so late rounds are cheap exactly like
  * KCore's peeling; AQE stays ON by default (r20 — the
  * [[ConnectedComponents.runStarContraction]] r17 doctrine for
  * shrinking-frame loops: coalesced exchanges on near-empty late
  * rounds; measured warm wall 23.5 → 9.8 s, process CPU 197 → 22 s
  * on the fixture face). Color rounds are bounded by the remaining
  * graph's forward diameter: the same deep-chain caveat as CC's
  * label propagation, with the same loud cap.
  */
object Scc {

  /** @param edges directed edge table (`src`, `dst`)
    * @param maxOuter   cap on peel rounds (condensation depth)
    * @param maxFixpoint cap on each color / reverse-reach fixpoint
    *                    (forward diameter of the remaining subgraph)
    * @return DataFrame(id LONG, comp LONG) — comp = max id of the
    *         vertex's SCC */
  def run(edges: DataFrame, maxOuter: Int = 64,
          maxFixpoint: Int = 256): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    Bsp.loop("scc", spark, aqeOff = false) { bsp =>
      // NO stats firewall here (r20, measured): GraphOps.freshStats
      // rebuilds the frame from the RDD and so DROPS the checkpoint's
      // outputPartitioning — every per-round join then re-exchanges
      // the src-staged edge table (warm 9.8 -> 13.5 s on the fixture
      // face). The compounding-sizeInBytes hazard the firewall guards
      // is bounded here: both fixpoints are shallow (SCC/forward
      // diameter) and each peel RESTAGES remE/remV from scratch, so
      // inherited stats never survive an outer round.
      var remE = bsp.hold(edges.select($"src", $"dst")
        .repartition($"src")
        .localCheckpoint(false))
      var remV = bsp.hold(GraphOps.vertices(remE).localCheckpoint(false))
      var nRem = remV.count()
      val assignedFrames = scala.collection.mutable.ArrayBuffer
        .empty[DataFrame]

      // values only grow in the color fixpoint: an unchanged checksum
      // is its fixpoint (the CC probe)
      def checksum(df: DataFrame): java.math.BigDecimal = {
        val row = df.agg(sum($"c".cast("decimal(38,0)"))).head()
        if (row.isNullAt(0)) java.math.BigDecimal.ZERO
        else row.getDecimal(0)
      }

      var outer = 0
      while (nRem > 0 && outer < maxOuter) {
        outer += 1

        // --- 1. forward max-color fixpoint (the CC round with max) ---
        // f(v) = max({v} ∪ {f(u) : (u, v) ∈ remE}).
        //
        // Measured NEGATIVE (r20, don't retry without new evidence):
        // pointer shortcutting (also offering f(f(v)) via a per-round
        // |V| self-join) is sound (f-values are vertex ids, and whatever
        // reaches f(v) reaches v, so the fixpoint is unchanged) but
        // LOST the A/B on the fixture face — warm 9.8 s → 15.8-20.9 s:
        // value-jumps stall wherever interim f(v) = v (ids increasing
        // along the propagation direction), so the saved rounds are
        // layout-dependent while the extra self-join and the larger
        // per-round AQE plan are paid every round.
        val colorInit = bsp.hold(
          remV.select($"id", $"id".as("c")).localCheckpoint(false))
        var cs = checksum(colorInit)
        val color = bsp.rounds(colorInit, maxFixpoint,
          s"scc color fixpoint did not converge in $maxFixpoint rounds " +
            "(remaining-subgraph diameter exceeds the cap) — raise " +
            "maxFixpoint") { (st, _) =>
          val offers = st.as("s")
            .join(remE.as("e"), col("s.id") === col("e.src"))
            .select(col("e.dst").as("id"), col("s.c").as("c"))
          st.union(offers).groupBy($"id").agg(max($"c").as("c"))
        } { (merged, _) =>
          val ncs = checksum(merged)
          val converged = ncs.compareTo(cs) == 0
          cs = ncs
          Bsp.Probe(converged, s"outer=$outer color")
        }

        // --- 2. reverse reach from all pivots, within color class ---
        // Frontier-pull BFS from the pivots: rounds are bounded by the
        // SCC diameter, NOT the class's reverse diameter. (Two r20
        // restructures were measured NEGATIVE here and reverted — a
        // class-wide max-propagation replacing the BFS paid the whole
        // class's reverse diameter in rounds where this converges in
        // ~SCC-diameter, and staging a class-restricted reversed edge
        // table per peel cost more passes than the per-round class
        // match it amortized on shallow reaches.) State rides
        // (id, color, reached); reached-count is the monotone probe.
        val reachInit = bsp.hold(color
          .select($"id", $"c".as("color"), ($"id" === $"c").as("reached"))
          .localCheckpoint(false))
        var nReached = reachInit.filter($"reached").count()
        val reach = bsp.rounds(reachInit, maxFixpoint,
          s"scc reverse-reach fixpoint did not converge in $maxFixpoint " +
            "rounds — raise maxFixpoint") { (st, _) =>
          // an edge (src, dst) pulls src into the reached set when dst
          // is reached and both share a color
          val pulls = st.filter($"reached")
            .select($"id".as("dst"), $"color".as("dcolor"))
            .join(remE, "dst")
            .select($"src".as("id"), $"dcolor")
            .distinct()
          st.as("s")
            .join(pulls.as("p"),
              col("s.id") === col("p.id") &&
                col("s.color") === col("p.dcolor"), "left_outer")
            .select(col("s.id").as("id"), col("s.color").as("color"),
              (col("s.reached") || col("p.dcolor").isNotNull)
                .as("reached"))
        } { (merged, _) =>
          val n2 = merged.filter($"reached").count()
          val converged = n2 == nReached
          nReached = n2
          Bsp.Probe(converged, s"outer=$outer reached=$n2 of $nRem")
        }

        // --- 3. peel: the successors materialize eagerly, so this
        // round's states and the old remV/remE can go ---
        assignedFrames += bsp.hold(reach.filter($"reached")
          .select($"id", $"color".as("comp"))
          .localCheckpoint(true))
        val remVNext = bsp.hold(reach.filter(!$"reached").select($"id")
          .localCheckpoint(true))
        val remENext = bsp.hold(remE
          .join(remVNext.select($"id".as("src")).hint("shuffle_hash"), "src")
          .join(remVNext.select($"id".as("dst")).hint("shuffle_hash"), "dst")
          .select($"src", $"dst")
          .repartition($"src")
          .localCheckpoint(true))
        Seq(color, reach, remV, remE).foreach(bsp.release)
        remV = remVNext
        remE = remENext
        nRem -= nReached
      }
      if (nRem > 0) throw new IllegalStateException(
        s"scc did not finish in $maxOuter peel rounds (condensation " +
          "pivot-chain deeper than the cap) — raise maxOuter")
      if (assignedFrames.isEmpty)
        spark.emptyDataFrame
          .withColumn("id", lit(0L)).withColumn("comp", lit(0L))
          .limit(0)
      else assignedFrames.reduce(_ unionAll _).localCheckpoint(true)
    }
  }
}
