package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Minimum spanning forest by Borůvka's algorithm — the MST/MSF shape
  * that parallelizes (Kruskal's union-find and Prim's frontier are
  * inherently sequential; Borůvka is the textbook distributed choice,
  * the same skeleton GraphX/Pregel formulations use).
  *
  * Per round, every component picks its minimum-weight outgoing edge
  * under the STRICT total order (weight, src, dst) — distinct
  * tie-break keys make the forest UNIQUE, so every correct MST
  * algorithm (including the spec's serial Kruskal and the gate's
  * relational Kruskal-rule oracle) lands on the identical edge set.
  * Chosen edges join the forest; their endpoint components merge by
  * PSEUDO-FOREST pointer doubling over the chosen graph (one parent
  * pointer per component; every cycle is a 2-cycle under the strict
  * order, collapsed to a self-loop root, then p ← p∘p — ⌈log₂ depth⌉
  * comp-sized self-joins, see the loop comment); vertices relabel
  * through the merged roots. Components at least halve per round →
  * ≤ log₂ V rounds regardless of diameter.
  *
  * 100 TB design: the only full-size work per round is
  * edges ⋈ labels (2 hash joins against the persisted, pre-
  * repartitioned edge table — the [[Bfs]] loop shape); the per-round
  * contraction runs on the component graph, whose size is bounded by
  * the CURRENT component count, not |V| or |E|. Never all-pairs,
  * never a driver-side collect; the loop keeps the house discipline
  * (eager localCheckpoint per round, superseded frames released
  * in-loop, AQE off inside the loop, per-round stderr telemetry).
  *
  * Capability extension over the reference (no spanning-tree
  * machinery exists there — its graph surface is BFS only,
  * `BFS_map_reduce.py:115-150`); same BSP semilattice family: the
  * per-component argmin here is O11/O12's min-reduce with a
  * different key.
  */
object SpanningForest {

  /** AQE stays ON here — the OPPOSITE of the fixed-shape loops
    * ([[Bfs]], [[Sssp]]: rounds over a pre-partitioned edge table,
    * nothing to adapt, per-stage latency only). Borůvka's contraction
    * mints NEW exchanges every round over frames that shrink
    * geometrically (components at least halve), and at the session's
    * scan-sized shuffle.partitions each tiny exchange writes a full
    * set of shuffle files — measured on the 6k-edge gate graph: CPU
    * 150-175s of IndexShuffleBlockResolver metadata/file syscalls at
    * 32 partitions vs 24-28s with AQE coalescing the same exchanges
    * (wall 13.6s → 6.7s fresh-JVM warm). The same quadratic
    * shuffle-file observation gated q_cc_star_deep onto a
    * small-partition child session; AQE is the self-tuning version of
    * that fix and also right at 100 TB, where round 1 is huge (AQE
    * leaves it wide) and round 10 is tiny (AQE collapses it).
    *
    * @param edges undirected weighted edges (`src`, `dst`, `weight`)
    *              — one row per direction or per unordered pair, both
    *              accepted (canonicalized to src < dst, parallel
    *              edges keep the lightest).
    * @return the unique MSF under (weight, src, dst): columns
    *         (`src`, `dst`, `weight`), src < dst.
    * @throws IllegalStateException if `maxRounds` is exhausted —
    *         returning a partial forest would silently under-span. */
  def boruvka(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Stats firewall (measured rationale: GraphOps.freshStats scaladoc;
    // this loop is the squaring case — the pointer-doubling hops below
    // self-join the checkpointed state; 65-Mbit plan BigInts by round 5
    // before the firewall).
    def fresh(ckpt: DataFrame): DataFrame = GraphOps.freshStats(ckpt)

    // canonical undirected edge set: src < dst, lightest parallel edge.
    // ONE exchange (r20, guide §2.4): repartition(src) FIRST — the
    // canonicalizing groupBy(src, dst) then rides HashPartitioning(src)
    // (equal (src, dst) pairs are co-located), instead of paying its
    // own (src, dst) exchange and re-shuffling the result back to src.
    val e0 = edges.filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"),
        greatest($"src", $"dst").as("dst"), $"weight")
      .repartition($"src")
      .groupBy($"src", $"dst").agg(min($"weight").as("weight"))
      // local checkpoint, not persist: no columnar decode on the
      // per-round reads (r17 loop-residency doctrine; see PageRank)
      .localCheckpoint(false)

    // LAZY init: round 1's picked.count() materializes this alongside
    // its own blocks — no standalone init job
    var compC = GraphOps.vertices(e0)
      .select($"id", $"id".as("comp"))
      .localCheckpoint(false)
    var comp = fresh(compC)
    // Deferred releases: a round's comp/ptr handles stay alive until
    // the NEXT round's picked.count() has materialized the lazy
    // newComp checkpoint that reads them (releasing earlier would
    // unpersist blocks a not-yet-materialized lineage still needs —
    // localCheckpoint lineage CANNOT recompute after unpersist).
    var pendingRelease = List.empty[DataFrame]
    // forest accumulates LAZILY: each round's picked checkpoint stays
    // alive and the union happens ONCE after the loop — the forest is
    // only consumed at the end, so the per-round union+checkpoint job
    // (r16 first cut) was pure latency. The handles are forest-sized
    // in total.
    val forestParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val tRound = System.nanoTime()
      // label endpoints with their current components; cross-component
      // edges are the only candidates
      val lab = e0.as("e")
        .join(comp.as("cs"), col("e.src") === col("cs.id"))
        .join(comp.as("cd"), col("e.dst") === col("cd.id"))
        .select(col("e.src"), col("e.dst"), col("e.weight"),
          col("cs.comp").as("cs"), col("cd.comp").as("cd"))
        .filter($"cs" =!= $"cd")
      // per-component argmin outgoing edge under (weight, src, dst) —
      // struct-min is the O12 argmin. ONE row per component that
      // still has an outgoing edge: both its forest contribution and
      // its contraction parent derive from this frame.
      // LAZY checkpoint + count: the count action both materializes the
      // checkpoint blocks and reads the termination signal — ONE job
      // where the eager-checkpoint-then-count form paid two. (Job
      // COUNT, not job size, dominated this query's driver wall — the
      // same disease the q_effective_diameter 6-jobs→1 collapse cured.)
      val picked = lab
        .select(explode(array($"cs", $"cd")).as("c"),
          struct($"weight", $"src", $"dst", $"cs", $"cd").as("e"))
        .groupBy($"c").agg(min($"e").as("e"))
        .localCheckpoint(false)
      val nChosen = picked.count()
      // the count above read comp twice, so last round's lazy newComp
      // is now materialized — its inputs can finally go
      pendingRelease.foreach(GraphOps.releaseCheckpointedFrame(_))
      pendingRelease = Nil
      if (nChosen == 0) {
        done = true
        GraphOps.releaseCheckpointedFrame(picked)
      } else {
        // forest edges: distinct (applied at the final union) because
        // a mutual-min edge is legitimately chosen by BOTH endpoint
        // components
        forestParts += picked.select(col("e.src").as("src"),
          col("e.dst").as("dst"), col("e.weight").as("weight"))
        // Contract the chosen graph by PSEUDO-FOREST pointer doubling
        // instead of the generic ConnectedComponents loop (r16,
        // measured: the nested CC ran 4-7 min-label rounds + its
        // per-invocation repartition/persist/checksum setup per
        // Borůvka round — ~60% of the whole query's wall). Structure
        // theorem (strict total order): follow parent(c) = the other
        // endpoint of c's chosen edge; around any cycle consecutive
        // chosen edges strictly decrease, so every cycle has length
        // EXACTLY 2 (the mutual-min pair) and the chosen graph is a
        // forest of trees hanging off 2-cycles. Collapse each 2-cycle
        // to its min id (a self-loop root), then square the pointer
        // (p ← p∘p) until every pointer hits a root: ⌈log₂ depth⌉
        // rounds of one comp-sized self-join each, vs depth rounds +
        // setup for CC. Labels are the 2-cycle min rather than the
        // component-min vertex id — any consistent in-group
        // representative is equivalent here (the output is the edge
        // set; labels never leave the loop), and distinct groups get
        // distinct roots because the root is a member.
        val parents = picked.select($"c",
          when(col("e.cs") === $"c", col("e.cd"))
            .otherwise(col("e.cs")).as("p"))
        // every p is itself a component with an outgoing edge (the
        // mutual edge at minimum), so the collapse self-join is total
        var ptrC = parents.as("a")
          .join(parents.select($"c".as("pc"), $"p".as("pp")),
            col("a.p") === col("pc"))
          .select(col("a.c"),
            when(col("pp") === col("a.c"), least(col("a.c"), col("a.p")))
              .otherwise(col("a.p")).as("p"))
          .localCheckpoint(false)
        var ptr = fresh(ptrC)
        // Pointer doubling at ONE job per hop (r17; was checkpoint +
        // left_anti-count = 2 jobs/hop plus a roots frame and an
        // initial probe — 3 more jobs/round): each hop's self-join
        // emits its own termination signal, moved = (p(p(c)) ≠ p(c)).
        // moved = 0 for all rows ⇔ every pointer's target is a fixed
        // point ⇔ all pointers sit on roots — exactly the old probe,
        // evaluated inside the hop's own job. The lazy checkpoint is
        // materialized by the SAME count() that reads the signal; the
        // collapse frame above materializes inside hop 1's job, so the
        // inner loop costs exactly max(1, ⌈log₂ depth⌉) jobs total.
        // Hop cap: depth ≤ components ≤ |V| < 2^63 ⇒ >63 hops means
        // the 2-cycle/strict-order invariant is broken (e.g. a future
        // edit feeding non-canonical edges) — fail loudly rather than
        // spin the driver forever.
        var pending = 1L
        var hops = 0
        while (pending > 0) {
          hops += 1
          if (hops > 64) throw new IllegalStateException(
            "pointer doubling exceeded 64 hops — the chosen graph is " +
              "not a pseudo-forest of 2-cycles (strict-total-order " +
              "invariant broken); refusing to spin the driver")
          val nxtC = ptr.as("a")
            .join(ptr.select($"c".as("pc"), $"p".as("pp")),
              col("a.p") === col("pc"))
            .select(col("a.c"), col("pp").as("p"),
              (col("pp") =!= col("a.p")).as("moved"))
            .localCheckpoint(false)
          pending = nxtC.filter($"moved").count()
          GraphOps.releaseCheckpointedFrame(ptrC)
          ptrC = nxtC
          ptr = fresh(ptrC).select($"c", $"p")
        }
        // LAZY relabel: next round's picked.count() materializes it —
        // one fewer job per round; this round's comp and final ptr
        // handles defer to that point (see pendingRelease)
        val newCompC = comp.as("c")
          .join(ptr.as("r"), col("c.comp") === col("r.c"), "left")
          .select(col("c.id"),
            coalesce(col("r.p"), col("c.comp")).as("comp"))
          .localCheckpoint(false)
        pendingRelease = List(compC, ptrC)
        compC = newCompC
        comp = fresh(compC)
      }
      System.err.println(
        f"[msf] round $round chosen=$nChosen " +
        f"${(System.nanoTime() - tRound) / 1e9}%.2fs")
    }
    GraphOps.releaseCheckpointedFrame(e0)
    pendingRelease.foreach(GraphOps.releaseCheckpointedFrame(_))
    GraphOps.releaseCheckpointedFrame(compC)
    if (!done) throw new IllegalStateException(
      s"Borůvka did not converge in $maxRounds rounds — components " +
        "must at least halve per round, so this indicates a broken " +
        "contraction, not a deep graph")
    // per-round picked checkpoints stay alive behind the result; the
    // harness's getPersistentRDDs sweep (or the caller materializing
    // and releasing) reclaims them, same as every loop's final frame
    if (forestParts.isEmpty)
      e0.limit(0).select($"src", $"dst", $"weight")
    else forestParts.reduce(_ unionByName _).distinct()
  }
}
