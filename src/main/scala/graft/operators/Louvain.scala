package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Louvain phase-1 move steps (Blondel et al. 2008): each vertex
  * greedily re-assigns itself to the neighboring community with the
  * best modularity gain. This is the ASCENT half of the community
  * toolkit — [[LabelPropagation]] spreads labels by frequency,
  * [[LabelPropagation.modularity]] EVALUATES an assignment; this
  * operator IMPROVES one, which is what "community detection" means
  * in the Louvain sense.
  *
  * Synchronous variant, fixed step count: every vertex decides
  * simultaneously against the previous step's assignment (the
  * deterministic BSP form — serial Louvain's sequential sweeps are
  * order-dependent and unreplayable distributed; synchronous sweeps
  * are the standard distributed adaptation, e.g. Que et al. 2015).
  *
  * INTEGER-EXACT gain, so a SQL oracle replays it bit-for-bit
  * (quantize the algorithm): moving v into community c changes
  * modularity by ΔQ = k_{v,c}/m − k_v·Σtot_c'/(2m²) + const(v), with
  * Σtot_c' the community's degree mass without v. Scaling by the
  * positive constant 2m² preserves the argmax and makes every score
  * an exact integer:
  *
  *   score(v, c) = 2m·k_{v,c} − k_v·(Σtot_c − [c = comm(v)]·k_v)
  *
  * Argmax over the neighbor communities ∪ {own} with ties to the
  * smallest community id — `min(struct(-score, comm))`, order-free.
  *
  * Scale shape: per step — one |E| message join riding the cached
  * edge table's src partitioning (the [[LabelPropagation]] round
  * shape), one |E| exchange for k_{v,c}, a |V|-sized Σtot aggregate,
  * and one candidate-set exchange (≤ |E|/2 + |V| rows). State is one
  * row per vertex; no all-pairs, nothing |V|² anywhere.
  *
  * Overflow contract (r20 — the r19 "What's missing #1" ceiling is
  * GONE): |score| ≤ max(γnum, γden)·4m². While that fits Long the
  * scorers run native 64-bit codegen arithmetic; past it (total edge
  * weight beyond ~1.5e9 at γ = 1 — the scale a 100 TB graph lives
  * at) the SAME expressions run in decimal(38,0), which holds every
  * product of two Long-ranged factors exactly (19 + 19 digits), so
  * the argmax stays bit-exact for total weight up to
  * Long.MaxValue / max(γnum, γden) — no pre-divided degrees, no tie
  * tolerance, no wrong answers, just wider (still codegen'd, still
  * Tungsten-native) arithmetic on the graphs that need it. Uniform
  * weight scaling leaves the argmax invariant (score scales by c²),
  * which is what the wide/narrow exactness spec pins.
  *
  * Resolution parameter γ = gammaNum/gammaDen (Reichardt–Bornholdt):
  * score_γ(v, c) = γden·2m·k_{v,c} − γnum·k_v·(Σtot_c − [same]·k_v)
  * — both terms scaled by γden so the argmax stays integer-exact for
  * any rational γ. γ > 1 favors smaller communities, γ < 1 larger;
  * γ = 1 is Newman modularity (the default, and the only setting the
  * driver-gated faces use).
  */
object Louvain {

  /** Gain arithmetic stays in Long while max(γnum, γden)·(2m)² fits
    * with ~2× headroom; past this the scorers switch to
    * decimal(38,0). */
  private def longScoreCeiling(maxPQ: Long): Long =
    math.floor(3.0e9 / math.sqrt(maxPQ.toDouble)).toLong

  /** @param edges SYMMETRIZED edge table (`src`, `dst`); self-loops
    *              and duplicate pairs are dropped (simple graph —
    *              modularity's k_v/Σtot bookkeeping assumes it)
    * @param steps fixed number of synchronous move steps (initial
    *              assignment: every vertex its own community)
    * @return DataFrame(id LONG, comm LONG) after `steps` steps */
  /** AQE stays ON by default (measured, sf0.1: task CPU 223 -> 127
    * before the checkpoint swap; the per-step exchanges are
    * candidate-stream-sized and pay scan-sized shuffle-file overhead
    * without coalescing — the KCore shrinking-frame doctrine applies
    * even though the frames here are steady-sized, because they are
    * SMALL relative to shuffle.partitions). */
  /** CAVEAT (r18, measured): the UNGATED (`partialMoves = false`)
    * synchronous sweep is the published BSP primitive, but its
    * simultaneous moves swap-oscillate — on the copurchase graph it
    * lands BELOW the singleton baseline (Q −1497 → −4807 micro after
    * 2 steps). That default exists for the synchronous-recurrence
    * contract the q_louvain_move oracle replays. For community
    * QUALITY pass `partialMoves = true` (r19, the recommended public
    * face): in step r only vertices with (id + r) even may leave
    * their community, so movers target STATIONARY communities and
    * merges are real — the same parity gate [[twoLevel]]'s contracted
    * phase runs (measured there: −4807 → +266015 micro), here exposed
    * as a first-class flat-sweep primitive. */
  def moveSteps(edges: DataFrame, steps: Int,
                partialMoves: Boolean = false,
                gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    // stage via stageCanonical (one exchange — r20) instead of
    // letting runStepsCounted re-partition the distinct's output
    val staged = stageCanonical(edges)
    val out = runStepsCounted(staged, steps, partialMoves,
      preStaged = true, gammaNum = gammaNum, gammaDen = gammaDen)._1
    // out is an eager flat checkpoint — nothing recomputes through
    // the staged table, so its blocks release here
    GraphOps.releaseCheckpointedFrame(staged)
    out
  }

  /** [[moveSteps]] over an EXPLICITLY WEIGHTED simple graph — the
    * entry point for graphs whose total edge weight exceeds what unit
    * weights can express (billions of multi-edges rolled up to
    * weighted rows — the 100 TB shape) and for any caller carrying
    * real weights. Input contract: `src`, `dst`, `w` (BIGINT),
    * SYMMETRIC, no duplicate (src, dst) pairs; self-loop rows count
    * in degrees/Σtot but never generate move candidates (the
    * [[coarsen]] output shape). Total weight past the Long scoring
    * ceiling (~1.5e9 at γ = 1) runs the decimal(38,0) gain — exact to
    * total weight Long.MaxValue / max(γnum, γden), require-checked. */
  def moveStepsWeighted(wEdges: DataFrame, steps: Int,
                        partialMoves: Boolean = false,
                        gammaNum: Long = 1L,
                        gammaDen: Long = 1L): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    runStepsCounted(wEdges, steps, partialMoves,
      gammaNum = gammaNum, gammaDen = gammaDen)._1
  }

  /** Two-level Louvain (phase 1 + ONE coarsening pass + phase 1 on
    * the contracted graph — Blondel 2008 §2's alternation, unrolled
    * once): move steps improve the singleton assignment, communities
    * contract to super-vertices (intra-community mass as self-loops,
    * inter-community edge counts as weights), and weighted
    * PARITY-GATED move steps improve the contracted assignment (see
    * `partialMoves` — the ungated synchronous sweep swap-oscillates
    * from the contracted singleton init and measurably LOWERS Q;
    * gated, it lifts the copurchase graph from Q = −4807 micro to
    * +266015 at (2,2), 331 → 133 communities — the q_louvain_gain
    * face gates exactly this claim). Both phases run the SAME
    * integer-exact synchronous core, so the composition stays
    * oracle-replayable.
    *
    * Scale shape: [[coarsen]] is two gated |V|-frame joins + one
    * exchange on the (community, community) key; the phase-2 loop
    * runs on the CONTRACTED graph — |communities| vertices, usually
    * orders of magnitude smaller — so the second phase is nearly free
    * at 100 TB, which is exactly why real Louvain alternates instead
    * of running more flat sweeps.
    *
    * @return DataFrame(id, comm1, comm2): per vertex the phase-1
    *         community and its final (phase-2) community */
  def twoLevel(edges: DataFrame, steps1: Int, steps2: Int): DataFrame = {
    require(steps1 > 0 && steps2 > 0,
      s"steps must be positive, got ($steps1, $steps2)")
    // ONE staged canonical edge table feeds phase 1 AND the
    // contraction (r19: coarsen used to recompute the distinct
    // exchange from the raw plan); vertex/community counts thread
    // out of the sweeps, so no gate decision pays its own count()
    // job (r18 ADVICE)
    val simple = stageCanonical(edges)
    val (a1, nV) = runStepsCounted(simple, steps1, preStaged = true)
    val (a2, nC) = runStepsCounted(coarsen(simple, a1, nV), steps2,
      partialMoves = true)
    // the phase-2 map is |communities|-sized — gate like every other
    // |V|-frame join (broadcast under the Bfs ceiling, else
    // shuffle-hash)
    val a2r =
      if (nC <= 4000000L)
        broadcast(a2.select(col("id").as("comm1"),
          col("comm").as("comm2")))
      else a2.select(col("id").as("comm1"), col("comm").as("comm2"))
        .hint("shuffle_hash")
    val out = a1.select(col("id"), col("comm").as("comm1"))
      .join(a2r, "comm1")
      .select(col("id"), col("comm1"), col("comm2"))
      .localCheckpoint(true)
    GraphOps.releaseCheckpointedFrame(a1)
    GraphOps.releaseCheckpointedFrame(a2)
    GraphOps.releaseCheckpointedFrame(simple)
    out
  }

  /** [[twoLevel]] plus its own evaluation, fused (r19, VERDICT r18
    * #4): per level the Newman Q (micro, integer-exact) and community
    * count of the assignment — the q_louvain_gain face's row pair —
    * WITHOUT the two flattened |E| modularity passes the standalone
    * composition paid. The phase-1 row evaluates over the staged
    * canonical table with `a1` directly (one |E| pass); the two-level
    * row evaluates over the CONTRACTED graph with `a2`, which is
    * bit-identical to evaluating the flattened assignment over the
    * full graph — contraction preserves 2m, every intra-community
    * weight lands on a diagonal cell, and per-community degree mass
    * is the member sum, so m2/Σintra/Σd² (hence the truncating micro
    * division) are EQUAL, at |E_contracted| ≪ |E| cost. The staged
    * table itself is shared by phase 1, the contraction and the
    * phase-1 eval (the standalone shape recomputed its distinct
    * exchange four times).
    *
    * @return 2 rows: (level STRING ∈ {phase1, two_level},
    *         n_communities LONG, q_micro LONG) */
  def twoLevelGain(edges: DataFrame, steps1: Int, steps2: Int): DataFrame = {
    require(steps1 > 0 && steps2 > 0,
      s"steps must be positive, got ($steps1, $steps2)")
    val spark = edges.sparkSession
    val simple = stageCanonical(edges)
    val (a1, nV) = runStepsCounted(simple, steps1, preStaged = true)
    val g1 = coarsen(simple, a1, nV).localCheckpoint(true)
    GraphOps.releaseCheckpointedFrame(simple)
    GraphOps.releaseCheckpointedFrame(a1)
    // phase-1 Q reads off the CONTRACTED graph's identity
    // assignment (d_c = super-vertex degree, intra2_c = its
    // self-loop mass) — one |E_contracted| pass instead of a full
    // |E| assignment-join pass; bit-equal by the contraction
    // invariants (2m preserved, intra mass on the diagonal)
    val (n0, q0) = qEvalIdentity(g1)
    val (a2, _) = runStepsCounted(g1, steps2, partialMoves = true)
    val (n1, q1) = qEval(g1, a2, n0 <= 4000000L)
    GraphOps.releaseCheckpointedFrame(a2)
    GraphOps.releaseCheckpointedFrame(g1)
    import spark.implicits._
    Seq(("phase1", n0, q0), ("two_level", n1, q1))
      .toDF("level", "n_communities", "q_micro")
  }

  /** [[twoLevel]] AND [[twoLevelGain]] in ONE run (r20, VERDICT r19
    * #3): the two faces shared every stage (phase 1, contraction,
    * phase 2) yet each re-ran the whole pipeline. One staged table,
    * one phase-1 sweep, one contraction, one contracted sweep now
    * serve the per-vertex two-level assignment AND both evaluation
    * rows as one result set — both gates riding one hash. Row kinds
    * are disjoint: assignment rows carry (id, comm1, comm2) with NULL
    * eval columns; eval rows the reverse.
    *
    * @return DataFrame(id, comm1, comm2, level, n_communities,
    *         q_micro) — one row per vertex plus 2 eval rows */
  def twoLevelFull(edges: DataFrame, steps1: Int, steps2: Int): DataFrame = {
    require(steps1 > 0 && steps2 > 0,
      s"steps must be positive, got ($steps1, $steps2)")
    val spark = edges.sparkSession
    val simple = stageCanonical(edges)
    val (a1, nV) = runStepsCounted(simple, steps1, preStaged = true)
    val g1 = coarsen(simple, a1, nV).localCheckpoint(true)
    GraphOps.releaseCheckpointedFrame(simple)
    val (n0, q0) = qEvalIdentity(g1)
    val (a2, nC) = runStepsCounted(g1, steps2, partialMoves = true)
    val (n1, q1) = qEval(g1, a2, n0 <= 4000000L)
    GraphOps.releaseCheckpointedFrame(g1)
    // the per-vertex compose join — twoLevel's tail, riding the SAME
    // a1/a2 the evals just consumed
    val a2r =
      if (nC <= 4000000L)
        broadcast(a2.select(col("id").as("comm1"),
          col("comm").as("comm2")))
      else a2.select(col("id").as("comm1"), col("comm").as("comm2"))
        .hint("shuffle_hash")
    val assign = a1.select(col("id"), col("comm").as("comm1"))
      .join(a2r, "comm1")
      .select(col("id"), col("comm1"), col("comm2"))
      .localCheckpoint(true)
    GraphOps.releaseCheckpointedFrame(a1)
    GraphOps.releaseCheckpointedFrame(a2)
    import spark.implicits._
    val evals = Seq(("phase1", n0, q0), ("two_level", n1, q1))
      .toDF("level", "n_communities", "q_micro")
      .select(lit(null).cast("long").as("id"),
        lit(null).cast("long").as("comm1"),
        lit(null).cast("long").as("comm2"),
        col("level"), col("n_communities"), col("q_micro"))
    assign
      .select(col("id"), col("comm1"), col("comm2"),
        lit(null).cast("string").as("level"),
        lit(null).cast("long").as("n_communities"),
        lit(null).cast("long").as("q_micro"))
      .unionAll(evals)
  }

  /** Convergence-driven multi-level Louvain (r19, VERDICT r18 #5 —
    * Blondel 2008 §2's REAL alternation): move-steps → evaluate Q →
    * coarsen, looping while each level's modularity gain clears
    * `minGainMicro`, the contraction still shrinks the graph
    * (n_communities < |V_level|), and `maxLevels` is not exhausted.
    * Level 0 runs the ungated sweep from the |V|-singleton init (the
    * established phase-1 dynamics); every deeper level runs
    * parity-gated (the ungated sweep swap-oscillates from a
    * contracted singleton init — measured r18). Q per level is
    * evaluated on that level's OWN graph, which equals the flattened
    * assignment's Q over the original graph (see [[twoLevelGain]]),
    * so the trajectory is the honest ascent record and the stopping
    * rule reads exactly the quantity it bounds.
    *
    * Scale shape: each level's graph is the previous level's
    * community-contracted quotient — the |E| work collapses
    * geometrically after level 0, which is why real Louvain
    * alternates instead of running more flat sweeps. Per-level state
    * is flat-checkpointed and contract-released; the returned
    * trajectory is `maxLevels`-bounded driver rows.
    *
    * @return one row per level RUN: (level INT, n_communities LONG,
    *         q_micro LONG), ordered by level */
  def untilConverged(edges: DataFrame, stepsPerLevel: Int = 2,
                     maxLevels: Int = 3, minGainMicro: Long = 1000L,
                     gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    val spark = edges.sparkSession
    val (rows, _) = runMultilevel(edges, stepsPerLevel, maxLevels,
      minGainMicro, wantAssign = false,
      gammaNum = gammaNum, gammaDen = gammaDen)
    import spark.implicits._
    rows.toDF("level", "n_communities", "q_micro")
  }

  /** [[untilConverged]]'s USER-FACING output: the flattened
    * per-vertex community of the final level — what "run Louvain on
    * this graph" means to a caller (the trajectory face gates the
    * ascent record and the stopping rule's inputs; this gates the
    * assignment those decisions produce, depth included — a wrong
    * stop depth is a wrong hash here). Flattening rides the loop:
    * one gated |V|-frame join per level composes the level maps, so
    * the extra cost over the trajectory is one small join and one
    * flat checkpoint per level.
    *
    * @return DataFrame(id LONG, comm LONG) — one row per vertex */
  def untilConvergedAssign(edges: DataFrame, stepsPerLevel: Int = 2,
                           maxLevels: Int = 3, minGainMicro: Long = 1000L,
                           gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame =
    runMultilevel(edges, stepsPerLevel, maxLevels, minGainMicro,
      wantAssign = true,
      gammaNum = gammaNum, gammaDen = gammaDen)._2.get

  /** The FULL multi-level alternation over an EXPLICITLY WEIGHTED
    * simple graph (r20 — completes the wide-gain story: a 100 TB
    * graph arrives as weighted rolled-up rows, and it needs the real
    * Blondel alternation, not just [[moveStepsWeighted]]'s flat
    * sweeps). Input contract as [[moveStepsWeighted]]: (`src`, `dst`,
    * `w` BIGINT), symmetric, no duplicate pairs; self-loops feed
    * degrees/Σtot only. Level 0 runs ungated from the singleton
    * init, deeper levels parity-gated; the wide decimal gain and the
    * BigInt Q tail engage automatically past the Long ceiling, so
    * the whole loop is exact at any admissible total weight. Output
    * shape = [[untilConvergedFull]] (trajectory rows + flattened
    * per-vertex rows, NULL-disjoint). Weight-scale invariance
    * (uniform c multiplies every score by c² and leaves every
    * q_micro bit-identical) is spec-pinned. */
  def untilConvergedWeighted(wEdges: DataFrame, stepsPerLevel: Int = 2,
                             maxLevels: Int = 3, minGainMicro: Long = 1000L,
                             gammaNum: Long = 1L,
                             gammaDen: Long = 1L): DataFrame = {
    val spark = wEdges.sparkSession
    val (rows, flat) = runMultilevel(wEdges, stepsPerLevel, maxLevels,
      minGainMicro, wantAssign = true,
      gammaNum = gammaNum, gammaDen = gammaDen, preWeighted = true)
    import spark.implicits._
    val traj = rows.toDF("level", "n_communities", "q_micro")
      .select(lit(null).cast("long").as("id"),
        lit(null).cast("long").as("comm"),
        col("level"), col("n_communities"), col("q_micro"))
    flat.get
      .select(col("id"), col("comm"),
        lit(null).cast("int").as("level"),
        lit(null).cast("long").as("n_communities"),
        lit(null).cast("long").as("q_micro"))
      .unionAll(traj)
  }

  /** [[untilConverged]] AND [[untilConvergedAssign]] in ONE loop run
    * (r20, VERDICT r19 #3): `runMultilevel` has always computed both
    * outputs in a single pass (`wantAssign`), but serving them as two
    * faces ran the identical 3-level loop twice — 14% of the flat
    * suite. This is the decomposition face: the per-level ascent
    * trajectory and the flattened final assignment as one result set,
    * one loop, both gates riding one hash. Row kinds are disjoint by
    * construction: trajectory rows carry (level, n_communities,
    * q_micro) with NULL (id, comm); assignment rows the reverse.
    *
    * @return DataFrame(id, comm, level, n_communities, q_micro) —
    *         one row per vertex plus one row per level run */
  def untilConvergedFull(edges: DataFrame, stepsPerLevel: Int = 2,
                         maxLevels: Int = 3, minGainMicro: Long = 1000L,
                         gammaNum: Long = 1L, gammaDen: Long = 1L): DataFrame = {
    val spark = edges.sparkSession
    val (rows, flat) = runMultilevel(edges, stepsPerLevel, maxLevels,
      minGainMicro, wantAssign = true,
      gammaNum = gammaNum, gammaDen = gammaDen)
    import spark.implicits._
    val traj = rows.toDF("level", "n_communities", "q_micro")
      .select(lit(null).cast("long").as("id"),
        lit(null).cast("long").as("comm"),
        col("level"), col("n_communities"), col("q_micro"))
    flat.get
      .select(col("id"), col("comm"),
        lit(null).cast("int").as("level"),
        lit(null).cast("long").as("n_communities"),
        lit(null).cast("long").as("q_micro"))
      .unionAll(traj)
  }

  /** Shared multi-level loop behind [[untilConverged]] (trajectory)
    * and [[untilConvergedAssign]] (flattened assignment). */
  /** @param preWeighted the input already carries (`src`, `dst`, `w`)
    *        per the [[moveStepsWeighted]] contract — stage it as-is
    *        (src-partitioned flat checkpoint) instead of
    *        canonicalizing with unit weights */
  private def runMultilevel(edges: DataFrame, stepsPerLevel: Int,
                            maxLevels: Int, minGainMicro: Long,
                            wantAssign: Boolean,
                            gammaNum: Long = 1L, gammaDen: Long = 1L,
                            preWeighted: Boolean = false)
      : (Seq[(Int, Long, Long)], Option[DataFrame]) = {
    require(stepsPerLevel > 0, s"stepsPerLevel must be positive")
    require(maxLevels > 0, s"maxLevels must be positive")
    val spark = edges.sparkSession
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long)]
    var g =
      if (preWeighted)
        // AQE-off staging — see [[stageCanonical]]'s r21 note
        GraphOps.withLoopAqeDisabled(spark) {
          edges.select(col("src"), col("dst"), col("w"))
            .repartition(col("src")).localCheckpoint(false)
        }
      else stageCanonical(edges)
    var preStaged = true
    var prevQ = Option.empty[Long]
    var level = 0
    var continue = true
    var flat: DataFrame = null
    while (continue && level < maxLevels) {
      val (a, nV) = runStepsCounted(g, stepsPerLevel,
        partialMoves = level > 0, preStaged = preStaged,
        gammaNum = gammaNum, gammaDen = gammaDen)
      // the level's Q reads off its CONTRACTED quotient's identity
      // assignment (see twoLevelGain) — the contraction is the
      // next level's input anyway, so the eval is one
      // |E_contracted| pass and no assignment-join pass exists
      val gNext = coarsen(g, a, nV).localCheckpoint(true)
      var aAdopted = false
      if (wantAssign) {
        if (flat == null) {
          // level 0: `a` already IS an eager flat checkpoint
          // (runStepsCounted's contract) — adopt it as the running
          // flat assignment instead of re-materializing a copy of
          // the |V|-row state (r19 ADVICE); its release shifts to
          // the next level's compose (or the loop tail)
          flat = a
          aAdopted = true
        } else {
          // compose the level map onto the running flat assignment:
          // flat.comm values ARE this level's vertex ids
          val gateA =
            if (nV <= 4000000L)
              broadcast(a.select(col("id").as("prev"),
                col("comm").as("next")))
            else a.select(col("id").as("prev"), col("comm").as("next"))
              .hint("shuffle_hash")
          val flatNext = flat.select(col("id"), col("comm").as("prev"))
            .join(gateA, "prev")
            .select(col("id"), col("next").as("comm"))
            .localCheckpoint(true)
          GraphOps.releaseCheckpointedFrame(flat)
          flat = flatNext
        }
      }
      if (!aAdopted) GraphOps.releaseCheckpointedFrame(a)
      GraphOps.releaseCheckpointedFrame(g)
      val (nComm, q) = qEvalIdentity(gNext)
      rows += ((level, nComm, q))
      System.err.println(
        s"[louvain] level $level communities=$nComm q_micro=$q")
      // stop when the level's gain falls under the threshold (the
      // q-gain rule), when contraction stops shrinking (the quotient
      // would be the same graph), or at the level budget
      continue = prevQ.forall(p => q - p >= minGainMicro) &&
        nComm < nV && level + 1 < maxLevels
      prevQ = Some(q)
      g = gNext
      preStaged = false
      level += 1
    }
    GraphOps.releaseCheckpointedFrame(g)
    (rows.toSeq, Option(flat))
  }

  /** Canonical staged edge table: simple-graph rows with unit weight,
    * src-partitioned and lazily flat-checkpointed — the shape every
    * loop, contraction and eval in this object can share without
    * recomputing the distinct exchange. Caller releases.
    *
    * ONE exchange, not two (r20, guide §2.4 "two operations keyed the
    * same way can share one exchange"): repartition(src) FIRST, then
    * distinct — HashPartitioning(src) satisfies the dedup aggregate's
    * ClusteredDistribution(src, dst) (equal (src, dst) rows are
    * co-located), so the distinct rides the loop's staging exchange
    * instead of adding its own full (src, dst) exchange before it.
    * Same rows, same partitioning out. */
  private def stageCanonical(edges: DataFrame): DataFrame =
    // AQE-OFF staging (r21, the PageRank ExecProbe finding applied
    // here): planned under AQE, the checkpoint's LogicalRDD reports
    // UnknownPartitioning (the AQEShuffleRead output is not
    // hash-partitioned) and every per-step shuffle_hash join against
    // the staged table re-exchanged it — 14 ENSURE_REQUIREMENTS
    // hashpartitioning(src) exchanges over Scan ExistingRDD[src,..]
    // in q_louvain_twolevel's executed plans. AQE-off planning keeps
    // HashPartitioning(src, shuffle.partitions) on the checkpoint;
    // the loops themselves still run with the caller's AQE setting.
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(col("src"))
        .distinct()
        .withColumn("w", lit(1L))
        .localCheckpoint(false)
    }

  /** Newman Q (micro, integer-exact — the q_modularity formula
    * collapsed to its global row) plus community count of `assign`
    * over the weighted graph `g` (`src`, `dst`, `w`; symmetric,
    * self-loop rows carry their full mass): d_c = Σ_{src∈c} w,
    * intra2_c = Σ_{src∈c ∧ dst∈c} w, Q·(2m)² = m2·Σintra2 − Σd² —
    * one |E_g| pass with both assignment joins gated, one 1-row
    * collect. Same truncating sign-safe micro division (and the same
    * overflow guard) as [[LabelPropagation.modularity]]. */
  private def qEval(g: DataFrame, assign: DataFrame,
                    small: Boolean): (Long, Long) = {
    def gate(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    val st = g
      .join(gate(assign.select(col("id").as("src"),
        col("comm").as("cs"))), "src")
      .join(gate(assign.select(col("id").as("dst"),
        col("comm").as("cd"))), "dst")
      .groupBy(col("cs"))
      .agg(sum(col("w")).as("d"),
        sum(when(col("cs") === col("cd"), col("w")).otherwise(lit(0L)))
          .as("i2"))
    qGlobal(st)
  }

  /** [[qEval]] for the IDENTITY assignment over a contracted graph
    * (every super-vertex its own community): by the [[coarsen]]
    * invariants d_c is the super-vertex's weighted degree and
    * intra2_c its self-loop mass, so the per-community pass is one
    * groupBy on the contracted edge table — no assignment join at
    * all. Bit-equal to evaluating the flattened source assignment
    * over the source graph. */
  private def qEvalIdentity(g: DataFrame): (Long, Long) =
    qGlobal(g.groupBy(col("src").as("cs"))
      .agg(sum(col("w")).as("d"),
        sum(when(col("src") === col("dst"), col("w")).otherwise(lit(0L)))
          .as("i2")))

  /** Global Q row over a per-community (d, i2) table — the shared
    * tail of [[qEval]]/[[qEvalIdentity]]. r20: Σd² aggregates in
    * decimal(38,0) (each d² is a product of two Long-ranged factors,
    * Σd² ≤ m2² < 10³⁸) and the final truncating micro division runs
    * in driver-side BigInt on the ONE collected row — the Long
    * overflow guard the narrow formula needed is structurally gone,
    * so Q evaluates exactly over the whole weighted domain the wide
    * gain admits. BigInt `/` truncates toward zero, matching the
    * sign-safe `div` the oracles replay. */
  private def qGlobal(st: DataFrame): (Long, Long) = {
    val dec = DecimalType(19, 0)
    val row = st
      .agg(count(lit(1)).as("n"), sum(col("d")).as("m2"),
        sum(col("i2")).as("si"),
        sum(col("d").cast(dec) * col("d").cast(dec)).as("sd2"))
      .head()
    // an empty/zero-weight edge table sums to NULL m2 — fail with a
    // clear contract error instead of an opaque driver NPE (r19
    // ADVICE)
    require(!row.isNullAt(1) && row.getLong(1) > 0L,
      "louvain Q undefined: empty or zero-weight edge table (m2 = 0)")
    val m2 = BigInt(row.getLong(1))
    val si = BigInt(row.getLong(2))
    val sd2 = BigInt(row.getDecimal(3).toBigInteger)
    val q = (m2 * si - sd2) * 1000000 / (m2 * m2)
    (row.getLong(0), q.toLong)
  }

  /** Canonical weighted form of a simple symmetric edge table: drop
    * self-loops and duplicate pairs, weight 1 per direction — the
    * shape [[runStepsCounted]] consumes and [[coarsen]] aggregates. */
  private[graft] def simpleWeighted(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .withColumn("w", lit(1L))

  /** Louvain phase 2's graph contraction: map both endpoints to their
    * communities and sum weights. On a symmetric input each intra-
    * community undirected edge appears in both directions, so the
    * contracted self-loop row (c, c) carries BOTH endpoint
    * contributions (w = 2·intra) — exactly the degree bookkeeping the
    * weighted gain needs (k_c = Σ k of members; 2m preserved).
    * Inter-community rows stay symmetric. Two gated |V|-frame joins +
    * ONE exchange on the community-pair key. */
  /** @param assignRows `assign`'s row count when the caller already
    *        knows it (threaded out of [[runStepsCounted]] — r18
    *        ADVICE: the gate decision should not pay its own count
    *        job); -1 falls back to counting */
  private[graft] def coarsen(wEdges: DataFrame, assign: DataFrame,
                             assignRows: Long = -1L): DataFrame = {
    val small =
      (if (assignRows >= 0L) assignRows else assign.count()) <= 4000000L
    def gate(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    wEdges
      .join(gate(assign.select(col("id").as("src"),
        col("comm").as("cs"))), "src")
      .join(gate(assign.select(col("id").as("dst"),
        col("comm").as("cd"))), "dst")
      .groupBy(col("cs").as("src"), col("cd").as("dst"))
      .agg(sum(col("w")).as("w"))
  }

  /** Weighted synchronous move-step core. Input (`src`, `dst`, `w`):
    * symmetric rows for src ≠ dst; self-loop rows (contracted
    * intra-community mass) count in degrees and Σtot but never
    * generate neighbor candidates. The unweighted face is the w = 1
    * special case — one implementation, one oracle recurrence. */
  /** @param partialMoves parity-gate the moves: in step r only
    *        vertices with (id + r) even may leave their community.
    *        The SYNCHRONOUS sweep's known pathology is the swap — a
    *        hub abandons its label in the same step its neighbors
    *        adopt it, and from a SINGLETON init on a small dense
    *        contracted graph that net-LOWERS Q (measured on the
    *        copurchase graph: every (steps1, steps2) config of the
    *        ungated phase 2 lost 550-610 micro-Q). Gating half the
    *        vertices per step is the standard deterministic
    *        distributed remedy (the coloring/partial-move family,
    *        e.g. Que et al. 2015): movers target STATIONARY
    *        communities, so merges are real. Phase 1 stays ungated —
    *        its face/oracle pair predates this and its dynamics from
    *        the |V|-singleton init measurably ascend. */
  /** [[moveSteps]]' core, also returning the vertex count of the input graph
    * (= the returned state's row count) so callers reuse it for gate
    * decisions instead of paying another count job (r18 ADVICE).
    * @param preStaged the input already IS the staged canonical shape
    *        ([[stageCanonical]]: src-partitioned flat checkpoint with
    *        `w`) — skip re-staging AND leave its release to the
    *        caller, who is sharing it across consumers */
  private def runStepsCounted(wEdges: DataFrame, steps: Int,
                              partialMoves: Boolean = false,
                              preStaged: Boolean = false,
                              gammaNum: Long = 1L,
                              gammaDen: Long = 1L): (DataFrame, Long) = {
    require(gammaNum >= 1L && gammaDen >= 1L &&
        gammaNum <= 1000000L && gammaDen <= 1000000L,
      s"gamma must be a positive rational with terms in [1, 1e6], " +
        s"got $gammaNum/$gammaDen")
    val spark = wEdges.sparkSession
    import spark.implicits._
    // Canonical weighted edge table, src-partitioned for the per-step
    // message join, held as a LOCAL CHECKPOINT rather than a persist:
    // the columnar cache's encode+decode tax dominated this operator's
    // profile (persist(MEMORY_AND_DISK): 56 task-CPU-s to build+degree
    // the 1.2M-row table and ~2x on every per-step read; checkpoint
    // row blocks: 17 — measured at sf0.1, JobProbe). Checkpoint blocks
    // are raw InternalRows: no codec on either side of the loop.
    val e =
      if (preStaged) wEdges
      // AQE-off staging — see [[stageCanonical]]'s r21 note
      else GraphOps.withLoopAqeDisabled(wEdges.sparkSession) {
        wEdges.select($"src", $"dst", $"w")
          .repartition($"src")
          .localCheckpoint(false)
      }
    // Pre-loop fusion (r20, guide §1.2 "remove passes you don't
    // need"): the init state IS the degree table with comm = id, so
    // build it directly as the one eager checkpoint (its job also
    // materializes e), and read |V| AND 2m off the checkpointed |V|
    // rows in ONE tiny agg job — 2m = Σ_v k_v because every e row
    // contributes its weight to exactly its src's degree (self-loops
    // included: a super-vertex's internal mass is part of its
    // degree). Was: an |E| sum job for 2m + a deg checkpoint job + a
    // deg count job + a state checkpoint job.
    var state = e.groupBy($"src".as("id")).agg(sum($"w").as("k"))
      .select($"id", $"id".as("comm"), $"k")
      .localCheckpoint(true)
    val nvRow = state.agg(count(lit(1)), coalesce(sum($"k"), lit(0L))).head()
    val nV = nvRow.getLong(0)
    val twoM = nvRow.getLong(1)
    // scoring width (r20): Long while max(γ)·(2m)² fits with headroom,
    // decimal(38,0) past it — every factor is Long-ranged (cast to
    // decimal(19,0)), so each product fits 38 digits exactly and the
    // argmax stays bit-exact; no require-refusal, no rescaled-degree
    // approximation. The only hard ceiling left is the Long domain of
    // the weights themselves.
    val maxPQ = math.max(gammaNum, gammaDen)
    require(twoM >= 0L && twoM <= Long.MaxValue / maxPQ,
      s"louvain total weight out of exact range (2m = $twoM, " +
        s"max(gamma terms) = $maxPQ): weighted degrees must stay in " +
        s"Long after the gamma scaling")
    val wide = twoM > longScoreCeiling(maxPQ)
    // γden·2m and per-row γnum·k / γden·k_vc all fit Long under the
    // require above (each ≤ maxPQ·2m ≤ Long.MaxValue)
    val gTwoM = gammaDen * twoM
    val dec = DecimalType(19, 0)
    /** score_γ(v, c) = γden·2m·k_vc − γnum·k_v·(Σtot_c − same·k_v) —
      * Long-native or decimal(38,0) by `wide`. */
    def scoreOf(kvc: Column, k: Column, totLessSame: Column): Column =
      if (wide)
        lit(gTwoM).cast(dec) * kvc.cast(dec) -
          (lit(gammaNum) * k).cast(dec) * totLessSame.cast(dec)
      else
        lit(gTwoM) * kvc - (lit(gammaNum) * k) * totLessSame
    // self-loops feed degrees, never messages
    val eMsg = e.filter($"src" =!= $"dst")
    // the per-vertex side tables (state, Σtot — all ≤ |V| rows) join
    // the |E|-sized score stream map-side while |V| is under the Bfs
    // broadcast ceiling; past it every gated join degrades to
    // shuffle-hash instead of OOMing the driver (the betweenness gate)
    val small = nV <= 4000000L
    def gated(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    // the STATIC per-vertex degree rides the loop state (id, comm, k)
    // instead of joining in per step (r19): Σtot needs no join at all
    // (state self-aggregates), the candidate scorers each drop their
    // deg join, and the k re-attach fuses into the argmax⋈cur join
    // every step already ends with — 2-3 fewer gated |V| joins (and
    // deg broadcast builds) per step for one extra Long in the
    // checkpoint row
    var step = 0
    while (step < steps) {
      step += 1
      val tStep = System.nanoTime()
      // k_{v,c}: per vertex, edge weight into each neighboring
      // community — the LP message shape: each vertex's comm joins on
      // e.SRC (riding the cached src partitioning exchange-free, the
      // table is symmetric) and is delivered to e.dst. ONE exchange
      // (the groupBy). Project k away first: the exchange stays
      // 2-column narrow.
      val kin = state.select($"id", $"comm").as("a").hint("shuffle_hash")
        .join(eMsg.as("e"), col("a.id") === col("e.src"))
        .select(col("e.dst").as("id"), col("a.comm"), col("e.w"))
        .groupBy($"id", $"comm").agg(sum($"w").as("kvc"))
      // Σtot_c: community degree mass under the CURRENT assignment —
      // a straight self-aggregate of the (comm, k)-carrying state
      val tot = state.groupBy($"comm").agg(sum($"k").as("tot"))
      // the (cur, k) side frame both scorers and the k re-attach ride
      val cur = state.select($"id", $"comm".as("cur"), $"k")
      // neighbor-community candidates: score rides kin MAP-SIDE (two
      // gated |V|-frame joins — no further |E| exchange)
      val nbrCand = kin
        .join(gated(cur), "id")
        .join(gated(tot), "comm")
        .select($"id", $"comm",
          scoreOf($"kvc", $"k",
            $"tot" - when($"comm" === $"cur", $"k").otherwise(lit(0L)))
            .as("score"))
      // own-community candidate, synthesized as a zero-k_vc row from
      // the |V|-sized state (own may be absent from kin when v has no
      // edge into its own community). When kin DOES carry the own
      // community, both rows survive into the argmax and the real row
      // always scores ≥ its zero-k_vc duplicate (2m·k_vc ≥ 0, same
      // comm) — the argmax dedupes them for free, which is what lets
      // this avoid the distinct-candidate-set exchange entirely.
      val ownCand = state
        .join(gated(tot), "comm")
        .select($"id", $"comm",
          scoreOf(lit(0L), $"k", $"tot" - $"k").as("score"))
      // argmax by (score DESC, comm ASC) — min(struct), order-free;
      // the step's SECOND and last exchange
      val argmax = nbrCand.union(ownCand).groupBy($"id")
        .agg(min(struct((-$"score").as("ns"), $"comm".as("c"))).as("m"))
        .select($"id", $"m.c".as("comm"))
      // one gated |V| join closes the step: the parity gate (when
      // gated) and the k re-attach for the next step's state share it.
      // The LAST step emits the caller-facing (id, comm) shape — no
      // trailing projection over the checkpoint (release contract).
      val last = step == steps
      val joined = argmax.join(gated(cur), "id")
      val kept =
        if (partialMoves)
          when((($"id" + step) % 2) === 0, $"comm").otherwise($"cur")
        else $"comm"
      val newState =
        (if (last) joined.select($"id", kept.as("comm"))
         else joined.select($"id", kept.as("comm"), $"k"))
          .localCheckpoint(true)
      System.err.println(
        f"[louvain] step $step ${(System.nanoTime() - tStep) / 1e9}%.2fs")
      GraphOps.releaseCheckpointedFrame(state)
      state = newState
    }
    if (!preStaged) GraphOps.releaseCheckpointedFrame(e)
    (state, nV)
  }
}
