package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pivot-sampled centrality: per-vertex distances to a small fixed
  * pivot set (one [[Bfs]] pass per pivot) and the harmonic-centrality
  * estimate Σ 1/d(p, v) over the pivots — the standard sampling
  * estimator for closeness/harmonic centrality (Eppstein-Wang; what
  * the exact O(|V|·|E|) all-pairs form relaxes to at scale).
  *
  * Scale design: cost is exactly k BFS passes — each one exchange per
  * round over the co-partitioned edge table (the [[Bfs]] discipline),
  * state one row per vertex per pivot. k is a constant chosen by the
  * analyst (dozens), never |V|. For whole-graph neighborhood
  * functions at 100 TB the HLL-counter route (HyperBall: one
  * cardinality sketch per vertex, |V|·log log |V| state) is the
  * published alternative; the pivot estimator is the exact-arithmetic
  * face of the same question and is hash-gateable, which HLL floats
  * are not.
  *
  * Harmonic (not classic closeness 1/Σd): defined on disconnected
  * graphs — an unreachable pivot contributes 0, not ∞ (the reason
  * Boldi-Vigna recommend harmonic outright).
  *
  * (Beyond-reference capability: the reference computes one BFS from
  * one hardcoded source, `BFS_map_reduce.py:109`; centrality is what
  * those distance maps are FOR in an analytics stack.)
  */
object Centrality {

  /** Distances to each pivot (left-joined — null = unreachable) and
    * the harmonic sum over reachable pivots, for EVERY vertex of the
    * (symmetrized) edge table. Output: (id, dist_0..dist_{k-1},
    * harmonic DOUBLE); per-row arithmetic only, so the double is
    * bit-deterministic across engines.
    *
    * ONE pivot-tagged BFS loop for all k pivots (r17 — the
    * [[betweennessSample]] forward-sweep shape applied here; was k
    * sequential [[Bfs.run]] passes): state is (pv, id, dist), every
    * round expands ALL pivots' frontiers in one join against the
    * co-partitioned edge table and min-merges in one exchange.
    * Total exchanged rows are identical to the sequential form, but
    * rounds = max ecc(pivot) instead of Σ ecc — both the driver job
    * count and the number of edge-table passes drop k-fold. Same
    * per-round discipline as [[Bfs]]: lazy localCheckpoint fused with
    * the frontier count, broadcast-while-small frontier, AQE off
    * (fixed-shape rounds over the pre-partitioned table). */
  def pivotHarmonic(edges: DataFrame, pivots: Seq[Long]): DataFrame = {
    require(pivots.nonEmpty, "need at least one pivot")
    require(pivots.distinct.size == pivots.size, s"duplicate pivots: $pivots")
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      runPivotHarmonic(edges, pivots)
    }
  }

  private def runPivotHarmonic(edges: DataFrame, pivots: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // vertex universe: on a symmetrized table `src` alone covers every
    // endpoint — one distinct pass
    val verts = edges.select($"src".as("id")).distinct()
    // local checkpoint, not persist: no columnar decode on the
    // per-round reads (r17 loop-residency doctrine; see PageRank)
    val e = edges.select($"src", $"dst")
      .repartition($"src")
      .localCheckpoint(false)
    val bcGate = 4000000L
    // NOTE (r20, measured negative result — don't retry): replacing
    // this union-merge with an all-pairs (pivot, vertex) state and a
    // partition-aligned left join (the shape that removes the state
    // from the per-round exchange) read 4.49 → 5.69s / CPU 57 → 98 on
    // the closeness face at sf0.1 — the k·|V| join probe per round
    // costs more than the state's share of the union exchange saves
    // at bench scale. Same verdict on Bfs/Sssp/CC (see
    // OPTIMIZATION_r20.md).
    var state = pivots.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("pv", "id")
      .select($"pv", $"id", lit(0L).as("dist"))
      .localCheckpoint(false)
    var frontier = state
    var frontierRows = pivots.size.toLong
    var iter = 0
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (frontierRows > 0) {
      iter += 1
      val tRound = System.nanoTime()
      val f0 = if (frontierRows <= bcGate) broadcast(frontier) else frontier
      val cand = f0.as("f").join(e.as("e"), col("f.id") === col("e.src"))
        .select(col("f.pv"), col("e.dst").as("id"),
          (col("f.dist") + 1L).as("dist"))
      val newState = state.union(cand)
        .groupBy($"pv", $"id").agg(min($"dist").as("dist"))
        .localCheckpoint(false)
      frontier = newState.filter($"dist" === iter)
      frontierRows = frontier.count()
      System.err.println(
        f"[harmonic] round $iter frontier=$frontierRows " +
          f"${(System.nanoTime() - tRound) / 1e9}%.2fs")
      toRelease += state
      state = newState
    }
    toRelease.foreach(GraphOps.releaseCheckpointedFrame(_))
    GraphOps.releaseCheckpointedFrame(e)
    // widen to the per-pivot distance columns the sequential form
    // emitted — one |pivots|·|V| exchange keyed on id
    val aggs = pivots.indices.map(i =>
      max(when($"pv" === i, $"dist")).as(s"dist_$i"))
    val wide = state.groupBy($"id").agg(aggs.head, aggs.tail: _*)
    val joined = verts.join(wide, Seq("id"), "left")
    val harmonic = pivots.indices
      .map(i => when(col(s"dist_$i") > 0, lit(1.0) / col(s"dist_$i"))
        .otherwise(lit(0.0)))
      .reduce(_ + _)
    joined.select(
      (col("id") +: pivots.indices.map(i => col(s"dist_$i"))) :+
        harmonic.as("harmonic"): _*)
  }

  /** Register count, per-register value cap, and the shared
    * deterministic hash pipeline for [[neighborhoodFunction]] — ALL
    * integer arithmetic restricted to what Spark SQL and DuckDB
    * evaluate identically (no 64-bit multiply overflow: ids are
    * < 2^31 on every shipped graph, the multiplier < 2^31, so the
    * product stays under 2^62 — DuckDB raises on BIGINT overflow
    * where the JVM wraps, so staying in-range is correctness, not
    * style). */
  private[graft] val NfRegisters = 12
  private[graft] val NfRhoCap = 12

  /** Backward-sweep checkpoint interval for [[betweennessSample]]:
    * levels between materialization points chain lazily through
    * persist(), bounding plan depth at this many nested joins while
    * cutting per-level jobs to 1/interval. */
  /** NOTE (r21, measured negative — don't retry without new
    * evidence): widening the forward sweep to 4 levels/probe and this
    * interval to 8 (VERDICT r20 item 3's projection) REGRESSED the
    * face 9.36 → 10.62 s across three consistent bench runs (CPU
    * 39–49 → 51–54 s), with job count barely moving (97 → 95). On the
    * r21 box the face is driver-PLANNING-bound (fresh-JVM probe:
    * Σ job wall 4.5 s of 23.5 s total), so deeper lazy level chains
    * cost more Catalyst time than the saved probe jobs were worth;
    * the r20 projection assumed probe-job latency dominated. Evidence:
    * plans/r21/probe_betweenness_{before,after}.txt and the
    * r21_start/r21_mid bench pair. */
  private val BwCkptInterval = 5

  /** HyperBall-style neighborhood function (Boldi-Vigna 2011): per
    * vertex one HLL-ish register array; iteration t unions each
    * vertex's sketch with its neighbours' (element-wise register
    * max), so after t rounds the sketch estimates |ball(v, t)| — the
    * neighborhood function every whole-graph distance statistic
    * (effective diameter, average distance) integrates. This is the
    * 100 TB route the pivot estimators ([[pivotHarmonic]]) relax to
    * when PER-VERTEX coverage of the whole graph is needed: state is
    * |V| × m registers (4 bits each here), cost is one exchange per
    * round — never |V| BFS passes, never all-pairs.
    *
    * DETERMINISTIC by construction, so the DuckDB oracle replays it
    * bit-exactly (the SQ8 trick — quantize the algorithm): the
    * register hash is a fixed integer pipeline (multiply, xor-shift,
    * mod), register updates are integer max, and the cardinality
    * proxy `est_milli = 1000·m²·2^cap div Z` (Z = Σ 2^(cap − M[j]))
    * is one integer division — HyperLogLog's harmonic-mean estimator
    * with the α_m bias constant left as presentation (a monotone
    * rescale; keeping it out keeps every value integer). Production
    * sizing note: m = 12 × 4-bit registers caps the estimable ball
    * near m·2^cap ≈ 5e4 — at 10^9+ vertices use 6-bit registers
    * (cap 63) and m = 64+, same plan shape, still one long per
    * vertex-register-word.
    *
    * Output: (id, regs_1, regs_2, …, regs_T packed 4-bit LE into a
    * BIGINT, est_milli for t = T). */
  def neighborhoodFunction(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters out of range: $iters")
    val m = NfRegisters
    val cap = NfRhoCap
    val spark = edges.sparkSession
    val verts = edges.select(col("src").as("id")).distinct()
    // seed sketch: h = id·1315423911; g = h xor (h >> 29);
    // j = (g >> 33) mod m; rho = 1 + trailing-zeros(g's low 20 bits),
    // capped — the CASE chain is the trailing-zero count both engines
    // evaluate identically
    val h = col("id") * lit(1315423911L)
    val g = h.bitwiseXOR(shiftright(h, 29))
    val j = shiftright(g, 33) % lit(m.toLong)
    val w = g.bitwiseAND(lit((1L << 20) - 1))
    val rho = (1 to cap).map(k =>
        (w.bitwiseAND(lit((1L << k) - 1)) === lit(1L << (k - 1)), lit(k)))
      .foldRight(lit(cap): Column) { case ((c, v), els) =>
        when(c, v).otherwise(els)
      }
    // LAZY round chain (r20; the q_msf/q_effective_diameter job-count
    // lesson applied to the sketch loop): rounds persist() lazily and
    // the ONE result checkpoint at the tail materializes the whole
    // chain in a single job — the eager per-round localCheckpoint paid
    // one driver job per round for a fixed-depth loop with no
    // convergence probe to serve. Plan depth is bounded by `iters`
    // (≤ 8), so there is no lineage blow-up to truncate; each round's
    // blocks still cache (both its consumers — the next round and the
    // output fold — read the cached frame).
    val state0 = verts.select(col("id") +:
      (0 until m).map(k =>
        when(j === k, rho).otherwise(lit(0)).cast("int").as(s"r$k")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // union-with-self rides the join input as explicit self-loops —
    // one join + one grouped max per round, the Bfs exchange shape
    val withSelf = edges.select(col("src"), col("dst"))
      .unionByName(verts.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint(false)
    var states = Vector(state0)
    for (_ <- 1 to iters) {
      val prev = states.last.withColumnRenamed("id", "src")
      val next = withSelf.join(prev, "src")
        .groupBy(col("dst").as("id"))
        .agg(max(col("r0")).as("r0"),
          (1 until m).map(k => max(col(s"r$k")).as(s"r$k")): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      states :+= next
    }
    def packed(t: Int): Column = (0 until m).map(k =>
      states(t)(s"r$k").cast("long") * lit(1L << (4 * k))).reduce(_ + _)
    val zT = (0 until m).map(k =>
      expr(s"cast(shiftleft(1, $cap - r$k) as bigint)")).reduce(_ + _)
    val numer = 1000L * m * m * (1L << cap)
    val out = (1 until states.size).foldLeft(
        states.head.select(col("id"))) { (acc, t) =>
      acc.join(states(t).select(col("id"), packed(t).as(s"regs_$t")), "id")
    }.join(states(iters).withColumn("z", zT)
        .withColumn("est_milli", expr(s"$numer div z"))
        .select(col("id"), col("est_milli")), "id")
    // the ONE materialization job of the whole loop — every lazily
    // persisted round (and the staged withSelf) computes inside it
    val result = out.localCheckpoint(true)
    states.foreach(_.unpersist(false))
    GraphOps.releaseCheckpointedFrame(withSelf)
    result
  }

  /** Pivot-sampled betweenness (Brandes, 2001; pivot sampling per
    * Brandes-Pich 2007): per pivot, ONE fused frontier loop computes
    * distances AND path counts σ together (the σ sum rides the same
    * level expansion the min-dist BFS does), then one backward level
    * sweep accumulates dependencies δ over the σ-annotated
    * shortest-path DAG — the O(|E|) per-pivot accumulation that
    * replaces all-pairs counting. bc(v) = Σ over pivots of δ_p(v).
    *
    * FIXED-POINT dependencies, not floats: Brandes' recurrence
    * `δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))` sums fractions
    * whose float accumulation order Spark does not pin. This
    * implementation defines the quantized recurrence
    * `δq(v) = Σ_w (σ(v) · (scale + δq(w))) div σ(w)` — every
    * intermediate an exact integer, every sum order-independent, so a
    * SQL oracle replays it bit-exactly (the SQ8 trick: quantize the
    * ALGORITHM, not the output). δq ≈ δ·scale with per-edge
    * truncation error < 1/scale relative.
    *
    * Overflow bound: the product term is ≤ σ_max · scale · (1+|V|);
    * measured on the copurchase graph σ_max ≈ 1.1e3 at sf0.1, giving
    * ~2e14 against Long's 9.2e18 — four orders of headroom. A graph
    * with σ_max · scale · |V| near 2^63 needs a smaller scale (σ
    * grows with path multiplicity, not corpus size).
    *
    * Scale design: k pivots × (1 BFS + 2 level sweeps over the
    * shortest-path DAG). The DAG is built ONCE per pivot (one join of
    * the edge table against the |V|-sized distance map) and each
    * level sweep touches only that level's DAG slice — per-pivot cost
    * is O(|E|) exchanged rows total, never all-pairs. Level frames
    * are frontier-sized and eagerly checkpointed; superseded levels
    * release their blocks in-loop (the [[RandomWalk]] discipline). */
  /** AQE stays ON (r17, measured): the per-level frames
    * are frontier-sized, so at scan-sized shuffle.partitions the
    * level exchanges pay the shuffle-file overhead AQE coalescing
    * removes — fresh-JVM [13.5 @ CPU 44] with AQE vs [16.0 @ 96]
    * without (the KCore/Borůvka shrinking-frame doctrine; the levels
    * here are small from round 1, not just late rounds). */
  def betweennessSample(edges: DataFrame, pivots: Seq[Long],
                        scale: Long = 1000000L): DataFrame = {
    require(pivots.nonEmpty, "need at least one pivot")
    require(pivots.distinct.size == pivots.size, s"duplicate pivots: $pivots")
    runBetweenness(edges, pivots, scale)
  }

  private def runBetweenness(edges: DataFrame, pivots: Seq[Long],
                             scale: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts = edges.select(col("src").as("id")).distinct()
    // the symmetrized edge table feeds every level of every pivot —
    // checkpoint ONCE (a plain `edges` would re-scan parquet and
    // re-explode per level; measured as the dominant cost class)
    val edgesC = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // every pivot-tagged map (frontier, σ, each δ level) is
    // <= k·|V| rows of small longs — broadcast-gated at the Bfs
    // frontier ceiling, ONE |V| count decides for all of them. A
    // graph past the gate degrades every map-side join below to the
    // shuffled form instead of OOMing the driver.
    val bcGate = 4000000L
    val small = verts.count() * pivots.size <= bcGate
    def gated(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // ALL pivots advance in ONE pivot-tagged frontier loop — k
    // sequential loops would pay the per-level job latency k times
    // for the same total rows (measured: the wall cost is job count,
    // not compute, once the sweeps are map-side). A pivot whose
    // frontier exhausts early simply contributes no rows to deeper
    // levels.
    //
    // FUSED forward sweep: dist AND σ in one loop (a separate Bfs
    // pass + σ sweep would walk the graph twice — the sum over
    // predecessors rides the same frontier expansion the min-dist
    // BFS does, and never collides because each vertex settles at
    // exactly one level per pivot). Per level: one broadcast join of
    // the cached edges with the tagged frontier, one frontier-sized
    // partial-agged exchange, one broadcast anti-join against the
    // settled set. Levels are tiny — eagerly checkpointed so the
    // loop plans stay flat; the settled set is a lazy union of
    // checkpointed levels (never re-derived).
    val pivotDf = pivots.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("pv", "pivot")
    var levels = Vector(pivotDf
      .select(col("pv"), col("pivot").as("id"), lit(1L).as("sigma"))
      .localCheckpoint(true))
    var seen = levels.head.select(col("pv"), col("id"))
    var depth = 0L
    var frontierNonEmpty = true
    // one level expansion: lazy checkpoint — blocks materialize when
    // the BATCH probe below (or a deeper level's plan) first computes
    // through it. The frontier rides a gated BROADCAST join (r18
    // re-measured: the shuffle_hash-against-src-partitioned-edges
    // form — the Louvain pattern — read 16.3s @ CPU 113 vs 12.8 @ 66
    // here; on THIS face the per-level frontier is tiny and the
    // broadcast build is cheaper than hashing 32 partitions of the
    // candidate stream). `seen` joins SHUFFLED (r17): it grows toward
    // k·|V| — broadcasting it re-collects the whole set to the driver
    // every level.
    def expand(prev: DataFrame, seenSoFar: DataFrame): DataFrame = edgesC
      .join(gated(prev
        .select(col("pv"), col("id").as("src"), col("sigma"))), "src")
      .groupBy(col("pv"), col("dst").as("id"))
      .agg(sum(col("sigma")).as("sigma"))
      .join(seenSoFar, Seq("pv", "id"), "left_anti")
      .localCheckpoint(false)
    // TWO levels per probe (r17 verdict punch #2): the probe result is
    // only consumed as "frontier empty", and an empty level's
    // expansion is empty by BFS monotonicity — so advancing two levels
    // lazily and counting only the deeper one halves the forward
    // sweep's job count (this face is latency-bound on per-level probe
    // jobs at quiet-window CPU ≪ cores, the same disease the r17
    // loop-wide fuse cured in Bfs/Msf). One count materializes BOTH
    // levels' checkpoint blocks (b's plan computes through a's). The
    // overshoot cost is one empty expansion at the fixpoint; the tail
    // count(a) on already-materialized blocks is metadata-cheap.
    while (frontierNonEmpty) {
      val a = expand(levels.last, seen)
      val seenA = seen.unionByName(a.select(col("pv"), col("id")))
      val b = expand(a, seenA)
      if (b.count() == 0L) {
        frontierNonEmpty = false
        if (a.count() > 0L) {
          levels :+= a
          seen = seenA
          depth += 1
          GraphOps.releaseCheckpointedFrame(b)
        } else {
          GraphOps.releaseCheckpointedFrame(a)
          GraphOps.releaseCheckpointedFrame(b)
        }
      } else {
        levels :+= a
        levels :+= b
        seen = seenA.unionByName(b.select(col("pv"), col("id")))
        depth += 2
      }
    }
    val maxD = depth
    // (pv, id, dist, σ) for every (pivot, reached vertex)
    val sigma = levels.zipWithIndex
      .map { case (lv, dd) => lv.withColumn("dist", lit(dd.toLong)) }
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    // σ-annotated shortest-path DAG for all pivots, built ONCE via
    // two map-side joins against the broadcast (dist, σ) map — the
    // edge table never shuffles; per-pivot unreached vertices drop
    // out (no map row for that pv)
    val dagS = edgesC
      .join(gated(sigma.select(col("pv"), col("id").as("src"),
        col("dist").as("sd"), col("sigma").as("sv"))), "src")
      .join(gated(sigma.select(col("pv"), col("id").as("dst"),
        col("dist").as("dd"), col("sigma").as("sw"))), Seq("pv", "dst"))
      .filter(col("dd") === col("sd") + 1)
      .select(col("pv"), col("src"), col("dst"), col("sd"),
        col("sv"), col("sw"))
      .localCheckpoint(true)
    levels.foreach(GraphOps.releaseCheckpointedFrame(_))
    // backward sweep: δq from the deepest level up, all pivots per
    // level — per level ONE broadcast left join (δ of the level
    // below) + one frontier-sized exchange. Levels have NO probe (the
    // level count is known: maxD..0), so unlike the forward sweep the
    // per-level job was pure latency — levels now chain LAZILY
    // through persist() and a checkpoint+count lands every
    // BwCkptInterval levels (and at level 0): one job materializes
    // the whole persisted span (the caches populate as the chain
    // computes), plan depth stays ≤ interval joins (never the
    // O(maxD²) tree a fully-lazy chain hands Catalyst on a
    // high-diameter graph), and the sweep costs ⌈maxD/interval⌉ jobs
    // instead of maxD (r17; measured the eager form's per-level job
    // as this query's dominant wall at CPU ≪ cores). Leaves (no DAG
    // successors) have δq = 0 — the left join's coalesce.
    var deltaNext = spark.emptyDataset[(Long, Long, Long)]
      .toDF("pv", "id", "delta")
    var deltas = Vector.empty[DataFrame]
    var sinceCkpt = 0
    for (d <- (maxD - 1) to 0L by -1L) {
      // δ of the level below joins SHUFFLED (r17): a broadcast here
      // costs one build job per level even inside the lazily-chained
      // spans — the tiny exchange rides the span's single job instead
      var lvl = dagS.filter(col("sd") === d)
        .join(deltaNext.withColumnRenamed("id", "dst"),
          Seq("pv", "dst"), "left")
        .withColumn("num",
          col("sv") * (lit(scale) + coalesce(col("delta"), lit(0L))))
        .withColumn("term", expr("num div sw"))
        .groupBy(col("pv"), col("src").as("id"))
        .agg(sum(col("term")).as("delta"))
      sinceCkpt += 1
      if (sinceCkpt >= BwCkptInterval || d == 0L) {
        lvl = lvl.localCheckpoint(false)
        lvl.count()
        sinceCkpt = 0
      } else {
        lvl = lvl.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      deltas :+= lvl
      deltaNext = lvl
    }
    // Brandes: each pivot's own δ row is excluded; bc = Σ over pivots
    val delta = (if (deltas.isEmpty)
        spark.emptyDataset[(Long, Long, Long)].toDF("pv", "id", "delta")
      else deltas.reduce(_ unionByName _))
      .join(gated(pivotDf), Seq("pv"))
      .filter(col("id") =!= col("pivot"))
      .groupBy(col("id"))
      .agg(sum(col("delta")).as("bc"))
    val out = verts.join(delta, Seq("id"), "left")
      .select(col("id"), coalesce(col("bc"), lit(0L)).as("bc_q"))
      .localCheckpoint(true)
    // the backward sweep's interval levels are flat checkpoints; the
    // in-between levels are plain persist()s whose plans EMBED those
    // checkpoints — the release contract routes each to the right call
    deltas.foreach { d =>
      if (GraphOps.isFlatCheckpoint(d)) GraphOps.releaseCheckpointedFrame(d)
      else d.unpersist(false)
    }
    Seq(sigma, dagS, edgesC).foreach(GraphOps.releaseCheckpointedFrame(_))
    out
  }
}
