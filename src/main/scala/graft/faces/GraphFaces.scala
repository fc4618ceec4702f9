package graft.faces

import org.apache.spark.sql.functions._

import graft.operators.{Bfs, Centrality, ConnectedComponents, Dag, Dedup,
  GraphOps, KCore, KTruss, LabelPropagation, PageRank, RandomWalk, Scc,
  SpanningForest, Sssp, TextAnalysis}
import graft.SparkEntry.TinyG
import Shared._

/** Graph faces: ingest, BFS and paths, shortest paths, components,
  * centrality, PageRank, walks, label propagation, cores and trusses
  * and triangles, each over the copurchase graph or a reference
  * graph, with its DuckDB oracle. */
object GraphFaces {

  /** Hop bound for q_sssp_copurchase — shared by the Spark query and
    * the layer count of its unrolled DuckDB oracle. */
  private val SsspCopurchaseHops = 6

  /** Hop bound for q_bfs_paths_copurchase — shared by the Spark query
    * and the layer count of its unrolled DuckDB oracle. Bounded BFS
    * has well-defined semantics (the state after h rounds is EXACTLY
    * the ≤h-hop BFS answer — each round settles one distance layer),
    * which is what makes the oracle expressible as unrolled layers. */
  private val BfsPathsCopurchaseHops = 6

  /** Layer count for q_bfs_paths_mediumg — ecc(0) ≤ 4 BY CONSTRUCTION
    * on the synthetic reference-scale graphs (SyntheticGraphs: tree
    * depth bounds it, chords only shrink), so 5 min-merge layers are
    * provably past the BFS fixed point; shared by the Spark query's
    * hop bound and the oracle's unrolled layer count. */
  private val MediumGPathLayers = 5

  /** Step count and walks-per-vertex for q_random_walks — shared by
    * the Spark query and the unrolled layers of its DuckDB oracle. */
  private val RandomWalkSteps = 4
  private val RandomWalksPerVertex = 2

  /** Oracle layer count for q_bfs_smallg_golden: smallG's ecc(0) is 13
    * (SURVEY §0.1 — the reference runs 14 MR rounds), and min-merge
    * layers past the fixed point are no-ops, so 14 ≥ depth suffices. */
  private val SmallGLayers = 14

  /** Iteration count for q_pagerank — shared by the Spark query and
    * the unrolled layers of its DuckDB oracle (r12 item 4: the full
    * face is hash-exact by the same fixed-point argument as its
    * bounded 2-iter twin). */
  private val PageRankIters = 10

  /** k and peel-round bound for q_kcore — shared by the Spark query
    * and the unrolled layers of its DuckDB oracle. k=6 is the largest
    * k whose core is non-empty on the copurchase graph AND whose peel
    * cascades across multiple rounds (k≤5 converges in one round;
    * k≥7 empties the graph). */
  private val KCoreK = 6
  private val KCoreRounds = 4

  /** Oracle layer count for q_kcore_converged — the bounded-equivalence
    * trick: the peel layer map is monotone (each layer's edge set is a
    * subset of the previous) and idempotent at the fixed point, so an
    * oracle unrolled to ANY depth ≥ the true convergence depth equals
    * the engine's run-to-convergence result. Measured depths on the
    * shipped testdata: 5 (sf0.001), 9 (sf0.01), 11 (sf0.1); 18 leaves
    * headroom without meaningfully growing the (post-fixpoint, no-op)
    * oracle layers. */
  private val KCoreConvergedLayers = 18

  /** k and oracle layer count for q_ktruss — shared by the Spark query
    * and the unrolled layers of its DuckDB oracle. k=5 is the largest
    * k whose truss is non-empty at every shipped SF AND whose peel
    * cascades across multiple rounds (measured convergence depths:
    * 5 at sf0.001, 4 at sf0.01, 2 at sf0.1 — 8 layers leave headroom,
    * post-fixpoint layers are no-ops by idempotence).
    *
    * MAINTENANCE: adding an SF (or a new dataset) requires re-measuring
    * the peel depth — the engine's `[ktruss]` round telemetry prints
    * it; a peel deeper than KTrussLayers surfaces as an oracle
    * hash-mismatch (unrolled oracle stops early), never silently. */
  private val KTrussK = 5
  private val KTrussLayers = 8

  /** Fixed-point scale for q_betweenness_sample — shared by the Spark
    * query and its unrolled DuckDB oracle (the quantized Brandes
    * recurrence; see [[graft.operators.Centrality.betweennessSample]]). */
  private val BetweennessScale = 1000000L

  /** Oracle level count for q_betweenness_sample — must be >= the
    * pivot eccentricity (measured: 6 at sf0.01, 8 at sf0.1; 12 leaves
    * headroom, extra levels are empty no-ops). */
  private val BetweennessLevels = 12

  /** Unrolled DuckDB replay of the quantized Brandes pivot sweep: per
    * pivot a recursive-CTE BFS -> shortest-path DAG -> level-unrolled
    * σ forward DP -> level-unrolled δq backward DP, then the summed
    * per-vertex dependency. Mirrors betweennessSample level for level
    * (integer arithmetic only — `//` here is `div` there). */
  private def betweennessOracleSql(pivots: Seq[Long]): String = {
    val l = BetweennessLevels
    val per = pivots.zipWithIndex.map { case (p, i) =>
      val bfs =
        s"""b$i(id, dist) AS (
           |  SELECT CAST($p AS BIGINT), CAST(0 AS BIGINT)
           |  UNION
           |  SELECT e.dst, b.dist + 1 FROM b$i b
           |  JOIN edges e ON e.src = b.id WHERE b.dist < 40),
           |dm$i AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM b$i GROUP BY id),
           |dag$i AS MATERIALIZED (
           |  SELECT e.src, e.dst, ds.dist AS sd FROM edges e
           |  JOIN dm$i ds ON e.src = ds.id
           |  JOIN dm$i dd ON e.dst = dd.id
           |  WHERE dd.dist = ds.dist + 1),
           |s${i}_0 AS (SELECT CAST($p AS BIGINT) AS id,
           |            CAST(1 AS BIGINT) AS sigma)""".stripMargin
      val sig = (1 to l).map { d =>
        s"""s${i}_$d AS (
           |  SELECT g.dst AS id, CAST(SUM(s.sigma) AS BIGINT) AS sigma
           |  FROM dag$i g JOIN s${i}_${d - 1} s ON g.src = s.id
           |  WHERE g.sd = ${d - 1} GROUP BY g.dst)""".stripMargin
      }
      val sigUnion =
        s"""sigma$i AS MATERIALIZED (${(0 to l).map(d => s"SELECT * FROM s${i}_$d")
             .mkString(" UNION ALL ")})"""
      val wEmpty =
        s"""w${i}_$l AS (SELECT CAST(NULL AS BIGINT) AS id,
           |  CAST(NULL AS BIGINT) AS delta WHERE 1 = 0)""".stripMargin
      val back = ((l - 1) to 0 by -1).map { d =>
        s"""w${i}_$d AS (
           |  SELECT g.src AS id,
           |         CAST(SUM((sv.sigma * ($BetweennessScale +
           |              COALESCE(w.delta, 0))) // sw.sigma) AS BIGINT)
           |           AS delta
           |  FROM dag$i g
           |  JOIN sigma$i sv ON sv.id = g.src
           |  JOIN sigma$i sw ON sw.id = g.dst
           |  LEFT JOIN w${i}_${d + 1} w ON w.id = g.dst
           |  WHERE g.sd = $d GROUP BY g.src)""".stripMargin
      }
      val deltaUnion =
        s"""delta$i AS (SELECT id, delta FROM (
           |  ${(0 until l).map(d => s"SELECT * FROM w${i}_$d")
               .mkString(" UNION ALL ")}) WHERE id <> $p)""".stripMargin
      (Seq(bfs) ++ sig ++ Seq(sigUnion, wEmpty) ++ back ++ Seq(deltaUnion))
        .mkString(",\n")
    }
    val joins = pivots.indices
      .map(i => s"LEFT JOIN delta$i d$i ON d$i.id = v.id").mkString("\n")
    val bc = pivots.indices.map(i => s"COALESCE(d$i.delta, 0)")
      .mkString(" + ")
    s"""WITH RECURSIVE $copurchaseEdgesSql,
       |${per.mkString(",\n")}
       |SELECT v.id, $bc AS bc_q
       |FROM (SELECT DISTINCT src AS id FROM edges) v
       |$joins
       |ORDER BY v.id""".stripMargin
  }

  /** Shared WITH-prefix for the HyperBall oracles: seed registers +
    * `iters` materialized sketch-union rounds n1..n<iters>. */
  private def nfRoundsCte(iters: Int): String = {
    val m = graft.operators.Centrality.NfRegisters
    val cap = graft.operators.Centrality.NfRhoCap
    val rho = (1 to cap).map(k =>
        s"WHEN (w & ${(1L << k) - 1}) = ${1L << (k - 1)} THEN $k")
      .mkString(" ")
    val regCols = (0 until m).map(k => s"r$k")
    val seedRegs = (0 until m)
      .map(k => s"CASE WHEN j = $k THEN rho ELSE 0 END AS r$k")
      .mkString(",\n         |         ")
    def maxRegs(src: String) = regCols
      .map(r => s"MAX($src.$r) AS $r").mkString(", ")
    val rounds = (1 to iters).map { t =>
      val prev = if (t == 1) "rg0" else s"n${t - 1}"
      s"""n$t AS MATERIALIZED (
         |  SELECT e.dst AS id, ${maxRegs("s")}
         |  FROM es e JOIN $prev s ON e.src = s.id GROUP BY e.dst)"""
        .stripMargin
    }
    s"""$copurchaseEdgesSql,
       |v AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
       |seed AS MATERIALIZED (
       |  SELECT id, (g >> 33) % $m AS j,
       |         CASE $rho ELSE $cap END AS rho
       |  FROM (SELECT id, xor(h, h >> 29) AS g,
       |               xor(h, h >> 29) & ${(1L << 20) - 1} AS w
       |        FROM (SELECT id, id * 1315423911 AS h FROM v))),
       |rg0 AS MATERIALIZED (
       |  SELECT id, $seedRegs
       |  FROM seed),
       |es AS MATERIALIZED (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT id, id FROM v),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Unrolled DuckDB replay of the deterministic HyperBall sketch —
    * the same integer hash pipeline, per-register CASE trailing-zero
    * count, element-wise MAX union rounds, packed registers, and
    * integer harmonic-denominator estimate as
    * [[graft.operators.Centrality.neighborhoodFunction]]. */
  private def neighborhoodOracleSql(iters: Int): String = {
    val m = graft.operators.Centrality.NfRegisters
    val cap = graft.operators.Centrality.NfRhoCap
    val regCols = (0 until m).map(k => s"r$k")
    def packed(src: String) = regCols.zipWithIndex
      .map { case (r, k) => s"CAST($src.$r AS BIGINT) * ${1L << (4 * k)}" }
      .mkString(" + ")
    val z = regCols.map(r => s"(1 << ($cap - n$iters.$r))").mkString(" + ")
    val numer = 1000L * m * m * (1L << cap)
    val packedCols = (1 to iters)
      .map(t => s"${packed(s"n$t")} AS regs_$t").mkString(",\n       |       ")
    val packJoins = (1 until iters)
      .map(t => s"JOIN n$t ON n$t.id = n$iters.id").mkString("\n")
    s"""WITH ${nfRoundsCte(iters)}
       |SELECT n$iters.id,
       |       $packedCols,
       |       CAST($numer // (CAST($z AS BIGINT)) AS BIGINT) AS est_milli
       |FROM n$iters
       |$packJoins
       |ORDER BY n$iters.id""".stripMargin
  }

  /** Per-round cardinality sums + the 90%-coverage effective-diameter
    * pick, over the same materialized rounds. */
  private def effectiveDiameterOracleSql(iters: Int): String = {
    val m = graft.operators.Centrality.NfRegisters
    val cap = graft.operators.Centrality.NfRhoCap
    val numer = 1000L * m * m * (1L << cap)
    val perRound = (1 to iters).map { t =>
      val z = (0 until m)
        .map(k => s"(1 << ($cap - r$k))").mkString(" + ")
      s"""SELECT $t AS t,
         |  SUM(CAST($numer // (CAST($z AS BIGINT)) AS BIGINT))
         |    AS sum_est_milli FROM n$t"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${nfRoundsCte(iters)},
       |sums AS (
       |  $perRound),
       |eff AS (SELECT min(t) AS te FROM sums
       |        WHERE sum_est_milli * 10 >=
       |          (SELECT sum_est_milli FROM sums WHERE t = $iters) * 9)
       |SELECT t, CAST(sum_est_milli AS BIGINT) AS sum_est_milli,
       |       t = (SELECT te FROM eff) AS eff
       |FROM sums ORDER BY t""".stripMargin
  }

  /** DuckDB replay of q_bfs_{mediumg,largeg}_scale: rebuild the
    * [[graft.sources.SyntheticGraphs.referenceScale]] graph from the
    * same closed-form integer arithmetic (`//` floors = Spark `div`
    * truncation on the nonnegative operands) and unroll 5 min-merge
    * BFS layers — provably past the fixed point because the tree
    * backbone bounds ecc(0) at 4 and chords only shrink distances. */
  private def referenceScaleBfsSql(shape: (Long, Long)): String = {
    val (n, e) = shape
    val chords = e - (n - 1)
    val layers = (1 to 5).map { h =>
      s"""d$h AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${h - 1}
         |    UNION ALL
         |    SELECT e.dst, d.dist + 1 FROM d${h - 1} d
         |    JOIN edges e ON e.src = d.id)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT i AS src, (i - 1) // 64 AS dst FROM range(1, $n) t(i)
       |  UNION ALL
       |  SELECT (j * 1103515245 + 12345) % $n AS src,
       |         (j * 2654435761 + 98765) % $n AS dst
       |  FROM range($chords) t(j)),
       |edges AS (SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw),
       |d0(id, dist) AS (SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
       |$layers
       |SELECT dist, count(*) AS n_vertices, CAST(sum(id) AS BIGINT) AS sum_id
       |FROM d5 GROUP BY dist ORDER BY dist""".stripMargin
  }

  /** Shared WITH-body replaying RandomWalk.walks: edges, the walk
    * seeds, and one (candidate, argmin) layer per step — used by both
    * the walks oracle and the skip-gram pairs oracle. */
  private def walkChainSql: String = {
    val layers = (1 to RandomWalkSteps).map { i =>
      // pure-BIGINT replay of RandomWalk.walkScore: the pre-square
      // linear mix here, squared mod P in the ORDER BY below — no
      // string functions, same four integer ops the engine runs. The
      // step term is a per-layer constant, folded HERE so DuckDB never
      // sees an INT32*INT32 literal product (it overflow-checks those).
      val stepTerm = (i.toLong * RandomWalk.MixB) % Dedup.P
      val rh = s"((s.walk_id % ${Dedup.P}) * ${RandomWalk.MixA} + " +
        s"$stepTerm + (e.dst % ${Dedup.P})) % ${Dedup.P}"
      s"""c$i AS MATERIALIZED (
         |  SELECT s.walk_id, s.seed, e.dst, s.path, $rh AS h
         |  FROM s${i - 1} s JOIN edges e ON s.cur = e.src),
         |s$i AS MATERIALIZED (
         |  SELECT walk_id, seed, dst AS cur,
         |    path || ',' || CAST(dst AS VARCHAR) AS path
         |  FROM (SELECT *, row_number() OVER (PARTITION BY walk_id
         |          ORDER BY (h * h) % ${Dedup.P}, dst) AS rn
         |        FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$copurchaseEdgesSql,
       |s0 AS (
       |  SELECT v * $RandomWalksPerVertex + w AS walk_id, v AS seed,
       |         v AS cur, CAST(v AS VARCHAR) AS path
       |  FROM (SELECT DISTINCT src AS v FROM edges)
       |  CROSS JOIN (SELECT unnest(range($RandomWalksPerVertex)) AS w)),
       |$layers""".stripMargin
  }

  val faces: Seq[Face] = Seq(
    // O1-O2: scan + cast projection (on parquet testdata; the reference
    // text format is covered by sources.EdgeListSource + its spec).
    Face("q_edge_ingest", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("n_edges"),
             count_distinct(col("src")).as("n_src"),
             count_distinct(col("dst")).as("n_dst"),
             min(col("src")).as("min_src"), max(col("dst")).as("max_dst"))
    },
      """SELECT count(*) AS n_edges,
        |       count(DISTINCT l_orderkey*2) AS n_src,
        |       count(DISTINCT l_partkey*2+1) AS n_dst,
        |       min(l_orderkey*2) AS min_src,
        |       max(l_partkey*2+1) AS max_dst
        |FROM lineitem""".stripMargin),

    // O3-O4: symmetrize + adjacency aggregation (degree + neighbour
    // bounds; arrays stay out of the hash-compare per SURVEY §7.4).
    Face("q_adjacency", (s, dir) => {
      copurchaseEdges(s, dir)
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"),
             min(col("dst")).as("min_nb"), max(col("dst")).as("max_nb"))
    },
      s"""WITH $copurchaseEdgesSql
         |SELECT src AS id, count(*) AS degree,
         |       min(dst) AS min_nb, max(dst) AS max_nb
         |FROM edges GROUP BY src ORDER BY id""".stripMargin),

    // O5-O17: the flagship — full iterative BFS (init, frontier
    // expansion, semilattice reduce, convergence, driver loop).
    Face("q_bfs_copurchase", (s, dir) => {
      Bfs.run(copurchaseEdges(s, dir), source = 2L)
    },
      s"""WITH RECURSIVE $copurchaseEdgesSql,
         |bfs(id, dist) AS (
         |  SELECT CAST(2 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
         |  UNION
         |  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN edges e ON e.src = bfs.id
         |  WHERE bfs.dist < 40
         |)
         |SELECT id, min(dist) AS dist FROM bfs GROUP BY id ORDER BY id""".stripMargin,
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // Exact triangle count over the part co-occurrence graph (parts
    // bought together in one order), by degree-ordered orientation —
    // wedge generation is O(m^1.5)-bounded and hot-degree-proof, the
    // formulation that survives power-law graphs at 100 TB. (The BFS
    // co-purchase graph is bipartite — zero triangles by parity — so
    // this query projects the part-part co-occurrence graph instead.)
    Face("q_triangle_count", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      GraphOps.triangleCount(edges)
    },
      // mirrors GraphOps.triangleCount on the part co-occurrence graph:
      // canonical lo<hi edges, degree-ordered orientation, wedge
      // closure as an equi-join
      """WITH pp AS (
        |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT lo AS id FROM pp UNION ALL SELECT hi FROM pp)
        |  GROUP BY id),
        |o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pp.lo < pp.hi)
        |              THEN pp.lo ELSE pp.hi END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND pp.lo < pp.hi)
        |              THEN pp.hi ELSE pp.lo END AS dst
        |  FROM pp JOIN dg da ON da.id = pp.lo JOIN dg db ON db.id = pp.hi),
        |w AS (
        |  SELECT least(e1.dst, e2.dst) AS lo, greatest(e1.dst, e2.dst) AS hi
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst)
        |SELECT (SELECT count(*) FROM dg) AS n_vertices,
        |       (SELECT count(*) FROM pp) AS n_edges,
        |       (SELECT count(*) FROM w JOIN pp USING (lo, hi)) AS n_triangles""".stripMargin,
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // Multi-source BFS: distance to nearest seed (capability extension
    // of O5 init — same semilattice).
    Face("q_bfs_multisource", (s, dir) => {
      Bfs.runMulti(copurchaseEdges(s, dir), Seq(2L, 4L, 6L))
    },
      s"""WITH RECURSIVE $copurchaseEdgesSql,
         |bfs(id, dist) AS (
         |  SELECT CAST(v.id AS BIGINT), CAST(0 AS BIGINT)
         |  FROM (VALUES (2), (4), (6)) AS v(id)
         |  UNION
         |  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN edges e ON e.src = bfs.id
         |  WHERE bfs.dist < 40
         |)
         |SELECT id, min(dist) AS dist FROM bfs GROUP BY id ORDER BY id""".stripMargin),

    // Pivot-sampled harmonic centrality: one BFS per pivot (2 pivots),
    // per-vertex distance columns + the Σ 1/d estimate — the sampling
    // estimator for closeness at scale (k passes, never all-pairs);
    // harmonic handles disconnection (unreachable pivot contributes 0).
    Face("q_closeness_sample", (s, dir) => {
      Centrality.pivotHarmonic(copurchaseEdges(s, dir), Seq(2L, 4L))
    },
      // two recursive-CTE BFS maps + per-row harmonic arithmetic (pure
      // IEEE division in a fixed order — bit-identical across engines)
      s"""WITH RECURSIVE $copurchaseEdgesSql,
         |b0(id, dist) AS (
         |  SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT e.dst, b0.dist + 1 FROM b0 JOIN edges e ON e.src = b0.id
         |  WHERE b0.dist < 40),
         |b1(id, dist) AS (
         |  SELECT CAST(4 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT e.dst, b1.dist + 1 FROM b1 JOIN edges e ON e.src = b1.id
         |  WHERE b1.dist < 40),
         |d0 AS (SELECT id, min(dist) AS dist_0 FROM b0 GROUP BY id),
         |d1 AS (SELECT id, min(dist) AS dist_1 FROM b1 GROUP BY id),
         |v AS (SELECT DISTINCT src AS id FROM edges)
         |SELECT v.id, d0.dist_0, d1.dist_1,
         |  (CASE WHEN d0.dist_0 > 0 THEN CAST(1 AS DOUBLE) / d0.dist_0
         |        ELSE CAST(0 AS DOUBLE) END +
         |   CASE WHEN d1.dist_1 > 0 THEN CAST(1 AS DOUBLE) / d1.dist_1
         |        ELSE CAST(0 AS DOUBLE) END) AS harmonic
         |FROM v LEFT JOIN d0 ON v.id = d0.id LEFT JOIN d1 ON v.id = d1.id
         |ORDER BY v.id""".stripMargin,
      // two full BFS passes per run
      minRuns = 3),

    // HyperBall neighborhood function: per-vertex deterministic HLL
    // registers, 2 rounds of element-wise-max union with neighbours —
    // |ball(v,t)| estimates for every vertex in one exchange per
    // round (the whole-graph route k-pivot sampling relaxes to).
    // Integer-only (hash, max, packed registers, div estimate), so
    // the oracle replays the sketch bit-exactly.
    Face("q_neighborhood_fn", (s, dir) => {
      Centrality.neighborhoodFunction(copurchaseEdges(s, dir), iters = 2)
    },
      // deterministic-HLL sketch replay — see neighborhoodOracleSql
      neighborhoodOracleSql(2),
      // two sketch-union rounds per run
      minRuns = 3),

    // Effective diameter from the HyperBall neighborhood function:
    // run 6 sketch-union rounds, unpack each round's registers to its
    // integer cardinality proxy, sum per round = the distance
    // distribution S(t); the effective diameter is the first t whose
    // coverage reaches 90% of the horizon's (10·S(t) ≥ 9·S(T) — the
    // Boldi-Vigna statistic, integer-exact relative to horizon T;
    // production iterates to stabilization, same plan shape). Output:
    // (t, sum_est_milli, eff) — 6 rows, every value hash-gated.
    Face("q_effective_diameter", (s, dir) => {
      val m = Centrality.NfRegisters
      val cap = Centrality.NfRhoCap
      val iters = 6
      val numer = 1000L * m * m * (1L << cap)
      val nf = Centrality.neighborhoodFunction(copurchaseEdges(s, dir),
        iters = iters)
      // ALL rounds' packed registers ride the one nf frame, so the 6
      // per-round sums compute in ONE aggregation pass (r15 shipped 6
      // separate agg jobs unioned + checkpointed + cross-joined — the
      // suite's wall was job-count latency, not CPU; measured 20.7s
      // wall vs ~4s CPU/32). The 90%-coverage statistic (Boldi-Vigna:
      // first t with 10·S(t) ≥ 9·S(T)) then folds into the same
      // 1-row frame: a CASE picks t_eff (first match = min), stack()
      // unpivots to the 6 gated rows. One job end to end after nf.
      val sumCols = (1 to iters).map { tt =>
        val zStr = (0 until m).map(k =>
            s"cast(shiftleft(1, $cap - ((regs_$tt div ${1L << (4 * k)})" +
              s" % 16)) as bigint)")
          .mkString(" + ")
        sum(expr(s"$numer div ($zStr)")).as(s"s_$tt")
      }
      nf.agg(sumCols.head, sumCols.tail: _*)
        .withColumn("t_eff", expr(
          (1 to iters).map(t => s"WHEN s_$t * 10 >= s_$iters * 9 THEN $t")
            .mkString("CASE ", " ", " END")))
        .select(expr(s"stack($iters, " +
          (1 to iters).map(t => s"$t, s_$t, $t = t_eff").mkString(", ") +
          ") as (t, sum_est_milli, eff)"))
    },
      // per-round sketch sums + the 90%-coverage pick — see
      // effectiveDiameterOracleSql (same materialized rounds)
      effectiveDiameterOracleSql(6)),

    // Pivot-sampled betweenness (Brandes): per pivot one BFS + one
    // forward σ sweep + one backward δ sweep over the shortest-path
    // DAG. Dependencies in FIXED-POINT (scale 1e6, integer div) so the
    // accumulation is order-independent and the unrolled DuckDB oracle
    // replays it bit-exactly — the quantize-the-algorithm trick.
    Face("q_betweenness_sample", (s, dir) => {
      Centrality.betweennessSample(copurchaseEdges(s, dir), Seq(2L, 4L),
          scale = BetweennessScale)
    },
      // level-unrolled quantized Brandes replay — see betweennessOracleSql
      betweennessOracleSql(Seq(2L, 4L)),
      // k pivot sweeps per run
      minRuns = 3),

    // Minimum spanning forest (Borůvka) on a weighted co-purchase
    // subgraph — deterministic weights from the canonical endpoints,
    // strict total order (weight, src, dst) ⇒ the forest is UNIQUE,
    // so the oracle's per-edge Kruskal cut rule (endpoint not
    // reachable through strictly-lighter edges, one product-space
    // recursive CTE) lands on the identical edge set.
    Face("q_msf", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o2 = col("l_orderkey") * 2
      val p2 = col("l_partkey") * 2 + 1
      val e = li
        .filter(col("l_orderkey") % 20 === 0 && col("l_partkey") % 5 === 0)
        .select(least(o2, p2).as("src"), greatest(o2, p2).as("dst"))
        .withColumn("weight",
          (col("src") * 7 + col("dst") * 13) % 1000 + 1)
      SpanningForest.boruvka(e)
    },
      // Kruskal's cut rule per edge: with the strict total order
      // (w, src, dst), e is in THE unique MSF iff its endpoints are not
      // connected using strictly-smaller edges — replayed as one
      // product-space reachability CTE (state (edge_rank, vertex):
      // vertices reachable from e.src through edges ranked below e).
      // Bounded by construction: the face's subgraph keeps components
      // small, so |state| ≈ Σ|component(e)| — never |V|·|E|.
      """WITH RECURSIVE
        |eraw AS (
        |  SELECT DISTINCT least(l_orderkey*2, l_partkey*2+1) AS src,
        |         greatest(l_orderkey*2, l_partkey*2+1) AS dst
        |  FROM lineitem
        |  WHERE l_orderkey % 20 = 0 AND l_partkey % 5 = 0),
        |e AS (
        |  SELECT src, dst, (src*7 + dst*13) % 1000 + 1 AS w,
        |         row_number() OVER (
        |           ORDER BY (src*7 + dst*13) % 1000 + 1, src, dst) AS rk
        |  FROM eraw),
        |reach(ek, v) AS (
        |  SELECT rk, src FROM e
        |  UNION
        |  SELECT r.ek, CASE WHEN x.src = r.v THEN x.dst ELSE x.src END
        |  FROM reach r JOIN e x
        |    ON x.rk < r.ek AND (x.src = r.v OR x.dst = r.v)
        |)
        |SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS weight FROM e
        |LEFT JOIN reach r ON r.ek = e.rk AND r.v = e.dst
        |WHERE r.v IS NULL
        |ORDER BY e.src, e.dst""".stripMargin,
      // doubly iterative Borůvka forest
      minRuns = 3),

    // Connected components by min-label propagation on the
    // customer-order bipartite graph.
    // The DEEP-graph CC path driver-gated: 100 chains of ~127
    // vertices (diameter 126 — min-label propagation needs ~126
    // rounds; alternating large/small-star contraction converges in
    // O(log n) ≈ 8, and each gate-SF round costs a fixed ~6 exchanges
    // of 32×32 shuffle files, so round count IS the price here). The
    // oracle is the construction's CLOSED FORM — comp(v) =
    // (v div 127)·127 — an algorithm-independent check, not a
    // replay. Output is the per-component histogram.
    // Partition sizing is AQE's job now (r17): the loop keeps AQE on
    // and coalesces its shrinking exchanges itself, replacing the
    // r16 hand-sized 8-partition child session (measured equal wall,
    // ~25% less CPU, and the operator no longer needs session
    // special-casing — the same coalescing sizes UP at 100 TB).
    Face("q_cc_star_deep", (s, _) => {
      val n = 12700L
      val edges = s.range(1, n).filter(expr("id % 127 != 0"))
        .select(col("id").as("src"), (col("id") - 1).as("dst"))
      ConnectedComponents.runStarContraction(edges)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_vertices"), sum(col("id")).as("sum_id"))
    },
      // algorithm-independent closed form of the chain construction:
      // comp(v) = (v div 127)*127
      """SELECT (i // 127) * 127 AS comp,
        |  count(*) AS n_vertices,
        |  CAST(sum(i) AS BIGINT) AS sum_id
        |FROM range(12700) t(i)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Face("q_connected_components", (s, dir) => {
      val o = t(s, dir, "orders")
      val edges = GraphOps.symmetrize(
        o.select((col("o_custkey") * 2).as("src"),
                 (col("o_orderkey") * 2 + 1).as("dst")))
      ConnectedComponents.run(edges)
    },
      """WITH RECURSIVE oedges(src, dst) AS (
        |  SELECT o_custkey*2, o_orderkey*2+1 FROM orders
        |  UNION ALL
        |  SELECT o_orderkey*2+1, o_custkey*2 FROM orders),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM oedges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN oedges e ON e.src = reach.r)
        |SELECT id, min(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin),

    // DIRECTED-graph layering (r20 — the graph family's directed
    // half): longest-path depth of every vertex of a closed-form
    // 12-level dependency DAG (6000 vertices, 3 pseudo-random forward
    // arms per vertex, a (v + q) % 3 sparsifier so in-degree-0
    // vertices occur at EVERY level and layers genuinely vary —
    // critical-path depth, what scheduling/lineage queries ask).
    // Fixpoint of layer(v) = max(0, 1 + max in-neighbor layer): the
    // CC round shape with (max, +1) merge, checksum-fused
    // convergence, depth-bounded rounds; a cycle fails loudly at the
    // round cap. Oracle: the same closed-form generator + a recursive
    // path-length closure (states bounded |V| × depth), max per
    // vertex.
    Face("q_topo_layers", (s, _) => {
      val arms = Seq((17, 1), (29, 3), (41, 7)).map { case (c, d) =>
        s.range(0, 5500).select(col("id").as("src"))
          .withColumn("q", (col("src") % 500) * c.toLong % 500)
          .withColumn("q", (col("q") + d.toLong) % 500)
          .filter(((col("src") + col("q")) % 3) =!= 0)
          .select(col("src"),
            ((expr("src div 500") + 1) * 500 + col("q")).as("dst"))
      }
      Dag.longestPathLayers(arms.reduce(_ unionAll _))
    },
      // the closed-form DAG rebuilt from the same integer arithmetic,
      // then a recursive path-length closure: reach(v, len) holds every
      // (vertex, path-length-ending-here) pair — bounded |V| × (depth+1)
      // states on the 12-level construction — and layer = max(len)
      """WITH RECURSIVE dedges(src, dst) AS (
        |  SELECT i, ((i // 500) + 1) * 500 + (i % 500 * 17 + 1) % 500
        |  FROM range(5500) t(i)
        |  WHERE (i + (i % 500 * 17 + 1) % 500) % 3 != 0
        |  UNION ALL
        |  SELECT i, ((i // 500) + 1) * 500 + (i % 500 * 29 + 3) % 500
        |  FROM range(5500) t(i)
        |  WHERE (i + (i % 500 * 29 + 3) % 500) % 3 != 0
        |  UNION ALL
        |  SELECT i, ((i // 500) + 1) * 500 + (i % 500 * 41 + 7) % 500
        |  FROM range(5500) t(i)
        |  WHERE (i + (i % 500 * 41 + 7) % 500) % 3 != 0),
        |dverts(v) AS (
        |  SELECT DISTINCT src FROM dedges
        |  UNION SELECT DISTINCT dst FROM dedges),
        |reach(v, len) AS (
        |  SELECT v, 0 FROM dverts
        |  UNION
        |  SELECT e.dst, r.len + 1 FROM reach r
        |  JOIN dedges e ON e.src = r.v)
        |SELECT v AS id, CAST(max(len) AS BIGINT) AS layer
        |FROM reach GROUP BY v ORDER BY id""".stripMargin,
      // multi-second iterative
      minRuns = 3),

    // Strongly connected components of a directed graph (r20 — with
    // q_topo_layers, the graph family's directed half): the Orzan
    // coloring decomposition (forward max-color fixpoint → pivots →
    // class-restricted reverse reach → peel) on the deterministic
    // ring/chain condensation fixture (48 cyclic SCCs of four sizes,
    // 16 trivial SCCs, a max-id source that forces a second peel
    // round — SyntheticGraphs.sccFixture's scaladoc walks the
    // construction). Oracle: the algorithm-independent closed form
    // (comp = ring-segment max, or self past the rings) — the
    // q_cc_star_deep convention for synthetic-graph faces.
    Face("q_scc", (s, _) => {
      Scc.run(graft.sources.SyntheticGraphs.sccFixture(s))
    },
      // closed form of the scc fixture (SyntheticGraphs.sccFixtureEdges):
      // ring vertices map to their 26-block segment maximum, the
      // singleton chain and the max-id source to themselves
      """SELECT i AS id, CASE
        |  WHEN i >= 312 THEN i
        |  WHEN i % 26 < 5  THEN (i // 26) * 26 + 4
        |  WHEN i % 26 < 11 THEN (i // 26) * 26 + 10
        |  WHEN i % 26 < 18 THEN (i // 26) * 26 + 17
        |  ELSE (i // 26) * 26 + 25 END AS comp
        |FROM range(329) t(i) ORDER BY id""".stripMargin,
      // multi-second iterative
      minRuns = 3),

    // PageRank on the co-purchase graph (10 power iterations,
    // decimal-exact accumulation — byte-deterministic). No oracleSql:
    // iterative double math is not SQL-expressible; driver records the
    // rows-only check, spec compares vs in-memory power iteration.
    Face("q_pagerank", (s, dir) => {
      PageRank.run(copurchaseEdges(s, dir), iterations = PageRankIters)
    },
      // the FULL 10-iteration face, same recurrence unrolled (r12 item
      // 4 — was rows-only since r9): fixed-point long contributions make
      // every SUM order-free/exact, and each double op (divide, scale,
      // damp) is the identical IEEE-754 operation in both engines, so
      // the chain is bit-stable to the last iteration — the same
      // argument q_pagerank_2iter has been proving hash-exact since r9.
      // MATERIALIZED layers: 10 deep, the kcore_converged inlining
      // lesson applies.
      {
      val layers = (1 to PageRankIters).map { i =>
        s"""c$i AS MATERIALIZED (
           |  SELECT e.dst AS id,
           |    CAST(trunc(r.rank / r.outdeg * 1e15) AS BIGINT) AS c
           |  FROM r${i - 1} r JOIN edges e ON e.src = r.id),
           |s$i AS MATERIALIZED (
           |  SELECT id, sum(c) AS csum FROM c$i GROUP BY id),
           |r$i AS MATERIALIZED (
           |  SELECT d.id, d.outdeg,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           |        / (SELECT n FROM n)
           |      + CAST(0.85 AS DOUBLE)
           |        * (CAST(coalesce(s.csum, 0) AS DOUBLE) / 1e15) AS rank
           |  FROM deg d LEFT JOIN s$i s ON s.id = d.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
         |n AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT id, outdeg,
         |         CAST(1.0 AS DOUBLE) / (SELECT n FROM n) AS rank FROM deg),
         |$layers
         |SELECT id, rank FROM r$PageRankIters ORDER BY id""".stripMargin
    },
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // Personalized PageRank (random walk with restart): restart mass
    // only on the seed vertices {2, 4} (the pivot convention) — rank
    // = proximity to the seeds, the recommender variant. Same
    // fixed-point accumulation; oracle unrolls the same iterations
    // with the personalized init/base terms.
    Face("q_pagerank_personalized", (s, dir) => {
      PageRank.personalized(copurchaseEdges(s, dir), Seq(2L, 4L),
          iterations = PageRankIters)
    },
      // personalized variant: identical layer unrolling, init/base mass
      // on the seed set {2,4} only — (1-d)/|S| and 1/|S| are the same
      // IEEE ops both engines evaluate, so the chain stays bit-stable
      {
      val layers = (1 to PageRankIters).map { i =>
        s"""c$i AS MATERIALIZED (
           |  SELECT e.dst AS id,
           |    CAST(trunc(r.rank / r.outdeg * 1e15) AS BIGINT) AS c
           |  FROM r${i - 1} r JOIN edges e ON e.src = r.id),
           |s$i AS MATERIALIZED (
           |  SELECT id, sum(c) AS csum FROM c$i GROUP BY id),
           |r$i AS MATERIALIZED (
           |  SELECT d.id, d.outdeg,
           |    CASE WHEN d.id IN (2, 4)
           |         THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / 2
           |         ELSE CAST(0.0 AS DOUBLE) END
           |      + CAST(0.85 AS DOUBLE)
           |        * (CAST(coalesce(s.csum, 0) AS DOUBLE) / 1e15) AS rank
           |  FROM deg d LEFT JOIN s$i s ON s.id = d.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (SELECT id, outdeg,
         |         CASE WHEN id IN (2, 4) THEN CAST(0.5 AS DOUBLE)
         |              ELSE CAST(0.0 AS DOUBLE) END AS rank FROM deg),
         |$layers
         |SELECT id, rank FROM r$PageRankIters ORDER BY id""".stripMargin
    },
      // 10-round power iteration
      minRuns = 3),

    // Golden path-carrying BFS on the reference's committed tinyG
    // dataset (datasets/tinyG.txt, 13 vertices — embedded as fixed
    // literals so the oracle can enumerate the same edges): dist AND
    // the lexicographically-smallest shortest path per vertex — the
    // reference's full map-phase output (BFS_map_reduce.py:31-35),
    // argmin tie-break exercised (vertex 4 reaches via 0-5-4 and
    // 0-6-4; min(struct(dist, path)) must pick 0-5-4). Path rendered
    // as a string: arrays stay out of the driver hash (SURVEY §7.4).
    Face("q_bfs_paths_golden", (s, _) => {
      import s.implicits._
      val edges = TinyG.toDF("src", "dst")
      Bfs.run(GraphOps.symmetrize(edges), source = 0L,
          Bfs.Config(withPaths = true))
        .select(col("id"), col("dist"), array_join(col("path"), "->").as("path"))
    },
      // fixed tinyG edges (mirrors the TinyG literal); all shortest
      // SIMPLE paths enumerated by a bounded recursive walk, then
      // min(dist) and the lexicographic-min path per vertex
      {
      val valuesSql = TinyG.map { case (a, b) => s"($a, $b)" }.mkString(", ")
      s"""WITH RECURSIVE raw(src, dst) AS (VALUES $valuesSql),
         |edges AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM raw
         |  UNION ALL
         |  SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM raw),
         |walk(id, dist, path) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), [CAST(0 AS BIGINT)]
         |  UNION ALL
         |  SELECT e.dst, walk.dist + 1, list_append(walk.path, e.dst)
         |  FROM walk JOIN edges e ON e.src = walk.id
         |  WHERE walk.dist < 6 AND NOT list_contains(walk.path, e.dst)),
         |best AS (SELECT id, min(dist) AS dist FROM walk GROUP BY id),
         |mp AS (SELECT w.id, b.dist, min(w.path) AS path
         |       FROM walk w JOIN best b ON b.id = w.id AND w.dist = b.dist
         |       GROUP BY w.id, b.dist)
         |SELECT id, dist, array_to_string(path, '->') AS path
         |FROM mp ORDER BY id""".stripMargin
    },
      // multi-second iterative
      minRuns = 3),

    // BFS distances on the reference's committed 250-vertex dataset
    // (datasets/smallG.txt — SURVEY §0.1: 1273 edges, connected,
    // ecc(0)=13, so the loop runs 14 rounds, 5× deeper than tinyG's 3)
    // — r12 verdict item 5: puts the reference's own larger dataset,
    // previously spec-only (ReferenceDatasetSpec), under the driver's
    // gate through the REAL text-ingest path (EdgeListSource →
    // symmetrize → Bfs.run). The oracle replays the file through
    // DuckDB's read_csv and 14 unrolled min-merge layers.
    Face("q_bfs_smallg_golden", (s, _) => {
      val edges = graft.sources.EdgeListSource.load(
        s, "/root/reference/datasets/smallG.txt")
      Bfs.run(GraphOps.symmetrize(edges), source = 0L)
    },
      // the reference's smallG.txt re-read via read_csv, symmetrized,
      // then 14 unrolled min-merge layers (ecc(0)=13, so layer 14 is
      // past the fixed point — bounded equivalence, the kcore_converged
      // argument). MATERIALIZED: each layer is referenced twice by the
      // next; inlining would re-evaluate the chain 2^14 times.
      {
      val layers = (1 to SmallGLayers).map { h =>
        s"""d$h AS MATERIALIZED (
           |  SELECT id, min(dist) AS dist FROM (
           |    SELECT id, dist FROM d${h - 1}
           |    UNION ALL
           |    SELECT e.dst, d.dist + 1 FROM d${h - 1} d
           |    JOIN edges e ON e.src = d.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('/root/reference/datasets/smallG.txt',
         |    delim = ' ', header = false,
         |    columns = {'src': 'BIGINT', 'dst': 'BIGINT'})),
         |edges AS (
         |  SELECT src, dst FROM raw
         |  UNION ALL
         |  SELECT dst, src FROM raw),
         |d0(id, dist) AS (SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         |$layers
         |SELECT id, CAST(dist AS BIGINT) AS dist
         |FROM d$SmallGLayers ORDER BY id""".stripMargin
    }),

    // BFS at the reference's two PUBLISHED scale points whose blobs
    // don't ship (slide 23: mediumG 77,360/905,468 and largeG
    // 325,729/1,497,134 nodes/edges) — synthesized deterministically
    // (SyntheticGraphs: branching-64 tree + hash chords, ecc(0) ≤ 4
    // by construction) so the oracle rebuilds the identical graph and
    // replays the BFS with 5 provably-past-fixed-point min-merge
    // layers. Output is the distance histogram (count + id-sum per
    // level): the result the reference's scale experiment reports,
    // in a 5-row hash-gated frame. These run Bfs.run TO CONVERGENCE
    // through the real frontier loop — largeG's round-2 frontier is
    // ~2.3M candidate rows, the broadcast→shuffle transition at real
    // scale.
    Face("q_bfs_mediumg_scale", (s, _) => {
      val (n, e) = graft.sources.SyntheticGraphs.MediumG
      val edges = graft.sources.SyntheticGraphs.referenceScale(s, n, e)
      Bfs.run(GraphOps.symmetrize(edges), source = 0L)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_vertices"), sum(col("id")).as("sum_id"))
    },
      // the reference's published scale points, graph rebuilt in DuckDB
      // from the same closed-form integer arithmetic (SyntheticGraphs:
      // branching-64 tree + hash chords, ecc(0) <= 4 by construction so
      // 5 min-merge layers are provably past the fixed point; chords
      // only shrink distances). Histogram output keeps the compare
      // 5 rows regardless of |V|.
      referenceScaleBfsSql(
      graft.sources.SyntheticGraphs.MediumG)),

    Face("q_bfs_largeg_scale", (s, _) => {
      val (n, e) = graft.sources.SyntheticGraphs.LargeG
      val edges = graft.sources.SyntheticGraphs.referenceScale(s, n, e)
      Bfs.run(GraphOps.symmetrize(edges), source = 0L)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_vertices"), sum(col("id")).as("sum_id"))
    },
      referenceScaleBfsSql(
      graft.sources.SyntheticGraphs.LargeG)),

    // Path-carrying BFS at REAL scale: the copurchase graph (16,743
    // vertices at sf0.01 vs the golden query's 13), hop-bounded at 6 so
    // the array-payload-through-shuffle cost that Bfs.Config.withPaths
    // warns about is exercised with real frontier sizes AND the oracle
    // stays expressible (one min-merge layer per hop, lex-min path via
    // DuckDB's lexicographic min over lists — the same argmin the
    // engine's min(struct(dist, path)) computes). Path rendered as a
    // string: arrays stay out of the driver hash (SURVEY §7.4).
    Face("q_bfs_paths_copurchase", (s, dir) => {
      Bfs.run(copurchaseEdges(s, dir), source = 2L,
          Bfs.Config(maxIterations = BfsPathsCopurchaseHops,
            withPaths = true))
        .select(col("id"), col("dist"),
          array_join(col("path"), "->").as("path"))
    },
      // hop-bounded path-carrying BFS unrolled one min-merge layer per
      // hop: layer h's candidates are layer h-1's rows plus every
      // one-edge extension; min(dist) then min(path) among the min-dist
      // rows replays the engine's min(struct(dist, path)) semilattice
      // (equal-dist paths have equal length, so DuckDB's lexicographic
      // list min IS the same argmin). Re-expanding already-settled
      // vertices each layer only regenerates candidates earlier layers
      // min-merged away — the min is idempotent, so p_h equals the
      // engine's frontier-only state after h rounds.
      {
      val layers = (1 to BfsPathsCopurchaseHops).map { h =>
        s"""c$h AS (
           |  SELECT id, dist, path FROM p${h - 1}
           |  UNION ALL
           |  SELECT e.dst, d.dist + 1, list_append(d.path, e.dst)
           |  FROM p${h - 1} d JOIN edges e ON e.src = d.id),
           |b$h AS (SELECT id, min(dist) AS dist FROM c$h GROUP BY id),
           |p$h AS (SELECT c.id, b.dist, min(c.path) AS path
           |        FROM c$h c JOIN b$h b
           |          ON b.id = c.id AND c.dist = b.dist
           |        GROUP BY c.id, b.dist)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |p0(id, dist, path) AS (
         |  SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT),
         |         [CAST(2 AS BIGINT)]),
         |$layers
         |SELECT id, CAST(dist AS BIGINT) AS dist,
         |       array_to_string(path, '->') AS path
         |FROM p$BfsPathsCopurchaseHops ORDER BY id""".stripMargin
    },
      // multi-second iterative
      minRuns = 3),

    // Path-carrying BFS at the reference's PUBLISHED mediumG scale
    // (77,360 vertices / 905,468 edges — the one reference output that
    // was r16-validated only up to the 16,743-vertex copurchase graph;
    // the reference computes paths for EVERY vertex at every scale it
    // benchmarked, BFS_map_reduce.py:31-35). Same synthetic graph as
    // q_bfs_mediumg_scale, ecc(0) ≤ 4 by construction, so
    // MediumGPathLayers = 5 rounds is provably past the fixed point —
    // the oracle unrolls 5 path-carrying min-merge layers and DuckDB's
    // lexicographic list-min replays min(struct(dist, path)). This
    // prices the array payload through the ~2.3M-row published-scale
    // frontier shuffle, not just the histogram.
    Face("q_bfs_paths_mediumg", (s, _) => {
      val (n, e) = graft.sources.SyntheticGraphs.MediumG
      val edges = graft.sources.SyntheticGraphs.referenceScale(s, n, e)
      Bfs.run(GraphOps.symmetrize(edges), source = 0L,
          Bfs.Config(maxIterations = MediumGPathLayers, withPaths = true))
        .select(col("id"), col("dist"),
          array_join(col("path"), "->").as("path"))
    },
      // q_bfs_paths_copurchase's layer pattern at the PUBLISHED mediumG
      // scale: the synthetic graph rebuilt from the same closed-form
      // integer arithmetic (referenceScaleBfsSql's construction), 5
      // path-carrying min-merge layers (provably past fixpoint — ecc(0)
      // ≤ 4 by construction), lex-min path via DuckDB's list min.
      // MATERIALIZED: every layer is referenced three times downstream.
      {
      val (n, e) = graft.sources.SyntheticGraphs.MediumG
      val chords = e - (n - 1)
      val layers = (1 to MediumGPathLayers).map { h =>
        s"""c$h AS MATERIALIZED (
           |  SELECT id, dist, path FROM p${h - 1}
           |  UNION ALL
           |  SELECT e.dst, d.dist + 1, list_append(d.path, e.dst)
           |  FROM p${h - 1} d JOIN edges e ON e.src = d.id),
           |b$h AS MATERIALIZED (
           |  SELECT id, min(dist) AS dist FROM c$h GROUP BY id),
           |p$h AS MATERIALIZED (
           |  SELECT c.id, b.dist, min(c.path) AS path
           |  FROM c$h c JOIN b$h b
           |    ON b.id = c.id AND c.dist = b.dist
           |  GROUP BY c.id, b.dist)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
         |  SELECT i AS src, (i - 1) // 64 AS dst FROM range(1, $n) t(i)
         |  UNION ALL
         |  SELECT (j * 1103515245 + 12345) % $n AS src,
         |         (j * 2654435761 + 98765) % $n AS dst
         |  FROM range($chords) t(j)),
         |edges AS (SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw),
         |p0(id, dist, path) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         [CAST(0 AS BIGINT)]),
         |$layers
         |SELECT id, CAST(dist AS BIGINT) AS dist,
         |       array_to_string(path, '->') AS path
         |FROM p$MediumGPathLayers ORDER BY id""".stripMargin
    }),

    // Weighted SSSP (Bellman-Ford BSP — min-plus on the BFS core) on
    // the reference's tinyG with deterministic per-edge weights
    // (portable rolling hash of the canonical endpoint pair, so both
    // directions share the weight and the oracle replays it). The
    // oracle enumerates simple paths by recursive CTE and takes the
    // min — hash-exact like q_bfs_paths_golden.
    Face("q_sssp_golden", (s, _) => {
      import s.implicits._
      val edges = GraphOps.symmetrize(TinyG.toDF("src", "dst"))
        .withColumn("w", lit(1L) + pmod(TextAnalysis.rollingHash(
          concat_ws("_", least(col("src"), col("dst")).cast("string"),
            greatest(col("src"), col("dst")).cast("string"))), lit(9L)))
      Sssp.run(edges, source = 0L)
    },
      // weighted twin of the golden walk: same simple-path enumeration,
      // min-PLUS accumulation; per-edge weights derive from the same
      // rolling hash of the canonical endpoint pair as the Spark query
      {
      val valuesSql = TinyG.map { case (a, b) => s"($a, $b)" }.mkString(", ")
      val wExpr = rhSql("CAST(least(src, dst) AS VARCHAR) || '_' || " +
        "CAST(greatest(src, dst) AS VARCHAR)")
      s"""WITH RECURSIVE raw(src, dst) AS (VALUES $valuesSql),
         |edges AS (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM raw
         |  UNION ALL
         |  SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM raw),
         |we AS (SELECT src, dst, 1 + ($wExpr) % 9 AS w FROM edges),
         |walk(id, dist, path) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), [CAST(0 AS BIGINT)]
         |  UNION ALL
         |  SELECT e.dst, walk.dist + e.w, list_append(walk.path, e.dst)
         |  FROM walk JOIN we e ON e.src = walk.id
         |  WHERE NOT list_contains(walk.path, e.dst))
         |SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk
         |GROUP BY id ORDER BY id""".stripMargin
    }),

    // Weighted SSSP at REAL scale: the co-purchase graph (the same
    // graph the flagship BFS runs), deterministic rolling-hash weights
    // (the q_sssp_golden recipe), hop-bounded at 6 so the oracle is
    // expressible as 6 unrolled relaxation layers (the q_pagerank_2iter
    // trick) — a hash-exact face for the iterative operator whose
    // per-round stderr lines carry real frontier sizes.
    Face("q_sssp_copurchase", (s, dir) => {
      val edges = copurchaseEdges(s, dir)
        .withColumn("w", lit(1L) + pmod(TextAnalysis.rollingHash(
          concat_ws("_", least(col("src"), col("dst")).cast("string"),
            greatest(col("src"), col("dst")).cast("string"))), lit(9L)))
      Sssp.runBounded(edges, source = 2L, hops = SsspCopurchaseHops)
    },
      // hop-bounded Bellman-Ford unrolled as one relaxation layer per
      // hop (d_h = min(d_{h-1}, min over edges of d_{h-1}(src)+w)) —
      // exactly the table Sssp.runBounded's frontier rounds compute; the
      // layer count interpolates from the same SsspCopurchaseHops
      // constant the Spark query uses. All-integer min-plus: hash-exact.
      {
      val wExpr = rhSql("CAST(least(src, dst) AS VARCHAR) || '_' || " +
        "CAST(greatest(src, dst) AS VARCHAR)")
      val layers = (1 to SsspCopurchaseHops).map { h =>
        s"""d$h AS (
           |  SELECT id, min(dist) AS dist FROM (
           |    SELECT id, dist FROM d${h - 1}
           |    UNION ALL
           |    SELECT e.dst, d.dist + e.w FROM d${h - 1} d
           |    JOIN we e ON e.src = d.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |we AS (SELECT src, dst, 1 + ($wExpr) % 9 AS w FROM edges),
         |d0(id, dist) AS (SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
         |$layers
         |SELECT id, CAST(dist AS BIGINT) AS dist
         |FROM d$SsspCopurchaseHops ORDER BY id""".stripMargin
    },
      // multi-second iterative
      minRuns = 3),

    // Deterministic random walks on the copurchase graph — the
    // walk-corpus generator for graph embeddings; hash-driven edge
    // choice makes a sampling operator hash-exact under the oracle.
    Face("q_random_walks", (s, dir) => {
      RandomWalk.walks(copurchaseEdges(s, dir),
          walksPerVertex = RandomWalksPerVertex, steps = RandomWalkSteps)
    },
      // unrolled walk steps: each layer joins the walk heads to the
      // edge table and keeps the candidate with the smallest mixed hash
      // of (walk, step, dst) — row_number ORDER BY ((h*h)%P, dst)
      // replays the engine's min(struct(score, dst, …)) exactly
      s"""WITH $walkChainSql
         |SELECT walk_id, seed, cur AS final_vertex, path
         |FROM s$RandomWalkSteps ORDER BY walk_id""".stripMargin,
      // runs have read 9.6 and 23.2 s for hash-identical output
      minRuns = 3),

    // Skip-gram (center, context) pair counts from the same walk
    // corpus — the word2vec/DeepWalk training-example step; window 2
    // over every path position, one exchange for the pair rollup.
    Face("q_walk_pairs", (s, dir) => {
      RandomWalk.skipGramPairs(
          RandomWalk.walks(copurchaseEdges(s, dir),
            walksPerVertex = RandomWalksPerVertex, steps = RandomWalkSteps),
          window = 2)
    },
      // same walk chain, then the window-2 skip-gram pair expansion:
      // every path position pairs with its <=2-hop neighbours, rolled
      // up to (center, context) counts
      s"""WITH $walkChainSql,
         |p AS (SELECT string_split(path, ',') AS tk
         |      FROM s$RandomWalkSteps),
         |x AS (SELECT tk, unnest(range(len(tk))) AS i FROM p),
         |y AS (SELECT CAST(tk[i + 1] AS BIGINT) AS center,
         |             CAST(tk[j + 1] AS BIGINT) AS context
         |      FROM (SELECT tk, i, unnest(range(greatest(0, i - 2),
         |                    least(len(tk), i + 3))) AS j FROM x)
         |      WHERE j <> i)
         |SELECT center, context, count(*) AS n FROM y
         |GROUP BY center, context ORDER BY center, context""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3),

    // Deterministic negative sampling on the same graph — the
    // contrastive counterpart of q_random_walks (walk pairs are the
    // positives, hash-best non-neighbors the negatives).
    Face("q_negative_samples", (s, dir) => {
      RandomWalk.negativeSamples(copurchaseEdges(s, dir), k = 5,
          candidatePool = 32)
    },
      // mirrors RandomWalk.negativeSamples: fixed hash-order candidate
      // pool, per-vertex non-neighbor filter, hash-ranked top-k
      {
      // pure-BIGINT replay of RandomWalk.negativeSamples' two hash
      // families (pool membership / pair score) — pre-square mixes,
      // squared mod P at the use sites below
      val poolH = s"((id % ${Dedup.P}) * ${RandomWalk.MixA} + " +
        s"${RandomWalk.SaltCand}) % ${Dedup.P}"
      val pairH = s"((id % ${Dedup.P}) * ${RandomWalk.MixA} + " +
        s"(cand % ${Dedup.P}) * ${RandomWalk.MixB}) % ${Dedup.P}"
      s"""WITH $copurchaseEdgesSql,
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |pool AS (
         |  SELECT id AS cand FROM (
         |    SELECT id, ($poolH) * ($poolH) % ${Dedup.P} AS ch FROM verts)
         |  ORDER BY ch, cand LIMIT 32),
         |pairs AS (
         |  SELECT v.id, p.cand FROM verts v CROSS JOIN pool p
         |  WHERE p.cand <> v.id
         |    AND NOT EXISTS (SELECT 1 FROM edges e
         |                    WHERE e.src = v.id AND e.dst = p.cand)),
         |scored AS (
         |  SELECT id, cand, ($pairH) * ($pairH) % ${Dedup.P} AS score
         |  FROM pairs),
         |r AS (SELECT id, cand,
         |        row_number() OVER (PARTITION BY id
         |                           ORDER BY score, cand) AS rank
         |      FROM scored)
         |SELECT id, rank, cand AS neg_id FROM r
         |WHERE rank <= 5 ORDER BY id, rank""".stripMargin
    },
      // has shown multi-x run spreads
      minRuns = 3),

    // Community detection: synchronous label propagation, 2 fixed
    // rounds on the copurchase graph. Deterministic by construction
    // (neighbor-majority with min-label tie-break via one
    // argmin-struct semilattice aggregate) — hash-exact against the
    // unrolled oracle.
    Face("q_label_prop", (s, dir) => {
      LabelPropagation.run(copurchaseEdges(s, dir), rounds = 2)
    },
      // two unrolled label-propagation rounds: round 1's messages are
      // the raw edges (label0(v) = v), round 2 joins the edge table to
      // round 1's labels; each round's argmin(row(-count, label))
      // replays the engine's min(struct(-c, lbl)) semilattice exactly.
      s"""WITH $copurchaseEdgesSql,
         |$lpTwoRoundsSql
         |SELECT id, label FROM l2 ORDER BY id""".stripMargin,
      // multi-second iterative
      minRuns = 3),

    // k-core by bounded peeling: 4 peel rounds at k=6 on the
    // copurchase graph (k chosen so the cascade is real: round sizes
    // 523→517→505→504 vertices at sf0.001 — each round removes
    // vertices whose degree the PREVIOUS round's deletions dropped
    // below k). Fixed round count = unrolled hash-exact oracle; the
    // run-to-convergence face is KCore.peel, spec-checked.
    // The TRUE k-core — KCore.peel run to the driver-detected fixed
    // point (previously spec-only; q_kcore exercises the bounded face).
    // Hash-exact via bounded equivalence: peeling is monotone and
    // idempotent at the fixpoint, so the oracle unrolls
    // KCoreConvergedLayers ≥ the measured convergence depth and the
    // two sides meet at the same fixed point. Puts the data-dependent
    // convergence loop — the driver probe, the per-round localCheckpoint
    // cadence, the monotone edge shrink — under the driver's eye like
    // BFS/CC already are.
    Face("q_kcore_converged", (s, dir) => {
      KCore.peel(copurchaseEdges(s, dir), k = KCoreK)
    },
      // the run-to-convergence face by bounded equivalence: 18 unrolled
      // peel layers ≥ the measured convergence depth on every shipped SF
      // (5/9/11 at sf0.001/0.01/0.1), and layers past the fixed point
      // are no-ops (the keep-set keeps everything), so this EQUALS the
      // engine's data-dependent peel-until-stable result. Every layer
      // CTE is MATERIALIZED: each is referenced 3× by the next layer, so
      // DuckDB's default inlining re-evaluates the chain exponentially
      // (3^18 scans of lineitem — the 4-layer q_kcore survives inlining,
      // this depth does not)
      {
      val layers = (1 to KCoreConvergedLayers).map { r =>
        s"""k$r AS MATERIALIZED (
           |  SELECT src FROM e${r - 1}
           |  GROUP BY src HAVING count(*) >= $KCoreK),
           |e$r AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${r - 1} e
           |  JOIN k$r a ON a.src = e.src
           |  JOIN k$r b ON b.src = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |e0 AS MATERIALIZED (SELECT src, dst FROM edges),
         |$layers
         |SELECT src AS id, count(*) AS deg
         |FROM e$KCoreConvergedLayers GROUP BY src ORDER BY id""".stripMargin
    },
      // multi-second iterative
      minRuns = 3),

    Face("q_kcore", (s, dir) => {
      KCore.peelBounded(copurchaseEdges(s, dir), k = KCoreK,
          rounds = KCoreRounds)
    },
      // four unrolled peel rounds at k=6: each layer keeps vertices
      // whose degree in the PREVIOUS layer's edge set is ≥ k, then
      // drops edges touching a removed endpoint (the keep-set is
      // DISTINCT by GROUP BY, so inner join ≡ semi join); interpolates
      // the same KCoreK/KCoreRounds constants as the Spark query.
      {
      val layers = (1 to KCoreRounds).map { r =>
        s"""k$r AS (SELECT src FROM e${r - 1}
           |        GROUP BY src HAVING count(*) >= $KCoreK),
           |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
           |        JOIN k$r a ON a.src = e.src
           |        JOIN k$r b ON b.src = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $copurchaseEdgesSql,
         |e0 AS (SELECT src, dst FROM edges),
         |$layers
         |SELECT src AS id, count(*) AS deg
         |FROM e$KCoreRounds GROUP BY src ORDER BY id""".stripMargin
    },
      // multi-second iterative
      minRuns = 3),

    // k-truss to the fixed point (KTruss.truss): the triangle-backed
    // refinement of the k-core, on the part co-occurrence graph
    // (the copurchase graph is bipartite — zero triangles by parity —
    // so this runs where q_triangle_count does, subset to every 5th
    // order so the per-round support pass stays proportionate).
    // Hash-exact via the kcore bounded-equivalence trick: support
    // peeling is monotone (deleting edges only lowers remaining
    // supports) and idempotent at the fixpoint, so the oracle unrolls
    // KTrussLayers ≥ the measured convergence depth (5 / 4 / 2 at
    // sf0.001 / 0.01 / 0.1) and both sides meet at the same truss,
    // reported with each edge's support inside it.
    Face("q_ktruss", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      KTruss.truss(edges, k = KTrussK)
    },
      // unrolled k-truss support peel: per layer enumerate triangles
      // (x < y < z exactly once via three canonical-edge joins), credit
      // each triangle's three edges, keep edges with support >= k-2;
      // KTrussLayers >= the measured convergence depth, post-fixpoint
      // layers are no-ops. Final SELECT re-counts support INSIDE the
      // truss — the same values the engine's fixpoint round computed.
      // Every chained CTE is MATERIALIZED: each e{r} is referenced 4x
      // by its layer, and DuckDB default-INLINES CTEs, so the plain
      // chain expands 4^layers copies of the base scan (measured: fd
      // exhaustion on the lineitem parquet at 8 layers — the one
      // unrolled oracle where inlining compounds geometrically).
      {
      val kk = KTrussK - 2
      val layers = (1 to KTrussLayers).map { r =>
        s"""t$r AS MATERIALIZED (
           |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
           |  FROM e${r - 1} a JOIN e${r - 1} b ON b.lo = a.hi
           |  JOIN e${r - 1} c ON c.lo = a.lo AND c.hi = b.hi),
           |s$r AS MATERIALIZED (
           |  SELECT lo, hi, count(*) AS sup FROM (
           |    SELECT x AS lo, y AS hi FROM t$r
           |    UNION ALL SELECT x, z FROM t$r
           |    UNION ALL SELECT y, z FROM t$r) GROUP BY lo, hi),
           |e$r AS MATERIALIZED (
           |  SELECT e.lo, e.hi FROM e${r - 1} e JOIN s$r s
           |  ON s.lo = e.lo AND s.hi = e.hi AND s.sup >= $kk)"""
          .stripMargin
      }.mkString(",\n")
      val L = KTrussLayers
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem WHERE l_orderkey % 5 = 0),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS lo, b.pk AS hi
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |$layers,
         |tf AS MATERIALIZED (
         |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
         |  FROM e$L a JOIN e$L b ON b.lo = a.hi
         |  JOIN e$L c ON c.lo = a.lo AND c.hi = b.hi),
         |sf AS MATERIALIZED (
         |  SELECT lo, hi, count(*) AS sup FROM (
         |    SELECT x AS lo, y AS hi FROM tf
         |    UNION ALL SELECT x, z FROM tf
         |    UNION ALL SELECT y, z FROM tf) GROUP BY lo, hi)
         |SELECT e.lo AS src, e.hi AS dst, coalesce(s.sup, 0) AS support
         |FROM e$L e LEFT JOIN sf s ON s.lo = e.lo AND s.hi = e.hi
         |ORDER BY src, dst""".stripMargin
    },
      // multi-second support-peel loop
      minRuns = 3),

    // Fixed-2-iteration PageRank twin of q_pagerank: same engine code
    // (PageRank.run), bounded iterations so the oracle is expressible
    // as non-recursive SQL — converts the pagerank family from a
    // rows-only check to a hash-matched one. Exactness: contributions
    // are fixed-point longs (integer sum is order-free) and every
    // double op (1.0/n, rank/outdeg*1e15 with truncation, base +
    // damping*csum/1e15) is replayed in the same IEEE order by the
    // oracle.
    Face("q_pagerank_2iter", (s, dir) => {
      PageRank.run(copurchaseEdges(s, dir), iterations = 2)
    },
      // two unrolled power iterations replaying PageRank.run's math in
      // the same IEEE order: rank0 = 1.0/n; per-edge contribution
      // trunc(rank/outdeg*1e15) summed as integers; rank' = (1-d)/n +
      // d*(csum/1e15). trunc() mirrors Spark's double→long cast (DuckDB
      // CAST alone rounds-to-nearest). Symmetrized graph → no dangling
      // vertices, every vertex has outdeg ≥ 1.
      // every numeric literal is spelled as a DOUBLE (1e15, CAST AS
      // DOUBLE): a bare `1.0` is DECIMAL in DuckDB and would silently
      // switch the whole chain to decimal arithmetic
      s"""WITH $copurchaseEdgesSql,
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
         |n AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT id, outdeg,
         |         CAST(1.0 AS DOUBLE) / (SELECT n FROM n) AS rank FROM deg),
         |c1 AS (SELECT e.dst AS id,
         |         CAST(trunc(r.rank / r.outdeg * 1e15) AS BIGINT) AS c
         |       FROM r0 r JOIN edges e ON e.src = r.id),
         |s1 AS (SELECT id, sum(c) AS csum FROM c1 GROUP BY id),
         |r1 AS (SELECT d.id, d.outdeg,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |             / (SELECT n FROM n)
         |           + CAST(0.85 AS DOUBLE)
         |             * (CAST(coalesce(s.csum, 0) AS DOUBLE) / 1e15) AS rank
         |       FROM deg d LEFT JOIN s1 s ON s.id = d.id),
         |c2 AS (SELECT e.dst AS id,
         |         CAST(trunc(r.rank / r.outdeg * 1e15) AS BIGINT) AS c
         |       FROM r1 r JOIN edges e ON e.src = r.id),
         |s2 AS (SELECT id, sum(c) AS csum FROM c2 GROUP BY id),
         |r2 AS (SELECT d.id,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |             / (SELECT n FROM n)
         |           + CAST(0.85 AS DOUBLE)
         |             * (CAST(coalesce(s.csum, 0) AS DOUBLE) / 1e15) AS rank
         |       FROM deg d LEFT JOIN s2 s ON s.id = d.id)
         |SELECT id, rank FROM r2 ORDER BY id""".stripMargin),

    // Per-vertex triangle counts + local clustering coefficient over
    // the part co-occurrence graph — same oriented wedge machinery as
    // q_triangle_count, keeping the intersection elements so each
    // corner gets credited.
    Face("q_clustering_coeff", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      GraphOps.clusteringCoefficients(edges)
    },
      // mirrors GraphOps.clusteringCoefficients: canonical edges,
      // triangles enumerated once at x<y<z, corners credited via UNION
      // ALL, coeff = one double division of exact integers
      """WITH pp AS (
        |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |dg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT lo AS id FROM pp UNION ALL SELECT hi FROM pp)
        |  GROUP BY id),
        |tr AS (
        |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
        |  FROM pp a JOIN pp b ON b.lo = a.hi
        |  JOIN pp c ON c.lo = a.lo AND c.hi = b.hi),
        |tc AS (
        |  SELECT id, count(*) AS t FROM (
        |    SELECT x AS id FROM tr UNION ALL SELECT y FROM tr
        |    UNION ALL SELECT z FROM tr)
        |  GROUP BY id)
        |SELECT dg.id, dg.d AS degree,
        |       coalesce(tc.t, 0) AS n_triangles,
        |       CASE WHEN dg.d >= 2
        |            THEN CAST(2 * coalesce(tc.t, 0) AS DOUBLE)
        |                 / CAST(dg.d * (dg.d - 1) AS DOUBLE)
        |            ELSE 0.0 END AS clustering_coeff
        |FROM dg LEFT JOIN tc ON tc.id = dg.id
        |ORDER BY dg.id""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3)
  )
}
