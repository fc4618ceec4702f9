package graft.faces

import org.apache.spark.sql.functions._

import graft.operators.{LabelPropagation, Louvain}
import Shared._

/** Louvain faces: move sweeps, contraction levels, resolution and
  * parity-gated variants, and the modularity evaluation, with their
  * unrolled DuckDB oracles. */
object LouvainFaces {

  /** Phase-1 Louvain CTE chain (canonical edges → degrees → 2m →
    * singleton init → 2 unrolled synchronous move sweeps ending in
    * `a2(id, comm)`), shared by the q_louvain_move and
    * q_louvain_twolevel oracles so both replay ONE phase-1
    * construction. Chained CTEs MATERIALIZED (the q_ktruss inlining
    * lesson — a{r-1} is referenced 4× per sweep).
    *
    * @param gated parity-gate the sweeps (mirrors
    *        `moveSteps(partialMoves = true)`): in step r only ids
    *        with (id + r) even adopt the argmax, everyone else keeps
    *        their step-(r−1) community — the same CASE the phase-2
    *        (`b$r`) chain runs
    * @param gn,gd resolution γ = gn/gd (Reichardt–Bornholdt): the
    *        score scales to γden·2m·k_vc − γnum·k_v·Σtot' — mirrors
    *        `moveSteps(gammaNum, gammaDen)`; (1, 1) is Newman
    *        modularity and emits no scaling factors at all */
  private def louvainPhase1Sql(gated: Boolean = false,
                               gn: Long = 1L, gd: Long = 1L): String = {
    val (gnF, gdF) = (if (gn == 1L) "" else s"$gn * ",
      if (gd == 1L) "" else s"$gd * ")
    val steps = (1 to 2).map { r =>
      val pick =
        if (gated)
          s"""a$r AS MATERIALIZED (
             |  SELECT w.id,
             |    CASE WHEN (w.id + $r) % 2 = 0 THEN w.comm
             |         ELSE cur.comm END AS comm
             |  FROM (SELECT id, comm FROM (
             |          SELECT id, comm, row_number() OVER (
             |            PARTITION BY id ORDER BY score DESC, comm ASC) AS rn
             |          FROM sc$r) WHERE rn = 1) w
             |  JOIN a${r - 1} cur ON cur.id = w.id)""".stripMargin
        else
          s"""a$r AS MATERIALIZED (
             |  SELECT id, comm FROM (
             |    SELECT id, comm, row_number() OVER (
             |      PARTITION BY id ORDER BY score DESC, comm ASC) AS rn
             |    FROM sc$r) WHERE rn = 1)""".stripMargin
      s"""kin$r AS MATERIALIZED (
         |  SELECT e.src AS id, a.comm, count(*) AS kvc
         |  FROM e JOIN a${r - 1} a ON a.id = e.dst GROUP BY 1, 2),
         |tot$r AS MATERIALIZED (
         |  SELECT a.comm, sum(d.k) AS tot
         |  FROM a${r - 1} a JOIN deg d ON d.id = a.id GROUP BY 1),
         |cset$r AS MATERIALIZED (
         |  SELECT DISTINCT id, comm FROM (
         |    SELECT id, comm FROM kin$r
         |    UNION ALL SELECT id, comm FROM a${r - 1})),
         |sc$r AS MATERIALIZED (
         |  SELECT cs.id, cs.comm,
         |    $gdF(SELECT m2 FROM m) * coalesce(kin.kvc, 0)
         |      - ${gnF}d.k * (t.tot -
         |          CASE WHEN cur.comm = cs.comm THEN d.k ELSE 0 END)
         |      AS score
         |  FROM cset$r cs
         |  JOIN deg d ON d.id = cs.id
         |  JOIN a${r - 1} cur ON cur.id = cs.id
         |  JOIN tot$r t ON t.comm = cs.comm
         |  LEFT JOIN kin$r kin
         |    ON kin.id = cs.id AND kin.comm = cs.comm),
         |$pick""".stripMargin
    }.mkString(",\n")
    s"""$copurchaseEdgesSql,
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
       |deg AS MATERIALIZED (
       |  SELECT src AS id, count(*) AS k FROM e GROUP BY src),
       |m AS (SELECT count(*) AS m2 FROM e),
       |a0 AS MATERIALIZED (SELECT id, id AS comm FROM deg),
       |$steps""".stripMargin
  }

  /** Phase-2 Louvain CTE chain over `a2`: the contraction (`w0` —
    * intra mass on the diagonal as 2·intra), weighted degrees/2m, and
    * 2 unrolled WEIGHTED move sweeps ending in `b2(id, comm)` over
    * the contracted graph. sum(w) replaces count(*); self-loops are
    * excluded from k_vc but feed degrees and Σtot. Shared by the
    * q_louvain_twolevel oracle (formerly coarse + gain). */
  private def louvainPhase2Sql: String =
    louvainWeightedPhaseSql("w", "b", "e", "count(*)", "a2")

  /** One weighted parity-gated Louvain level, generically named so
    * levels chain (the q_louvain_multilevel oracle stacks two): the
    * contraction of `$srcEdges` by `$assign` into `${g}0(src, dst,
    * w)` (weight = `$wExpr` — count(*) when the source level is the
    * unweighted simple graph, sum(e.w) for deeper levels), weighted
    * degrees `${g}deg` / 2m `${g}m`, singleton init `${ap}0`, and 2
    * unrolled PARITY-GATED weighted sweeps ending `${ap}2(id, comm)`
    * — the (id + r) parity CASE mirroring
    * `runSteps(partialMoves = true)`. */
  private def louvainWeightedPhaseSql(g: String, ap: String,
                                      srcEdges: String, wExpr: String,
                                      assign: String): String = {
    val wsteps = (1 to 2).map { r =>
      s"""${g}kin$r AS MATERIALIZED (
         |  SELECT e.src AS id, a.comm, CAST(sum(e.w) AS BIGINT) AS kvc
         |  FROM ${g}0 e JOIN ${ap}${r - 1} a ON a.id = e.dst
         |  WHERE e.src <> e.dst GROUP BY 1, 2),
         |${g}tot$r AS MATERIALIZED (
         |  SELECT a.comm, CAST(sum(d.k) AS BIGINT) AS tot
         |  FROM ${ap}${r - 1} a JOIN ${g}deg d ON d.id = a.id GROUP BY 1),
         |${g}cset$r AS MATERIALIZED (
         |  SELECT DISTINCT id, comm FROM (
         |    SELECT id, comm FROM ${g}kin$r
         |    UNION ALL SELECT id, comm FROM ${ap}${r - 1})),
         |${g}sc$r AS MATERIALIZED (
         |  SELECT cs.id, cs.comm,
         |    (SELECT m2 FROM ${g}m) * coalesce(kin.kvc, 0)
         |      - d.k * (t.tot -
         |          CASE WHEN cur.comm = cs.comm THEN d.k ELSE 0 END)
         |      AS score
         |  FROM ${g}cset$r cs
         |  JOIN ${g}deg d ON d.id = cs.id
         |  JOIN ${ap}${r - 1} cur ON cur.id = cs.id
         |  JOIN ${g}tot$r t ON t.comm = cs.comm
         |  LEFT JOIN ${g}kin$r kin
         |    ON kin.id = cs.id AND kin.comm = cs.comm),
         |${ap}$r AS MATERIALIZED (
         |  SELECT w.id,
         |    CASE WHEN (w.id + $r) % 2 = 0 THEN w.comm
         |         ELSE cur.comm END AS comm
         |  FROM (SELECT id, comm FROM (
         |          SELECT id, comm, row_number() OVER (
         |            PARTITION BY id ORDER BY score DESC, comm ASC) AS rn
         |          FROM ${g}sc$r) WHERE rn = 1) w
         |  JOIN ${ap}${r - 1} cur ON cur.id = w.id)""".stripMargin
    }.mkString(",\n")
    s"""${g}0 AS MATERIALIZED (
       |  SELECT a.comm AS src, b.comm AS dst,
       |    CAST($wExpr AS BIGINT) AS w
       |  FROM $srcEdges e JOIN $assign a ON a.id = e.src
       |  JOIN $assign b ON b.id = e.dst
       |  GROUP BY 1, 2),
       |${g}deg AS MATERIALIZED (
       |  SELECT src AS id, CAST(sum(w) AS BIGINT) AS k
       |  FROM ${g}0 GROUP BY 1),
       |${g}m AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ${g}0),
       |${ap}0 AS MATERIALIZED (SELECT id, id AS comm FROM ${g}deg),
       |$wsteps""".stripMargin
  }

  /** Weighted Newman-Q CTE triple `${tag}st`/`${tag}t`/`${tag}q`
    * (mirrors Louvain.qEval): over graph `$edges` (weight term
    * `$wRef` — `1` for the unweighted simple table, `e.w` for
    * contracted levels) under `$assign(id, comm)`, d_c = Σ_{src∈c} w
    * and intra2_c = Σ_{src∈c ∧ dst∈c} w in one pass, then the global
    * `${tag}q(n, q)` row via the sign-safe truncating micro
    * division. */
  private def louvainQSql(tag: String, edges: String, wRef: String,
                          assign: String): String =
    s"""${tag}st AS (
       |  SELECT a.comm AS c, CAST(sum($wRef) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN a.comm = b.comm THEN $wRef ELSE 0 END)
       |      AS BIGINT) AS i2
       |  FROM $edges e JOIN $assign a ON a.id = e.src
       |  JOIN $assign b ON b.id = e.dst GROUP BY 1),
       |${tag}t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS m2, CAST(sum(i2) AS BIGINT) AS si,
       |    CAST(sum(d * d) AS BIGINT) AS sd2 FROM ${tag}st),
       |${tag}q AS (
       |  SELECT n, CASE WHEN (m2 * si - sd2) >= 0
       |    THEN (m2 * si - sd2) * 1000000 // (m2 * m2)
       |    ELSE -((-(m2 * si - sd2)) * 1000000 // (m2 * m2))
       |  END AS q FROM ${tag}t)""".stripMargin

  val faces: Seq[Face] = Seq(
    // Louvain phase-1 move steps: two synchronous modularity-ascent
    // sweeps from the singleton assignment — the ASCENT half of the
    // community family (q_label_prop spreads labels by frequency,
    // q_modularity evaluates an assignment, this one IMPROVES it).
    // Integer-exact gain (score = 2m·k_vc − k_v·Σtot', the 2m²-scaled
    // ΔQ) with ties to the smallest community id, so the unrolled
    // oracle sweeps replay the argmax bit-exactly.
    Face("q_louvain_move", (s, dir) => {
      Louvain.moveSteps(copurchaseEdges(s, dir), steps = 2)
    },
      // mirrors Louvain.moveSteps: per sweep k_{v,c} (edge count into
      // each neighboring community), Σtot_c (community degree mass),
      // candidate set = neighbor comms ∪ own, integer score
      // 2m·k_vc − k_v·(Σtot − [own]·k_v), argmax by (score DESC,
      // comm ASC). Chained CTEs MATERIALIZED (the q_ktruss inlining
      // lesson — a{r-1} is referenced 4× per sweep).
      s"""WITH ${louvainPhase1Sql()}
         |SELECT id, comm FROM a2 ORDER BY id""".stripMargin),

    // Two-level Louvain, FUSED face (r20, VERDICT r19 #3): phase-1
    // move steps, ONE community contraction (intra mass → self-loops,
    // inter counts → weights), the SAME integer-exact synchronous
    // core on the contracted weighted graph — AND the per-level
    // Newman-Q evaluation that justifies the alternation. The r19
    // registry served these as two faces (q_louvain_coarse: the
    // per-vertex assignment; q_louvain_gain: the eval rows), each
    // re-running the identical pipeline; twoLevelFull runs phase 1 +
    // contraction + phase 2 ONCE and emits both row kinds (disjoint
    // by construction — NULL eval columns on assignment rows and
    // vice versa), both prior hash gates riding one hash. Oracle:
    // the former faces' shared CTE chains with a schema-aligned
    // UNION ALL.
    Face("q_louvain_twolevel", (s, dir) => {
      Louvain.twoLevelFull(copurchaseEdges(s, dir), steps1 = 2,
        steps2 = 2)
    },
      // FUSED two-level face: the shared phase-1 chain, the contraction
      // (community-pair weight sums — intra mass lands on the diagonal
      // as 2·intra because the symmetric table carries both directions),
      // the SAME move recurrence with sum(w) in place of count(*), AND
      // the per-level Newman Q (micro, the q_modularity formula
      // collapsed to its global row: num = m2·Σintra − Σd², one
      // sign-safe truncating micro division) — the former
      // q_louvain_coarse and q_louvain_gain result sets schema-aligned
      // under one hash
      {
      def qRow(level: String, al: String): String =
        s"""we_$al AS (SELECT a.label AS c_src, b.label AS c_dst
           |       FROM e JOIN $al a ON a.id = e.src
           |       JOIN $al b ON b.id = e.dst),
           |st_$al AS (SELECT c_src AS label,
           |         CAST(count(*) AS BIGINT) AS degree_sum,
           |         CAST(sum(CASE WHEN c_src = c_dst THEN 1 ELSE 0 END)
           |           AS BIGINT) AS intra
           |       FROM we_$al GROUP BY 1),
           |t_$al AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
           |        CAST(sum(degree_sum) AS BIGINT) AS m2,
           |        CAST(sum(intra) AS BIGINT) AS si,
           |        CAST(sum(degree_sum * degree_sum) AS BIGINT) AS sd2
           |      FROM st_$al),
           |g_$al AS (SELECT '$level' AS level, n_communities,
           |        CASE WHEN (m2 * si - sd2) >= 0
           |          THEN (m2 * si - sd2) * 1000000 // (m2 * m2)
           |          ELSE -((-(m2 * si - sd2)) * 1000000 // (m2 * m2))
           |        END AS q_micro
           |      FROM t_$al)""".stripMargin
      s"""WITH ${louvainPhase1Sql()},
         |$louvainPhase2Sql,
         |al1 AS (SELECT id, comm AS label FROM a2),
         |al2 AS (SELECT a.id, b.comm AS label
         |        FROM a2 a JOIN b2 b ON b.id = a.comm),
         |${qRow("phase1", "al1")},
         |${qRow("two_level", "al2")}
         |SELECT a.id, a.comm AS comm1, b.comm AS comm2,
         |       CAST(NULL AS VARCHAR) AS level,
         |       CAST(NULL AS BIGINT) AS n_communities,
         |       CAST(NULL AS BIGINT) AS q_micro
         |FROM a2 a JOIN b2 b ON b.id = a.comm
         |UNION ALL
         |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |       CAST(NULL AS BIGINT), level, n_communities, q_micro
         |FROM (SELECT * FROM g_al1 UNION ALL SELECT * FROM g_al2)
         |ORDER BY id, level""".stripMargin
    },
      // runs have read 16.98 and 48.3 s under min-of-2
      minRuns = 3),

    // RESTORED r21 (VERDICT r20 item 1): the interrupted r20 BUILD
    // phase fused coarse+gain into q_louvain_twolevel and dropped
    // these two declared names — but the driver's contract is
    // per-declared-query: anything measured must stay measurable.
    // Each face runs the shared core ONCE via its dedicated entry
    // point (twoLevel skips the eval rows, twoLevelGain skips the
    // |V| compose join), so neither pays the fused face's union.
    // Oracle SQL = the r19 text, unchanged.
    Face("q_louvain_coarse", (s, dir) => {
      Louvain.twoLevel(copurchaseEdges(s, dir), steps1 = 2, steps2 = 2)
    },
      // RESTORED r21: two-level Louvain per-vertex assignment — the
      // shared phase-1 chain, the contraction (community-pair weight
      // sums — intra mass lands on the diagonal as 2·intra because the
      // symmetric table carries both directions), then the SAME move
      // recurrence with sum(w) in place of count(*) and self-loops
      // excluded from k_vc but present in degrees/Σtot
      s"""WITH ${louvainPhase1Sql()},
         |$louvainPhase2Sql
         |SELECT a.id, a.comm AS comm1, b.comm AS comm2
         |FROM a2 a JOIN b2 b ON b.id = a.comm ORDER BY a.id""".stripMargin,
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    Face("q_louvain_gain", (s, dir) => {
      Louvain.twoLevelGain(copurchaseEdges(s, dir), steps1 = 2,
        steps2 = 2)
    },
      // RESTORED r21: does the coarsening PAY? Newman Q (micro, the
      // q_modularity formula collapsed to its global row) of the
      // phase-1 assignment vs the two-level one, over the same edges:
      // num = m2·Σintra − Σd², one sign-safe truncating micro division
      // per level
      {
      def qRow(level: String, al: String): String =
        s"""we_$al AS (SELECT a.label AS c_src, b.label AS c_dst
           |       FROM e JOIN $al a ON a.id = e.src
           |       JOIN $al b ON b.id = e.dst),
           |st_$al AS (SELECT c_src AS label,
           |         CAST(count(*) AS BIGINT) AS degree_sum,
           |         CAST(sum(CASE WHEN c_src = c_dst THEN 1 ELSE 0 END)
           |           AS BIGINT) AS intra
           |       FROM we_$al GROUP BY 1),
           |t_$al AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
           |        CAST(sum(degree_sum) AS BIGINT) AS m2,
           |        CAST(sum(intra) AS BIGINT) AS si,
           |        CAST(sum(degree_sum * degree_sum) AS BIGINT) AS sd2
           |      FROM st_$al),
           |g_$al AS (SELECT '$level' AS level, n_communities,
           |        CASE WHEN (m2 * si - sd2) >= 0
           |          THEN (m2 * si - sd2) * 1000000 // (m2 * m2)
           |          ELSE -((-(m2 * si - sd2)) * 1000000 // (m2 * m2))
           |        END AS q_micro
           |      FROM t_$al)""".stripMargin
      s"""WITH ${louvainPhase1Sql()},
         |$louvainPhase2Sql,
         |al1 AS (SELECT id, comm AS label FROM a2),
         |al2 AS (SELECT a.id, b.comm AS label
         |        FROM a2 a JOIN b2 b ON b.id = a.comm),
         |${qRow("phase1", "al1")},
         |${qRow("two_level", "al2")}
         |SELECT level, n_communities, q_micro
         |FROM (SELECT * FROM g_al1 UNION ALL SELECT * FROM g_al2)
         |ORDER BY level""".stripMargin
    },
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    // The WIDE-gain move face (r20, VERDICT r19 #2): the parity-gated
    // sweep on the copurchase graph with every edge carrying weight
    // 1e7 — total weight 2m ≈ 1.2e13 at sf0.1, an order of magnitude
    // past the Long scoring ceiling the r19 engine require-refused.
    // The decimal(38,0) gain path must land the BIT-IDENTICAL
    // assignment the unit-weight face produces (score scales by c²
    // under uniform weight scaling, so every argmax and every tie is
    // invariant) — the oracle is literally q_louvain_move_gated's
    // SQL, which is the whole point: a >1.5e9-weight graph now runs,
    // exactly.
    Face("q_louvain_move_wide", (s, dir) => {
      Louvain.moveStepsWeighted(
        Louvain.simpleWeighted(copurchaseEdges(s, dir))
          .withColumn("w", lit(10000000L)),
        steps = 2, partialMoves = true)
    },
      // the wide-gain face replays the EXACT gated-move recurrence: the
      // decimal scoring path exists to be invisible — uniform weight
      // scaling multiplies every score by c², so the argmax, every tie,
      // and hence the assignment are bit-identical to the unit-weight
      // sweep this SQL unrolls
      s"""WITH ${louvainPhase1Sql(gated = true)}
         |SELECT id, comm FROM a2 ORDER BY id""".stripMargin,
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    // Resolution-parameterized Louvain (r20, VERDICT r19 #7,
    // Reichardt–Bornholdt): the gated sweep at γ = 3/2 — the gain
    // becomes γden·2m·k_vc − γnum·k_v·Σtot', integer-exact for any
    // rational γ (both terms scaled by γden), so the oracle replays
    // the γ-scaled argmax bit-for-bit. γ > 1 penalizes degree mass
    // harder and yields FINER communities than the γ = 1 face over
    // the same two sweeps.
    Face("q_louvain_move_gamma", (s, dir) => {
      Louvain.moveSteps(copurchaseEdges(s, dir), steps = 2,
        partialMoves = true, gammaNum = 3L, gammaDen = 2L)
    },
      // the γ = 3/2 gated sweep: the shared phase-1 recurrence with
      // both score terms γ-scaled (2·m2·kvc vs 3·k·Σtot')
      s"""WITH ${louvainPhase1Sql(gated = true, gn = 3L, gd = 2L)}
         |SELECT id, comm FROM a2 ORDER BY id""".stripMargin,
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    // The RECOMMENDED public move-step face (r19, VERDICT r18 #3):
    // the same synchronous integer-exact sweep with the parity gate
    // ON — in step r only (id + r)-even vertices move, so movers
    // target stationary communities and merges are real (the ungated
    // q_louvain_move primitive swap-oscillates BELOW the singleton
    // baseline; scaladoc caveat at Louvain.moveSteps). Oracle: the
    // shared phase-1 recurrence with the same parity CASE the
    // phase-2 chain replays.
    Face("q_louvain_move_gated", (s, dir) => {
      Louvain.moveSteps(copurchaseEdges(s, dir), steps = 2,
        partialMoves = true)
    },
      // the parity-gated flat sweep (the RECOMMENDED move-step face):
      // the shared phase-1 recurrence with the (id + r) % 2 CASE the
      // phase-2 chain replays — non-movers keep their step-(r-1)
      // community
      s"""WITH ${louvainPhase1Sql(gated = true)}
         |SELECT id, comm FROM a2 ORDER BY id""".stripMargin),

    // Convergence-driven multi-level Louvain, FUSED face (r20,
    // VERDICT r19 #3; the operator: r19, Blondel 2008's real
    // alternation): move-steps → Q-eval → coarsen, looping while each
    // level's modularity gain clears the threshold and the
    // contraction still shrinks, bounded at 3 levels so the oracle
    // unrolls. The r19 registry served the per-level ascent
    // trajectory and the flattened final assignment as two faces
    // that EACH ran the identical loop (runMultilevel has always
    // computed both in one pass); untilConvergedFull runs it once
    // and emits both row kinds — trajectory rows (level,
    // n_communities, q_micro — the stopping rule's own inputs) and
    // per-vertex rows (id, comm — the user surface, stop depth
    // included), both prior hash gates riding one hash. Oracle: the
    // unrolled level chains with the emission conditions as WHERE
    // clauses, trajectory and flatten arms schema-aligned UNION ALL.
    Face("q_louvain_multilevel", (s, dir) => {
      Louvain.untilConvergedFull(copurchaseEdges(s, dir),
        stepsPerLevel = 2, maxLevels = 3, minGainMicro = 1000L)
    },
      // convergence-driven multi-level Louvain: 3 unrolled levels
      // (ungated phase 1, then two parity-gated weighted contracted
      // phases via the generic level generator), a weighted Newman-Q
      // triple per level, and the engine's emission rule as WHERE
      // clauses — level 1 requires the level-0 contraction to shrink
      // (n0 < |V|), level 2 additionally requires the level-1 gain to
      // clear the 1000-micro threshold and n1 < n0 (maxLevels = 3 cuts
      // deeper levels on both sides)
      // FUSED multi-level face: the unrolled level chains ONCE, then
      // both row kinds — the trajectory rows (emission conditions as
      // WHERE clauses: level 1 requires the level-0 contraction to
      // shrink, level 2 additionally the level-1 gain over the
      // 1000-micro threshold and n1 < n0) and the flattened final
      // assignment (level maps composed a2 -> b2 -> c2, emission depth
      // CASEd on the same conditions) — schema-aligned under one hash
      s"""WITH ${louvainPhase1Sql()},
         |$louvainPhase2Sql,
         |${louvainWeightedPhaseSql("x", "c", "w0", "sum(e.w)", "b2")},
         |nv0 AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM deg),
         |${louvainQSql("q0", "e", "1", "a2")},
         |${louvainQSql("q1", "w0", "e.w", "b2")},
         |${louvainQSql("q2", "x0", "e.w", "c2")},
         |flat1 AS (SELECT a.id, b.comm FROM a2 a
         |          JOIN b2 b ON b.id = a.comm),
         |flat2 AS (SELECT f.id, c.comm FROM flat1 f
         |          JOIN c2 c ON c.id = f.comm),
         |cond1 AS (SELECT (SELECT n FROM q0q) < (SELECT nv FROM nv0)
         |            AS go),
         |cond2 AS (SELECT (SELECT q FROM q1q) - (SELECT q FROM q0q)
         |             >= 1000
         |            AND (SELECT n FROM q1q) < (SELECT n FROM q0q)
         |            AS go)
         |SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS comm,
         |       0 AS level, n AS n_communities, q AS q_micro FROM q0q
         |UNION ALL
         |SELECT NULL, NULL, 1, n, q FROM q1q
         |WHERE (SELECT go FROM cond1)
         |UNION ALL
         |SELECT NULL, NULL, 2, n, q FROM q2q
         |WHERE (SELECT go FROM cond1) AND (SELECT go FROM cond2)
         |UNION ALL
         |SELECT id, comm, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
         |       CAST(NULL AS BIGINT)
         |FROM a2 WHERE NOT (SELECT go FROM cond1)
         |UNION ALL
         |SELECT id, comm, NULL, NULL, NULL FROM flat1
         |WHERE (SELECT go FROM cond1) AND NOT (SELECT go FROM cond2)
         |UNION ALL
         |SELECT id, comm, NULL, NULL, NULL FROM flat2
         |WHERE (SELECT go FROM cond1) AND (SELECT go FROM cond2)
         |ORDER BY id, level""".stripMargin,
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    // RESTORED r21 (VERDICT r20 item 1): the flattened per-vertex
    // assignment face the r20 BUILD fusion folded into
    // q_louvain_multilevel. untilConvergedAssign runs the shared
    // 3-level loop once and emits only the assignment rows; oracle
    // SQL = the r19 text, unchanged.
    Face("q_louvain_multilevel_assign", (s, dir) => {
      Louvain.untilConvergedAssign(copurchaseEdges(s, dir),
        stepsPerLevel = 2, maxLevels = 3, minGainMicro = 1000L)
    },
      // RESTORED r21: the flattened final assignment under the same
      // stop rule: the level maps compose (a2 -> b2 -> c2) and the
      // emission depth is the engine's — level 0 only when the
      // contraction does not shrink, two levels when level 1's gain
      // misses the threshold, else all three
      s"""WITH ${louvainPhase1Sql()},
         |$louvainPhase2Sql,
         |${louvainWeightedPhaseSql("x", "c", "w0", "sum(e.w)", "b2")},
         |nv0 AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM deg),
         |${louvainQSql("q0", "e", "1", "a2")},
         |${louvainQSql("q1", "w0", "e.w", "b2")},
         |flat1 AS (SELECT a.id, b.comm FROM a2 a
         |          JOIN b2 b ON b.id = a.comm),
         |flat2 AS (SELECT f.id, c.comm FROM flat1 f
         |          JOIN c2 c ON c.id = f.comm),
         |cond1 AS (SELECT (SELECT n FROM q0q) < (SELECT nv FROM nv0)
         |            AS go),
         |cond2 AS (SELECT (SELECT q FROM q1q) - (SELECT q FROM q0q)
         |             >= 1000
         |            AND (SELECT n FROM q1q) < (SELECT n FROM q0q)
         |            AS go)
         |SELECT id, comm FROM a2 WHERE NOT (SELECT go FROM cond1)
         |UNION ALL
         |SELECT id, comm FROM flat1
         |WHERE (SELECT go FROM cond1) AND NOT (SELECT go FROM cond2)
         |UNION ALL
         |SELECT id, comm FROM flat2
         |WHERE (SELECT go FROM cond1) AND (SELECT go FROM cond2)
         |ORDER BY id""".stripMargin,
      // multi-second Louvain, the two-level face's cost class
      minRuns = 3),

    // Modularity of the 2-round LP communities — the community-
    // detection EVAL face (recall@k's role for the ANN family).
    // Per-community contributions stay RAW BIGINT numerators; the
    // global Q takes one sign-safe truncating micro division.
    Face("q_modularity", (s, dir) => {
      val e = copurchaseEdges(s, dir)
      LabelPropagation.modularity(e, LabelPropagation.run(e, rounds = 2))
    },
      // mirrors LabelPropagation.modularity over the SAME unrolled LP
      // CTEs (shared lpTwoRoundsSql — the engine and both oracles
      // can't drift): one pass computes d_c and e_c, |E| is recovered
      // as Σ_c d_c by a window (no count scan), contributions stay raw
      // numerators, the global Q is one sign-safe truncating micro
      // division
      s"""WITH $copurchaseEdgesSql,
         |$lpTwoRoundsSql,
         |we AS (SELECT a.label AS c_src, b.label AS c_dst
         |       FROM edges e
         |       JOIN l2 a ON a.id = e.src
         |       JOIN l2 b ON b.id = e.dst),
         |st AS (SELECT c_src AS label, count(*) AS degree_sum,
         |         CAST(sum(CASE WHEN c_src = c_dst THEN 1 ELSE 0 END)
         |           AS BIGINT) AS intra_edges
         |       FROM we GROUP BY 1),
         |sz AS (SELECT label, count(*) AS n_nodes FROM l2 GROUP BY 1),
         |j AS (SELECT s.label, s.n_nodes,
         |        coalesce(t.intra_edges, 0) AS intra_edges,
         |        coalesce(t.degree_sum, 0) AS degree_sum
         |      FROM sz s LEFT JOIN st t USING (label)),
         |w1 AS (SELECT *, CAST(sum(degree_sum) OVER () AS BIGINT) AS m2
         |       FROM j),
         |w2 AS (SELECT *,
         |         m2 * intra_edges - degree_sum * degree_sum AS contrib_num
         |       FROM w1),
         |w3 AS (SELECT *, CAST(sum(contrib_num) OVER () AS BIGINT) AS num
         |       FROM w2)
         |SELECT label, n_nodes, intra_edges, degree_sum, contrib_num,
         |  CASE WHEN num >= 0 THEN num * 1000000 // (m2 * m2)
         |    ELSE -((-num) * 1000000 // (m2 * m2)) END AS q_micro
         |FROM w3 ORDER BY label""".stripMargin)
  )
}
