package graft.faces

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Funnel, MarketBasket, Profile, RangeJoin,
  Redaction, Retention, RobustStats, SkewOps, Snapshot, TimeSeries}
import graft.streaming.EventStream
import Shared._

/** Relational faces: aggregates, windows, as-of and skewed joins,
  * cubes and pivots, sketches, event analytics, snapshots and data
  * quality, with their DuckDB oracles. */
object RelationalFaces {

  /** Column sets for q_table_profile — the oracle arms generate from
    * the same lists so Scala and SQL can't drift. */
  private val ProfileNumericCols =
    Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
      "l_discount")
  private val ProfileOtherCols = Seq("l_returnflag", "l_linestatus")

  /** Anonymity threshold for q_k_anonymity — a POLICY constant (HIPAA
    *-era deidentification guidance uses single-digit k), not a tuned
    * one. At sf0.01 11 of 125 (nation, segment) cells fall under it
    * (the suppression path runs at the driver's own gate scale); at
    * sf0.1 every cell clears it and the release is the identity — the
    * bucket row's absence is itself gated. */
  private val KAnonymityK = 8

  /** Generated oracle replaying [[graft.operators.CountMin]]'s sketch
    * bit-exactly: same token stream, same rolling hash, same fixed
    * affine row maps, same d×w counter build, same min-over-rows
    * estimate. */
  private def cmsOracleSql: String = {
    val p = graft.operators.Dedup.P
    val w = graft.operators.CountMin.Width
    def idx(h: String, i: Int): String = {
      val (a, b) = graft.operators.CountMin.RowCoeffs(i)
      s"(($h*$a + $b) % $p) % $w"
    }
    val rows = graft.operators.CountMin.RowCoeffs.indices
    val skUnion = rows.map(i =>
      s"SELECT $i AS row, ${idx("h", i)} AS idx FROM h")
      .mkString("\n    |    UNION ALL ")
    val joins = rows.map(i =>
      s"JOIN sk s$i ON s$i.row = $i AND s$i.idx = ${idx("eh.h", i)}")
      .mkString("\n    |")
    val leastC = rows.map(i => s"s$i.c").mkString(", ")
    s"""WITH toks AS (
    |  SELECT token FROM (SELECT unnest($toksSql) AS token FROM documents)
    |  WHERE len(token) > 0),
    |h AS (SELECT ${rhSql("token")} AS h FROM toks),
    |sk AS MATERIALIZED (
    |  SELECT row, idx, count(*) AS c FROM (
    |    $skUnion)
    |  GROUP BY row, idx),
    |exact AS (
    |  SELECT token, count(*) AS n FROM toks GROUP BY token
    |  ORDER BY n DESC, token LIMIT 20),
    |eh AS (SELECT e.token, e.n, ${rhSql("e.token")} AS h FROM exact e)
    |SELECT eh.token, eh.n,
    |       CAST(least($leastC) AS BIGINT) AS est
    |FROM eh
    |$joins
    |ORDER BY eh.n DESC, eh.token""".stripMargin
  }

  val faces: Seq[Face] = Seq(
    // O11-O14 as a relational aggregate: min, argmin (deterministic
    // tie-break), ordered max — the reduce semilattice. Two encodings
    // keep every agg buffer a PRIMITIVE so the whole chain stays in
    // whole-stage HashAggregate (any non-UnsafeRow-mutable buffer —
    // a struct OR a string — drops the entire aggregation into
    // SortAggregate: no codegen, a sort per phase; measured 6-10x
    // slower at sf0.1): the argmin packs (quantity, partkey) into ONE
    // long (lexicographic == numeric since quantity is integral and
    // partkey < 10^12), and the darkest-flag max runs on the ascii
    // code of the single-char flag (order-isomorphic), decoded after.
    Face("q_semilattice_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val packed =
        col("l_quantity").cast("long") * lit(1000000000000L) + col("l_partkey")
      li.groupBy(col("l_orderkey").as("okey"))
        .agg(min(col("l_quantity")).cast("double").as("min_qty"),
             (min(packed) % lit(1000000000000L)).as("argmin_part"),
             char(max(ascii(col("l_returnflag")))).as("darkest_flag"),
             count_distinct(col("l_partkey")).as("n_parts"))
    },
      """SELECT l_orderkey AS okey,
        |       CAST(min(l_quantity) AS DOUBLE) AS min_qty,
        |       CAST(min(row(l_quantity, l_partkey)) AS ROW(q DOUBLE, p BIGINT)).p
        |         AS argmin_part,
        |       max(l_returnflag) AS darkest_flag,
        |       count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_orderkey ORDER BY okey""".stripMargin),

    // Partial-agg showcase (TPC-H Q1 shape); decimal-exact money math
    // so the DuckDB hash-compare is float-safe.
    Face("q1_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
               .as("sum_qty"),
             sum(price * (lit(1) - disc)).cast("double").as("revenue"),
             count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // Count-min heavy hitters: exact top-20 tokens point-queried
    // against the one-pass d×w sketch (fixed-size mergeable exchange
    // — the 100 TB path where exact counts shuffle the vocabulary);
    // the one-sided guarantee (est >= exact) require-enforced, both
    // counts hash-gated — approximate but bit-reproducible.
    Face("q_heavy_hitters", (s, dir) =>
      graft.operators.CountMin.heavyHittersFace(s, dir),
      // full sketch replay — see cmsOracleSql
      cmsOracleSql),

    // As-of join (beyond-parity: reference has no joins at all):
    // each purchase attributed to the user's latest strictly-prior view.
    Face("q_asof_attribution", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asof(purchases, views, Seq("user_id"), "ts", Seq("value"))
        // attributed rows only: the driver compare chokes on NaT vs
        // cross-unit datetime columns; outer semantics covered by spec
        .filter(col("asof_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"),
          col("asof_value"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts,
        |       v.ts AS asof_ts, v.value AS asof_value
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ts < p.ts
        |ORDER BY p.event_id""".stripMargin),

    // Forward as-of: for each view, the NEXT purchase strictly after
    // it per user ("time to conversion") — same one-exchange
    // union-window machinery run in reverse time order.
    Face("q_asof_forward", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin.asof(views, purchases, Seq("user_id"), "ts", Seq(),
          direction = "forward")
        .filter(col("asof_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"))
    },
      // mirrors AsOfJoin.asof(direction=forward): nearest purchase
      // strictly AFTER each view per user, matched rows only
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type FROM events),
        |v AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT v.event_id, v.user_id, v.ts, min(p.ts) AS asof_ts
        |FROM v JOIN p ON p.user_id = v.user_id AND p.ts > v.ts
        |GROUP BY v.event_id, v.user_id, v.ts
        |ORDER BY v.event_id""".stripMargin),

    // Salted skew join under the gate: fact×dim equi-join through the
    // deterministic-salt replication (the fixed-plan answer when AQE
    // is off or a downstream stage must inherit the salted
    // distribution), then a rollup that must agree with a plain join.
    Face("q_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"))
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_size"))
      SkewOps.saltedJoin(li, p, Seq("l_partkey"), saltBuckets = 8)
        .groupBy("p_size")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    },
      // plain join + rollup — must equal the salted-replication plan
      """SELECT p_size, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY p_size ORDER BY p_size""".stripMargin),

    // AQE runtime skew-join split — the AUTOMATIC counterpart of the
    // salted join above: ~90% of events collapse onto one join key,
    // broadcast disabled, and OptimizeSkewedJoin must split the hot
    // partition at runtime (skew=true require-enforced in the final
    // adaptive plan). Bit-identical to the unsplit join.
    Face("q_aqe_skew_join", (s, dir) => SkewOps.aqeSkewJoinFace(s, dir),
      // skew splitting replicates the matched partition, never the pair
      // set — the oracle is the plain join
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 10 <> 0 THEN CAST(0 AS BIGINT)
        |              ELSE user_id END AS k,
        |         value, props FROM events),
        |d AS (SELECT c_custkey AS k, c_custkey % 7 AS label FROM customer)
        |SELECT d.label, count(*) AS n,
        |       CAST(sum(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |       CAST(sum(length(f.props)) AS BIGINT) AS props_chars
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY d.label ORDER BY d.label""".stripMargin),

    // Analytic-function family: ntile / percent_rank / cume_dist over
    // a unique (totalprice, orderkey) ordering per priority class —
    // every value is a rational of exact integers, oracle-exact.
    Face("q_analytic_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    },
      // identical OVER clauses; the unique (totalprice, orderkey)
      // ordering makes rank == row_number in both engines
      """SELECT o_orderkey, o_orderpriority,
        |       ntile(4) OVER w AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // Arbitrary GROUPING SETS (the general form cube/rollup
    // specialize): per-flag totals, per-status totals, and the grand
    // total in ONE Expand pass, with grouping() flags disambiguating
    // real nulls from subtotal rows.
    Face("q_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        // NULLS FIRST pinned on BOTH sides (the q_rollup convention):
        // Spark's default asc is nulls-first but DuckDB's is
        // nulls-LAST, so relying on defaults leaves the row orders
        // divergent — harmless under today's order-insensitive
        // compare, wrong the day it isn't (r12 advice)
    },
      // identical grouping sets + grouping() flags
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
        |       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin),

    // Nearest-direction as-of: each view matched to its CLOSEST
    // purchase in either direction (ties prefer backward) — completes
    // the temporal-join family (backward / forward / nearest).
    Face("q_asof_nearest", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin.asofNearest(views, purchases, Seq("user_id"), "ts",
          "event_id", Seq())
        .filter(col("asof_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_ts"), col("asof_dir"))
    },
      // nearest = the closer of max-prior and min-later per view; exact
      // ties prefer backward (pandas merge_asof semantics)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type FROM events),
        |v AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT v.event_id, max(p.ts) AS bt
        |      FROM v JOIN p ON p.user_id = v.user_id AND p.ts < v.ts
        |      GROUP BY v.event_id),
        |f AS (SELECT v.event_id, min(p.ts) AS ft
        |      FROM v JOIN p ON p.user_id = v.user_id AND p.ts > v.ts
        |      GROUP BY v.event_id)
        |SELECT v.event_id, v.user_id, v.ts,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |            epoch_us(v.ts) - epoch_us(bt)
        |              <= epoch_us(ft) - epoch_us(v.ts))
        |       THEN bt ELSE ft END AS asof_ts,
        |  CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |            epoch_us(v.ts) - epoch_us(bt)
        |              <= epoch_us(ft) - epoch_us(v.ts))
        |       THEN 'backward' ELSE 'forward' END AS asof_dir
        |FROM v
        |LEFT JOIN b ON b.event_id = v.event_id
        |LEFT JOIN f ON f.event_id = v.event_id
        |WHERE bt IS NOT NULL OR ft IS NOT NULL
        |ORDER BY v.event_id""".stripMargin),

    // Tolerance-bounded nearest as-of with a PER-KEY bound (r12
    // stretch item 8 — the irregular-sensor shape): each user's
    // tolerance is (30 + user_id % 60) minutes, so slow-cadence users
    // keep matches a global bound would starve and fast ones shed
    // stale matches; the directional bound also FLIPS asof_dir where
    // the nearer side falls outside tolerance. Matched rows only
    // (q_asof_nearest convention); gap_us makes the bound visible in
    // the hashed output.
    Face("q_asof_nearest_tol", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("tol_us",
          (lit(30L) + pmod(col("user_id"), lit(60L))) * lit(60000000L))
      AsOfJoin.asofNearest(views, purchases, Seq("user_id"), "ts",
          "event_id", Seq(), toleranceCol = Some("tol_us"))
        .filter(col("asof_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"),
          col("asof_dir"),
          abs(unix_micros(col("asof_ts")) - unix_micros(col("ts")))
            .as("gap_us"))
    },
      // the per-key tolerance variant: each directional candidate is
      // bounded by the VIEW row's own tol_us before the nearer-side
      // choice (mirrors the engine, which nulls each directional pass
      // independently and then combines). Backward wins exact ties.
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type FROM events),
        |v AS (SELECT user_id, event_id, ts,
        |        (30 + user_id % 60) * 60000000 AS tol_us
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT v.event_id, max(p.ts) AS bt
        |      FROM v JOIN p ON p.user_id = v.user_id AND p.ts < v.ts
        |        AND epoch_us(v.ts) - epoch_us(p.ts) <= v.tol_us
        |      GROUP BY v.event_id),
        |f AS (SELECT v.event_id, min(p.ts) AS ft
        |      FROM v JOIN p ON p.user_id = v.user_id AND p.ts > v.ts
        |        AND epoch_us(p.ts) - epoch_us(v.ts) <= v.tol_us
        |      GROUP BY v.event_id),
        |r AS (SELECT v.event_id, v.user_id, v.ts,
        |        CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |                  epoch_us(v.ts) - epoch_us(bt)
        |                    <= epoch_us(ft) - epoch_us(v.ts))
        |             THEN bt ELSE ft END AS asof_ts,
        |        CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |                  epoch_us(v.ts) - epoch_us(bt)
        |                    <= epoch_us(ft) - epoch_us(v.ts))
        |             THEN 'backward' ELSE 'forward' END AS asof_dir
        |      FROM v
        |      LEFT JOIN b ON b.event_id = v.event_id
        |      LEFT JOIN f ON f.event_id = v.event_id
        |      WHERE bt IS NOT NULL OR ft IS NOT NULL)
        |SELECT event_id, user_id, ts, asof_ts, asof_dir,
        |       abs(epoch_us(asof_ts) - epoch_us(ts)) AS gap_us
        |FROM r ORDER BY event_id""".stripMargin),

    // Rollup (grouping-sets family — subtotals + grand total).
    Face("q_rollup", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Skew-safe salted two-phase aggregation (holistic exact-distinct
    // spread over salt buckets) — identical values to a direct groupBy.
    Face("q_salted_agg", (s, dir) => {
      SkewOps.saltedDistinctAndSum(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
    },
      """SELECT l_returnflag AS key,
        |       count(DISTINCT CAST(l_extendedprice AS DECIMAL(30,6)))
        |         AS n_distinct,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |         AS total
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Optimizer-rule face: the NAIVE interval-join SQL (bare range
    // predicates, no binning in user code) run under
    // plans.BinIntervalJoins — the rule must rewrite it into the
    // binned equi-join (bin in the join keys, no nested-loop join;
    // both require-enforced), and the pair set must equal the naive
    // semantics bit-for-bit (the oracle runs the naive join).
    Face("q_interval_autobin", (s, dir) => {
      graft.plans.BinIntervalJoins.withRule(s) {
        val ev = EventStream.eventsTable(s, dir)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id"))
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
            col("value"))
        val joined = p.join(v, expr("p_user = v_user AND v_ts < p_ts " +
            "AND v_ts > p_ts - INTERVAL '1' HOUR"))
          .select(col("event_id"), col("p_user").as("user_id"),
            col("p_ts"), col("v_ts"), col("value"))
          .orderBy("event_id", "v_ts")
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("__graft_bin"),
          s"BinIntervalJoins did not fire — no bin in the plan:\n$plan")
        require(!plan.contains("BroadcastNestedLoopJoin"),
          s"interval join still planned as a nested loop:\n$plan")
        joined.localCheckpoint(true)
      }
    },
      // the naive interval join the optimizer rule must preserve
      // exactly (same pair SQL as the streaming face)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts AS p_ts, v.ts AS v_ts, v.value
        |FROM p JOIN v
        |  ON p.user_id = v.user_id AND v.ts < p.ts
        | AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
        |ORDER BY p.event_id, v.ts""".stripMargin),

    // Ordered-funnel conversion (view → click → purchase): per step,
    // users whose events contain the prefix as a strictly-increasing
    // timestamp subsequence. Greedy earliest-match; every stage keys
    // on the user id, so the chain stays co-partitioned after the
    // first exchange.
    Face("q_funnel", (s, dir) => {
      Funnel.funnelCounts(EventStream.eventsTable(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    },
      // greedy earliest-match staged mins mirror Funnel.funnelCounts;
      // strict > in both engines; ts instants identical (µs precision)
      """WITH s1 AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |   AND CAST(e.ts AS TIMESTAMP) > s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |   AND CAST(e.ts AS TIMESTAMP) > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type,
        |       (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        |ORDER BY step""".stripMargin),

    // First-order Markov transition matrix over per-user event
    // sequences: one lead() window (user-bounded state), a
    // |types|²-row rollup whose shuffle is collapsed map-side, and
    // truncating per-mille probabilities (integer — oracle-exact).
    Face("q_markov_transitions", (s, dir) => {
      Funnel.transitionMatrix(EventStream.eventsTable(s, dir),
          "user_id", "ts", "event_type", "event_id")
    },
      // mirrors Funnel.transitionMatrix: lead over (ts, event_id) per
      // user, pair counts, window row totals, one truncating division
      """WITH s AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events),
        |p AS (SELECT from_type, to_type, count(*) AS n FROM s
        |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total,
        |  n * 1000 // CAST(sum(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS permille
        |FROM p ORDER BY from_type, to_type""".stripMargin),

    // 2-D skyline (Pareto frontier): cheapest-per-size parts —
    // bucket-local staircase prune then a frontier-sized global
    // pass; the all-pairs NOT EXISTS lives only in the oracle.
    Face("q_skyline", (s, dir) => {
      val pts = t(s, dir, "part")
        .groupBy(col("p_retailprice").as("cost"),
          col("p_size").cast("long").as("benefit"))
        .agg(count(lit(1)).as("n_parts"),
          min(col("p_partkey")).as("min_partkey"))
      graft.operators.Skyline.skyline2d(pts, "cost", "benefit")
    },
      // the DEFINITIONAL all-pairs dominance test — deliberately NOT
      // the engine's staircase algorithm, so the oracle independently
      // checks the two-phase prune's exactness
      """WITH pts AS (
        |  SELECT p_retailprice AS cost, CAST(p_size AS BIGINT) AS benefit,
        |         count(*) AS n_parts, min(p_partkey) AS min_partkey
        |  FROM part GROUP BY 1, 2)
        |SELECT cost, benefit, n_parts, min_partkey FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.cost <= a.cost AND b.benefit >= a.benefit
        |    AND (b.cost < a.cost OR b.benefit > a.benefit))
        |ORDER BY cost, benefit""".stripMargin),

    // Cohort retention triangle: users cohorted by week of first
    // event; cell (cohort, offset) = distinct users active offset
    // weeks later. One user_id exchange serves cohort window +
    // activity distinct; final rollup is tiny.
    Face("q_retention", (s, dir) => {
      Retention.cohortRetention(EventStream.eventsTable(s, dir))
    },
      // cohort = week of first event per user; offsets are exact
      // multiples of 7 days (both sides are week-truncated), so the /7
      // division is exact in either engine's arithmetic.
      """WITH f AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
        |           AS wk
        |  FROM events),
        |c AS (
        |  SELECT user_id, wk,
        |         min(wk) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM f)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, wk) / 7 AS INT)
        |         AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Sessionization (gap-based) — batch face of the streaming
    // flatMapGroupsWithState operator, window-function formulation.
    Face("q_sessionize", (s, dir) => {
      EventStream.sessionizeBatch(EventStream.eventsTable(s, dir),
          gapMs = 6L * 3600000)
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events),
        |x AS (SELECT user_id, event_id, ts, value,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                     > 21600000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_no
        |      FROM x)
        |SELECT user_id, session_no,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin),

    // Sliding window frame: per-user 4-row moving sum over event time
    // (decimal accumulation — frame math is oracle-exact).
    Face("q_moving_sum", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      EventStream.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
            .as("moving_value"),
          count(lit(1)).over(w).as("n_window"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value FROM events)
        |SELECT user_id, event_id, ts,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |         AS moving_value,
        |       count(*) OVER w AS n_window
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // Time-series regularization: each user's events resampled onto
    // an hourly bucket grid over their observed span, gaps filled
    // LOCF; within-bucket last under the (ts, event_id) total order
    // (see TimeSeries.resampleLocf).
    Face("q_timeseries_fill", (s, dir) => {
      TimeSeries.resampleLocf(EventStream.eventsTable(s, dir),
          "user_id", "ts", "event_id", "value", stepUs = 3600L * 1000000)
        .withColumnRenamed("k", "user_id")
    },
      // hourly LOCF resample: same (ts, event_id) within-bucket argmax,
      // same per-key [min,max] grid (generate_series), IGNORE NULLS
      // carry; values pass through untouched so doubles stay bit-equal
      """WITH e AS (SELECT user_id AS k,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bi,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS i, value AS v
        |  FROM events),
        |obs AS (SELECT k, bi, count(*) AS n_obs,
        |          CAST(max(row(us, i, v))
        |               AS ROW(us BIGINT, i BIGINT, v DOUBLE)) AS m
        |        FROM e GROUP BY 1, 2),
        |spans AS (SELECT k, min(bi) AS b0, max(bi) AS b1 FROM obs GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(b0, b1)) AS bi FROM spans),
        |j AS (SELECT g.k, g.bi, o.n_obs, o.m FROM grid g
        |      LEFT JOIN obs o ON o.k = g.k AND o.bi = g.bi)
        |SELECT k AS user_id, make_timestamp(bi * 3600000000) AS bucket_ts,
        |       COALESCE(n_obs, 0) AS n_obs,
        |       CAST(CASE WHEN m IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS is_gap,
        |       last_value(m.v IGNORE NULLS) OVER (
        |         PARTITION BY k ORDER BY bi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS v_filled
        |FROM j ORDER BY user_id, bucket_ts""".stripMargin),

    // Grouped OLS: per-user linear spend trend over hourly buckets,
    // closed-form normal equations in exact BIGINT (milli-cents per
    // bucket) — one exchange, |users| rows (see
    // TimeSeries.groupedTrend).
    Face("q_user_trend", (s, dir) => {
      TimeSeries.groupedTrend(EventStream.eventsTable(s, dir),
          "user_id", "ts", "value", stepUs = 3600L * 1000000)
        .withColumnRenamed("k", "user_id")
    },
      // grouped OLS replay: identical shifted sums and integer slope /
      // intercept formulas; floor(value*100) is the same IEEE multiply
      // + floor; zero x-variance keys guard the // with NULL
      """WITH e AS (SELECT user_id AS k,
        |  epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS bi,
        |  CAST(floor(value * 100) AS BIGINT) AS y FROM events),
        |a AS (SELECT k, count(*) AS n, min(bi) AS b0,
        |        CAST(sum(bi) AS BIGINT) AS sbi,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(bi * y) AS BIGINT) AS sbiy,
        |        CAST(sum(bi * bi) AS BIGINT) AS sbii
        |      FROM e GROUP BY k),
        |s AS (SELECT k, n, sbi - n * b0 AS sx, sy,
        |        sbiy - b0 * sy AS sxy,
        |        sbii - 2 * b0 * sbi + n * b0 * b0 AS sxx
        |      FROM a),
        |d AS (SELECT k, n, sx, sy, sxy,
        |        n * sxx - sx * sx AS den FROM s),
        |t AS (SELECT k, n, sx, sy, den,
        |        CASE WHEN den = 0 THEN NULL
        |             ELSE ((n * sxy - sx * sy) * 1000) // den END
        |          AS slope_milli
        |      FROM d)
        |SELECT k AS user_id, n, slope_milli,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE (sy * 1000 - slope_milli * sx) // n END
        |         AS intercept_milli
        |FROM t ORDER BY user_id""".stripMargin),

    // Binned range join (equi-join on (key, time-bucket), never a
    // non-equi NLJ): views in the strictly-preceding hour per purchase.
    Face("q_range_attribution", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      RangeJoin.precedingWindowStats(purchases, views, Seq("user_id"),
          "ts", "ts", windowUs = 3600L * 1000000, valueCol = "value")
        .select(col("event_id"), col("user_id"), col("n_matched"),
          col("matched_value"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id,
        |       count(v.ts) AS n_matched,
        |       CAST(coalesce(sum(CAST(v.value AS DECIMAL(18,6))), 0)
        |            AS DOUBLE) AS matched_value
        |FROM p LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts < p.ts
        | AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
        |GROUP BY p.event_id, p.user_id
        |ORDER BY p.event_id""".stripMargin),

    // Multi-table relational join (TPC-H Q3 shape): broadcast the
    // customer dim, shuffle-join the two facts on the order key.
    Face("q_join_pricing", (s, dir) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(sum(price * (lit(1) - disc)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
          count_distinct(col("o_orderkey")).as("n_orders"))
    },
      """SELECT c_mktsegment, o_orderpriority,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_items,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin),

    // Semi-structured extraction: JSON property column → typed field
    // (codegen'd JsonPath, no UDF) → relational aggregation.
    Face("q_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          count_distinct(col("k")).as("distinct_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },
      """SELECT event_type,
        |       count(CAST(props ->> 'k' AS BIGINT)) AS n,
        |       CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(DISTINCT CAST(props ->> 'k' AS BIGINT)) AS distinct_k,
        |       min(CAST(props ->> 'k' AS BIGINT)) AS min_k,
        |       max(CAST(props ->> 'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Calendar-dimension aggregation (date_trunc on the orders fact).
    Face("q_orders_by_month", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"),
          count_distinct(col("o_custkey")).as("n_customers"))
    },
      """SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total,
        |       count(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Relational set ops (INTERSECT/EXCEPT — absent from the reference,
    // SURVEY §2.2): parts both sold and large; parts never sold.
    Face("q_set_ops", (s, dir) => {
      val sold = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey")).distinct()
      val parts = t(s, dir, "part")
      val soldLarge = sold
        .intersect(parts.filter(col("p_size") > 25).select(col("p_partkey")))
        .agg(count(lit(1)).as("n_sold_large"))
      val unsold = parts.select(col("p_partkey")).except(sold)
        .agg(count(lit(1)).as("n_unsold"))
      soldLarge.crossJoin(unsold)
    },
      """SELECT
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT l_partkey FROM lineitem
        |     INTERSECT
        |     SELECT p_partkey FROM part WHERE p_size > 25)) AS n_sold_large,
        |  (SELECT count(*) FROM
        |    (SELECT p_partkey FROM part
        |     EXCEPT
        |     SELECT l_partkey FROM lineitem)) AS n_unsold""".stripMargin),

    // Single-pass table profile (ANALYZE-style): per-column null
    // counts, exact distinct counts, numeric min/max — one scan, one
    // Expand for the exact NDVs, wide row melted per column.
    Face("q_table_profile", (s, dir) => {
      Profile.profile(t(s, dir, "lineitem"), ProfileNumericCols,
          ProfileOtherCols)
    },
      // one wide aggregate row (same measures, same casts) melted by
      // UNION arms generated from the shared column lists
      {
      val aggsSql = (ProfileNumericCols.flatMap(c => Seq(
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nn",
          s"count(DISTINCT $c) AS ${c}__nd",
          s"min(CAST($c AS DOUBLE)) AS ${c}__mn",
          s"max(CAST($c AS DOUBLE)) AS ${c}__mx")) ++
        ProfileOtherCols.flatMap(c => Seq(
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nn",
          s"count(DISTINCT $c) AS ${c}__nd"))).mkString(",\n  ")
      val arms = (ProfileNumericCols.map(c =>
          s"""SELECT '$c' AS "column", n_rows, ${c}__nn AS n_nulls, """ +
            s"${c}__nd AS n_distinct, ${c}__mn AS min_value, " +
            s"${c}__mx AS max_value FROM w") ++
        ProfileOtherCols.map(c =>
          s"SELECT '$c', n_rows, ${c}__nn, ${c}__nd, " +
            s"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w"))
        .mkString("\nUNION ALL ")
      s"""WITH w AS (SELECT count(*) AS n_rows,
         |  $aggsSql
         |FROM lineitem)
         |$arms
         |ORDER BY "column"""".stripMargin
    }),

    // Pivot (values-to-columns reshaping over the line-status domain).
    Face("q_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
    },
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Unpivot/melt (columns-to-values — the inverse reshaping of
    // q_pivot, via the native Dataset.unpivot API): a wide per-flag
    // metrics row melts into (metric, value) rows. All metrics cast to
    // one type first (unpivot requires a common value type).
    Face("q_unpivot", (s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
               .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_rows")),
          "metric", "value")
    },
      // unpivot = the stacked UNION of the wide row's metrics (DuckDB's
      // UNPIVOT would reorder; the explicit arms keep metric names the
      // literal column names Spark's Dataset.unpivot emits)
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price,
        |    CAST(count(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM w
        |UNION ALL
        |SELECT l_returnflag, 'n_rows', n_rows FROM w
        |ORDER BY l_returnflag, metric""".stripMargin),

    // Exact interpolated percentiles (holistic aggregate — the sketch
    // path at 100 TB is approx_percentile; this is the exact oracle-
    // matched face, verified bit-identical to DuckDB quantile_cont).
    Face("q_percentiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
    },
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50_qty,
        |       quantile_cont(l_quantity, 0.9) AS p90_qty,
        |       quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Semi/anti join: per market segment, customers with vs without
    // orders (left_semi / left_anti — the relational EXISTS family).
    Face("q_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val active = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_active"))
      val inactive = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_inactive"))
      active.join(inactive, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
    },
      """SELECT c_mktsegment,
        |       count(*) FILTER (WHERE EXISTS
        |         (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |         AS n_active,
        |       count(*) FILTER (WHERE NOT EXISTS
        |         (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |         AS n_inactive
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Cube (full grouping-sets lattice — all 4 grouping combinations).
    Face("q_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Sketch-path aggregates (HLL distinct, GK-quantile): the 100 TB
    // default where q_percentiles/count_distinct are the exact faces.
    // r12 verdict item 4: the sketches still RUN (both approx
    // aggregates execute), but the HASHED columns are their CONTRACTS,
    // not the implementation-defined estimates — exact NDV + a 3×rsd
    // bound flag for HLL++, and for the GK quantile the rank of the
    // returned value (must sit within 0.5 ± 2/accuracy) plus
    // membership (GK returns an actual data value, never an
    // interpolation). The oracle predicts every flag true: a drifting
    // sketch flips a boolean and fails the hash compare.
    Face("q_sketch_stats", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val agg = li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_extendedprice")).as("exact_prices"),
          approx_count_distinct(col("l_extendedprice")).as("approx_prices"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("ap50"),
          count(lit(1)).as("n_rows"))
      // CDF of the returned quantile within its own group: one more
      // pass over lineitem against the 3-row broadcast agg
      val cdf = li.join(broadcast(agg.select(col("l_returnflag"),
          col("ap50"))), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") <= col("ap50"), 1L).otherwise(0L))
            .as("n_le"),
          sum(when(col("l_quantity") < col("ap50"), 1L).otherwise(0L))
            .as("n_lt"),
          sum(when(col("l_quantity") === col("ap50"), 1L).otherwise(0L))
            .as("n_eq"))
      agg.join(cdf, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_prices"), col("n_rows"),
          (abs(col("approx_prices") - col("exact_prices")).cast("double") /
            col("exact_prices").cast("double") <= 0.15).as("ndv_within"),
          (col("n_le").cast("double") / col("n_rows") >= 0.498 &&
            col("n_lt").cast("double") / col("n_rows") <= 0.502)
            .as("p50_within"),
          (col("n_eq") > 0).as("p50_is_member"))
    },
      // the contract face of the sketch pair (r12 item 4): exact NDV
      // and row counts are replayed exactly; every bound flag is
      // predicted true — HLL++ within 3×rsd, the GK quantile's rank
      // within 0.5 ± 2/accuracy and a member of the group
      """SELECT l_returnflag,
        |       count(DISTINCT l_extendedprice) AS exact_prices,
        |       count(*) AS n_rows,
        |       true AS ndv_within,
        |       true AS p50_within,
        |       true AS p50_is_member
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // Sketch QUALITY under the hash gate: the HLL++ estimate itself is
    // implementation-defined, but its ERROR BOUND is checkable (the
    // recipe q_sketch_stats now follows too) — emit the exact NDV
    // plus a boolean asserting the estimate landed within 3x the
    // configured 5% rsd. The oracle predicts `true`: if the sketch
    // ever drifts out of tolerance the flag flips and the driver's
    // hash compare fails, which turns "rows-only" into a real gate on
    // the approximation contract without replaying the sketch.
    Face("q_sketch_quality", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_extendedprice")).as("exact_prices"),
          approx_count_distinct(col("l_extendedprice"), 0.05)
            .as("approx_prices"))
        .select(col("l_returnflag"), col("exact_prices"),
          (abs(col("approx_prices") - col("exact_prices"))
            .cast("double") / col("exact_prices").cast("double") <= 0.15)
            .as("within_rsd"))
    },
      // the oracle asserts the sketch's error contract: exact NDV per
      // group, and within_rsd MUST be true (a drifting sketch flips the
      // boolean and fails the hash compare)
      """SELECT l_returnflag,
        |       count(DISTINCT l_extendedprice) AS exact_prices,
        |       true AS within_rsd
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // Mergeable histogram-sketch quantiles (the quantile member of
    // the deterministic sketch family): 512-bucket integer histogram
    // per returnflag over price cents; p50/p95 = first bucket whose
    // running count reaches the rank; the one-bucket-width error
    // bound require-enforced in-face against the exact discrete
    // quantile, and BOTH est and exact hash-gated.
    Face("q_hist_quantiles", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          // double cents -> long by TRUNCATION (positive, so == floor;
          // the oracle replays with floor() — DuckDB's bare
          // double->bigint CAST rounds, Spark's truncates)
          (col("l_extendedprice") * 100).cast("long").as("cents"))
      val sk = Profile.histogramQuantiles(li, "cents", "l_returnflag")
      // exact discrete quantiles (value at rank ⌈p·n/100⌉) — the
      // holistic baseline; deliberately the full-sort shape the
      // sketch replaces, run here to CHECK the sketch's bound
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("cents"))
      val exact = li.withColumn("rn", row_number().over(w))
        .join(sk.select(col("l_returnflag"), col("n")), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("rn") * 100L >= col("n") * 50L, col("cents")))
            .as("d50"),
          min(when(col("rn") * 100L >= col("n") * 95L, col("cents")))
            .as("d95"))
      sk.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("lo"), col("hi"),
          col("width"), col("q50"), col("q95"), col("d50"), col("d95"),
          (abs(col("q50") - col("d50")) < col("width")).as("ok50"),
          (abs(col("q95") - col("d95")) < col("width")).as("ok95"))
    },
      // full histogram-sketch replay: same integer width/bucket/rank
      // arithmetic (floor for the double->cents truncation — DuckDB's
      // bare CAST rounds where Spark's truncates), plus the exact
      // discrete quantiles and the one-width error flags (predicted
      // true — a drifting sketch flips a boolean and fails the hash)
      """WITH v AS (SELECT l_returnflag,
        |             CAST(floor(l_extendedprice*100) AS BIGINT) AS cents
        |           FROM lineitem),
        |s AS (SELECT l_returnflag, min(cents) AS lo, max(cents) AS hi,
        |             count(*) AS n,
        |             (max(cents)-min(cents)+1+511)//512 AS width
        |      FROM v GROUP BY l_returnflag),
        |b AS (SELECT v.l_returnflag, (v.cents - s.lo)//s.width AS bucket,
        |             count(*) AS c
        |      FROM v JOIN s USING (l_returnflag)
        |      GROUP BY v.l_returnflag, (v.cents - s.lo)//s.width),
        |cum AS (SELECT l_returnflag, bucket,
        |          sum(c) OVER (PARTITION BY l_returnflag
        |            ORDER BY bucket) AS cum
        |        FROM b),
        |q AS (SELECT c.l_returnflag,
        |        min(CASE WHEN c.cum*100 >= s.n*50 THEN c.bucket END) AS b50,
        |        min(CASE WHEN c.cum*100 >= s.n*95 THEN c.bucket END) AS b95
        |      FROM cum c JOIN s USING (l_returnflag)
        |      GROUP BY c.l_returnflag),
        |d AS (SELECT l_returnflag,
        |        min(CASE WHEN rn*100 >= n*50 THEN cents END) AS d50,
        |        min(CASE WHEN rn*100 >= n*95 THEN cents END) AS d95
        |      FROM (SELECT v.l_returnflag, v.cents, s.n,
        |              row_number() OVER (PARTITION BY v.l_returnflag
        |                ORDER BY v.cents) AS rn
        |            FROM v JOIN s USING (l_returnflag))
        |      GROUP BY l_returnflag)
        |SELECT s.l_returnflag, s.n, s.lo, s.hi, s.width,
        |       s.lo + (q.b50+1)*s.width - 1 AS q50,
        |       s.lo + (q.b95+1)*s.width - 1 AS q95,
        |       d.d50, d.d95,
        |       abs(s.lo + (q.b50+1)*s.width - 1 - d.d50) < s.width AS ok50,
        |       abs(s.lo + (q.b95+1)*s.width - 1 - d.d95) < s.width AS ok95
        |FROM s JOIN q USING (l_returnflag) JOIN d USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),

    // Market-basket association rules over order baskets:
    // support/confidence/lift in exact truncating ppm integers
    // (quantize-the-metric, like the OLS slope); pair generation
    // self-joins co-partitioned on basket, bounded by the
    // maxBasketSize all-pairs guard; minSupport = the apriori prune.
    Face("q_assoc_rules", (s, dir) => {
      MarketBasket.assocRules(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey")
    },
      // distinct basket membership -> whole-basket size cap -> pair
      // self-join -> exact truncating ppm metrics (// floors; all
      // operands positive, so it matches Spark's truncating div)
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |sized AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= 1000),
        |bb AS (SELECT b.bk, b.it FROM b JOIN sized USING (bk)),
        |nn AS (SELECT count(DISTINCT bk) AS n FROM bb),
        |c AS (SELECT it, count(*) AS cnt FROM bb GROUP BY it),
        |p AS (SELECT a.it AS item_a, x.it AS item_b, count(*) AS support
        |      FROM bb a JOIN bb x ON a.bk = x.bk AND a.it < x.it
        |      GROUP BY a.it, x.it HAVING count(*) >= 2)
        |SELECT item_a, item_b, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  support * 1000000 // (SELECT n FROM nn) AS support_ppm,
        |  support * 1000000 // ca.cnt AS conf_ab_ppm,
        |  support * 1000000 // cb.cnt AS conf_ba_ppm,
        |  support * (SELECT n FROM nn) * 1000000 // (ca.cnt * cb.cnt)
        |    AS lift_ppm
        |FROM p JOIN c ca ON ca.it = p.item_a JOIN c cb ON cb.it = p.item_b
        |ORDER BY item_a, item_b""".stripMargin),

    // Robust per-group anomaly detection: lower-median + MAD over
    // value cents via the VALUE-FREQUENCY selection (the exchange
    // carries distinct cents per group, never the corpus rows — the
    // scalable exact order statistic); flags dev > 3·MAD, robust z
    // in integer milli-MADs.
    Face("q_outlier_mad", (s, dir) => {
      val ev = EventStream.eventsTable(s, dir)
        .select(col("event_type"), col("event_id"),
          // double cents -> long by FLOOR, matching the oracle's
          // floor(value*100) for negative values too (truncation
          // would round toward zero and diverge below 0)
          floor(col("value") * 100).cast("long").as("cents"))
      RobustStats.madOutliers(ev, "event_type", "event_id", "cents", k = 3)
        .select(col("g").as("event_type"), col("id").as("event_id"),
          col("v").as("cents"), col("med"), col("mad"), col("dev"),
          col("rz_milli"))
    },
      // value-frequency selection replayed relationally: running counts
      // over DISTINCT cents find the ceil(n/2)-th order statistic for
      // median and MAD; dev > 3*mad filter, milli-MAD robust z
      """WITH r AS (SELECT event_type AS g, event_id AS id,
        |             CAST(floor(value*100) AS BIGINT) AS v FROM events),
        |f AS (SELECT g, v, count(*) AS c FROM r GROUP BY g, v),
        |w AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |             sum(c) OVER (PARTITION BY g) AS n FROM f),
        |med AS (SELECT g, min(CASE WHEN cum >= (n+1)//2 THEN v END) AS med
        |        FROM w GROUP BY g),
        |dv AS (SELECT r.g, r.id, r.v, med.med, abs(r.v - med.med) AS dev
        |       FROM r JOIN med USING (g)),
        |f2 AS (SELECT g, dev, count(*) AS c FROM dv GROUP BY g, dev),
        |w2 AS (SELECT g, dev,
        |         sum(c) OVER (PARTITION BY g ORDER BY dev) AS cum,
        |         sum(c) OVER (PARTITION BY g) AS n FROM f2),
        |mad AS (SELECT g, min(CASE WHEN cum >= (n+1)//2 THEN dev END) AS mad
        |        FROM w2 GROUP BY g)
        |SELECT dv.g AS event_type, dv.id AS event_id, dv.v AS cents,
        |  dv.med, mad.mad, dv.dev,
        |  CASE WHEN mad.mad > 0 THEN dv.dev * 1000 // mad.mad END AS rz_milli
        |FROM dv JOIN mad USING (g)
        |WHERE dv.dev > 3 * mad.mad
        |ORDER BY event_type, event_id""".stripMargin),

    // CDC-style snapshot upsert: current corpus (v1) merged with a
    // deterministic update stream — re-processed docs (v2), takedown
    // tombstones (v3, dropped post-merge), and brand-new ids. ONE
    // exchange on doc_id; provenance breaks version ties toward the
    // update stream.
    Face("q_snapshot_upsert", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val current = d.withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
      val reproc = d.filter(col("doc_id") % 5 === 0)
        .withColumn("lang", lit("und"))
        .withColumn("version", lit(2L))
        .withColumn("deleted", lit(false))
      val takedown = d.filter(col("doc_id") % 17 === 0)
        .withColumn("version", lit(3L))
        .withColumn("deleted", lit(true))
      val fresh = d.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
      Snapshot.upsert(current,
          reproc.unionByName(takedown).unionByName(fresh),
          "doc_id", "version", deletedCol = "deleted")
    },
      // mirrors Snapshot.upsert over the same deterministic update
      // streams: highest (version, provenance) wins per id, tombstones
      // win first and erase the id after the merge
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |won AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY version DESC, prov DESC) AS rn
         |  FROM tagged)
         |SELECT doc_id, lang, source, version FROM won
         |WHERE rn = 1 AND NOT deleted ORDER BY doc_id""".stripMargin),

    // Lakehouse time-travel read over the same version log:
    // materialized state dirs v2/v3 (immutable merge history), the
    // HISTORICAL v2 dir re-read after the final merge and
    // require-gated bit-equal against Snapshot.asOfVersion's log
    // replay; output = both reads tagged as_of (the v3 tombstones
    // visible at as_of=2, erased at as_of=3).
    Face("q_snapshot_asof", (s, dir) =>
      Snapshot.timeTravelReadFace(s, dir),
      // the as-of read replays the same log restricted to version <=
      // as_of, per as_of in {2, 3} — the dir-vs-replay equality is
      // require-enforced inside the face, not oracle-visible
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |ks AS (SELECT CAST(2 AS BIGINT) AS as_of
         |       UNION ALL SELECT CAST(3 AS BIGINT)),
         |won AS (
         |  SELECT k.as_of, t.doc_id, t.lang, t.source, t.version,
         |         t.deleted,
         |         row_number() OVER (PARTITION BY k.as_of, t.doc_id
         |           ORDER BY t.version DESC, t.prov DESC) AS rn
         |  FROM tagged t CROSS JOIN ks k WHERE t.version <= k.as_of)
         |SELECT as_of, doc_id, lang, source, version FROM won
         |WHERE rn = 1 AND NOT deleted ORDER BY as_of, doc_id""".stripMargin),

    // SCD2 history over the same version log as q_snapshot_upsert:
    // each version becomes an interval row valid until the next
    // version of the id; tombstones stay in history (time travel must
    // see the takedown). One id-partitioned exchange; the dedup
    // row_number and both lags ride a single window sort.
    Face("q_scd2_history", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val log = d.withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .withColumn("lang", lit("und"))
          .withColumn("version", lit(2L))
          .withColumn("deleted", lit(false)))
        .unionByName(d.filter(col("doc_id") % 17 === 0)
          .withColumn("version", lit(3L))
          .withColumn("deleted", lit(true)))
      Snapshot.scd2History(log, "doc_id", "version")
    },
      // mirrors Snapshot.scd2History over the same version log:
      // version-desc window per id, first-of-version dedup (a no-op on
      // this collision-free log), valid_to = the successor's version
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |log AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true FROM d
         |  WHERE doc_id % 17 = 0),
         |t1 AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY version DESC) AS rn,
         |    lag(version) OVER (PARTITION BY doc_id
         |                       ORDER BY version DESC) AS pv
         |  FROM log),
         |t2 AS (SELECT doc_id, lang, source, version, deleted FROM t1
         |       WHERE rn = 1 OR pv <> version)
         |SELECT doc_id, lang, source, version, deleted,
         |  version AS valid_from,
         |  lag(version) OVER (PARTITION BY doc_id
         |                     ORDER BY version DESC) AS valid_to,
         |  lag(version) OVER (PARTITION BY doc_id
         |                     ORDER BY version DESC) IS NULL AS is_current
         |FROM t2 ORDER BY doc_id, valid_from""".stripMargin),

    // Point-in-time lookup against the SAME SCD2 history (r12 verdict
    // item 3) — the `valid_from <= t < valid_to` probe the history
    // table exists for: every doc probed at t = 1, 2, 3, so the probe
    // set crosses version boundaries (t=1 pre-reprocess, t=2 post, t=3
    // lands on the %17 tombstones with deleted=true). ONE id-keyed
    // equi-join; the interval predicate is a residual filter.
    Face("q_scd2_asof", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val log = d.withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .withColumn("lang", lit("und"))
          .withColumn("version", lit(2L))
          .withColumn("deleted", lit(false)))
        .unionByName(d.filter(col("doc_id") % 17 === 0)
          .withColumn("version", lit(3L))
          .withColumn("deleted", lit(true)))
      val hist = Snapshot.scd2History(log, "doc_id", "version")
      val probes = d.select(col("doc_id"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("t"))
      Snapshot.asOf(hist, probes, "doc_id", "t")
        .select(col("doc_id"), col("t"), col("lang"), col("source"),
          col("version"), col("deleted"))
    },
      // same history chain, then the point-in-time probe join: each
      // (doc_id, t) picks the unique interval with valid_from <= t <
      // valid_to (null valid_to = open)
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |log AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true FROM d
         |  WHERE doc_id % 17 = 0),
         |t1 AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY version DESC) AS rn,
         |    lag(version) OVER (PARTITION BY doc_id
         |                       ORDER BY version DESC) AS pv
         |  FROM log),
         |t2 AS (SELECT doc_id, lang, source, version, deleted FROM t1
         |       WHERE rn = 1 OR pv <> version),
         |hist AS (
         |  SELECT doc_id, lang, source, version, deleted,
         |    version AS valid_from,
         |    lag(version) OVER (PARTITION BY doc_id
         |                       ORDER BY version DESC) AS valid_to
         |  FROM t2),
         |probes AS (
         |  SELECT doc_id, CAST(unnest([1, 2, 3]) AS BIGINT) AS t FROM d)
         |SELECT p.doc_id, p.t, h.lang, h.source, h.version, h.deleted
         |FROM probes p JOIN hist h
         |  ON h.doc_id = p.doc_id AND h.valid_from <= p.t
         |  AND (h.valid_to IS NULL OR h.valid_to > p.t)
         |ORDER BY p.doc_id, p.t""".stripMargin),

    // Change-data feed between the v1 snapshot and the upserted
    // corpus (same log as q_snapshot_upsert): one row per id that was
    // added / removed / changed — |delta| output, one full-outer
    // exchange on the id.
    Face("q_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val current = d.withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
      val reproc = d.filter(col("doc_id") % 5 === 0)
        .withColumn("lang", lit("und"))
        .withColumn("version", lit(2L))
        .withColumn("deleted", lit(false))
      val takedown = d.filter(col("doc_id") % 17 === 0)
        .withColumn("version", lit(3L))
        .withColumn("deleted", lit(true))
      val fresh = d.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("version", lit(1L))
        .withColumn("deleted", lit(false))
      val after = Snapshot.upsert(current,
        reproc.unionByName(takedown).unionByName(fresh),
        "doc_id", "version", deletedCol = "deleted")
      Snapshot.diff(current.drop("deleted"), after, "doc_id")
        .select(col("doc_id"), col("change"),
          col("before.lang").as("lang_before"),
          col("after.lang").as("lang_after"),
          col("after.version").as("version_after"))
    },
      // replays both snapshots (v1 and the upsert result), FULL JOINs
      // on the id, and keeps only added/removed/changed rows
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |won AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY version DESC, prov DESC) AS rn
         |  FROM tagged),
         |aft AS (SELECT doc_id, lang, source, version FROM won
         |        WHERE rn = 1 AND NOT deleted),
         |bef AS (SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version
         |        FROM d)
         |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
         |  CASE WHEN b.doc_id IS NULL THEN 'added'
         |       WHEN a.doc_id IS NULL THEN 'removed'
         |       WHEN b.lang IS DISTINCT FROM a.lang
         |         OR b.source IS DISTINCT FROM a.source
         |         OR b.version IS DISTINCT FROM a.version THEN 'changed'
         |  END AS change,
         |  b.lang AS lang_before, a.lang AS lang_after,
         |  a.version AS version_after
         |FROM bef b FULL JOIN aft a ON a.doc_id = b.doc_id
         |WHERE CASE WHEN b.doc_id IS NULL THEN 'added'
         |           WHEN a.doc_id IS NULL THEN 'removed'
         |           WHEN b.lang IS DISTINCT FROM a.lang
         |             OR b.source IS DISTINCT FROM a.source
         |             OR b.version IS DISTINCT FROM a.version THEN 'changed'
         |      END IS NOT NULL
         |ORDER BY doc_id""".stripMargin),

    // k-anonymity suppression release over customer
    // (nation, segment) quasi-identifiers, k=8: cells under k merge
    // into one '*' bucket — the releasable aggregate view plus the
    // re-identification audit in one pass. One QI exchange
    // (map-side-collapsed); the pinned cell frame feeds both the
    // safe filter and the bucket rollup.
    Face("q_k_anonymity", (s, dir) => {
      Redaction.kAnonymize(
          t(s, dir, "customer")
            .select(col("c_nationkey").cast("string").as("qi_nation"),
              col("c_mktsegment").as("qi_segment")),
          Seq("qi_nation", "qi_segment"), k = KAnonymityK)
    },
      // mirrors Redaction.kAnonymize: QI cells, >= k released as-is,
      // the rest merged into one '*' bucket (absent when no cell is
      // small — the aggregate-with-no-groups row is HAVING-dropped)
      s"""WITH g AS (
         |  SELECT CAST(c_nationkey AS VARCHAR) AS qi_nation,
         |         c_mktsegment AS qi_segment, count(*) AS n_rows
         |  FROM customer GROUP BY 1, 2)
         |SELECT qi_nation, qi_segment, n_rows, false AS suppressed
         |FROM g WHERE n_rows >= $KAnonymityK
         |UNION ALL
         |SELECT '*', '*', CAST(sum(n_rows) AS BIGINT), true
         |FROM g WHERE n_rows < $KAnonymityK HAVING count(*) > 0
         |ORDER BY qi_nation, qi_segment""".stripMargin),

    // Data-quality audit: the validation pass every ingest runs —
    // referential integrity (fact LEFT JOIN unique-keyed dim; exact
    // orphan counts), range and null rules (bare-table predicates),
    // and key uniqueness (keyed count). One aggregate pass per rule,
    // |rules| output rows regardless of data size.
    Face("q_dq_audit", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ords = t(s, dir, "orders")
      Profile.dqAudit(Seq(
        ("fk_orders_customer",
          ords.join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left"),
          col("c_custkey").isNull),
        ("fk_lineitem_orders",
          t(s, dir, "lineitem").select(col("l_orderkey"))
            .join(ords.select(col("o_orderkey")),
              col("l_orderkey") === col("o_orderkey"), "left"),
          col("o_orderkey").isNull),
        ("range_totalprice_positive", ords, col("o_totalprice") <= 0),
        ("null_mktsegment", cust, col("c_mktsegment").isNull),
        ("unique_custkey",
          cust.groupBy(col("c_custkey")).agg(count(lit(1)).as("n")),
          col("n") > 1),
        // through the unit-negotiating reader: a ns-long ts fixture
        // would otherwise cast long->timestamp as SECONDS and silently
        // move every event out of the window (r13 advice)
        ("ts_in_window", EventStream.eventsTable(s, dir),
          col("ts") < to_timestamp(lit("2020-01-01 00:00:00")) ||
            col("ts") >= to_timestamp(lit("2030-01-01 00:00:00")))))
    },
      """WITH a AS (
        |  SELECT 'fk_orders_customer' AS rule, count(*) AS checked,
        |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS violations
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', count(*),
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'range_totalprice_positive', count(*),
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'null_mktsegment', count(*),
        |    CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'unique_custkey', count(*),
        |    CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY 1)
        |  UNION ALL
        |  SELECT 'ts_in_window', count(*),
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01 00:00:00'
        |                    OR ts >= TIMESTAMP '2030-01-01 00:00:00'
        |                  THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events)
        |SELECT rule, checked, violations FROM a ORDER BY rule""".stripMargin)
  )
}
