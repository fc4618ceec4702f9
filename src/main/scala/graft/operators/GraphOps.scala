package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational graph primitives.
  *
  * Capability parity with the reference's ingestion/adjacency layer
  * (`Graph.py:2-16` in Riachi02/BFS-MapReduce): undirected
  * symmetrization and vertex -> neighbour-list aggregation — re-expressed
  * as declarative DataFrame transforms so Catalyst handles partitioning,
  * partial aggregation and pushdown.
  *
  * Scale notes (100 TB): `symmetrize` is a narrow union (no shuffle);
  * `adjacency`/`degrees` shuffle once on the vertex id with map-side
  * partial aggregation. Adjacency lists of power-law graphs can skew —
  * callers that only need traversal should prefer the edge-table form
  * (see [[Bfs]]) which never materializes per-vertex arrays.
  */
object GraphOps {

  /** Deterministically release a SUPERSEDED, eagerly-checkpointed loop
    * frame: the SQL-cache entry (if it was persist()ed) and the
    * block-backing RDD of its localCheckpoint — which
    * `Dataset.unpersist` does NOT touch (checkpoint blocks are RDD
    * storage, not CacheManager entries; outside a harness
    * getPersistentRDDs sweep they otherwise wait for the
    * ContextCleaner). ONLY safe when nothing can recompute through the
    * frame again — i.e. its successor is itself a materialized
    * checkpoint (lineage truncated). [[Bsp]] applies this rule for
    * every iterative loop.
    *
    * CONTRACT (r18, hardened from a comment into a throw): the frame
    * MUST be a flat checkpoint HANDLE — its analyzed plan exactly one
    * `LogicalRDD` leaf. A frame DERIVED from a checkpoint embeds the
    * parent's `LogicalRDD` in its plan, and the old deep-sweep freed
    * the PARENT's blocks mid-query (hit in [[RandomWalk]] during the
    * r17 loop-residency sweep: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    * Plain persisted frames are not this helper's job either —
    * `Dataset.unpersist` already releases CacheManager entries.
    * `ReleaseContractSpec` gates both directions. */
  private[graft] def releaseCheckpointedFrame(df: DataFrame,
                                              blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.unpersist(blocking)
        lr.rdd.unpersist(blocking)
      case other => throw new IllegalArgumentException(
        "releaseCheckpointedFrame: not a flat checkpoint handle — " +
          "releasing a derived frame would free checkpoint blocks its " +
          "parent still owns (plan root: " +
          s"${other.getClass.getSimpleName}). Release the handle the " +
          "localCheckpoint call returned; for persisted frames call " +
          "Dataset.unpersist directly.")
    }

  /** True iff the frame is a flat checkpoint handle (analyzed plan is a
    * single `LogicalRDD` leaf) — the only shape
    * [[releaseCheckpointedFrame]] accepts. */
  private[graft] def isFlatCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** STATS FIREWALL for checkpointed iterative loops (r16, measured).
    *
    * `Dataset.localCheckpoint` INHERITS the original plan's Statistics
    * into the returned `LogicalRDD` (`originalStats`), and
    * `SizeInBytesOnlyStatsPlanVisitor` MULTIPLIES children's
    * sizeInBytes through every join. An iterative loop that joins a
    * checkpointed frame against ITSELF therefore SQUARES the inherited
    * sizeInBytes each round (two state-derived joins per round raise
    * it to the FOURTH power): measured on [[SpanningForest]] the
    * BigInt reached 65 million bits by round 5, and on
    * [[ConnectedComponents.runStarContraction]]'s deep-chain face
    * ~270 Mbit by round 11 — after which every plan build spends
    * seconds in `BigInteger.multiplyToomCook3` ON THE DRIVER
    * (jstack-confirmed: job wall doubled per round while executor CPU
    * sat idle).
    *
    * Rebuilding the frame from the checkpointed RDD drops
    * `originalStats`, so the view reports the bounded
    * `defaultSizeInBytes` instead — per-round stats become a constant,
    * not a compounding power. The cost is one Row codec pass over the
    * (loop-state-sized, usually shrinking) frame per round.
    *
    * The view SHARES the checkpoint's blocks: release the checkpointed
    * HANDLE via [[releaseCheckpointedFrame]] (never the view), and
    * only after its successor has materialized.
    *
    * EVERY self-joining checkpointed loop must route its state through
    * this helper — `StatsFirewallSpec` guards the compounding failure
    * mode. Full audit of the repo's loops: PLANS.md "Stats-explosion
    * audit" (commit e5c5ec4). */
  private[graft] def freshStats(ckpt: DataFrame): DataFrame =
    ckpt.sparkSession.createDataFrame(ckpt.rdd, ckpt.schema)

  /** Insert each edge in both directions (reference `Graph.py:9-16`).
    * Input columns: `src`, `dst`. Narrow op — no shuffle, and ONE scan
    * of the input: the union-of-two-projections formulation reads the
    * source twice (two parquet scans when the input is a table);
    * exploding a 2-struct array doubles rows in a single codegen'd
    * pass. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Drop self-loops and exact duplicate edges (hazard H2 of the
    * reference: duplicate input lines corrupt its reduce). */
  def dedupEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst")).distinct()

  /** vertex -> sorted neighbour list (reference adjacency dict,
    * `Graph.py:3,9-16`). Sorted for deterministic output. */
  def adjacency(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("neighbours"))

  /** vertex -> out-degree. On a symmetrized edge table this is the
    * undirected degree. Partial-aggregated map-side by Catalyst. */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  /** All distinct vertex ids appearing in the edge table. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** Exact triangle count by degree-ordered edge orientation (the
    * node-iterator++ / "compact-forward" formulation — Schank &
    * Wagner 2005; the MapReduce shape is Suri & Vassilvitskii 2011).
    *
    * Input: arbitrary (src, dst) rows — symmetrized duplicates,
    * self-loops, and multi-edges are canonicalized away first.
    *
    * Why orientation is THE scale lever: counting wedges around every
    * vertex is Σ deg(v)² — quadratic in the max degree, ruinous on
    * power-law graphs (one celebrity vertex = one executor computing
    * 10^12 wedges). Orienting each edge from its lower-(degree, id)
    * endpoint to the higher one makes every vertex's OUT-degree
    * O(√m), so wedge generation is bounded by O(m^1.5) total and no
    * single key can hot-spot: each triangle is generated exactly once,
    * at its lowest-ranked corner. The closure probe is a plain
    * equi-join of the wedge stream against the canonical edge set.
    *
    * Returns a single row `(n_vertices, n_edges, n_triangles)` —
    * canonical undirected counts. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // canon feeds FOUR consumers (deg's two union branches, oriented,
    // n_edges) and deg three (both orientation joins, n_vertices) —
    // each was re-deriving the full distinct pass per consumer (r21,
    // JobProbe: four identical 11.5 MB exchange jobs at ~2.3 s cold
    // apiece on q_clustering_coeff's twin of this shape). Eager local
    // checkpoints compute each ONCE; guide §1.2 "don't compute things
    // twice". Released below after the (single-row) result
    // materializes.
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long").as("lo"),
        greatest(col("src"), col("dst")).cast("long").as("hi"))
      .distinct()
      .localCheckpoint(true)
    val deg = canon.select(col("lo").as("id"))
      .union(canon.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    // orient: src = lower (degree, id) endpoint — a total order, so
    // exactly one direction per edge
    val oriented = canon
      .join(deg.select(col("id").as("lo"), col("d").as("d_lo")), "lo")
      .join(deg.select(col("id").as("hi"), col("d").as("d_hi")), "hi")
      .select(
        when(col("d_lo") < col("d_hi") ||
             (col("d_lo") === col("d_hi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(col("d_lo") < col("d_hi") ||
             (col("d_lo") === col("d_hi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"))
      .localCheckpoint(true)
    // closure by sorted-adjacency intersection, not a wedge join: a
    // triangle with rank order a < b < c carries oriented edges a→b,
    // a→c, b→c, so it is counted EXACTLY once — at its (a,b) edge,
    // where c ∈ N⁺(a) ∩ N⁺(b). Materializing the wedge stream and
    // equi-joining it back (the textbook MR shape) moves O(m^1.5)
    // rows through a shuffle; intersecting the two (orientation-
    // bounded, ≤ O(√m)-long) sorted out-neighbour arrays per edge
    // does the same comparisons inside one codegen'd merge scan
    // (measured ~4x less CPU on the dense co-occurrence graph). The
    // left join keeps sink edges (dst with no out-neighbours).
    val adjOut = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(true)
    val nTri = oriented
      .join(adjOut.select(col("src"), col("nbrs").as("nu")), "src")
      .join(adjOut.select(col("src").as("dst"), col("nbrs").as("nv")),
        Seq("dst"), "left")
      .select(when(col("nv").isNull, lit(0L))
        .otherwise(graft.functions.SortedIntersectSizeExpr
          .sorted_intersect_size(col("nu"), col("nv")).cast("long"))
        .as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = canon.agg(count(lit(1)).as("n_edges"))
    // single-row result: materialize, then release the staged frames
    // (nothing can recompute through them afterwards)
    val out = nV.crossJoin(nE).crossJoin(nTri).localCheckpoint(true)
    Seq(canon, deg, oriented, adjOut).foreach(releaseCheckpointedFrame(_))
    out
  }

  /** Per-vertex triangle counts and local clustering coefficient —
    * the standard graph-local density signal (community detection
    * features, spam/bot scoring, graph-embedding features).
    *
    * Same degree-ordered orientation as [[triangleCount]] (each
    * triangle generated exactly once, at its lowest-ranked corner;
    * wedge work O(m^1.5)-bounded, hot-degree-proof), but the closure
    * step keeps the intersection ELEMENTS, not just the size: every
    * common out-neighbour `w` of an oriented edge (u,v) names one
    * triangle {u,v,w}, and all three corners get credited. The credit
    * stream is 3·|triangles| rows — the inherent output size of
    * per-vertex counting — aggregated in ONE exchange on the vertex
    * id.
    *
    * `coeff = 2·t / (d·(d-1))` computed as a single double division
    * of two exact integers, so the oracle replays it bit-for-bit.
    * Degree-0/1 vertices have no closable wedge: coeff = 0. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    // Staged eager checkpoints, same rationale as [[triangleCount]]
    // (r21, JobProbe-measured on this face: canon re-derived 4×
    // (~2.3 s cold each), and the whole oriented⋈adjOut intersect
    // pipeline TWICE — the old `credits` union's two branches each
    // re-ran it: two near-identical 16-task jobs at 17 s cold apiece,
    // 263 task-s run / 130 CPU-s / 29 s GC each. Guide §1.2.)
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long").as("lo"),
        greatest(col("src"), col("dst")).cast("long").as("hi"))
      .distinct()
      .localCheckpoint(true)
    val deg = canon.select(col("lo").as("id"))
      .union(canon.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val oriented = canon
      .join(deg.select(col("id").as("lo"), col("d").as("d_lo")), "lo")
      .join(deg.select(col("id").as("hi"), col("d").as("d_hi")), "hi")
      .select(
        when(col("d_lo") < col("d_hi") ||
             (col("d_lo") === col("d_hi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(col("d_lo") < col("d_hi") ||
             (col("d_lo") === col("d_hi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"))
      .localCheckpoint(true)
    val adjOut = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(true)
    // triangles at their (u,v) edge; ws = the third corners — the
    // native sorted merge (adjacency arrays come out of sort_array),
    // not array_intersect's per-row hash set (the q_triangle_count
    // lesson, element-returning variant)
    val tri = oriented
      .join(adjOut.select(col("src"), col("nbrs").as("nu")), "src")
      .join(adjOut.select(col("src").as("dst"), col("nbrs").as("nv")),
        Seq("dst"))
      .select(col("src").as("u"), col("dst").as("v"),
        graft.functions.SortedIntersectExpr
          .sorted_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
    // ALL THREE corner credits of a triangle emit in ONE pass over tri
    // (one explode of [ (u, |ws|), (v, |ws|) ] ++ [ (w, 1) ∀ w ∈ ws ])
    // — the old two-branch union re-computed the entire tri pipeline
    // per branch. Same multiset of (id, c) rows, so the summed credits
    // are identical; the explode runs BEFORE the exchange, which then
    // carries two longs per credit instead of the nu arrays twice.
    val credits = tri
      .select(explode(concat(
        array(struct(col("u").as("id"), size(col("ws")).cast("long").as("c")),
          struct(col("v").as("id"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"),
          w => struct(w.as("id"), lit(1L).as("c"))))).as("x"))
      .select(col("x.id").as("id"), col("x.c").as("c"))
    val triPerV = credits.groupBy(col("id"))
      .agg(sum(col("c")).as("n_triangles"))
    val out = deg.join(triPerV, Seq("id"), "left")
      .select(col("id"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          (coalesce(col("n_triangles"), lit(0L)) * 2L).cast("double") /
            (col("d") * (col("d") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .localCheckpoint(true)
    Seq(canon, deg, oriented, adjOut).foreach(releaseCheckpointedFrame(_))
    out
  }

  /** Run an iterative driver loop with AQE disabled, restoring the
    * session's setting afterwards.
    *
    * Why: AQE plans each shuffle as a separate query stage with a
    * scheduling round-trip between stages. For the fixed-shape BSP
    * loops ([[Bfs]], [[Sssp]], [[ConnectedComponents.run]]) every
    * round is a small job over an already-partitioned checkpointed
    * edge table — there is nothing for AQE to adapt (the one skew-prone
    * exchange was handled up front), and the per-stage overhead is paid
    * once per ROUND, measured ~20-30% of total BFS wall-clock at sf0.1.
    * Loops whose frames shrink round over round ([[KCore]],
    * [[PageRank]], [[LabelPropagation]], star contraction) keep AQE on
    * instead: its coalescing of near-empty late-round partitions is
    * worth more there. Each loop's policy is a measured constant at its
    * [[Bsp.loop]] call.
    *
    * Concurrency contract: the flip is SESSION-scoped (AQE is a
    * session conf read at planning), so UNRELATED queries planned on
    * the same session during a loop also plan without AQE — run such
    * workloads on `spark.newSession()` (shared SparkContext and cache,
    * separate conf). Overlapping graft loops on one session are safe:
    * a per-session reference count makes the flip reentrant — the
    * first entry saves the caller's setting, the last exit restores
    * it — so nested/concurrent loops can't corrupt the restore value. */
  private[operators] def withLoopAqeDisabled[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    AqeFlip.synchronized {
      val st = AqeFlip.states.getOrElseUpdate(spark, new AqeFlip.State)
      if (st.depth == 0) {
        st.saved = spark.conf.getOption(key)
        spark.conf.set(key, "false")
      }
      st.depth += 1
    }
    try f
    finally AqeFlip.synchronized {
      val st = AqeFlip.states(spark)
      st.depth -= 1
      if (st.depth == 0) {
        st.saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        AqeFlip.states.remove(spark)
      }
    }
  }

  private object AqeFlip {
    final class State {
      var depth: Int = 0
      var saved: Option[String] = None
    }
    // identity-keyed, tiny (one entry per session with an active loop)
    val states: scala.collection.mutable.Map[
      org.apache.spark.sql.SparkSession, State] = scala.collection.mutable.Map.empty
  }
}
