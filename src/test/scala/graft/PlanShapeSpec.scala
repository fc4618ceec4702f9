package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Physical-plan regression guard for the engineered plan shapes.
  *
  * Each assertion pins a property the 100 TB design depends on — they
  * catch silent plan regressions (a SortAggregate fallback, a lost
  * broadcast, a cartesian product, lost column pruning) that
  * correctness tests can't see. Assertions run on the pre-execution
  * `sparkPlan` (AQE not yet applied), which is the stable declared
  * shape; runtime AQE only improves on it.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // building the dedup/similarity plans registers their persist()s in
  // the shared session's CacheManager — clear them so later suites'
  // plan/scan assertions can't silently hit a cached relation. The
  // release also drains the CachePinning queues populated at
  // plan-construction time; without it a later same-JVM
  // releaseCaches would re-unpersist this suite's stale frames.
  override def afterAll(): Unit = {
    graft.operators.CachePinning.releaseAll(spark, blocking = false)
    super.afterAll()
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.toString

  /** Every physical plan EXECUTED while `build` runs, plus the built
    * frame's own sparkPlan. Operators that stage eager checkpoints
    * (the triangle family, r21) run their interesting plans at
    * construction — the returned frame is then a checkpoint leaf, so
    * shape guards must look at the captured executions. Listener
    * delivery is async: poll until `expect` holds (or 15 s), then
    * assert on the snapshot. */
  private def executedPlansDuring(build: => DataFrame)(
      expect: String => Boolean): String = {
    val buf = new java.lang.StringBuilder
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        buf.synchronized { buf.append(qe.executedPlan.toString).append('\n'); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      buf.synchronized {
        buf.append(df.queryExecution.sparkPlan.toString).append('\n'); ()
      }
      val deadline = System.nanoTime() + 15L * 1000000000L
      var s = buf.synchronized(buf.toString)
      while (!expect(s) && System.nanoTime() < deadline) {
        Thread.sleep(50)
        s = buf.synchronized(buf.toString)
      }
      s
    } finally spark.listenerManager.unregister(listener)
  }

  private def scansOf(name: String): Seq[FileSourceScanExec] =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }

  test("q_semilattice_agg stays in HashAggregate (no SortAggregate fallback)") {
    val p = planOf("q_semilattice_agg")
    assert(!p.contains("SortAggregate"),
      "packed-long argmin regressed to a struct-min SortAggregate chain")
    assert(p.contains("HashAggregate"))
  }

  test("q_join_pricing broadcasts the customer dim") {
    val p = planOf("q_join_pricing")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("similarity/dedup joins never go cartesian") {
    val centroidCross = Set("q_ann_ivf", "q_ann_ivf_q8", "q_kmeans_step")
    for (q <- Seq("q_jaccard_near_dups", "q_lsh_near_dups",
        "q_simhash_near_dups", "q_ann_ivf", "q_ann_ivf_q8",
        "q_edit_near_dups", "q_kmeans_step")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      // BroadcastNestedLoopJoin appears only for the tiny centroid
      // cross in IVF/kmeans (bounded by numCentroids) — ban it elsewhere
      if (!centroidCross(q))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans an NLJ")
    }
  }

  test("q_triangle_count closes wedges with the native merge intersect, " +
       "never a wedge-stream join or cartesian") {
    val p = executedPlansDuring(
      SparkEntry.queries("q_triangle_count")(spark, dir))(
      _.contains("sorted_intersect_size"))
    assert(!p.contains("CartesianProduct"), "triangle count went cartesian")
    assert(p.contains("sorted_intersect_size"),
      "closure is not the codegen'd merge intersect")
  }

  test("q1_agg scan prunes to the 5 referenced lineitem columns") {
    val scans = scansOf("q1_agg")
    assert(scans.nonEmpty)
    val cols = scans.head.schema.fieldNames.toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus"),
      s"scan reads $cols — column pruning lost")
  }

  test("q_edge_ingest scan prunes to the 2 key columns") {
    val scans = scansOf("q_edge_ingest")
    assert(scans.nonEmpty)
    assert(scans.head.schema.fieldNames.toSet ==
      Set("l_orderkey", "l_partkey"))
  }

  test("q_top_docs_per_lang ranks with the bounded aggregate, not a window") {
    // the physical plan the 100 TB design needs: a partial-aggregated
    // TypedImperativeAggregate (ObjectHashAggregate) over ~5 language
    // keys — NOT a row_number window, whose per-language full sort
    // runs in ONE task per language regardless of cluster size. The
    // final orderBy sorts |langs|·3 result rows, which is fine — ban
    // Window/WindowGroupLimit nodes specifically, not sorts.
    val plan = SparkEntry.queries("q_top_docs_per_lang")(spark, dir)
      .queryExecution.sparkPlan
    val windowNodes = plan.collect {
      case w: WindowExec => w
      case w: WindowGroupLimitExec => w
    }
    assert(windowNodes.isEmpty,
      s"top-3-per-lang regressed to a ranking window: $windowNodes")
    assert(plan.toString.contains("ObjectHashAggregate"),
      "bounded top_k_by_sim aggregate missing from the plan")
  }

  test("q_embedding_near_dups_ivf joins cluster-locally (no cartesian)") {
    val p = planOf("q_embedding_near_dups_ivf")
    assert(!p.contains("CartesianProduct"))
    // r20: the tiny broadcast centroid cross lives INSIDE the
    // assignment checkpoint pin (its parquet read + broadcast happened
    // at pin time); the visible plan is the cluster-keyed equi-join
    // over the pinned scans — still never a nested loop over pairs
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Scan ExistingRDD"),
      s"pinned assignment not materialized:\n$p")
    graft.operators.Similarity.releaseCaches(blocking = true)
  }

  test("q_asof_attribution: as-of join is a single window pass, no self-join") {
    val p = planOf("q_asof_attribution")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "as-of should be union+window, not a join")
    assert(p.contains("Window"))
  }

  test("q_decontaminate broadcasts the eval-gram probe") {
    // the 100 TB claim (CorpusOps scale notes): the corpus-side gram
    // stream must probe a BROADCAST eval table — a shuffled join here
    // would exchange every gram of the training corpus
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "eval-gram probe lost its broadcast — corpus grams would shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("repetitionStats is a pure per-row projection — zero exchanges") {
    import org.apache.spark.sql.execution.exchange.Exchange
    // every statistic is document-local; the operator (before the
    // query's presentational orderBy) must not shuffle — the earlier
    // relational form exchanged the corpus's entire bigram stream twice
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.CorpusOps
      .repetitionStats(d, "doc_id", "text")
      .queryExecution.sparkPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"repetitionStats plans an exchange: $exchanges")
  }

  test("q_corpus_prep_v2 reads the corpus once — all stages scan the shared projection") {
    // the funnel's five text-derived stages must consume the ONE pinned
    // projection (InMemoryTableScan), not re-scan documents.parquet —
    // at 100 TB each re-scan is a full corpus read + re-tokenize
    val plan = SparkEntry.queries("q_corpus_prep_v2")(spark, dir)
      .queryExecution.sparkPlan
    val fileScans = plan.collect { case s: FileSourceScanExec => s }
    assert(fileScans.isEmpty,
      s"corpus-prep v2 re-scans parquet: ${fileScans.map(_.tableIdentifier)}")
    // r20: the shared projection is a checkpoint pin (row blocks —
    // "Scan ExistingRDD"); columnar pins read as InMemoryTableScan
    assert(plan.toString.contains("InMemoryTableScan") ||
        plan.toString.contains("Scan ExistingRDD"),
      "shared text projection is not materialized")
  }

  test("q_corpus_prep_v3 reads the corpus once — all stages scan the shared projection") {
    // v3 adds the boilerplate-span and chunking stages to the funnel;
    // they must consume the kept slice of the SAME pinned projection
    // (which now carries the token arrays), never re-scan the parquet
    val plan = SparkEntry.queries("q_corpus_prep_v3")(spark, dir)
      .queryExecution.sparkPlan
    val fileScans = plan.collect { case s: FileSourceScanExec => s }
    assert(fileScans.isEmpty,
      s"corpus-prep v3 re-scans parquet: ${fileScans.map(_.tableIdentifier)}")
    // r20: shared projection = checkpoint pin, kept ids = columnar pin
    assert(plan.toString.contains("InMemoryTableScan") ||
        plan.toString.contains("Scan ExistingRDD"),
      "shared text projection is not materialized")
    graft.operators.CorpusOps.releaseCaches(blocking = true)
    graft.operators.Dedup.releaseCaches(blocking = true)
  }

  test("q_incremental_prep: the corpus side never shuffles — every " +
       "parquet scan streams into a broadcast probe") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the batch side is the pinned shared projection (InMemoryTableScan
    // — its parquet read happened at pin time and is invisible here),
    // so every FileSourceScan in this plan IS a corpus scan. The
    // incremental contract: corpus rows stream straight into a
    // broadcast-probe join — walking up from each scan, the first
    // Exchange-or-join ancestor must be a BroadcastHashJoin (an
    // Exchange first = the corpus was shuffled or itself broadcast).
    val plan = SparkEntry.queries("q_incremental_prep")(spark, dir)
      .queryExecution.sparkPlan
    var corpusScans = 0
    def rec(node: SparkPlan, ancestors: List[SparkPlan]): Unit = {
      node match {
        case _: FileSourceScanExec =>
          corpusScans += 1
          val gate = ancestors.find(n =>
            n.isInstanceOf[Exchange] || n.isInstanceOf[BroadcastHashJoinExec])
          assert(gate.exists(_.isInstanceOf[BroadcastHashJoinExec]),
            s"corpus scan hits ${gate.map(_.nodeName)} before a " +
              "broadcast probe — the corpus side is being exchanged")
        case _ =>
      }
      node.children.foreach(rec(_, node :: ancestors))
    }
    rec(plan, Nil)
    // exactly two corpus streams: fingerprints and LSH bands
    assert(corpusScans == 2,
      s"expected 2 corpus scans (fingerprints, bands), found $corpusScans")
    graft.operators.CorpusOps.releaseCaches(blocking = true)
    graft.operators.Dedup.releaseCaches(blocking = true)
  }

  test("stratifiedSample is a pure per-row filter — zero exchanges") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions.col
    // the operator itself (before any presentational orderBy) must not
    // shuffle: the sample is a pure function of each row
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.CorpusOps
      .stratifiedSample(d, "doc_id", "lang", Map("en" -> 50), 20)
      .select(col("doc_id"), col("sampled"))
      .queryExecution.sparkPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"stratifiedSample plans an exchange: $exchanges")
  }

  test("text analysis runs without UDFs or interpreted HOFs in the plan") {
    for (q <- Seq("q_text_stats", "q_lang_quality")) {
      val p = planOf(q)
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$q contains a UDF node")
      // the fused native expressions replaced transform()/filter()
      // lambdas — LambdaFunction in a projection means a regression
      // back to the interpreted higher-order path
      assert(!p.contains("lambdafunction"),
        s"$q projects an interpreted lambda")
    }
  }

  test("q_boilerplate_spans broadcasts the frequent-span set") {
    // the 100 TB claim (CorpusOps scale notes): the corpus-sized span
    // stream probes a BROADCAST table of frequent spans — a shuffled
    // join would exchange every span of the corpus a second time
    val p = planOf("q_boilerplate_spans")
    assert(p.contains("BroadcastHashJoin"),
      "frequent-span mark join lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_lang_mix: rates broadcast back; the corpus never shuffles") {
    // two corpus scans (count pass + sample pass) are inherent to
    // deriving rates from corpus statistics; what must NOT happen is
    // a shuffle of the corpus itself — the per-stratum rate table is
    // a handful of rows and must broadcast
    val p = planOf("q_lang_mix")
    assert(p.contains("BroadcastHashJoin"),
      "rate join lost its broadcast — the corpus would shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("chunkDocs is a pure per-row posexplode — zero exchanges") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.CorpusOps.chunkDocs(d, "doc_id", "text")
      .queryExecution.sparkPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"chunkDocs plans an exchange: $exchanges")
  }

  // ---- iterative graph rounds: the per-round plans the 100 TB design
  // claims. The round bodies are extracted (KCore.peelRound /
  // LabelPropagation.lpRound) so the REAL loop code is under test, in
  // the loop's context: AQE off (withLoopAqeDisabled), inputs
  // checkpointed with their loop partitioning. Exchange counting needs
  // the executedPlan — EnsureRequirements runs in preparations, so
  // sparkPlan undercounts.

  private def withAqeOff[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def copurchaseE = {
    import org.apache.spark.sql.functions.col
    graft.operators.GraphOps.symmetrize(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
  }

  test("k-core round: two shuffle-hash semi-joins, degree agg and src " +
       "side exchange-free — the |V|-sized keep-set never broadcasts") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    withAqeOff {
      val plan = graft.operators.KCore.peelRound(copurchaseE, 6)
        .queryExecution.executedPlan
      val shj = plan.collect { case j: ShuffledHashJoinExec => j }
      assert(shj.size == 2 && shj.forall(_.joinType.sql == "LEFT SEMI"),
        s"expected 2 left-semi shuffle-hash joins, got: ${shj.map(_.joinType)}")
      // broadcasting the keep-set is the 100 TB mistake (|V| ids to
      // every executor); SMJ would re-sort the edge set every round.
      // r10 shipped the shuffle_hash hint on the STREAM side of the
      // semi-join where it is unsupported and silently dropped — size
      // estimates then broadcast at test scale. This pins the fix.
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        "keep-set is broadcast — |V|-sized build at scale")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty)
      // exactly 2 exchanges: the dst-side co-partition of the
      // surviving edge set (the round's one real exchange) and the
      // repartition back to src for the next round. NO exchange under
      // either degree aggregation, the src-side join, or either
      // keep-set build side — all ride the input's src partitioning.
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.size == 2,
        s"k-core round plans ${exchanges.size} exchanges:\n$plan")
      assert(plan.collect { case a: SortAggregateExec => a }.isEmpty,
        "degree aggregation fell back to SortAggregate")
    }
  }

  test("label-propagation round: edge side never exchanges; messages " +
       "shuffle once and both aggregations ride that partitioning") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    withAqeOff {
      val e = copurchaseE
      val state = graft.operators.GraphOps.vertices(e)
        .select(col("id"), col("id").as("label"))
        .localCheckpoint(true)
      val plan = graft.operators.LabelPropagation.lpRound(e, state)
        .queryExecution.executedPlan
      val shj = plan.collect { case j: ShuffledHashJoinExec => j }
      assert(shj.size == 1, s"expected 1 shuffle-hash message join: $plan")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        "message join re-sorts the cached edge table")
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty)
      // the edge table streams into the join with NO exchange — at
      // 100 TB an |E| exchange here would double every round's cost
      assert(shj.head.right.collect { case x: Exchange => x }.isEmpty,
        "edge side of the message join is exchanged")
      // exactly 2 exchanges in the whole round: the |V| state side of
      // the join, and the ONE |E| message repartition on the receiver;
      // the (id,lbl) count and per-id argmin add none (their keys
      // contain the partition key)
      val exchanges = plan.collect { case x: Exchange => x }
      assert(exchanges.size == 2,
        s"LP round plans ${exchanges.size} exchanges:\n$plan")
    }
  }

  test("q_inverted_index bounds postings inside the aggregation " +
       "buffer — bounded ObjectHashAggregate, no window, no collect_list") {
    val p = planOf("q_inverted_index")
    assert(p.contains("ObjectHashAggregate"),
      "bounded top_k_by_sim accumulator missing — postings are unbounded")
    assert(!p.contains("collect_list"),
      "collect_list buffers every occurrence of hot terms before the cap")
    val windowNodes = SparkEntry.queries("q_inverted_index")(spark, dir)
      .queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windowNodes.isEmpty)
  }

  test("q_corpus_shuffle window partitions on batch_id — never a " +
       "single-task global sort") {
    val plan = SparkEntry.queries("q_corpus_shuffle")(spark, dir)
      .queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "row_number window missing")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "shuffle window lost its batch partitioning — a global-order " +
        "window runs in ONE task regardless of cluster size")
    assert(!plan.toString.contains("SinglePartition"),
      "plan routes the corpus through a single partition")
  }

  test("snapshot family windows partition on the id — never a " +
       "single-task global sort") {
    for (q <- Seq("q_snapshot_upsert", "q_scd2_history")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: merge window missing")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$q: a window lost its id partitioning — the merge would " +
          "run in ONE task regardless of cluster size")
    }
  }

  test("redactPii is a pure per-row projection — zero exchanges, no UDFs") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Redaction.redactPii(d, "text")
      .queryExecution.sparkPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"redactPii plans an exchange: $exchanges")
    assert(!plan.toString.contains("ScalaUDF"))
  }

  test("q_sparse_cosine_topk: windows stay doc-partitioned, top-k is " +
       "group-limited, no cartesian pairing") {
    val plan = SparkEntry.queries("q_sparse_cosine_topk")(spark, dir)
      .queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "top-k window lost its doc_id partitioning")
    assert(plan.collect { case g: WindowGroupLimitExec => g }.nonEmpty,
      "rank<=k no longer pushes a WindowGroupLimit — every candidate " +
        "list is fully sorted before the filter")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "posting self-join degenerated into an all-pairs join")
  }

  test("q_snapshot_diff is ONE id-keyed full-outer join — no cartesian, " +
       "no extra corpus exchange") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = SparkEntry.queries("q_snapshot_diff")(spark, dir)
      .queryExecution.sparkPlan
    val fullOuter = plan.collect {
      case j: SortMergeJoinExec if j.joinType.toString == "FullOuter" => j
    }
    assert(fullOuter.size == 1, s"expected exactly one full-outer merge " +
      s"join, got ${fullOuter.size}")
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"))
  }

  test("q_clustering_coeff aggregates stay hash-based with map-side " +
       "partials; closure never goes cartesian") {
    val s = executedPlansDuring(
      SparkEntry.queries("q_clustering_coeff")(spark, dir))(
      p => (p.contains("partial_count") || p.contains("partial_sum")) &&
        p.contains("sorted_intersect"))
    assert(s.contains("partial_count") || s.contains("partial_sum"),
      "credit rollup lost its map-side combine")
    assert(s.contains("sorted_intersect"),
      "closure is not the codegen'd merge intersect")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "triangle closure degenerated into an all-pairs join")
  }

  test("q_scd2_asof: the probe join stays an id-keyed equi-join with " +
       "the interval predicate as a residual — never a range explosion") {
    val p = planOf("q_scd2_asof")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the interval predicate displaced the doc_id equi-key")
  }

  test("q_asof_nearest_tol: two union-window passes + one id equi-join " +
       "— nothing pair-shaped, tolerance never becomes a join condition") {
    val plan = SparkEntry.queries("q_asof_nearest_tol")(spark, dir)
      .queryExecution.sparkPlan
    val s = plan.toString
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      "per-row tolerance leaked into a non-equi join")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 2,
      s"expected the backward+forward window pair, got ${windows.size}")
  }

  test("q_sketch_stats: the ap50 CDF probe joins via broadcast — the " +
       "3-row agg never shuffles lineitem a third time") {
    val p = planOf("q_sketch_stats")
    assert(p.contains("BroadcastHashJoin"),
      "the CDF pass lost its broadcast and exchanges the fact table")
    assert(!p.contains("CartesianProduct"))
  }

  test("walk-family scorers are pure integer expressions — no string " +
       "build per candidate edge survives in the plans") {
    // the r12 demerit: mixHash(concat(lpad(...))) built a string per
    // candidate edge, Σ deg(cur) per step, in the heaviest iterative
    // family's inner loop. The BIGINT scorer must keep concat/lpad out
    // of the candidate projection (negativeSamples' plan; the walks
    // loop shares the same scorer expression).
    val p = planOf("q_negative_samples")
    assert(!p.contains("lpad"),
      "a per-candidate lpad string build is back in the scorer")
  }

  test("Redaction.purge anti-join broadcasts the request set — the " +
       "corpus side never shuffles") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val req = d.where(col("doc_id") % 97 === 3)
      .select(col("doc_id").as("req_id"))
    val plan = graft.operators.Redaction.purge(d, "doc_id", req, "req_id")
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan // collect() does not descend the AQE wrapper
        case p => p
      }
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(joins.nonEmpty, s"purge is not a broadcast anti-join:\n$plan")
    // the tiny request set may shuffle for its distinct (build side);
    // the CORPUS (streamed) side must stay a direct scan, no exchange
    val corpusShuffles = joins.head.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(corpusShuffles.isEmpty, s"purge shuffles the corpus:\n$plan")
  }

  test("AvroSource.readAvro decode is NARROW — scan to rows with zero " +
      "exchanges (each task decodes its own files)") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val tmp = java.nio.file.Files.createTempDirectory("avro-shape-")
    try {
      import spark.implicits._
      graft.sources.AvroSource.stageAvro(
        Seq((1L, "en", "web", 100L)).toDF("doc_id", "lang", "source",
          "n_chars"), tmp.toString)
      val plan = graft.sources.AvroSource.readAvro(spark, tmp.toString)
        .queryExecution.sparkPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"binary decode must not shuffle payload bytes:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverseIterator
        .foreach(x => java.nio.file.Files.deleteIfExists(x))
    }
  }

  test("Snapshot.asOfVersion costs exactly ONE exchange (the id window) " +
      "and the version filter sits under it") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("asof-shape-")
    try {
      // a FILE-backed log — a LocalTableScan is single-partition and
      // would window without any exchange, hiding the shape
      Seq((1L, 1L, "a", false), (1L, 2L, "b", false))
        .toDF("doc_id", "version", "payload", "deleted")
        .write.parquet(s"$tmp/log")
      val log = spark.read.parquet(s"$tmp/log")
      // executedPlan: exchanges are inserted by EnsureRequirements,
      // which sparkPlan predates
      val plan = graft.operators.Snapshot
        .asOfVersion(log, "doc_id", "version", 2L, deletedCol = "deleted")
        .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"asOfVersion must shuffle once on the id:\n$plan")
      // the version <= k predicate must reach the SCAN below the
      // exchange (pushed + file-prunable when version is a layout
      // column), not sit above the window as a residual
      val scans = shuffles.head.child.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty &&
        scans.head.metadata("PushedFilters").contains("LessThanOrEqual(version,2)"),
        s"version filter did not push to the scan:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverseIterator
        .foreach(x => java.nio.file.Files.deleteIfExists(x))
    }
  }

  test("groupedTrend costs exactly ONE exchange (the key groupBy) and " +
      "stays in HashAggregate") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = graft.operators.TimeSeries.groupedTrend(
        graft.streaming.EventStream.eventsTable(spark, dir),
        "user_id", "ts", "value", 3600L * 1000000)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"grouped OLS must be one partial-agged exchange:\n$plan")
    assert(!plan.toString.contains("SortAggregate"),
      s"five-sum aggregation fell back to SortAggregate:\n$plan")
  }

  test("resampleLocf: the grid explode sits ABOVE the span aggregate " +
      "(|keys| input rows), never over the corpus; no nested-loop joins") {
    val plan = SparkEntry.queries("q_timeseries_fill")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join crept in:\n$p")
    // every Generate (the sequence explode) must be fed by the span
    // aggregate — directly, or through its persisted InMemoryRelation
    // (spans are cached for the guard action) — exploding
    // pre-aggregation would materialize the grid off corpus-sized
    // input
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty, s"no explode found:\n$p")
    gens.foreach { g =>
      val aggFed = g.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.nonEmpty
      val cacheFed = g.child.collect {
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
      }.nonEmpty
      assert(aggFed || cacheFed,
        s"grid explode not fed by the span aggregate:\n$p")
    }
  }

  test("phraseSearch joins are equi-joins on (doc_id, pos) — no " +
      "cartesian/NLJ; term filters sit under the joins") {
    val p = planOf("q_phrase_search")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"phrase adjacency must be equi-joins:\n$p")
    assert(p.contains("Join") || p.contains("join"),
      s"expected a join chain:\n$p")
  }

  test("weightedPrioritySample recovers weights via BROADCAST join — " +
      "the k winners, never a corpus-sized side") {
    val p = planOf("q_weighted_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"weight recovery lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"weight recovery degraded to a corpus shuffle join:\n$p")
  }

  // typed walk: collect() does not descend into an InMemoryRelation's
  // cached plan, so a GenerateExec found here means a consumer
  // re-derives the tokenize explode PAST the pin (a corpus re-scan);
  // the explode inside the pinned relation itself is invisible — and
  // correct.
  private def exec(name: String) = {
    val plan = SparkEntry.queries(name)(spark, dir)
      .queryExecution.sparkPlan
    (plan,
      plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g },
      plan.collect {
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c })
  }

  test("klDriftTopK: top-k attribution is TakeOrderedAndProject; the " +
      "pinned count frame backs every consumer (no corpus re-scan)") {
    val (plan, gens, scans) = exec("q_kl_drift")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"drift attribution degraded to a full global sort:\n$plan")
    assert(scans.size >= 2,
      s"pinned count frame not shared by the consumers:\n$plan")
    assert(gens.isEmpty,
      s"a consumer re-derives the tokenize scan past the pin:\n$plan")
    graft.operators.Distributions.releaseCaches()
  }

  test("unigramPerplexity: model join is SortMergeJoin on token " +
      "(vocabulary-sized model — never broadcast); scoring reads the " +
      "pinned doc-term frame") {
    val (plan, gens, scans) = exec("q_unigram_ppl")
    assert(plan.toString.contains("SortMergeJoin"),
      s"model join lost its merge shape:\n$plan")
    assert(scans.size >= 2,
      s"pinned doc-term frame not shared by the consumers:\n$plan")
    assert(gens.isEmpty,
      s"a consumer re-derives the tokenize scan past the pin:\n$plan")
    graft.operators.Distributions.releaseCaches()
  }

  test("bm25TopK: global top-k is TakeOrderedAndProject (never a full " +
      "sort); idf and N/A totals ride broadcasts, not corpus shuffles") {
    val p = planOf("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k degraded to a full global sort:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"idf/global-totals lost their broadcast:\n$p")
    // the post-limit rank window runs over exactly k rows — the only
    // unpartitioned window in the plan must sit ABOVE the top-k limit
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian in bm25 plan:\n$p")
  }

  test("substringDupSpans: the pinned window frame backs all three " +
      "consumers — no consumer re-derives the tokenize explode") {
    // r20: the pin is a checkpoint (row blocks — RDDScanExec), no
    // longer a columnar InMemoryTableScan; the shared-frame property
    // is unchanged
    val (plan, gens, _) = exec("q_substring_dedup")
    val ckptScans = plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r }
    assert(ckptScans.size >= 3,
      s"pinned (doc,pos,h) frame not shared by totals/dup-set/probe:\n$plan")
    assert(gens.isEmpty,
      s"a consumer re-derives the window explode past the pin:\n$plan")
    graft.operators.Dedup.releaseCaches()
  }

  test("scrubDupSpans: the span/token anti-join is doc-keyed (equi " +
      "on doc_id, range residual) — never a cartesian or NLJ") {
    val plan = SparkEntry.queries("q_substring_scrub")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span removal lost its doc-keyed join:\n$p")
    assert(p.contains("LeftAnti"),
      s"kept-token selection is not an anti-join:\n$p")
    graft.operators.Dedup.releaseCaches()
  }

  test("transitionMatrix: row totals ride a window over the " +
      "|types|²-row AGGREGATE — never a second pass over the events") {
    val plan = SparkEntry.queries("q_markov_transitions")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("Join"),
      s"transition matrix must be windows + aggregates, no joins:\n$p")
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.size == 2, s"expected lead + totals windows:\n$p")
    // the totals window's subtree must contain the pair aggregate
    // (its input is |types|²-sized); only the lead window may read
    // the raw scan
    val overAgg = wins.count(_.child.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty)
    assert(overAgg >= 1, s"totals window not fed by the aggregate:\n$p")
  }

  test("skyline2d: NO joins of any kind — the all-pairs NOT EXISTS " +
      "is oracle-only; the engine is two staircase windows") {
    val plan = SparkEntry.queries("q_skyline")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"skyline must not pair points:\n$p")
    assert(plan.collect { case w: WindowExec => w }.size == 2,
      s"expected bucket-local + global staircase windows:\n$p")
  }

  test("recallAtK: overlap is a LeftSemi equi-join keyed on the query " +
      "id — no cartesian joins outside the bounded centroid cross") {
    val plan = SparkEntry.queries("q_ann_recall")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(p.contains("LeftSemi"),
      s"exact∩approx overlap lost its semi-join shape:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unexpected cartesian in the recall plan:\n$p")
    graft.operators.Similarity.releaseCaches()
  }

  test("modularity: the edge stream is consumed EXACTLY ONCE — |E| " +
      "and the global sum come from windows over the tiny community " +
      "frame, never a count scan or a cache-missing self-cross") {
    val plan = SparkEntry.queries("q_modularity")(spark, dir)
      .queryExecution.sparkPlan
    val p = plan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"modularity must not cross-join the global aggregates:\n$p")
    // one lineitem scan = the single edge pass (communities are
    // checkpoint-backed ExistingRDD scans, not file scans)
    assert(plan.collect { case s: FileSourceScanExec => s }.size == 1,
      s"edge pipeline derived more than once:\n$p")
    assert(plan.collect { case w: WindowExec => w }.size == 2,
      s"expected the m2 + num windows over the community frame:\n$p")
  }

  test("kAnonymize: ONE corpus aggregation — the pinned cell frame " +
      "backs both the safe filter and the '*' bucket rollup") {
    val (plan, _, scans) = exec("q_k_anonymity")
    assert(scans.size >= 2,
      s"pinned QI-cell frame not shared by safe/bucket consumers:\n$plan")
    assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"a consumer re-scans the corpus past the pin:\n$plan")
    graft.operators.Redaction.releaseCaches()
  }

  /** Runs `df`, then walks its executed plan through the AQE stages. */
  private object Executed extends AdaptiveSparkPlanHelper {
    def plan(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
    def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
      collect(plan(df)) { case s: FileSourceScanExec => s }
  }

  test("edge-list text is scanned once per vertices / withUnreachable, " +
      "and parsed without a regex split") {
    import graft.operators.{Bfs, GraphOps}
    // tinyG plus a component {13, 14} that BFS from 0 cannot reach
    val f = java.nio.file.Files.createTempFile("edges", ".txt")
    java.nio.file.Files.writeString(f, Seq("0 5", "4 3", "0 1", "9 12",
      "6 4", "5 4", "0 2", "11 12", "9 10", "0 6", "5 3", "0 7", "7 8",
      "9 11", "0 9", "13 14").mkString("", "\n", "\n"))
    try {
      val edges = GraphOps.symmetrize(
        graft.sources.EdgeListSource.load(spark, f.toString))
      val vs = GraphOps.vertices(edges)
      assert(Executed.fileScans(vs).size == 1,
        s"vertices re-reads the text:\n${Executed.plan(vs)}")
      val full = Bfs.withUnreachable(Bfs.run(edges, 0L), edges)
      assert(Executed.fileScans(full).size == 1,
        s"withUnreachable re-reads the text:\n${Executed.plan(full)}")
      assert(full.filter("dist IS NULL").count() == 2)
      val ingest = Executed.plan(edges)
      val splits = Executed.flatMap(ingest)(_.expressions)
        .filter(_.exists(_.isInstanceOf[StringSplit]))
      assert(splits.isEmpty, s"the ingest projection splits by regex: $splits")
      assert(Executed.collect(ingest) { case w: WholeStageCodegenExec => w }
          .exists(_.child.exists(_.isInstanceOf[GenerateExec])),
        s"the line parser fell out of whole-stage codegen:\n$ingest")
    } finally java.nio.file.Files.delete(f)
  }

}
