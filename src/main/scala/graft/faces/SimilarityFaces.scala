package graft.faces

import org.apache.spark.sql.functions._

import graft.operators.{Indexing, Similarity}
import Shared._

/** Similarity faces over `embeddings`: exact and quantized top-k,
  * IVF, product quantization, k-means training, recall sweeps and
  * embedding near-duplicates, with their DuckDB oracles. */
object SimilarityFaces {

  /** Shared DuckDB prefix for the PQ oracles: hash-order codebooks,
    * per-(vector, subvector, centroid) exact integer L2² table,
    * argmin encoding, and the ADC pair distances (relation `adc`).
    * Mirrors [[graft.operators.Similarity.pqTopK]]'s shared
    * machinery. */
  private def pqOraclePrefix: String = {
    val m = graft.operators.Similarity.PqSubvectors
    val ksub = graft.operators.Similarity.PqSubCentroids
    val sub = 64 / m
    s"""WITH $quantCte,
       |sd AS MATERIALIZED (
       |  SELECT vec_id AS cid, qe AS cqe,
       |         row_number() OVER (ORDER BY rh, vec_id) - 1 AS cidx
       |  FROM (SELECT vec_id, qe,
       |          ${rhSql("CAST(vec_id AS VARCHAR)")} AS rh FROM nv)
       |  ORDER BY rh, cid LIMIT $ksub),
       |ss AS (SELECT unnest(range(0, $m)) AS s),
       |subc AS MATERIALIZED (
       |  SELECT ss.s, sd.cidx,
       |         list_slice(sd.cqe, ss.s*$sub+1, ss.s*$sub+$sub) AS csub
       |  FROM sd CROSS JOIN ss),
       |subv AS MATERIALIZED (
       |  SELECT v.vec_id, ss.s,
       |         list_slice(v.qe, ss.s*$sub+1, ss.s*$sub+$sub) AS vsub
       |  FROM nv v CROSS JOIN ss),
       |d2 AS MATERIALIZED (
       |  SELECT v.vec_id, v.s, c.cidx,
       |    CAST(list_sum(list_transform(range(1, $sub+1),
       |      i -> (v.vsub[i]-c.csub[i])*(v.vsub[i]-c.csub[i])))
       |      AS BIGINT) AS d2
       |  FROM subv v JOIN subc c ON v.s = c.s),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, s, cidx AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |                ORDER BY d2, cidx) AS rn FROM d2)
       |  WHERE rn = 1),
       |adc AS MATERIALIZED (
       |  SELECT q.vec_id, e.vec_id AS neighbor_id,
       |         CAST(SUM(q.d2) AS BIGINT) AS dist
       |  FROM d2 q JOIN enc e ON q.s = e.s AND q.cidx = e.code
       |  WHERE q.vec_id <> e.vec_id
       |  GROUP BY q.vec_id, e.vec_id)""".stripMargin
  }

  /** Exact integer dot product of two quantized list columns. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"

  private def cosineQSql(a: String, b: String, na: String, nb: String): String =
    s"CAST(${dotSql(a, b)} AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  /** IVF centroid CTE (emits `cents(cid, cqe, cnn)` from `nv`):
    * mirrors Similarity.HashSampledCentroids — the k vectors with the
    * smallest (rollingHash(vec_id), vec_id). Fixed k ⇒ the centroid
    * set does not grow with the corpus (the whole point of the r10
    * seeding change). */
  private def centsSql(k: Int = Similarity.DefaultNumCentroids): String =
    s"""cents AS (
       |  SELECT vec_id AS cid, qe AS cqe, nn AS cnn FROM (
       |    SELECT nv.*, row_number() OVER (
       |      ORDER BY ${rhSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS cr
       |    FROM nv)
       |  WHERE cr <= $k)""".stripMargin

  /** Quantized embeddings + squared norms (mirrors Similarity.quantize). */
  private val quantCte: String =
    s"""qv AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.QuantScale}) AS BIGINT)) AS qe
       |  FROM embeddings),
       |nv AS (SELECT vec_id, qe, list_sum(list_transform(qe, v -> v*v)) AS nn
       |       FROM qv
       |       WHERE list_sum(list_transform(qe, v -> v*v)) > 0)""".stripMargin

  /** SQ8 embeddings + squared norms, emitted AS `nv` (mirrors
    * Similarity.int8Codes): per-vector scale s = max|x|, codes
    * round(x*127/s) in [-127,127]. Emitting the same relation name as
    * [[quantCte]] lets [[centsSql]] and the IVF oracle bodies run
    * unchanged over either base. */
  private val quantCte8: String =
    s"""e8 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |    list_max(list_transform(embedding,
       |      x -> abs(coalesce(CAST(x AS DOUBLE), 0)))) AS s
       |  FROM embeddings),
       |q8 AS (
       |  SELECT vec_id, list_transform(e,
       |    x -> CAST(coalesce(round(x * 127.0 / s), 0) AS BIGINT)) AS qe
       |  FROM e8 WHERE s > 0),
       |nv AS (SELECT vec_id, qe,
       |         list_sum(list_transform(qe, v -> v*v)) AS nn
       |       FROM q8
       |       WHERE list_sum(list_transform(qe, v -> v*v)) > 0)""".stripMargin

  /** IVF search body over an upstream `nv` relation (emitted by
    * [[quantCte]] or [[quantCte8]]): hash-order centroids, crank
    * assignment, nprobe=3 probes, cluster-local search, ranked
    * neighbours as relation `r`. Shared by the q_ann_ivf,
    * q_ann_ivf_q8 and q_ann_recall oracles so the three replay ONE
    * construction and can't drift. */
  private def ivfSearchCtes: String = ivfSearchCtesOver("cents")

  /** Same search body over an arbitrary upstream centroid relation
    * (cid, cqe, cnn) — the trained-IVF oracle feeds it the
    * Lloyd-refined set instead of [[centsSql]]'s raw seeds. */
  private def ivfSearchCtesOver(centsRel: String): String =
    s"""${if (centsRel == "cents") centsSql() + ",\n" else ""}asg AS (
       |  SELECT vec_id, cid, qe, nn,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY csim DESC, cid) AS crank
       |  FROM (SELECT v.vec_id, c.cid, v.qe, v.nn,
       |          ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} AS csim
       |        FROM nv v CROSS JOIN $centsRel c)),
       |idx AS (SELECT vec_id AS neighbor_id, cid AS cluster, qe, nn
       |        FROM asg WHERE crank = 1),
       |probes AS (SELECT vec_id, cid AS cluster, qe, nn
       |           FROM asg WHERE crank <= 3),
       |p AS (
       |  SELECT a.vec_id, b.neighbor_id,
       |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
       |  FROM probes a JOIN idx b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.neighbor_id),
       |r AS (SELECT vec_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY vec_id
       |                           ORDER BY sim DESC, neighbor_id) AS rank
       |      FROM p)""".stripMargin

  /** One Lloyd refinement step as CTEs: from upstream centroid
    * relation `from` (cid, cqe, cnn) emit `to` — argmax-cosine
    * assignment of every `nv` vector (same (csim desc, cid) order as
    * the IVF oracle), per-dimension floor-mean re-centering
    * (floor(sum::double / count): the IEEE division both engines round
    * identically), zero centroids dropped. Mirrors
    * Similarity.trainOverBase one step at a time. */
  private def lloydStepSql(from: String, to: String): String =
    s"""${to}_asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} DESC,
       |                 c.cid) AS r
       |    FROM nv v CROSS JOIN $from c)
       |  WHERE r = 1),
       |${to}_el AS (
       |  SELECT b.cid, unnest(range(len(v.qe))) AS pos, unnest(v.qe) AS val
       |  FROM ${to}_asg b JOIN nv v USING (vec_id)),
       |${to}_m AS (
       |  SELECT cid, pos,
       |    CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS q
       |  FROM ${to}_el GROUP BY cid, pos),
       |$to AS (
       |  SELECT cid, cqe, list_sum(list_transform(cqe, v -> v*v)) AS cnn
       |  FROM (SELECT cid, list(q ORDER BY pos) AS cqe
       |        FROM ${to}_m GROUP BY cid)
       |  WHERE list_sum(list_transform(cqe, v -> v*v)) > 0)""".stripMargin

  /** The trained-centroid chain shared by the q_ann_ivf_trained and
    * q_ann_trained_recall oracles: seed via [[centsSql]], then
    * [[graft.operators.Similarity.IvfTrainSteps]] Lloyd steps into
    * relation `tc<steps>`. */
  private def trainedCentsCtes: String = {
    val steps = (1 to Similarity.IvfTrainSteps).map { i =>
      lloydStepSql(if (i == 1) "cents" else s"tc${i - 1}", s"tc$i")
    }.mkString(",\n")
    s"""${centsSql()},
       |$steps""".stripMargin
  }

  val faces: Seq[Face] = Seq(
    // Brute-force cosine top-k (quantized, oracle-exact) — the ANN
    // correctness baseline.
    Face("q_cosine_topk", (s, dir) => {
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
    },
      s"""WITH $quantCte,
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |r AS (SELECT vec_id, neighbor_id, sim,
         |        row_number() OVER (PARTITION BY vec_id
         |                           ORDER BY sim DESC, neighbor_id) AS rank
         |      FROM p)
         |SELECT vec_id, rank, neighbor_id, sim FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),

    // Int8 scalar-quantized (SQ8) cosine top-k — the memory-bandwidth
    // scale lever: per-vector-scaled codes in [-127, 127] are 4x
    // smaller than float32, the scale cancels in cosine, and the
    // ranking is deterministic, so this APPROXIMATE path is still
    // hash-exact vs an oracle that replays the quantization rule.
    Face("q_ann_q8", (s, dir) => {
      Similarity.bruteForceTopKQ8(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
    },
      // SQ8 oracle: replay the per-vector int8 quantization (scale =
      // max|x|, code = round(x * 127 / scale)) — multiplication and
      // division are IEEE-exact in both engines and round is
      // half-away-from-zero in both, so codes (and therefore sims and
      // ranks) agree bit-for-bit.
      s"""WITH $quantCte8,
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |r AS (SELECT vec_id, neighbor_id, sim,
         |        row_number() OVER (PARTITION BY vec_id
         |                           ORDER BY sim DESC, neighbor_id) AS rank
         |      FROM p)
         |SELECT vec_id, rank, neighbor_id, sim FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
      // multi-second ANN search
      minRuns = 3),

    // IVF-partitioned approximate top-k — the similarity scale path
    // (broadcast centroid assign + cluster-local search).
    // IVF over SQ8 codes — the two scale levers composed (nprobe
    // cluster pruning x 4x-smaller vectors); same fixed-k hash-order
    // seed ids as q_ann_ivf, so the oracle replays it hash-exactly.
    Face("q_ann_ivf_q8", (s, dir) => {
      Similarity.ivfTopKQ8(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
    },
      // same construction as the q_ann_ivf oracle over the SQ8 base —
      // quantCte8 emits the same `nv` relation name, so the IVF body
      // (centroid ranks, nprobe probes, cluster-local search) is shared
      // verbatim
      s"""WITH $quantCte8,
         |$ivfSearchCtes
         |SELECT vec_id, rank, neighbor_id, sim FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
      // multi-second ANN search
      minRuns = 3),

    Face("q_ann_ivf", (s, dir) => {
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
    },
      s"""WITH $quantCte,
         |$ivfSearchCtes
         |SELECT vec_id, rank, neighbor_id, sim FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // Recall@5 of the IVF index against the brute-force ground truth
    // — the eval every ANN deployment runs before trusting an index.
    // Set-membership only (integer counts + one truncating div), so
    // the evaluation of an approximate path is itself hash-exact.
    Face("q_ann_recall", (s, dir) => {
      // ONE checkpoint-pinned quantized base feeds both the searcher
      // and the ground truth (r20: Similarity.quantizedBase — was two
      // persist pins shared via CacheManager plan-equality)
      val base = Similarity.quantizedBase(t(s, dir, "embeddings"),
        "vec_id", "embedding")
      Similarity.recallAtK(
          Similarity.ivfTopKOnBase(base, k = 5),
          Similarity.bruteForceTopKOnBase(base, k = 5))
    },
      // mirrors Similarity.recallAtK: the IVF pipeline (shared CTEs)
      // joined against the brute-force ground truth — set membership
      // only, so the approximate path's EVALUATION is integer-exact
      s"""WITH $quantCte,
         |$ivfSearchCtes,
         |ar AS (SELECT vec_id, neighbor_id FROM r WHERE rank <= 5),
         |bp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |er AS (SELECT vec_id, neighbor_id FROM (
         |         SELECT vec_id, neighbor_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, neighbor_id) AS rank
         |         FROM bp) WHERE rank <= 5),
         |gt AS (SELECT vec_id, count(*) AS n_exact FROM er GROUP BY vec_id),
         |h AS (SELECT e.vec_id, count(*) AS n_hits
         |      FROM er e JOIN ar a
         |        ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
         |      GROUP BY e.vec_id)
         |SELECT g.vec_id, g.n_exact,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_hits, 0) * 1000 // g.n_exact AS recall_permille
         |FROM gt g LEFT JOIN h USING (vec_id)
         |ORDER BY g.vec_id""".stripMargin),

    // The probe-count TRADEOFF, measured: corpus recall@5 of ivfTopK
    // at nprobe ∈ {1, 3, 5} against ONE materialized brute-force
    // ground truth — the tuning curve an ANN deployment reads before
    // picking its probe budget (more probes = more cluster-local
    // work = higher recall; nprobe = |centroids| degenerates to
    // brute force). The centroid assignment is probe-count
    // independent, so the oracle shares one cents/assignment chain
    // across all three probe depths.
    Face("q_ann_recall_sweep", (s, dir) => {
      // ONE checkpoint-pinned quantized base for ground truth + sweep
      // (r20 session 2 — was per-operator persist pins)
      val base = Similarity.quantizedBase(t(s, dir, "embeddings"),
        "vec_id", "embedding")
      val exact = Similarity.bruteForceTopKOnBase(base, k = 5)
        .localCheckpoint(true)
      // ONE shared assignment + score pass for all three depths
      // (r20: Similarity.ivfTopKSweep — was 3 full ivfTopK passes)
      Similarity.ivfTopKSweepOnBase(base, k = 5, probes = Seq(1, 3, 5))
        .map { case (p, approx) =>
          Similarity.recallAtK(approx, exact)
            .agg(sum(col("n_hits")).as("n_hits"),
              sum(col("n_exact")).as("n_exact"))
            .select(lit(p).as("nprobe"), col("n_hits"), col("n_exact"),
              expr("n_hits * 1000 div n_exact").as("recall_permille"))
        }.reduce(_ unionByName _)
    },
      // the probe-count tradeoff: one shared centroid/assignment chain
      // (asg is nprobe-independent), three probe depths, one brute
      // ground truth — corpus recall@5 per nprobe, integer-exact
      {
      val perP = Seq(1, 3, 5).map { p =>
        s"""pr$p AS (SELECT vec_id, cid AS cluster, qe, nn
           |          FROM asg WHERE crank <= $p),
           |cd$p AS (
           |  SELECT a.vec_id, b.neighbor_id,
           |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
           |  FROM pr$p a JOIN idx b
           |    ON a.cluster = b.cluster AND a.vec_id <> b.neighbor_id),
           |ar$p AS (SELECT vec_id, neighbor_id FROM (
           |           SELECT vec_id, neighbor_id,
           |             row_number() OVER (PARTITION BY vec_id
           |               ORDER BY sim DESC, neighbor_id) AS rank
           |           FROM cd$p) WHERE rank <= 5),
           |h$p AS (SELECT e.vec_id, count(*) AS n_hits
           |        FROM er e JOIN ar$p a
           |          ON a.vec_id = e.vec_id
           |         AND a.neighbor_id = e.neighbor_id
           |        GROUP BY e.vec_id),
           |s$p AS (SELECT $p AS nprobe,
           |          CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS n_hits,
           |          CAST(sum(g.n_exact) AS BIGINT) AS n_exact
           |        FROM gt g LEFT JOIN h$p h USING (vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $quantCte,
         |$ivfSearchCtes,
         |bp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |er AS (SELECT vec_id, neighbor_id FROM (
         |         SELECT vec_id, neighbor_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, neighbor_id) AS rank
         |         FROM bp) WHERE rank <= 5),
         |gt AS (SELECT vec_id, count(*) AS n_exact FROM er GROUP BY vec_id),
         |$perP
         |SELECT nprobe, n_hits, n_exact,
         |  n_hits * 1000 // n_exact AS recall_permille
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s3
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY nprobe""".stripMargin
    }),

    // One Lloyd (k-means) refinement step over the IVF assignment —
    // the "train the centroids" half of an IVF build. Integer sums by
    // (cluster, dimension) + one IEEE division per element: bit-exact,
    // unlike float kmeans, so the step is driver-oracle-checked.
    Face("q_kmeans_step", (s, dir) => {
      // exploded to (cid, n_members, pos, m) rows: scalar columns
      // hash-compare robustly in the driver's DuckDB gate (array
      // columns would compare representation, not value)
      Similarity.kmeansStep(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("cid"), col("n_members"),
          posexplode(col("centroid")).as(Seq("pos", "m")))
        .select(col("cid"), col("n_members"),
          col("pos").cast("long").as("pos"), col("m"))
    },
      // mirrors Similarity.kmeansStep: argmax-cosine assignment (same
      // deterministic (csim desc, cid) order as the IVF oracle), then
      // integer sums per (cluster, dimension) with ONE double division
      s"""WITH $quantCte,
         |${centsSql().replace("cents AS (", "kc AS (")},
         |kb AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} DESC,
         |                 c.cid) AS r
         |    FROM nv v CROSS JOIN kc c)
         |  WHERE r = 1),
         |ke AS (
         |  SELECT b.cid,
         |    unnest(range(len(v.qe))) AS pos,
         |    unnest(v.qe) AS val
         |  FROM kb b JOIN nv v USING (vec_id))
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(pos AS BIGINT) AS pos,
         |  CAST(sum(val) AS DOUBLE) / count(*) AS m
         |FROM ke GROUP BY cid, pos ORDER BY cid, pos""".stripMargin),

    // IVF search over TRAINED centroids — kmeansStep's reason to
    // exist, closed into the ANN family (r16 verdict stretch item):
    // hash-order seeds → IvfTrainSteps integer-exact Lloyd
    // refinements → multi-probe search. Every stage re-quantizes to
    // integers, so the full production index-build shape is
    // hash-gated end to end.
    Face("q_ann_ivf_trained", (s, dir) => {
      Similarity.ivfTopKTrained(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 5)
    },
      // trained-IVF: the shared Lloyd chain (seed cents → tc1 → tc2),
      // then the IVF search body verbatim over the trained relation
      s"""WITH $quantCte,
         |$trainedCentsCtes,
         |${ivfSearchCtesOver(s"tc${Similarity.IvfTrainSteps}")}
         |SELECT vec_id, rank, neighbor_id, sim FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),

    // Does training MOVE recall? Corpus recall@5 at nprobe=3 for the
    // seeded index vs the Lloyd-trained index against one brute-force
    // ground truth — the eval row that justifies (or refutes) paying
    // for centroid training before indexing. Two rows, integer-exact.
    Face("q_ann_trained_recall", (s, dir) => {
      // ONE checkpoint-pinned quantized base for ground truth, the
      // seeded searcher, AND the Lloyd training + trained searcher
      // (r20 session 2 — was three persist pins of the same plan)
      val base = Similarity.quantizedBase(t(s, dir, "embeddings"),
        "vec_id", "embedding")
      val exact = Similarity.bruteForceTopKOnBase(base, k = 5)
        .localCheckpoint(true)
      val trained = Similarity.trainIvfCentroidsOnBase(base)
        .localCheckpoint(true)
      Seq(
        "seeded" -> Similarity.ivfTopKOnBase(base, k = 5, nprobe = 3),
        "trained" -> Similarity.ivfTopKOnBase(base, k = 5,
          seeding = Similarity.ProvidedCentroids(trained), nprobe = 3))
        .map { case (variant, approx) =>
          Similarity.recallAtK(approx, exact)
            .agg(sum(col("n_hits")).as("n_hits"),
              sum(col("n_exact")).as("n_exact"))
            .select(lit(variant).as("variant"), col("n_hits"),
              col("n_exact"),
              expr("n_hits * 1000 div n_exact").as("recall_permille"))
        }.reduce(_ unionByName _)
    },
      // seeded-vs-trained recall@5 against one brute ground truth: the
      // seeded branch replays the q_ann_recall construction; the trained
      // branch swaps in the Lloyd-refined centroids. Set-membership
      // counts + truncating div — integer-exact.
      {
      def branch(cents: String, tag: String): String =
        s"""${tag}asg AS (
           |  SELECT vec_id, cid, qe, nn,
           |    row_number() OVER (PARTITION BY vec_id
           |                       ORDER BY csim DESC, cid) AS crank
           |  FROM (SELECT v.vec_id, c.cid, v.qe, v.nn,
           |          ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} AS csim
           |        FROM nv v CROSS JOIN $cents c)),
           |${tag}idx AS (SELECT vec_id AS neighbor_id, cid AS cluster, qe, nn
           |        FROM ${tag}asg WHERE crank = 1),
           |${tag}pr AS (SELECT vec_id, cid AS cluster, qe, nn
           |           FROM ${tag}asg WHERE crank <= 3),
           |${tag}cd AS (
           |  SELECT a.vec_id, b.neighbor_id,
           |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
           |  FROM ${tag}pr a JOIN ${tag}idx b
           |    ON a.cluster = b.cluster AND a.vec_id <> b.neighbor_id),
           |${tag}ar AS (SELECT vec_id, neighbor_id FROM (
           |         SELECT vec_id, neighbor_id,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY sim DESC, neighbor_id) AS rank
           |         FROM ${tag}cd) WHERE rank <= 5),
           |${tag}h AS (SELECT e.vec_id, count(*) AS n_hits
           |        FROM er e JOIN ${tag}ar a
           |          ON a.vec_id = e.vec_id
           |         AND a.neighbor_id = e.neighbor_id
           |        GROUP BY e.vec_id),
           |${tag}s AS (SELECT CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS n_hits,
           |         CAST(sum(g.n_exact) AS BIGINT) AS n_exact
           |       FROM gt g LEFT JOIN ${tag}h h USING (vec_id))""".stripMargin
      s"""WITH $quantCte,
         |$trainedCentsCtes,
         |bp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |er AS (SELECT vec_id, neighbor_id FROM (
         |         SELECT vec_id, neighbor_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, neighbor_id) AS rank
         |         FROM bp) WHERE rank <= 5),
         |gt AS (SELECT vec_id, count(*) AS n_exact FROM er GROUP BY vec_id),
         |${branch("cents", "sd")},
         |${branch(s"tc${Similarity.IvfTrainSteps}", "tr")}
         |SELECT variant, n_hits, n_exact,
         |  n_hits * 1000 // n_exact AS recall_permille
         |FROM (SELECT 'seeded' AS variant, * FROM sds
         |      UNION ALL SELECT 'trained', * FROM trs)
         |ORDER BY variant""".stripMargin
    }),

    // The full recall MATRIX: nprobe ∈ {1,3,5} × {seeded, trained}
    // against one brute-force ground truth — the table a user consults
    // to decide whether to pay for centroid training vs probing deeper
    // (r17 verdict, What's missing #2). Centroids train ONCE and feed
    // all three trained probes via ProvidedCentroids; the seeded
    // branch re-ranks the same hash-order seeds. Six rows,
    // integer-exact.
    Face("q_ann_trained_recall_sweep", (s, dir) => {
      // ONE checkpoint-pinned quantized base across ground truth,
      // training and both sweeps (r20 session 2 — was four persist
      // pins of the same plan)
      val base = Similarity.quantizedBase(t(s, dir, "embeddings"),
        "vec_id", "embedding")
      val exact = Similarity.bruteForceTopKOnBase(base, k = 5)
        .localCheckpoint(true)
      val trained = Similarity.trainIvfCentroidsOnBase(base)
        .localCheckpoint(true)
      // ONE shared assignment + score pass PER SEEDING for all three
      // depths (r20: Similarity.ivfTopKSweep — was 6 full ivfTopK
      // passes; the oracle always shared its asg chain this way)
      (for {
        (variant, seeding) <- Seq[(String, Similarity.CentroidSeeding)](
          "seeded" -> Similarity.HashSampledCentroids(),
          "trained" -> Similarity.ProvidedCentroids(trained))
        (p, approx) <- Similarity.ivfTopKSweepOnBase(base, k = 5,
          seeding = seeding, probes = Seq(1, 3, 5))
      } yield Similarity.recallAtK(approx, exact)
        .agg(sum(col("n_hits")).as("n_hits"),
          sum(col("n_exact")).as("n_exact"))
        .select(lit(variant).as("variant"), lit(p).as("nprobe"),
          col("n_hits"), col("n_exact"),
          expr("n_hits * 1000 div n_exact").as("recall_permille")))
        .reduce(_ unionByName _)
    },
      // the recall MATRIX: per variant one shared assignment ranking
      // (asg is nprobe-independent), per (variant, nprobe) the prune →
      // candidate → top-5 → hit-count chain, all against one brute
      // ground truth — the q_ann_recall_sweep and q_ann_trained_recall
      // constructions composed
      {
      def asgCtes(cents: String, tag: String): String =
        s"""${tag}asg AS (
           |  SELECT vec_id, cid, qe, nn,
           |    row_number() OVER (PARTITION BY vec_id
           |                       ORDER BY csim DESC, cid) AS crank
           |  FROM (SELECT v.vec_id, c.cid, v.qe, v.nn,
           |          ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} AS csim
           |        FROM nv v CROSS JOIN $cents c)),
           |${tag}idx AS (SELECT vec_id AS neighbor_id, cid AS cluster, qe, nn
           |        FROM ${tag}asg WHERE crank = 1)""".stripMargin
      def probeCtes(tag: String, variant: String, p: Int): String =
        s"""${tag}pr$p AS (SELECT vec_id, cid AS cluster, qe, nn
           |           FROM ${tag}asg WHERE crank <= $p),
           |${tag}cd$p AS (
           |  SELECT a.vec_id, b.neighbor_id,
           |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
           |  FROM ${tag}pr$p a JOIN ${tag}idx b
           |    ON a.cluster = b.cluster AND a.vec_id <> b.neighbor_id),
           |${tag}ar$p AS (SELECT vec_id, neighbor_id FROM (
           |         SELECT vec_id, neighbor_id,
           |           row_number() OVER (PARTITION BY vec_id
           |             ORDER BY sim DESC, neighbor_id) AS rank
           |           FROM ${tag}cd$p) WHERE rank <= 5),
           |${tag}h$p AS (SELECT e.vec_id, count(*) AS n_hits
           |        FROM er e JOIN ${tag}ar$p a
           |          ON a.vec_id = e.vec_id
           |         AND a.neighbor_id = e.neighbor_id
           |        GROUP BY e.vec_id),
           |${tag}s$p AS (SELECT '$variant' AS variant, $p AS nprobe,
           |          CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS n_hits,
           |          CAST(sum(g.n_exact) AS BIGINT) AS n_exact
           |        FROM gt g LEFT JOIN ${tag}h$p h USING (vec_id))""".stripMargin
      val branches = Seq("sd" -> ("seeded", "cents"),
          "tr" -> ("trained", s"tc${Similarity.IvfTrainSteps}"))
      val allCtes = branches.map { case (tag, (variant, cents)) =>
        (asgCtes(cents, tag) +: Seq(1, 3, 5).map(p =>
          probeCtes(tag, variant, p))).mkString(",\n")
      }.mkString(",\n")
      val unions = (for { (tag, _) <- branches; p <- Seq(1, 3, 5) }
        yield s"SELECT * FROM ${tag}s$p").mkString(" UNION ALL ")
      s"""WITH $quantCte,
         |$trainedCentsCtes,
         |bp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
         |er AS (SELECT vec_id, neighbor_id FROM (
         |         SELECT vec_id, neighbor_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, neighbor_id) AS rank
         |         FROM bp) WHERE rank <= 5),
         |gt AS (SELECT vec_id, count(*) AS n_exact FROM er GROUP BY vec_id),
         |$allCtes
         |SELECT variant, nprobe, n_hits, n_exact,
         |  n_hits * 1000 // n_exact AS recall_permille
         |FROM ($unions)
         |ORDER BY variant, nprobe""".stripMargin
    }),

    // Product-quantization ANN: 4-bit sub-codebook codes (a 64-dim
    // vector becomes 32 BITS), asymmetric-distance search via
    // per-query LUTs — the final compression rung after SQ8; integer
    // L2² ranking, hash-exact by construction (hash-order codebooks,
    // exact integer distances, deterministic argmin ties).
    Face("q_ann_pq", (s, dir) => {
      Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64)
    },
      // PQ replay: same hash-order codebooks, same per-(vector,
      // subvector, centroid) exact integer L2² table, same argmin
      // encoding (d2 then cidx), same ADC sum — the adc join keys the
      // query's distance table on the CANDIDATE's code, which is the
      // relational form of the LUT lookup
      (pqOraclePrefix +
      """,
         |r AS (SELECT vec_id, neighbor_id, dist,
         |        CAST(row_number() OVER (PARTITION BY vec_id
         |               ORDER BY dist, neighbor_id) AS INT) AS rank
         |      FROM adc)
         |SELECT vec_id, rank, neighbor_id, dist FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),
      // multi-second ANN search
      minRuns = 3),

    // PQ + exact re-rank — the production composition: the 32-bit-code
    // ADC scan shortlists 50 candidates per query, then ONLY those 50
    // full vectors are touched for the exact integer L2² top-5
    // (recall 0.14 raw ADC -> 0.56 re-ranked on the shipped
    // embeddings; spec-measured).
    Face("q_ann_pq_rerank", (s, dir) => {
      Similarity.pqTopKReranked(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64)
    },
      // PQ shortlist + exact integer L2² re-rank of ONLY the shortlist
      (pqOraclePrefix + s""",
         |short AS (SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, neighbor_id) AS rn FROM adc)
         |  WHERE rn <= ${graft.operators.Similarity.PqShortlist}),
         |rer AS (
         |  SELECT sh.vec_id, sh.neighbor_id,
         |    CAST(a.nn + b.nn - 2*${dotSql("a.qe", "b.qe")} AS BIGINT) AS dist
         |  FROM short sh
         |  JOIN nv a ON a.vec_id = sh.vec_id
         |  JOIN nv b ON b.vec_id = sh.neighbor_id),
         |r AS (SELECT vec_id, neighbor_id, dist,
         |        CAST(row_number() OVER (PARTITION BY vec_id
         |               ORDER BY dist, neighbor_id) AS INT) AS rank
         |      FROM rer)
         |SELECT vec_id, rank, neighbor_id, dist FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),
      // multi-second ANN search
      minRuns = 3),

    // IVF-PQ (the FAISS IVFPQ shape, completing the ANN matrix:
    // flat/SQ8/PQ × flat/IVF): coarse full-precision centroid
    // assignment prunes to nprobe clusters; the fine stage scores
    // only those candidates by 32-bit-code asymmetric distance.
    Face("q_ann_ivf_pq", (s, dir) => {
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64)
    },
      // IVF-PQ: the q_ann_ivf coarse CTEs (cents/asg/idx/probes over
      // the same nv base) restrict the PQ adc pair stream to
      // cluster-local candidates; ranking stays integer ADC L2² asc
      (pqOraclePrefix + s""",
         |${centsSql()},
         |asg AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY csim DESC, cid) AS crank
         |  FROM (SELECT v.vec_id, c.cid,
         |          ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} AS csim
         |        FROM nv v CROSS JOIN cents c)),
         |idx AS (SELECT vec_id AS neighbor_id, cid AS cluster
         |        FROM asg WHERE crank = 1),
         |probes AS (SELECT vec_id, cid AS cluster
         |           FROM asg WHERE crank <= 3),
         |p AS (
         |  SELECT ad.vec_id, ad.neighbor_id, ad.dist
         |  FROM adc ad
         |  JOIN probes pr ON pr.vec_id = ad.vec_id
         |  JOIN idx ix ON ix.neighbor_id = ad.neighbor_id
         |             AND ix.cluster = pr.cluster),
         |r AS (SELECT vec_id, neighbor_id, dist,
         |        CAST(row_number() OVER (PARTITION BY vec_id
         |               ORDER BY dist, neighbor_id) AS INT) AS rank
         |      FROM p)
         |SELECT vec_id, rank, neighbor_id, dist FROM r
         |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),
      // multi-second ANN search
      minRuns = 3),

    // Embedding-cosine near-dup pairs (threshold calibrated to the
    // synthetic embeddings: max off-diagonal sim is ~0.51).
    Face("q_embedding_near_dups", (s, dir) => {
      Similarity.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45)
    },
      s"""WITH $quantCte,
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, sim FROM p
         |WHERE sim >= 0.45 ORDER BY vec_a, vec_b""".stripMargin),

    // IVF-bucketed embedding near-dups — the scale path of
    // q_embedding_near_dups (cluster-local pairs, never all-pairs);
    // the oracle mirrors the same deterministic centroid assignment,
    // so this APPROXIMATE operator is still hash-exact.
    Face("q_embedding_near_dups_ivf", (s, dir) => {
      Similarity.cosineNearDupsIvf(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45)
    },
      // same deterministic IVF assignment CTEs as q_ann_ivf's oracle
      // (fixed-k hash-sampled centroids, nprobe 3), then cluster-local
      // pairs
      s"""WITH $quantCte,
         |${centsSql()},
         |asg AS (
         |  SELECT vec_id, cid, qe, nn,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY csim DESC, cid) AS crank
         |  FROM (SELECT v.vec_id, c.cid, v.qe, v.nn,
         |          ${cosineQSql("v.qe", "c.cqe", "v.nn", "c.cnn")} AS csim
         |        FROM nv v CROSS JOIN cents c)),
         |idx AS (SELECT vec_id AS neighbor_id, cid AS cluster, qe, nn
         |        FROM asg WHERE crank = 1),
         |probes AS (SELECT vec_id, cid AS cluster, qe, nn
         |           FROM asg WHERE crank <= 3),
         |p AS (
         |  SELECT least(a.vec_id, b.neighbor_id) AS vec_a,
         |         greatest(a.vec_id, b.neighbor_id) AS vec_b,
         |         ${cosineQSql("a.qe", "b.qe", "a.nn", "b.nn")} AS sim
         |  FROM probes a JOIN idx b
         |    ON a.cluster = b.cluster AND a.vec_id <> b.neighbor_id)
         |SELECT DISTINCT vec_a, vec_b, sim FROM p
         |WHERE sim >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3),

    // Sparse lexical retrieval: top-5 cosine-similar documents per
    // document through the df-capped posting self-join (all-integer
    // dot/norms — bit-exact cosine).
    Face("q_sparse_cosine_topk", (s, dir) => {
      Indexing.sparseCosineTopK(t(s, dir, "documents"), "doc_id", "text",
          dfMax = 50, k = 5)
    },
      // mirrors Indexing.sparseCosineTopK: df-capped posting self-join,
      // all-integer dot/norms, cosine as dot/(√na·√nb)
      s"""WITH tt AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token AS term, count(*) AS tf FROM tt
         |       WHERE len(token) > 0 GROUP BY doc_id, token),
         |dfr AS (SELECT term FROM (
         |          SELECT term, count(*) AS doc_freq FROM tf GROUP BY term)
         |        WHERE doc_freq BETWEEN 2 AND 50),
         |kept AS (SELECT f.doc_id, f.term, f.tf
         |         FROM tf f JOIN dfr USING (term)),
         |norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM kept
         |          GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                sum(a.tf * b.tf) AS dot
         |         FROM kept a JOIN kept b
         |           ON a.term = b.term AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |sim AS (SELECT doc_a, doc_b,
         |          CAST(dot AS DOUBLE)
         |            / (sqrt(CAST(na.n2 AS DOUBLE))
         |               * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
         |        FROM dots
         |        JOIN norms na ON na.doc_id = doc_a
         |        JOIN norms nb ON nb.doc_id = doc_b),
         |sym AS (SELECT doc_a AS doc_id, doc_b AS nbr_id, cos FROM sim
         |        UNION ALL SELECT doc_b, doc_a, cos FROM sim),
         |r AS (SELECT doc_id, nbr_id, cos,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY cos DESC, nbr_id) AS rank
         |      FROM sym)
         |SELECT doc_id, rank, nbr_id, cos FROM r
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)
  )
}
