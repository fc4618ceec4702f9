package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bfs, CachePinning, GraphOps, MetricsSink, SerialBfs}
import graft.sources.{EdgeListSource, SyntheticGraphs}

/** Reproduction of the reference's worker-count sweep and its
  * serial-vs-distributed crossover experiment (`BFS_map_reduce.py:97`
  * sweeps `-w`; slides 25-29 chart time vs workers per dataset and
  * conclude the serial BFS won at every tested scale, crossover not
  * found). This main reruns that experiment on the Spark engine:
  *
  *   - datasets: the reference's committed tinyG (13/13) and smallG
  *     (250/1,273), plus the synthesized mediumG at the published
  *     77,360/905,468 scale (the blob the reference benchmarked but
  *     does not ship — [[SyntheticGraphs]]);
  *   - parallelism sweep w ∈ {1, 2, 8, 32}: a fresh `local[w]`
  *     SparkContext per step (the local-mode analog of the reference's
  *     Ray worker count), `spark.sql.shuffle.partitions` = w;
  *   - serial baseline: [[SerialBfs]] on the same edge lists,
  *     recorded as n_Workers = 0.
  *
  * Rows append through [[MetricsSink.append]] — the reference's exact
  * CSV schema (`Dataset,n_Workers,Tempo`, header iff new file). Each
  * (dataset, w) runs `runs` times and every run is one row, as the
  * reference's repeated invocations were. Analysis takes the per-cell
  * min. Results land in BASELINE.md §crossover.
  *
  * Usage: runMain graft.CrossoverSweep [outCsv] [runs] [datasetDir]
  * [onlyDataset] (datasetDir defaults to the reference checkout's
  * datasets/; onlyDataset restricts the sweep to one named dataset so
  * a new cell — largeG_synth, r18 — appends without re-running the
  * committed cells).
  */
object CrossoverSweep {

  /** One serial cell (n_Workers = 0): time [[SerialBfs]] on a
    * symmetrized edge list and append the reference-schema row.
    * Extracted so `CrossoverSweepSpec` can gate the row path in CI. */
  def runSerialCell(out: String, name: String,
                    edges: Seq[(Long, Long)]): Double = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val t0 = System.nanoTime()
    val d = SerialBfs.distances(sym, source = 0L)
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[sweep] $name serial reached=${d.size} $sec%.3fs")
    MetricsSink.append(out, name, nWorkers = 0, seconds = sec)
    sec
  }

  /** One distributed cell: time a full engine BFS (symmetrize → run →
    * count/ecc aggregate) and append the row as n_Workers = w. The
    * caller owns the session (main builds a fresh local[w] one per
    * sweep step; the spec reuses its shared test session). */
  def runDistributedCell(out: String, name: String,
                         edges: org.apache.spark.sql.DataFrame,
                         w: Int): Double = {
    val spark = edges.sparkSession
    val t0 = System.nanoTime()
    val n = Bfs.run(GraphOps.symmetrize(edges), source = 0L)
      .agg(count(lit(1)), max(col("dist"))).collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(
      f"[sweep] $name w=$w reached=${n.getLong(0)} ecc=${n.getLong(1)} $sec%.3fs")
    MetricsSink.append(out, name, nWorkers = w, seconds = sec)
    CachePinning.releaseAll(spark, blocking = true)
    sec
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "bench/crossover_sweep.csv"
    val runs = if (args.length > 1) args(1).toInt else 2
    val dataDir =
      if (args.length > 2) args(2) else "/root/reference/datasets"
    val only = if (args.length > 3) Some(args(3)) else None
    val tiny = s"$dataDir/tinyG.txt"
    val small = s"$dataDir/smallG.txt"
    val (mn, me) = SyntheticGraphs.MediumG
    val (ln, le) = SyntheticGraphs.LargeG
    def keep[A](sets: Seq[(String, A)]): Seq[(String, A)] =
      only.fold(sets)(o => sets.filter(_._1 == o))

    // ---- serial baseline (n_Workers = 0): same edge lists, in-memory
    def fileEdges(path: String): Seq[(Long, Long)] =
      scala.io.Source.fromFile(path).getLines().map(_.trim)
        .filter(_.nonEmpty).flatMap { ln =>
          ln.split("\\s+") match {
            case Array(a, b) => Some((a.toLong, b.toLong))
            case _           => None
          }
        }.toSeq
    // serial mediumG from the generator's OWN closed-form helper —
    // one source of truth for the constants (SyntheticGraphsSpec
    // cross-checks it against an independent replay)
    def mediumEdges(): Seq[(Long, Long)] =
      SyntheticGraphs.referenceScaleEdges(mn, me)
    val serialSets = keep(Seq(
      "tinyG" -> (() => fileEdges(tiny)),
      "smallG" -> (() => fileEdges(small)),
      "mediumG_synth" -> (() => mediumEdges()),
      // slide 23's largest published scale (325,729 / 1,497,134)
      "largeG_synth" ->
        (() => SyntheticGraphs.referenceScaleEdges(ln, le))))
    for ((name, mk) <- serialSets) {
      val edges = mk()
      for (_ <- 1 to math.max(runs, 3)) runSerialCell(out, name, edges)
    }

    // ---- distributed sweep: fresh local[w] context per step
    for (w <- Seq(1, 2, 8, 32)) {
      val spark = Harness.session(w.toString)
      try {
        val sets = keep(Seq(
          "tinyG" -> (() => EdgeListSource.load(spark, tiny)),
          "smallG" -> (() => EdgeListSource.load(spark, small)),
          "mediumG_synth" ->
            (() => SyntheticGraphs.referenceScale(spark, mn, me)),
          "largeG_synth" ->
            (() => SyntheticGraphs.referenceScale(spark, ln, le))))
        for ((name, mk) <- sets; _ <- 1 to runs)
          runDistributedCell(out, name, mk(), w)
      } finally spark.stop()
    }
    System.err.println(s"[sweep] done -> $out")
  }
}
