package perfbench

import Trace.Span

/** Names, units and aggregation of the metrics the benchmark prints. */
object Metrics {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "iter_wall_s.p50" -> "s",
    "cpu_s.p50" -> "s",
    "input_rows_per_s.p50" -> "rows/s",
    "ops_ok_ratio" -> "ratio",
    "heap_retained_mb" -> "MiB")

  private val Mb = 1024.0 * 1024.0

  /** Per-call metrics over a call's span instances: times and bytes are
    * medians across instances, counts are means. */
  private val full: Seq[(String, String, Seq[Span] => Double)] = Seq(
    ("wall_s", "s", ss => median(ss.map(_.wallS))),
    ("jobs", "count", ss => mean(ss.map(_.jobs.toDouble))),
    ("job_wall_s", "s", ss => median(ss.map(_.jobWallS))),
    ("driver_other_s", "s", ss => median(ss.map(s => s.wallS - s.jobWallS))),
    ("plan_s", "s", ss => median(ss.map(_.planMs / 1e3))),
    ("task_cpu_s", "s", ss => median(ss.map(_.taskCpuNs / 1e9))),
    ("gc_s", "s", ss => median(ss.map(_.gcMs / 1e3))),
    ("shuffle_write_mb", "MiB", ss => median(ss.map(_.shuffleWriteB / Mb))),
    ("shuffle_read_mb", "MiB", ss => median(ss.map(_.shuffleReadB / Mb))),
    ("spill_mb", "MiB", ss => median(ss.map(_.spillB / Mb))),
    ("failed_tasks", "count", ss => mean(ss.map(_.failedTasks.toDouble))),
    ("aborted_jobs", "count", ss => mean(ss.map(_.abortedJobs.toDouble))))

  private val coreNames = Set("wall_s", "jobs", "driver_other_s", "task_cpu_s",
    "shuffle_write_mb", "failed_tasks", "aborted_jobs")
  private val core = full.filter(m => coreNames(m._1))

  val CorpusCalls = Seq("lsh", "clusters", "prep", "ivf")
  val FunctionCalls = Seq("shingle_hashes", "minhash", "simhash", "quantize")

  /** Every per-layer metric: (name, unit, value from the trace and the
    * workload's own per-layer figures). A call a workload does not make
    * reads 0. */
  def perLayer(trace: Trace, extra: Map[String, Double]): Seq[(String, String, Double)] = {
    def call(name: String, set: Seq[(String, String, Seq[Span] => Double)]) = {
      val ss = trace.named(name)
      set.map { case (m, u, f) => (s"$name.$m", u, if (ss.isEmpty) 0.0 else f(ss)) }
    }
    def ext(name: String, unit: String) = (name, unit, extra.getOrElse(name, 0.0))
    val rowsPerS = (name: String) => {
      val ss = trace.named(name)
      (s"$name.rows_per_s", "rows/s",
        if (ss.isEmpty) 0.0 else extra.getOrElse(s"$name.rows", 0.0) / median(ss.map(_.wallS)))
    }
    Seq(rowsPerS("sources.edge_list"),
      (s"sources.edge_list.wall_s", "s", median(trace.named("sources.edge_list").map(_.wallS))),
      rowsPerS("sources.parquet"),
      (s"sources.parquet.wall_s", "s", median(trace.named("sources.parquet").map(_.wallS)))) ++
      call("bfs.run", full) ++
      Seq(ext("bfs.run.rounds", "count"), ext("bfs.run.jobs_per_round", "count"),
        ext("bfs.run.round_wall_s.p50", "s"), ext("bfs.run.round_wall_s.max", "s")) ++
      call("bfs.report", core) ++
      Seq(ext("serial.bfs.wall_s", "s"), ext("bfs.speedup_vs_serial", "ratio")) ++
      CorpusCalls.flatMap(c => call(s"corpus.$c", core)) ++
      FunctionCalls.map(c => rowsPerS(s"functions.$c")) ++
      Seq((s"pins.release.wall_s", "s", median(trace.named("pins.release").map(_.wallS))),
        ext("pins.release.leaked_rdds", "count"), ext("pins.release.leaked_mb", "MiB"),
        ext("corpus.lsh.planted_recall", "ratio"),
        ext("trace.overhead_ratio", "ratio"))
  }
}

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(ms: Seq[(String, String, Double)]): String =
    ms.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
}
