package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --work DIR --workload NAME --seed N
  * --seconds S --trace 0|1`, or `--work DIR --selftest`.
  *
  * A run starts one `local[cores]` session, generates the workload's
  * inputs from the seed (three times, checking the copies are
  * byte-identical), builds the reference results, makes the workload's
  * warm-up passes, then runs passes back to back, one client, for
  * `seconds`.
  * Every pass's outputs are checked. The last stdout line is the
  * result JSON: end-to-end metrics with `--trace 0`, per-layer metrics
  * with `--trace 1` (passes alternate untraced and traced, at least
  * three, which gives the tracing overhead). */
object Main {
  private val GenerationRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case Array(k) if k.startsWith("--") => k.drop(2) -> ""
    }.toMap
    val work = new File(opts("work"))
    val code =
      try {
        if (opts.contains("selftest")) SelfTest.run(session(work), work)
        else {
          val name = opts("workload")
          require(Workload.Names.contains(name),
            s"unknown workload $name; one of ${Workload.Names.mkString(", ")}")
          run(name, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1", work)
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Drop whatever the previous pass left cached or checkpointed. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def run(name: String, seed: Long, seconds: Int, traceMode: Boolean,
                  work: File): Int = {
    val spark = session(work)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = Workload(name, spark, seed)
    val root = new File(work, s"inputs/$name-$seed")
    deleteTree(root)
    try {
      val gens = (0 until GenerationRepeats).map { r =>
        val dir = new File(root, s"rep$r")
        Files.createDirectories(dir.toPath)
        val t0 = System.nanoTime()
        w.generate(dir)
        ((System.nanoTime() - t0) / 1e9, Gen.digest(dir))
      }
      if (gens.map(_._2).distinct.size != 1)
        throw new IllegalStateException(s"seed $seed generated different inputs: ${gens.map(_._2)}")
      val genS = Metrics.median(gens.map(_._1))
      val dir = new File(root, "rep0")
      val p0 = System.nanoTime()
      w.prepare()
      log(f"reference results built in ${(System.nanoTime() - p0) / 1e9}%.2f s")

      val trace = new Trace(spark)
      var attempted, failed = 0L
      /** (wall, cpu) of one pass, less the traced-only probes. */
      def pass(): (Double, Double) = {
        sweep(spark)
        val c0 = cpuS()
        val t0 = System.nanoTime()
        val probe0 = trace.probeWallS
        val check =
          try Some(w.pass(dir, trace))
          catch { case NonFatal(e) => log(s"pass threw: $e"); e.printStackTrace(); None }
        val wall = (System.nanoTime() - t0) / 1e9 - (trace.probeWallS - probe0)
        val cpu = cpuS() - c0
        attempted += w.calls.size
        failed += check.flatMap { c =>
          try Some(c().size)
          catch { case NonFatal(e) => log(s"output check threw: $e"); None }
        }.getOrElse(w.calls.size)
        (wall, cpu)
      }

      val warmS = Seq.fill(w.warmupPasses)(pass()._1)
      val setupS = sessionS + genS + warmS.sum
      log(f"setup: session $sessionS%.2f s, generation $genS%.2f s (median of " +
        f"$GenerationRepeats), warm-up ${warmS.map(x => f"$x%.2f").mkString(" + ")} s")

      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
      val start = System.nanoTime()
      while (passes.size < (if (traceMode) 3 else 1) ||
             (System.nanoTime() - start) / 1e9 < seconds) {
        val traced = traceMode && passes.size % 2 == 1
        if (traced) trace.enable() else trace.disable()
        val (wall, cpu) = pass()
        passes += ((wall, cpu, traced))
        log(f"pass ${passes.size}: $wall%.3f s wall, $cpu%.3f s cpu" +
          (if (traced) " (traced)" else ""))
      }
      trace.disable()
      // Spark's ContextCleaner frees shuffle and broadcast state only
      // after a GC has dropped their last reference, asynchronously:
      // give it time, then collect what it released.
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

      val untraced = passes.filterNot(_._3)
      val walls = untraced.map(_._1).toSeq
      val metrics =
        if (!traceMode) {
          val values = Map(
            "setup_s" -> setupS,
            "iter_wall_s.p50" -> Metrics.median(walls),
            "cpu_s.p50" -> Metrics.median(untraced.map(_._2).toSeq),
            "input_rows_per_s.p50" -> Metrics.median(walls.map(w.inputRows / _)),
            "ops_ok_ratio" -> (1.0 - failed.toDouble / attempted),
            "heap_retained_mb" -> heapMb)
          Metrics.EndToEnd.map { case (n, u) => (n, u, values(n)) }
        } else {
          val tracedWall = Metrics.median(passes.filter(_._3).map(_._1).toSeq)
          val overhead = tracedWall / Metrics.median(walls)
          val layers = Metrics.perLayer(trace, w.extra(trace) + ("trace.overhead_ratio" -> overhead))
          writeArtifact(new File(work, s"trace/$name-seed$seed.json"), trace, layers)
          layers
        }
      log(s"ops: $attempted attempted, $failed failed")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": ${Json.metrics(metrics)}}""")
      0
    } finally {
      spark.stop()
      deleteTree(root)
    }
  }

  /** Every span and the per-layer summary, for reading a traced run
    * after the fact. */
  private def writeArtifact(f: File, trace: Trace, layers: Seq[(String, String, Double)]): Unit = {
    Files.createDirectories(f.getParentFile.toPath)
    val spans = trace.spans.map(_.toJson).mkString("[\n", ",\n", "\n]")
    Files.writeString(f.toPath,
      s"""{"per_layer": ${Json.metrics(layers)},\n"spans": $spans}\n""")
    log(s"trace written to $f")
  }
}

/** Generator self-test: the same seed gives byte-identical inputs and a
  * different seed different ones. */
object SelfTest {
  def run(spark: SparkSession, work: File): Int = {
    val root = new File(work, "selftest")
    Main.deleteTree(root)
    var ok = true
    def report(what: String, pass: Boolean): Unit = {
      println(s"${if (pass) "PASS" else "FAIL"} $what")
      ok &&= pass
    }
    try {
      for (name <- Workload.Names) {
        def digest(seed: Long, tag: String) = {
          val dir = new File(root, s"$name-$tag")
          Files.createDirectories(dir.toPath)
          Workload(name, spark, seed).generate(dir)
          Gen.digest(dir)
        }
        val (a, b, c) = (digest(1, "a"), digest(1, "b"), digest(2, "c"))
        report(s"$name: seed 1 twice gives identical inputs", a == b)
        report(s"$name: seeds 1 and 2 give different inputs", a != c)
      }
    } finally {
      spark.stop()
      Main.deleteTree(root)
    }
    if (ok) 0 else 1
  }
}
