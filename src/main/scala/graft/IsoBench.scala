package graft
/** Throwaway isolated-measure harness (not registered, not shipped):
  * times N noop runs of ONE query on a fresh JVM. */
object IsoBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session("32")
    // comma-separated names run in sequence (same JVM) — lets a
    // suite-context interaction be reproduced pairwise
    def cpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    for (n <- name.split(',').toSeq; i <- 1 to runs) {
      val fn = SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val c0 = cpuSec()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[iso] $n run$i ${(System.nanoTime() - t0) / 1e9}%.2f " +
        f"cpu=${cpuSec() - c0}%.1f")
      graft.operators.CachePinning.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
