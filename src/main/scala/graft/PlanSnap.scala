package graft
import org.apache.spark.sql.execution.ExplainMode
/** Throwaway plan-capture harness (not registered, not shipped): writes
  * `.explain("formatted")` of each named query to a file — the
  * `plans/r20/<name>_{before,after}.txt` evidence the optimization
  * rounds commit. Usage: PlanSnap <outDir> <suffix> <name>[,name...]
  * [sfDir]. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Harness.session("32")
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val p = s"$outDir/${n}_$suffix.txt"
      val w = new java.io.PrintWriter(p, "UTF-8")
      try w.println(txt) finally w.close()
      System.err.println(s"[plandump] wrote $p")
      // iterative operators materialize loop state while building the
      // frame — release between queries like the other harnesses
      graft.operators.CachePinning.releaseAll(spark, blocking = false)
    }
    spark.stop()
  }
}
