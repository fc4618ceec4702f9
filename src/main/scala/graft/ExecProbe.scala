package graft
/** Throwaway executed-plan capture (not registered, not shipped):
  * registers a QueryExecutionListener, builds ONE query (whose eager
  * checkpoints execute at construction), noop-writes it, and dumps
  * every executed plan to a file — the attribution step when a loop's
  * per-round physical plan must be seen (JobProbe shows bytes, not
  * operators). Usage: ExecProbe <name> <outFile> [sfDir]. */
object ExecProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val out = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Harness.session("32")
    val w = new java.io.PrintWriter(out, "UTF-8")
    val lock = new Object
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = lock.synchronized {
          w.println(s"===== action=$fn ${ns / 1000000}ms =====")
          w.println(qe.executedPlan.toString)
          w.flush()
        }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Thread.sleep(2000) // listener bus drain
    lock.synchronized { w.flush(); w.close() }
    spark.stop()
  }
}
