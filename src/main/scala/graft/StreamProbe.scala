package graft
import org.apache.spark.sql.streaming.StreamingQueryListener
/** Throwaway streaming-telemetry harness (not registered, not
  * shipped): runs ONE query with a StreamingQueryListener that prints
  * each micro-batch's durationMs breakdown (triggerExecution,
  * queryPlanning, walCommit, commitOffsets, getBatch, addBatch,
  * latestOffset) plus state-operator commit times — the attribution
  * step for the streaming fixed-floor work (VERDICT r20 item 2). */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Harness.session("32")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[stream] started ${e.name} at ${System.nanoTime() / 1000000}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.map { case (k, v) => s"$k=$v" }
          .toSeq.sorted.mkString(" ")
        println(s"[stream] ${p.name} batch=${p.batchId} rows=${p.numInputRows} $dur")
        p.stateOperators.foreach { so =>
          println(s"[stream]   state ${so.operatorName} commit=${so.commitTimeMs}ms " +
            s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}")
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[stream] terminated at ${System.nanoTime() / 1000000}")
    })
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[stream] $name run$i total ${(System.nanoTime() - t0) / 1e9}%.2f")
      graft.operators.CachePinning.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
