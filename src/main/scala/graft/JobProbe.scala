package graft
import org.apache.spark.scheduler._
import scala.collection.mutable
/** Throwaway job-level telemetry harness (not registered, not
  * shipped): runs ONE query with a listener that prints per-job task
  * counts, executor run/CPU/GC time — the isolation step for
  * wall-vs-CPU adjudications. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // optional 3rd arg: comma-separated extra confs k=v (A/B probes)
    val extra = if (args.length > 2)
      args(2).split(',').toSeq.map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(
            s"malformed extra-conf token '$kv' (expected key=value)")
        }
      } else Seq.empty
    val spark = Harness.session("32", extra)
    val jobStart = mutable.Map.empty[Int, Long]
    val jobTasks = mutable.Map.empty[Int, Int]
    val jobRun = mutable.Map.empty[Int, Long]
    val jobCpu = mutable.Map.empty[Int, Long]
    val jobGc = mutable.Map.empty[Int, Long]
    val jobShufW = mutable.Map.empty[Int, Long]
    val jobShufR = mutable.Map.empty[Int, Long]
    val stageToJob = mutable.Map.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.getOrElse(e.stageId, -1)
        jobTasks(j) = jobTasks.getOrElse(j, 0) + 1
        val m = e.taskMetrics
        if (m != null) {
          jobRun(j) = jobRun.getOrElse(j, 0L) + m.executorRunTime
          jobCpu(j) = jobCpu.getOrElse(j, 0L) + m.executorCpuTime / 1000000L
          jobGc(j) = jobGc.getOrElse(j, 0L) + m.jvmGCTime
          jobShufW(j) = jobShufW.getOrElse(j, 0L) +
            m.shuffleWriteMetrics.bytesWritten
          jobShufR(j) = jobShufR.getOrElse(j, 0L) +
            m.shuffleReadMetrics.totalBytesRead
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val wall = (e.time - jobStart.getOrElse(e.jobId, e.time)) / 1e3
        System.err.println(f"[job] ${e.jobId}%4d wall=$wall%7.2f " +
          f"tasks=${jobTasks.getOrElse(e.jobId, 0)}%5d " +
          f"run=${jobRun.getOrElse(e.jobId, 0L) / 1e3}%8.2f " +
          f"cpu=${jobCpu.getOrElse(e.jobId, 0L) / 1e3}%8.2f " +
          f"gc=${jobGc.getOrElse(e.jobId, 0L) / 1e3}%6.2f " +
          f"shufW=${jobShufW.getOrElse(e.jobId, 0L) >> 10}%8dK " +
          f"shufR=${jobShufR.getOrElse(e.jobId, 0L) >> 10}%8dK")
      }
    })
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    println(f"[probe] $name total ${(System.nanoTime() - t0) / 1e9}%.2f " +
      f"shufW=${jobShufW.values.sum >> 10}K shufR=${jobShufR.values.sum >> 10}K " +
      f"jobs=${jobStart.size}")
    spark.stop()
  }
}
