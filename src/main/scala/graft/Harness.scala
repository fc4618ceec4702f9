package graft

import org.apache.spark.sql.SparkSession

/** The session every main (Bench, Verify, IsoBench, JobProbe, ExecProbe,
  * PlanSnap, StreamProbe, BfsApp, CrossoverSweep) runs its queries on. */
object Harness {

  /** `local[cpus]` with as many shuffle partitions, no UI and WARN
    * logging. Event-time queries cast TIMESTAMP_NTZ parquet via the
    * session time zone, pinned to UTC so every harness plans them
    * alike; legacy TIMESTAMP(NANOS) parquet reads as Long. `extra`
    * confs apply on top. */
  def session(cpus: String, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
