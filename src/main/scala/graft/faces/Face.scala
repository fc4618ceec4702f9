package graft.faces

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the driver contract: the Spark run over a parquet
  * testdata dir and the DuckDB-equivalent ANSI SQL over the same
  * parquet files. Column names and values are aligned between the two;
  * the driver hash-compares them.
  *
  * @param minRuns the fewest timed runs Bench gives this face (it runs
  *        `max(SPARK_GRAFT_BENCH_RUNS, minRuns)` and keeps the min). A
  *        min of two admits one load spike: if both runs land inside it,
  *        the min is the spike. Multi-second iterative and stateful
  *        faces, and faces that have shown driver-only inflation, take
  *        3, so the per-run spread tells a slow machine from a slow
  *        plan. */
final case class Face(name: String, run: (SparkSession, String) => DataFrame,
                      oracleSql: String, minRuns: Int = 1)
