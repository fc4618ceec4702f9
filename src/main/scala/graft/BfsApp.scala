package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Bfs, GraphOps, MetricsSink}
import graft.sources.EdgeListSource

/** The reference's flagship CLI, reproduced end-to-end
  * (`python BFS_map_reduce.py -p <dataset> -w <workers>` —
  * `BFS_map_reduce.py:95-166` in Riachi02/BFS-MapReduce): read a
  * whitespace edge-list text file, run single-source BFS from vertex 0
  * (the reference hardcodes source 0; `-s` overrides here), and append
  * a `(Dataset, n_Workers, Tempo)` row to `results.csv` exactly like
  * the reference's metrics sink. Like the reference, the per-vertex
  * results are computed but only the timing is surfaced by default
  * (`BFS_map_reduce.py:166` prints the time, never the vertices) —
  * pass `-o <dir>` to materialize the full distance/path/color report
  * (unreachable vertices surface as WHITE with null dist; reference
  * hazard H4 fixed) as parquet.
  *
  * Usage:
  *   runMain graft.BfsApp -p <edge-list path> [-w <workers>]
  *     [-s <source>] [-o <output parquet dir>] [-r <results.csv path>]
  *
  * Timing covers the whole run including ingest, matching the
  * reference's `Tempo` definition (`BFS_map_reduce.py:101,152`).
  */
object BfsApp {

  private val Usage =
    "usage: BfsApp -p <edge-list path> [-w <workers>] [-s <source>] " +
      "[-o <output parquet dir>] [-r <results.csv path>]"

  private val Aliases = Map("-p" -> "path", "--path" -> "path",
    "-w" -> "workers", "--workers" -> "workers",
    "-s" -> "source", "--source" -> "source",
    "-o" -> "output", "--output" -> "output",
    "-r" -> "results", "--results" -> "results")

  /** Strict flag/value pairing: unknown tokens and dangling flags are
    * errors, not silently skipped (a positional `sliding(2,2)` would
    * shift the frame and quietly drop later flags). */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String],
             acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case flag :: value :: tail if Aliases.contains(flag) =>
        loop(tail, acc + (Aliases(flag) -> value))
      case flag :: Nil if Aliases.contains(flag) =>
        throw new IllegalArgumentException(s"flag $flag needs a value\n$Usage")
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument $other\n$Usage")
    }
    loop(args.toList, Map.empty)
  }

  private def parsedLong(opts: Map[String, String], key: String,
                         default: Long): Long =
    opts.get(key).map { v =>
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be a number, got $v")
      }
    }.getOrElse(default)

  /** Whether `source` is a vertex of the SYMMETRIZED edge table: there
    * every endpoint appears as a `src`, so a filtered scan answers it —
    * no `vertices` distinct, no shuffle. */
  private[graft] def hasSource(edges: DataFrame, source: Long): Boolean =
    !edges.filter(col("src") === source).isEmpty

  def main(args: Array[String]): Unit = {
    val opts =
      try parseArgs(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
      }
    val path = opts.getOrElse("path",
      { System.err.println(s"missing -p\n$Usage"); sys.exit(2) })
    val workers = parsedLong(opts, "workers", 4L).toInt
    val source = parsedLong(opts, "source", 0L)
    val results = opts.getOrElse("results", "results.csv")
    require(workers > 0, s"workers must be positive, got $workers")

    val spark = Harness.session(workers.toString)

    val t0 = System.nanoTime()
    val edges = GraphOps.symmetrize(EdgeListSource.load(spark, path))
    // a seed outside the graph would silently vanish from the
    // vertices(edges)-driven report — fail like argparse would
    if (!hasSource(edges, source)) {
      System.err.println(s"source vertex $source does not appear in $path")
      sys.exit(2)
    }
    val reached = Bfs.run(edges, source, Bfs.Config(withPaths = true))
    val full = Bfs.withUnreachable(reached, edges).persist()
    val n = full.count()
    opts.get("output").foreach(dir => full.write.mode("overwrite").parquet(dir))
    val seconds = (System.nanoTime() - t0) / 1e9
    full.unpersist(false)

    MetricsSink.append(results, path, workers, seconds)
    println(f"$n vertices, source $source, $seconds%.2f s " +
      s"(metrics appended to $results)")
    spark.stop()
  }
}
