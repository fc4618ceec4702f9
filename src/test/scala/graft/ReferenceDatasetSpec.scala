package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bfs, GraphOps, SerialBfs}
import graft.sources.EdgeListSource

/** End-to-end runs on the reference's OWN datasets through the real
  * text-ingest path (`EdgeListSource.load` → `symmetrize` → `Bfs.run`),
  * validating against the facts verified in SURVEY.md §0.1 by executing
  * the reference code. Each test reads the reference's file from its
  * `datasets` directory wherever it exists. Otherwise tinyG reads the
  * committed copy `src/test/resources/reference/tinyG.txt` (FIXTURES.md
  * §A), and smallG, of which no copy is committed, is canceled. */
class ReferenceDatasetSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val datasets = "/root/reference/datasets"

  /** The reference's tinyG edges, in file order (algs4 tinyG + `0 7`,
    * `0 9`; the same list as `SparkEntry.TinyG`). */
  private val tinyGEdges: Seq[(Long, Long)] = Seq(
    (0L, 5L), (4L, 3L), (0L, 1L), (9L, 12L), (6L, 4L), (5L, 4L), (0L, 2L),
    (11L, 12L), (9L, 10L), (0L, 6L), (9L, 11L), (5L, 3L), (0L, 7L), (7L, 8L),
    (0L, 9L))

  /** The reference's file if present, else the committed classpath copy. */
  private def tinyGPath: String = {
    val reference = Paths.get(s"$datasets/tinyG.txt")
    if (Files.isRegularFile(reference)) reference.toString
    else {
      val resource = getClass.getResource("/reference/tinyG.txt")
      if (resource == null)
        fail(s"neither $reference nor the test resource reference/tinyG.txt exists")
      Paths.get(resource.toURI).toString
    }
  }

  test("tinyG.txt: 13 vertices, ecc(0)=2, distances match serial baseline") {
    val edges = EdgeListSource.load(spark, tinyGPath)
    val raw = edges.as[(Long, Long)].collect().toSeq
    assert(raw.length == 15)
    assert(raw.toSet == tinyGEdges.toSet) // a drifted copy is another graph
    val got = Bfs.run(GraphOps.symmetrize(edges), 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 13)
    assert(got.values.max == 2) // SURVEY §0.1: converges in 3 MR rounds
    val serial = SerialBfs.distances(raw ++ raw.map(e => (e._2, e._1)), 0L)
    assert(got == serial)
  }

  test("smallG.txt: 250 vertices, max dist 13 from vertex 0, all reached") {
    assume(Files.isRegularFile(Paths.get(s"$datasets/smallG.txt")),
      s"$datasets/smallG.txt is absent; no copy of it is committed")
    val edges = EdgeListSource.load(spark, s"$datasets/smallG.txt")
    val raw = edges.as[(Long, Long)].collect().toSeq
    assert(raw.length == 1273)
    val got = Bfs.run(GraphOps.symmetrize(edges), 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 250)      // connected: every vertex reached
    assert(got.values.max == 13) // SURVEY §0.1: 14 MR rounds = ecc+1
    val serial = SerialBfs.distances(raw ++ raw.map(e => (e._2, e._1)), 0L)
    assert(got == serial)
    // distance histogram is a stable golden signature of the dataset
    val hist = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(hist(0L) == 1 && hist.values.sum == 250)
  }
}
