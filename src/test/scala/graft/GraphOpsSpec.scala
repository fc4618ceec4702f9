package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps
import graft.sources.EdgeListSource
import java.nio.file.Files

class GraphOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("symmetrize doubles edges, adjacency collects sorted neighbours") {
    val e = Seq((0L, 1L), (0L, 2L), (2L, 1L)).toDF("src", "dst")
    val sym = GraphOps.symmetrize(e)
    assert(sym.count() == 6)
    val adj = GraphOps.adjacency(sym).as[(Long, Seq[Long])].collect().toMap
    assert(adj == Map(0L -> Seq(1L, 2L), 1L -> Seq(0L, 2L),
                      2L -> Seq(0L, 1L)))
  }

  test("dedupEdges drops duplicates and self-loops (hazard H2)") {
    val e = Seq((0L, 1L), (0L, 1L), (2L, 2L), (1L, 0L)).toDF("src", "dst")
    val d = GraphOps.dedupEdges(e).as[(Long, Long)].collect().toSet
    assert(d == Set((0L, 1L), (1L, 0L)))
  }

  test("degrees and vertices") {
    val sym = GraphOps.symmetrize(Seq((0L, 1L), (0L, 2L)).toDF("src", "dst"))
    val deg = GraphOps.degrees(sym).as[(Long, Long)].collect().toMap
    assert(deg == Map(0L -> 2L, 1L -> 1L, 2L -> 1L))
    assert(GraphOps.vertices(sym).count() == 3)
  }

  test("triangleCount: exact counts; robust to direction, dupes, self-loops") {
    // K4 on {0,1,2,3} = 4 triangles, plus a pendant edge (4,5) and
    // noise: reversed duplicates, a multi-edge, a self-loop
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val noisy = k4 ++ Seq((1L, 0L), (2L, 0L), (3L, 3L), (4L, 5L))
    val out = GraphOps.triangleCount(noisy.toDF("src", "dst")).collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == (6L, 7L, 4L))
    // a triangle-free (bipartite) graph counts zero
    val bip = Seq((0L, 10L), (0L, 11L), (1L, 10L), (1L, 11L))
      .toDF("src", "dst")
    assert(GraphOps.triangleCount(bip).collect()(0).getLong(2) == 0L)
  }

  test("edge-list source parses reference format, tolerates mess") {
    val f = Files.createTempFile("edges", ".txt")
    Files.writeString(f,
      "0 5\n4 3\n\n  7   8  \nnot an edge\n12\n9\t11\n")
    val e = EdgeListSource.load(spark, f.toString)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((0L, 5L), (4L, 3L), (7L, 8L), (9L, 11L)))
    Files.delete(f)
  }

  test("vertices keeps dst-only vertices of a directed table") {
    // 3 and 5 appear only as dst: a distinct over src alone loses them
    val e = Seq((1L, 2L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    val vs = GraphOps.vertices(e).as[Long].collect()
    assert(vs.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("clusteringCoefficients: triangle+pendant and K4; agrees with " +
       "triangleCount") {
    // triangle {1,2,3} + pendant edge (3,4)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.clusteringCoefficients(g)
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3), (4L, 1L, 0L, 0.0)))
    // K4: every vertex closes all 3 of its wedges
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b))
      .toDF("src", "dst")
    val k4got = GraphOps.clusteringCoefficients(k4)
      .as[(Long, Long, Long, Double)].collect()
    assert(k4got.forall { case (_, d, t, c) => d == 3 && t == 3 && c == 1.0 })
    // per-vertex credits sum to 3x the global count
    val tot = GraphOps.triangleCount(k4).collect()(0).getLong(2)
    assert(k4got.map(_._3).sum == 3 * tot)
  }

}
