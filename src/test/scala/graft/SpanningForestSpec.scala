package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions.lit

import graft.operators.{GraphOps, SpanningForest}

class SpanningForestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Serial Kruskal with union-find as oracle — processes edges in the
    * SAME strict total order (weight, src, dst) the engine uses, so
    * the unique forest must match edge-for-edge. */
  def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
      .groupBy(e => (e._1, e._2)).values.map(_.minBy(_._3)).toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val out = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    canon.sortBy(e => (e._3, e._1, e._2)).foreach { case (s, d, w) =>
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { parent(rs) = rd; out += ((s, d, w)) }
    }
    out.toSet
  }

  private def engine(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    SpanningForest.boruvka(edges.toDF("src", "dst", "weight"))
      .as[(Long, Long, Long)].collect().toSet

  test("hand case: square with diagonal — heavy edges excluded") {
    // square 1-2-3-4 with weights 1,2,3,4 and diagonal 1-3 weight 10:
    // MST = the three lightest square edges
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (4L, 1L, 4L),
      (1L, 3L, 10L))
    assert(engine(edges) ==
      Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
  }

  test("hand case: equal weights resolve by the (src, dst) tie-break") {
    // triangle, all weight 5: the order (5,1,2) < (5,1,3) < (5,2,3)
    // keeps the first two
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L))
    assert(engine(edges) == Set((1L, 2L, 5L), (1L, 3L, 5L)))
    assert(engine(edges) == kruskal(edges))
  }

  test("disconnected input yields a forest; parallel edges keep the " +
      "lightest; direction and self-loops are ignored") {
    val edges = Seq(
      (1L, 2L, 7L), (2L, 1L, 3L), // parallel, reversed — keep w=3
      (2L, 3L, 5L), (3L, 3L, 1L), // self-loop dropped
      (10L, 11L, 2L))             // second component
    assert(engine(edges) ==
      Set((1L, 2L, 3L), (2L, 3L, 5L), (10L, 11L, 2L)))
  }

  test("property: matches serial Kruskal on random weighted graphs") {
    val gen: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(2, 30)
      nEdges <- Gen.choose(1, 3 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
        w <- Gen.choose(1L, 20L) // small range: exercises tie-breaks
      } yield (a, b, w))
    } yield edges
    (1 to 6).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { edges =>
        assert(engine(edges) == kruskal(edges), s"edges=$edges")
      }
  }

  test("long chain: forest is the whole chain (log-round contraction " +
      "handles depth 60)") {
    val chain = (0L until 60L).map(i => (i, i + 1, (i % 9) + 1))
    assert(engine(chain) ==
      chain.map(e => (e._1, e._2, e._3)).toSet)
  }

  test("a round cap that is hit throws, and leaks nothing") {
    // a 40-hop chain with unit weights merges into one component in
    // round 1, so the converging empty round 2 lies past a cap of 1
    val chain = GraphOps.symmetrize(
      (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst"))
      .withColumn("weight", lit(1L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      SpanningForest.boruvka(chain, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge in 1 rounds"),
      ex.getMessage)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs after the throw: $leaked")
  }
}
