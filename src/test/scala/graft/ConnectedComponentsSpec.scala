package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{ConnectedComponents, GraphOps}

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Naive in-memory components (union-find) as oracle. */
  def naiveComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("two chains and a triangle: labels are component minima") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L))
    val got = ConnectedComponents.run(GraphOps.symmetrize(edges.toDF("src", "dst")))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("property: matches union-find on random graphs") {
    val gen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(2, 40)
      nEdges <- Gen.choose(1, 2 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield edges
    (1 to 6).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { edges =>
        val expected = naiveComponents(edges ++ edges.map(e => (e._2, e._1)))
        val got = ConnectedComponents.run(
            GraphOps.symmetrize(edges.toDF("src", "dst")))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"edges=$edges")
      }
  }

  test("property: star contraction matches union-find AND run on random graphs") {
    val gen: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(2, 40)
      nEdges <- Gen.choose(1, 2 * n)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield edges
    (10 to 15).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { edges =>
        val expected = naiveComponents(edges ++ edges.map(e => (e._2, e._1)))
        val got = ConnectedComponents.runStarContraction(
            GraphOps.symmetrize(edges.toDF("src", "dst")))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"edges=$edges")
      }
  }

  test("star contraction: long chain converges in O(log n) rounds, not " +
       "O(diameter) — and self-loop-only vertices survive") {
    val chain = (0L until 200L).map(i => (i, i + 1)) :+ ((500L, 500L))
    val got = ConnectedComponents.runStarContraction(
        GraphOps.symmetrize(chain.toDF("src", "dst")),
        maxIterations = 20) // far below the 201 rounds propagation needs
      .as[(Long, Long)].collect().toMap
    assert((0L to 200L).forall(got(_) == 0L))
    assert(got(500L) == 500L)
    assert(got.size == 202)
  }

  test("empty edge table yields empty components (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.run(empty).count() == 0)
  }

  test("long path converges (rounds = diameter, checkpointed)") {
    val chain = (0L until 20L).map(i => (i, i + 1))
    val got = ConnectedComponents.run(GraphOps.symmetrize(chain.toDF("src", "dst")))
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 0L) && got.length == 21)
  }

  test("run throws when the round cap is hit, and leaks nothing") {
    // a 200-vertex chain needs ~200 propagation rounds; Dedup's
    // near-dup clustering falls back to star contraction on exactly
    // this IllegalStateException
    val chain = (0L until 199L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      ConnectedComponents.run(
        GraphOps.symmetrize(chain.toDF("src", "dst")), maxIterations = 20)
    }
    assert(ex.getMessage.contains("did not converge in 20 rounds"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs after the throw: $leaked")
  }
}
