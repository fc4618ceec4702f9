package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KTruss

class KTrussSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def truss(edges: Seq[(Long, Long)], k: Int,
                    maxRounds: Int = 64): Map[(Long, Long), Long] =
    KTruss.truss(edges.toDF("src", "dst"), k, maxRounds)
      .as[(Long, Long, Long)].collect()
      .map { case (s, d, sup) => ((s, d), sup) }.toMap

  /** Serial support peel to fixed point over canonical edges. */
  private def serialTruss(edges: Seq[(Long, Long)],
                          k: Int): Map[(Long, Long), Long] = {
    def canon(e: Seq[(Long, Long)]) =
      e.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    def sup(es: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
      val set = es.toSet
      es.map { case (a, b) =>
        val nbrs = (x: Long) => es.collect {
          case (`x`, y) => y
          case (y, `x`) => y
        }.toSet
        val common = nbrs(a).intersect(nbrs(b))
          .count(w => set((math.min(a, w), math.max(a, w))) &&
            set((math.min(b, w), math.max(b, w))))
        ((a, b), common.toLong)
      }.toMap
    }
    var es = canon(edges)
    var changed = true
    while (changed) {
      val s = sup(es)
      val next = es.filter(e => s(e) >= k - 2)
      changed = next.size != es.size
      es = next
    }
    sup(es)
  }

  test("K4 keeps its 4-truss; a pendant triangle is peeled with cascade") {
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    // pendant triangle (0,10,11): each of its edges has support 1,
    // below 4-truss's threshold of 2
    val edges = k4 ++ Seq((0L, 10L), (0L, 11L), (10L, 11L))
    val out = truss(edges, k = 4)
    assert(out.keySet == k4.toSet)
    assert(out.values.forall(_ == 2L), s"K4 edges all have support 2: $out")
    // at k=3 (support >= 1) everything triangle-backed survives
    val out3 = truss(edges, k = 3)
    assert(out3.keySet == (k4 ++ Seq((0L, 10L), (0L, 11L), (10L, 11L))).toSet)
  }

  test("triangle strip cascades to empty at k=4") {
    // t1=(1,2,3), t2=(2,3,4): edge (2,3) has support 2, the rest 1.
    // Round 1 keeps only (2,3); round 2 finds its support 0 — empty.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(truss(edges, k = 4).isEmpty)
  }

  test("self-loops, duplicates and symmetrized input canonicalize away") {
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (1L, 2L))
    val out = truss(tri, k = 3)
    assert(out == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L))
  }

  test("matches a serial fixed-point model on a pseudo-random graph") {
    val edges = for {
      a <- 0L until 30L; b <- 0L until 30L
      if a < b && (a * 31 + b * 17) % 5 == 0
    } yield (a, b)
    assert(truss(edges, k = 4) == serialTruss(edges, k = 4))
    assert(truss(edges, k = 5) == serialTruss(edges, k = 5))
  }

  test("exceeding maxRounds throws instead of returning a partial truss") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      truss(edges, k = 4, maxRounds = 1)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs after the throw: $leaked")
  }
}
