package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scc
import graft.sources.SyntheticGraphs

class SccSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Serial Tarjan (explicit stack — no JVM recursion limit), mapped
    * to the engine's comp convention: comp = max id of the SCC. */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    var counter = 0
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (root <- verts if !index.contains(root)) {
      // explicit DFS stack of (vertex, next-child cursor)
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      while (work.nonEmpty) {
        val (v, ci) = work.last
        val kids = adj.getOrElse(v, Seq.empty)
        if (ci < kids.size) {
          work(work.size - 1) = (v, ci + 1)
          val w = kids(ci)
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack += w
            work += ((w, 0))
          } else if (onStack(w)) {
            low(v) = math.min(low(v), index(w))
          }
        } else {
          work.remove(work.size - 1)
          if (work.nonEmpty) {
            val p = work.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var done = false
            while (!done) {
              val w = stack.remove(stack.size - 1)
              onStack -= w
              members += w
              done = w == v
            }
            val m = members.max
            members.foreach(w => comp(w) = m)
          }
        }
      }
    }
    comp.toMap
  }

  private def engine(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.run(edges.toDF("src", "dst")).as[(Long, Long)].collect().toMap

  test("matches serial Tarjan on a pseudo-random digraph (mixed " +
       "cyclic and trivial SCCs)") {
    val edges = (for (i <- 0L until 60L) yield Seq(
        (i, (i * 7 + 3) % 60),
        (i, (i * 13 + 11) % 60)))
      .flatten.filter { case (a, b) => a != b && (a + b) % 5 != 0 }
    assert(engine(edges) == tarjan(edges))
  }

  test("matches serial Tarjan on the face fixture (closed-form check " +
       "rides the oracle; this pins the generator against Tarjan)") {
    val edges = SyntheticGraphs.sccFixtureEdges
    val got = engine(edges)
    assert(got == tarjan(edges))
    // and the closed form the oracle uses
    for ((v, c) <- got) {
      val want =
        if (v >= 312L) v
        else {
          val o = v % 26
          (v / 26) * 26 + (if (o < 5) 4L else if (o < 11) 10L
                           else if (o < 18) 17L else 25L)
        }
      assert(c == want, s"vertex $v: got $c want $want")
    }
    assert(got.size == 329)
  }

  test("two disjoint cycles plus a one-way bridge stay separate SCCs; " +
       "a back edge merges them") {
    val twoCycles = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L),
      (3L, 10L))
    val sep = engine(twoCycles)
    assert(sep(1L) == 3L && sep(2L) == 3L && sep(3L) == 3L)
    assert(sep(10L) == 11L && sep(11L) == 11L)
    val merged = engine(twoCycles :+ ((11L, 1L)))
    assert(merged.values.toSet == Set(11L), s"merged: $merged")
  }

  test("dangling forward tails sharing a pivot's color class are " +
       "not extracted with the SCC (matches Tarjan on classes that " +
       "mix cyclic cores with tails)") {
    // per class: a cycle (the SCC) plus a tail the pivot reaches but
    // which cannot reach back — the tail must NOT be extracted with
    // the cycle even though it shares the color class
    val edges = Seq[(Long, Long)](
      (20L, 10L), (10L, 12L), (12L, 20L), // cycle, pivot 20
      (20L, 1L), (1L, 2L), (2L, 3L),      // tail inside class 20
      (30L, 31L), (31L, 30L),             // second cycle, pivot 31
      (31L, 4L), (4L, 5L))                // its tail
    assert(engine(edges) == tarjan(edges))
  }

  test("a fixpoint that hits its cap throws, and leaks nothing") {
    // the reversed chain 7 -> 6 -> ... -> 0 carries color 7 one hop a
    // round: the color fixpoint needs 8 rounds, the cap allows 2
    val chain = (0L until 7L).map(i => (i + 1, i))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      Scc.run(chain.toDF("src", "dst"), maxFixpoint = 2)
    }
    assert(ex.getMessage.contains("color fixpoint did not converge"),
      ex.getMessage)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs after the throw: $leaked")
  }

  test("a pure DAG decomposes into all-trivial SCCs") {
    val dag = Seq[(Long, Long)]((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val out = engine(dag)
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }
}
