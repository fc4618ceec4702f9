package perfbench

/** In-memory reference results the benchmark checks the program's
  * outputs against. All take the generated undirected edge list. */
object Oracles {
  import Gen.{pack, src, dst}

  /** Both directions of every edge, as the `(src, dst)` pairs the
    * program sees after `GraphOps.symmetrize`. */
  def symmetric(edges: Array[Long]): Seq[(Long, Long)] =
    edges.toSeq.flatMap(e => Seq((src(e), dst(e)), (dst(e), src(e))))

  /** Sorted packed directed edges (both directions) for adjacency tests. */
  final class EdgeSet(edges: Array[Long]) {
    private val sorted = {
      val a = edges.flatMap(e => Array(e, pack(dst(e), src(e))))
      java.util.Arrays.sort(a)
      a
    }
    def contains(u: Long, v: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, pack(u, v)) >= 0
  }

  def vertices(edges: Array[Long]): Set[Long] =
    edges.iterator.flatMap(e => Iterator(src(e), dst(e))).toSet
}
