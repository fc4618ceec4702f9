package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHashSigExpr, ShingleHashesExpr}
import graft.operators._
import graft.sources.EdgeListSource

/** One benchmark workload: seeded inputs, the pipeline of graft calls
  * one iteration makes, and the checks on their outputs. */
abstract class Workload(val spark: SparkSession, val seed: Long) {

  /** Layer calls one pass makes; each counts once in the attempted ops. */
  def calls: Seq[String]

  /** Input rows (edges or documents) one pass reads. */
  def inputRows: Long

  /** Generate the inputs in memory from the seed and write them to `dir`. */
  def generate(dir: File): Unit

  /** Build the in-memory reference results the checks compare against. */
  def prepare(): Unit

  /** One timed pass over the inputs in `dir`. Returns the output check,
    * which runs untimed and yields the calls whose output was wrong. */
  def pass(dir: File, t: Trace): () => Seq[String]

  /** Untimed passes before the timed ones. */
  def warmupPasses: Int = 1

  /** Per-layer figures the workload measures itself. */
  def extra(t: Trace): Map[String, Double] = Map.empty

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Collects failed calls, logging each failed check. */
  protected final class Checks {
    val failed = mutable.LinkedHashSet.empty[String]
    def apply(call: String, ok: Boolean, what: => String): Unit =
      if (!ok) {
        failed += call
        System.err.println(s"[perfbench] CHECK FAILED $call: $what")
      }
  }
}

object Workload {
  val Names = Seq("bfs_wide", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "bfs_wide" => new BfsWide(spark, seed)
    case "corpus_dedup" => new CorpusDedup(spark, seed, docs = 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; one of ${Names.mkString(", ")}")
  }
}

/** The paper's pipeline on a mediumG-sized random graph: edge-list text
  * -> symmetrize -> BFS with paths -> full vertex report. */
final class BfsWide(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  private var g: Gen.Graph = _
  private var oracle: Map[Long, Long] = Map.empty
  private var vertices: Set[Long] = Set.empty
  private var edgeSet: Oracles.EdgeSet = _
  private var serialWallS = 0.0
  private var rounds = 0L

  val calls = Seq("bfs.run", "bfs.report")
  def inputRows: Long = g.edges.length.toLong

  def generate(dir: File): Unit = {
    g = Gen.wide(seed)
    Gen.writeEdgeList(g, new File(dir, "edges.txt"))
  }

  def prepare(): Unit = {
    val sym = Oracles.symmetric(g.edges)
    val t0 = System.nanoTime()
    val serial = SerialBfs.run(sym, g.source)
    serialWallS = (System.nanoTime() - t0) / 1e9
    oracle = serial.view.mapValues(_._1).toMap
    vertices = Oracles.vertices(g.edges)
    edgeSet = new Oracles.EdgeSet(g.edges)
  }

  def pass(dir: File, t: Trace): () => Seq[String] = {
    val path = new File(dir, "edges.txt").getPath
    def edges = GraphOps.symmetrize(EdgeListSource.load(spark, path))
    t.probe("sources.edge_list") { noop(edges) }
    val reached = t.span("bfs.run") {
      Bfs.run(edges, g.source, Bfs.Config(withPaths = true))
    }
    val rows = t.span("bfs.report") { Bfs.withUnreachable(reached, edges).collect() }
    () => check(rows)
  }

  private def check(rows: Array[Row]): Seq[String] = {
    val c = new Checks
    val byId = rows.map(r => r.getAs[Long]("id") -> r).toMap
    c("bfs.report", rows.length == vertices.size && byId.keySet == vertices,
      s"${rows.length} rows for ${vertices.size} vertices")
    val unreachable = rows.count(_.isNullAt(rows.head.fieldIndex("dist")))
    c("bfs.report", unreachable == vertices.size - oracle.size,
      s"$unreachable unreachable, expected ${vertices.size - oracle.size}")
    var maxDist = 0L
    var badDist, badColor, badPath = 0
    for ((v, r) <- byId) {
      val dist = Option(r.getAs[java.lang.Long]("dist")).map(_.longValue)
      val color = r.getAs[String]("color")
      oracle.get(v) match {
        case Some(d) =>
          maxDist = math.max(maxDist, d)
          if (!dist.contains(d)) badDist += 1
          if (color != "BLACK") badColor += 1
          val p = r.getAs[scala.collection.Seq[Long]]("path")
          val ok = p != null && p.length == d + 1 && p.head == g.source &&
            p.last == v && p.iterator.sliding(2).forall {
              case Seq(a, b) => edgeSet.contains(a, b)
              case _ => true
            }
          if (!ok) badPath += 1
        case None =>
          if (dist.nonEmpty) badDist += 1
          if (color != "WHITE") badColor += 1
      }
    }
    c("bfs.run", badDist == 0, s"$badDist vertices with a wrong distance")
    c("bfs.report", badColor == 0, s"$badColor vertices with a wrong color")
    c("bfs.run", badPath == 0, s"$badPath vertices with an invalid path")
    rounds = maxDist + 1
    c.failed.toSeq
  }

  override def extra(t: Trace): Map[String, Double] = {
    val runs = t.named("bfs.run")
    // Bfs ends each round with a count of the new frontier
    val roundWalls = runs.flatMap(_.roundWallsS("count"))
    val runWall = Metrics.median(runs.map(_.wallS))
    Map(
      "sources.edge_list.rows" -> inputRows.toDouble,
      "bfs.run.rounds" -> rounds.toDouble,
      "bfs.run.jobs_per_round" ->
        (if (rounds > 0) Metrics.mean(runs.map(_.jobs.toDouble)) / rounds else 0.0),
      "bfs.run.round_wall_s.p50" -> Metrics.median(roundWalls),
      "bfs.run.round_wall_s.max" -> (if (roundWalls.isEmpty) 0.0 else roundWalls.max),
      "serial.bfs.wall_s" -> serialWallS,
      "bfs.speedup_vs_serial" -> (if (runWall > 0) serialWallS / runWall else 0.0))
  }
}

/** Corpus dedup and similarity search, each call followed by its
  * operator family's cache release. */
final class CorpusDedup(spark: SparkSession, seed: Long, docs: Int)
    extends Workload(spark, seed) {
  private var corpus: Gen.Corpus = _
  private val leakedRdds = mutable.ArrayBuffer.empty[Double]
  private val leakedMb = mutable.ArrayBuffer.empty[Double]
  private val K = 5
  private var nearDups: Set[(Long, Long)] = Set.empty
  private var nearDupCluster: Map[Long, Long] = Map.empty
  private var recall = 0.0

  val calls: Seq[String] = Metrics.CorpusCalls.map(c => s"corpus.$c")
  def inputRows: Long = docs.toLong

  // Its many small plans keep the JIT busy into the second pass (pass
  // CPU halves over the first few passes), which made the first pass
  // after a single warm-up the noisiest figure of the benchmark.
  override def warmupPasses: Int = 2

  def generate(dir: File): Unit = {
    corpus = Gen.corpus(seed, docs)
    Gen.writeCorpus(spark, corpus, dir)
  }

  /** The exact output `Dedup.lshNearDups` specifies, built in memory from
    * graft's own per-row shingle and MinHash functions: pairs sharing a
    * band of their signatures whose shingle-set Jaccard is at least 0.5;
    * and the near-duplicate clusters, keyed by their smallest doc id. */
  def prepare(): Unit = {
    val hs = corpus.docs.map(t => ShingleHashesExpr.compute(UTF8String.fromString(t), 3))
    val sig = hs.map(h => MinHashSigExpr.compute(h).toLongArray())
    val sets = hs.map(_.toLongArray().toSet)
    val bands = for {
      j <- 0 until Dedup.numBands
      (_, members) <- sig.indices.groupBy(d =>
        (sig(d)(j * Dedup.BandRows), sig(d)(j * Dedup.BandRows + 1)))
      a <- members; b <- members if a < b
    } yield (a, b)
    nearDups = bands.distinct.filter { case (a, b) =>
      val common = (sets(a) intersect sets(b)).size
      common.toDouble / (hs(a).numElements() + hs(b).numElements() - common) >= 0.5
    }.map { case (a, b) => (a.toLong, b.toLong) }.toSet
    val parent = Array.tabulate(docs)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- nearDups) {
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nearDupCluster = (0 until docs).map(d => d.toLong -> find(d).toLong).toMap
  }

  /** Persistent RDDs and their stored bytes. */
  private def stored(): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def pass(dir: File, t: Trace): () => Seq[String] = {
    val documents = spark.read.parquet(new File(dir, "documents").getPath)
    val embeddings = spark.read.parquet(new File(dir, "embeddings").getPath)
    t.probe("sources.parquet") { noop(documents); noop(embeddings) }
    val hashes = ShingleHashesExpr.shingle_hashes(col("text"), 3)
    t.probe("functions.shingle_hashes") { noop(documents.select(hashes)) }
    t.probe("functions.minhash") { noop(documents.select(MinHashSigExpr.minhash_sig(hashes))) }
    t.probe("functions.simhash") { noop(documents.select(Dedup.simhash(col("text")))) }
    t.probe("functions.quantize") {
      noop(embeddings.select(Similarity.quantize(col("embedding"))))
    }
    var rdds, bytes = 0L
    def released[T](release: => Unit)(call: => T): T = {
      val (r0, b0) = stored()
      val out = call
      t.span("pins.release") { release }
      val (r1, b1) = stored()
      rdds += r1 - r0
      bytes += b1 - b0
      out
    }
    val lsh = released(Dedup.releaseCaches(blocking = true)) {
      t.span("corpus.lsh") { Dedup.lshNearDups(documents, "doc_id", "text").collect() }
    }
    val clusters = released(Dedup.releaseCaches(blocking = true)) {
      t.span("corpus.clusters") { Dedup.nearDupClusters(documents, "doc_id", "text").collect() }
    }
    val kept = released(CorpusOps.releaseCaches(blocking = true)) {
      t.span("corpus.prep") {
        CorpusOps.corpusPrepKept(documents, "doc_id", "text", "lang").collect()
      }
    }
    val topk = released(Similarity.releaseCaches(blocking = true)) {
      t.span("corpus.ivf") { Similarity.ivfTopK(embeddings, "vec_id", "embedding", k = K).collect() }
    }
    leakedRdds += rdds.toDouble
    leakedMb += bytes / (1024.0 * 1024.0)
    () => check(lsh, clusters, kept, topk)
  }

  private def check(lsh: Array[Row], clusters: Array[Row], kept: Array[Row],
                    topk: Array[Row]): Seq[String] = {
    val c = new Checks
    val found = lsh.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    c("corpus.lsh", found == nearDups,
      s"${found.size} pairs, expected ${nearDups.size} (${(found -- nearDups).size} extra)")
    recall = corpus.plantedPairs.count(found).toDouble / corpus.plantedPairs.size
    val cluster = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    c("corpus.clusters", clusters.length == docs && cluster == nearDupCluster,
      s"${clusters.length} rows for $docs docs, " +
        s"${cluster.count { case (d, k) => !nearDupCluster.get(d).contains(k) }} in the wrong cluster")
    val keptIds = kept.map(_.getAs[Long]("doc_id"))
    val keptPerCluster = keptIds.groupBy(nearDupCluster.getOrElse(_, -1L)).values.map(_.length)
    c("corpus.prep", keptIds.length == keptIds.distinct.length &&
      keptIds.forall(id => id >= 0 && id < docs) && keptPerCluster.forall(_ == 1),
      s"${keptIds.length} kept, ${keptPerCluster.count(_ > 1)} near-dup clusters kept twice")
    val perQuery = topk.groupBy(_.getAs[Long]("vec_id"))
    c("corpus.ivf", perQuery.size == docs && perQuery.values.forall { rs =>
        rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to K)
      }, s"${perQuery.size} queries answered of $docs, " +
        s"${perQuery.values.count(_.length != K)} without exactly $K rows")
    c.failed.toSeq
  }

  override def extra(t: Trace): Map[String, Double] = Map(
    "sources.parquet.rows" -> 2.0 * docs,
    "functions.shingle_hashes.rows" -> docs.toDouble,
    "functions.minhash.rows" -> docs.toDouble,
    "functions.simhash.rows" -> docs.toDouble,
    "functions.quantize.rows" -> docs.toDouble,
    "pins.release.leaked_rdds" -> Metrics.median(leakedRdds.toSeq),
    "pins.release.leaked_mb" -> Metrics.median(leakedMb.toSeq),
    "corpus.lsh.planted_recall" -> recall)
}
