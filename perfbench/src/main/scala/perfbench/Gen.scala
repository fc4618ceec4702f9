package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed: the same seed gives byte-identical files, which `Main` checks
  * on every run by generating the inputs several times.
  *
  * Graphs are undirected edge lists held as packed longs
  * (`u << 32 | v`, ids below 2^31), in the order they are written. */
object Gen {

  def pack(u: Long, v: Long): Long = (u << 32) | v
  def src(e: Long): Long = e >>> 32
  def dst(e: Long): Long = e & 0xffffffffL

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def shuffle(a: Array[Long], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Shuffle the edge order and write each edge in a random direction. */
  private def scramble(edges: Array[Long], r: SplittableRandom): Array[Long] = {
    shuffle(edges, r)
    edges.map(e => if (r.nextBoolean()) e else pack(dst(e), src(e)))
  }

  final case class Graph(edges: Array[Long], source: Long)

  /** The reference's mediumG size (77,360 vertices, 905,468 edges): a
    * uniform random graph on all but 360 vertices, which form 120
    * unreachable triangles. Source is vertex 0. */
  def wide(seed: Long): Graph = {
    val n = 77360
    val m = 905468
    val islandTriangles = 120
    val main = n - 3 * islandTriangles
    val r = rng(seed, 1)
    val seen = new mutable.HashSet[Long]()
    seen.sizeHint(m)
    val out = new mutable.ArrayBuilder.ofLong
    while (seen.size < m - 3 * islandTriangles) {
      val u = r.nextInt(main).toLong
      val v = r.nextInt(main).toLong
      if (u != v && seen.add(pack(math.min(u, v), math.max(u, v))))
        out += pack(u, v)
    }
    // unreachable triangles on the remaining ids
    for (t <- 0 until islandTriangles) {
      val a = main + 3L * t
      out ++= Seq(pack(a, a + 1), pack(a + 1, a + 2), pack(a, a + 2))
    }
    Graph(scramble(out.result(), r), 0L)
  }

  /** Whitespace edge-list text, the reference's input format. */
  def writeEdgeList(g: Graph, file: File): Unit = {
    val w = new BufferedWriter(new FileWriter(file), 1 << 20)
    try g.edges.foreach { e => w.write(s"${src(e)} ${dst(e)}\n") }
    finally w.close()
  }

  /** Parquet files per generated table. */
  val Parts = 4

  // ---- corpus ----------------------------------------------------------

  /** Head of the vocabulary: English stopwords, so the Zipf head makes
    * the generated text read as English to the language filter. */
  private val Stopwords = Seq("the", "of", "and", "to", "a", "in", "is",
    "that", "for", "it", "was", "on", "with", "as", "by", "at", "from",
    "this", "be", "are")
  private val VocabSize = 8000

  final case class Corpus(docs: Array[String], embeddings: Array[Array[Float]],
                          plantedPairs: Seq[(Long, Long)])

  /** `n` documents of Zipf-distributed tokens (s = 1.1) where every 10th
    * document is a copy of the one before it with 5% of its tokens
    * replaced; plus `n` seeded 64-dimensional Gaussian embeddings. Doc
    * and vector ids are the array indices. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 4)
    val vocab = Stopwords ++ (Stopwords.size until VocabSize).map(k => s"w$k")
    val cdf = {
      val w = (1 to VocabSize).map(k => math.pow(k.toDouble, -1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def token(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
    }
    val docs = new Array[Array[String]](n)
    for (i <- 0 until n) {
      docs(i) =
        if (i % 10 == 9) {
          val copy = docs(i - 1).clone()
          val edits = math.max(1, math.round(copy.length * 0.05).toInt)
          for (_ <- 0 until edits) copy(r.nextInt(copy.length)) = token()
          copy
        } else Array.fill(40 + r.nextInt(81))(token())
    }
    val emb = Array.fill(n)(Array.fill(64)(r.nextGaussian().toFloat))
    val planted = (9 until n by 10).map(i => ((i - 1).toLong, i.toLong))
    Corpus(docs.map(_.mkString(" ")), emb, planted)
  }

  /** `documents/` (doc_id, text, lang) and `embeddings/` (vec_id,
    * embedding) parquet under `dir`. */
  def writeCorpus(spark: SparkSession, c: Corpus, dir: File): Unit = {
    val sc = spark.sparkContext
    val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false), StructField("lang", StringType, false)))
    spark.createDataFrame(sc.parallelize(
        c.docs.toSeq.zipWithIndex.map { case (t, i) => Row(i.toLong, t, "en") }, Parts),
        docSchema)
      .write.parquet(new File(dir, "documents").getPath)
    val embSchema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    spark.createDataFrame(sc.parallelize(
        c.embeddings.toSeq.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, Parts),
        embSchema)
      .write.parquet(new File(dir, "embeddings").getPath)
  }

  /** SHA-256 over every data file under `dir`, in path order (Spark's
    * part-file names carry a random job id, so only the part number of
    * a name takes part). */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val data = files(dir).filterNot { f =>
      f.getName.startsWith(".") || f.getName.startsWith("_")
    }
    def key(f: File) = {
      val rel = dir.toPath.relativize(f.toPath).toString
      rel.replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
    }
    data.sortBy(key).foreach { f =>
      md.update(key(f).getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
