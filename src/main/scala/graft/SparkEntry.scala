package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.faces.{CorpusFaces, Face, GraphFaces, LayoutFaces, LouvainFaces,
  RelationalFaces, SimilarityFaces, StreamingFaces}

/** Driver contract — see SURVEY.md §7.
  *
  * Every [[graft.faces.Face]] pairs a query run against the driver's
  * parquet testdata dir with its DuckDB oracle SQL over the same parquet
  * files; the faces live beside the other faces of their family under
  * `graft.faces`. [[queries]] and [[oracleSql]] are the name-keyed views
  * the driver, Verify and Bench read.
  */
object SparkEntry {

  /** The reference's committed tinyG dataset (datasets/tinyG.txt),
    * verbatim: 13 vertices, 15 undirected edges. */
  val TinyG: Seq[(Long, Long)] = Seq(
    (0L, 5L), (4L, 3L), (0L, 1L), (9L, 12L), (6L, 4L), (5L, 4L), (0L, 2L),
    (11L, 12L), (9L, 10L), (0L, 6L), (9L, 11L), (5L, 3L), (0L, 7L), (7L, 8L),
    (0L, 9L))

  /** Every face, family by family. */
  val faces: Seq[Face] = {
    val all = GraphFaces.faces ++ LouvainFaces.faces ++ CorpusFaces.faces ++
      SimilarityFaces.faces ++ StreamingFaces.faces ++ RelationalFaces.faces ++
      LayoutFaces.faces
    val dups = all.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dups.isEmpty, s"face names defined twice: ${dups.toSeq.sorted}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    faces.map(f => f.name -> f.run).toMap

  val oracleSql: Map[String, String] =
    faces.map(f => f.name -> f.oracleSql).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_bfs_copurchase")(spark, "/root/testdata/sf0.001")
}
