package graft.faces

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps}

/** Table reads and SQL fragments used by faces of more than one
  * family. A helper used by one family lives in that family's object. */
object Shared {

  private[faces] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Order/part co-purchase graph from lineitem (FIXTURES.md §B):
    * order node = l_orderkey*2, part node = l_partkey*2+1 (disjoint key
    * spaces), undirected. */
  private[faces] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    GraphOps.symmetrize(
      li.select((col("l_orderkey") * 2).as("src"),
                (col("l_partkey") * 2 + 1).as("dst")))
  }

  /** SQL fragment mirroring [[copurchaseEdges]] for DuckDB oracles. */
  private[faces] def copurchaseEdgesSql: String =
    """edges(src, dst) AS (
      |  SELECT l_orderkey*2, l_partkey*2+1 FROM lineitem
      |  UNION ALL
      |  SELECT l_partkey*2+1, l_orderkey*2 FROM lineitem
      |)""".stripMargin

  /** Two unrolled LP rounds over `edges` (mirrors
    * LabelPropagation.run(rounds = 2): neighbor-majority with
    * min-label tie-break via the argmin row), emitting `l2(id,
    * label)`. Shared by the q_label_prop and q_modularity oracles so
    * the engine and both oracles replay ONE construction. */
  private[faces] def lpTwoRoundsSql: String =
    """c1 AS (SELECT src AS id, dst AS lbl, count(*) AS c
      |       FROM edges GROUP BY 1, 2),
      |l1 AS (SELECT id,
      |         CAST(min(row(-c, lbl)) AS ROW(nc BIGINT, l BIGINT)).l
      |           AS label
      |       FROM c1 GROUP BY id),
      |c2 AS (SELECT e.src AS id, l.label AS lbl, count(*) AS c
      |       FROM edges e JOIN l1 l ON l.id = e.dst GROUP BY 1, 2),
      |l2 AS (SELECT id,
      |         CAST(min(row(-c, lbl)) AS ROW(nc BIGINT, l BIGINT)).l
      |           AS label
      |       FROM c2 GROUP BY id)""".stripMargin

  // DuckDB tokenization mirroring TextAnalysis. coalesce mirrors
  // TextAnalysis.nn: every Spark-side text op treats
  // NULL text as "" — the oracle must tokenize the same way, or a null
  // row (legal in real corpora) diverges cross-engine
  private[faces] val toksSql =
    "string_split_regex(lower(coalesce(text, '')), '\\s+')"

  /** Rolling hash of a string value `v` (mirrors RollingHashExpr). */
  private[faces] def rhSql(v: String): String =
    s"CASE WHEN len($v) = 0 THEN 0 ELSE list_reduce(list_transform(" +
      s"range(1, len($v)+1), j -> CAST(ascii(substr($v, j, 1)) AS BIGINT)), " +
      s"(acc, x) -> (acc*31 + x) % ${Dedup.P}) END"
}
