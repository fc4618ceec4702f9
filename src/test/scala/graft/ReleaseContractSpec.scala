package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Gates the r18 release contract: `releaseCheckpointedFrame` accepts
  * ONLY flat checkpoint handles. The hazard it makes impossible: the
  * old deep-sweep unpersisted EVERY LogicalRDD in a frame's analyzed
  * plan, so releasing a frame DERIVED from a live checkpoint freed the
  * PARENT's blocks mid-query (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — hit
  * in RandomWalk during the r17 loop-residency sweep). */
class ReleaseContractSpec extends AnyFunSuite with SparkTestBase {

  test("refuses a frame derived from a checkpoint; parent stays alive") {
    val base = spark.range(0, 10).toDF("id").localCheckpoint(true)
    val derived = base.filter(col("id") > 3)
    val ex = intercept[IllegalArgumentException] {
      GraphOps.releaseCheckpointedFrame(derived)
    }
    assert(ex.getMessage.contains("flat checkpoint"))
    // the refusal left the parent's blocks untouched: both frames
    // still evaluate (the old sweep would have freed base.rdd here)
    assert(derived.count() == 6L)
    assert(base.count() == 10L)
    GraphOps.releaseCheckpointedFrame(base)
  }

  test("refuses a plain persisted (non-checkpoint) frame") {
    val cached = spark.range(0, 5).toDF("id").persist()
    try intercept[IllegalArgumentException] {
      GraphOps.releaseCheckpointedFrame(cached)
    } finally cached.unpersist(true)
  }

  test("releases a flat checkpoint handle's blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ckpt = spark.range(0, 8).toDF("id").localCheckpoint(true)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint should register blocks")
    GraphOps.releaseCheckpointedFrame(ckpt, blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- after) == added, "checkpoint blocks must be freed")
  }

  test("isFlatCheckpoint discriminates handle vs derived vs raw") {
    val ckpt = spark.range(0, 4).toDF("id").localCheckpoint(true)
    assert(GraphOps.isFlatCheckpoint(ckpt))
    assert(!GraphOps.isFlatCheckpoint(ckpt.select(col("id") + 1)))
    assert(!GraphOps.isFlatCheckpoint(spark.range(0, 4).toDF("id")))
    GraphOps.releaseCheckpointedFrame(ckpt)
  }

  /** Ids of the persisted RDDs a frame's plan reads directly: the
    * blocks that must outlive the call that returned it. */
  private def ownBlocks(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
      .toSet.intersect(spark.sparkContext.getPersistentRDDs.keySet)

  test("every BSP loop leaves only its result's own blocks persisted") {
    import spark.implicits._
    // a chain (peels away under k = 2; 7 hops deep) and a triangle
    val edges = GraphOps.symmetrize(
      ((0L until 7L).map(i => (i, i + 1)) ++
        Seq((10L, 11L), (11L, 12L), (12L, 10L))).toDF("src", "dst"))
    val weighted = edges.withColumn("w", lit(1L))
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "Bfs.runMulti" -> (() => Bfs.runMulti(edges, Seq(0L, 10L))),
      "Sssp.run" -> (() => Sssp.run(weighted, 0L)),
      "Sssp.runBounded" -> (() => Sssp.runBounded(weighted, 0L, 3)),
      "ConnectedComponents.run" -> (() => ConnectedComponents.run(edges)),
      "ConnectedComponents.runStarContraction" ->
        (() => ConnectedComponents.runStarContraction(edges)),
      "LabelPropagation.run" -> (() => LabelPropagation.run(edges, 3)),
      "KCore.peel" -> (() => KCore.peel(edges, 2)),
      "KCore.peelBounded" -> (() => KCore.peelBounded(edges, 2, 2)),
      "PageRank.run" -> (() => PageRank.run(edges, 3)),
      "PageRank.personalized" ->
        (() => PageRank.personalized(edges, Seq(0L), 3)),
      "Dag.longestPathLayers" ->
        (() => Dag.longestPathLayers(
          (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst"))),
      "KTruss.truss" -> (() => KTruss.truss(edges, 3)),
      "Scc.run" -> (() => Scc.run(edges)),
      "Centrality.pivotHarmonic" ->
        (() => Centrality.pivotHarmonic(edges, Seq(0L, 10L))),
      "SpanningForest.boruvka" ->
        (() => SpanningForest.boruvka(edges.withColumn("weight", lit(1L)))),
      "Louvain.moveSteps" -> (() => Louvain.moveSteps(edges, 2)),
      "Louvain.moveStepsWeighted" ->
        (() => Louvain.moveStepsWeighted(weighted, 2)),
      "Louvain.twoLevel" -> (() => Louvain.twoLevel(edges, 2, 2)),
      "Louvain.twoLevelGain" -> (() => Louvain.twoLevelGain(edges, 2, 2)),
      "Louvain.twoLevelFull" -> (() => Louvain.twoLevelFull(edges, 2, 2)),
      "Louvain.untilConverged" -> (() => Louvain.untilConverged(edges)),
      "Louvain.untilConvergedAssign" ->
        (() => Louvain.untilConvergedAssign(edges)),
      "Louvain.untilConvergedFull" ->
        (() => Louvain.untilConvergedFull(edges)),
      "Louvain.untilConvergedWeighted" ->
        (() => Louvain.untilConvergedWeighted(weighted)))
    val leaks = cases.flatMap { case (name, op) =>
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = op()
      out.collect()
      val grown = sc.getPersistentRDDs.keySet -- before
      val own = ownBlocks(out)
      grown.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
      if (grown == own) None
      else Some(s"$name left ${(grown -- own).size} superseded RDD(s) " +
        s"persisted (grew by ${grown.toSeq.sorted}, result reads " +
        s"${own.toSeq.sorted})")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
