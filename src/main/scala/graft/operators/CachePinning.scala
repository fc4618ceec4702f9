package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cache-lifetime tracking for operator families that persist
  * intermediate DataFrames (quantized embeddings, signature
  * projections) feeding multiple join sides of one returned query.
  *
  * The returned query needs those persists alive until the caller
  * materializes it, so the operator cannot unpersist eagerly; but a
  * long-lived application issuing many calls should not have to fall
  * back to `spark.catalog.clearCache()` (which drops EVERY cached
  * relation in the session) or LRU pressure. Mixing this in gives each
  * operator object a `releaseCaches()` the caller invokes after
  * materializing a query's result: it unpersists exactly the frames
  * that object pinned since the last release, nothing else.
  *
  * Thread-safe mechanically (pins land in a concurrent queue;
  * concurrent release and pin interleave without corruption), but the
  * release SEMANTICS assume serialized query issuance per operator
  * object: pins live on the singleton (Dedup, Similarity, CorpusOps),
  * so thread A's post-materialization release also drains pins backing
  * thread B's not-yet-materialized query. For the [[pin]] sites
  * (columnar persist) B silently reverts to full recomputation
  * (correct, but re-pays the per-row cost the persist exists to
  * avoid); for the [[pinCkpt]] sites (r20 — most of Similarity/Dedup)
  * the early release is a HARD FAILURE, not a graceful degradation:
  * localCheckpoint truncates lineage, so B's job dies with
  * "checkpoint block not found" instead of recomputing. Applications
  * issuing these operators concurrently must materialize each result
  * before the next call — relying on LRU eviction is also not an
  * option for checkpoint pins (see below).
  *
  * Callers that never invoke releaseCaches leak strong DataFrame
  * references into the queue — the graft harnesses (Bench, Verify)
  * drain every family's queue after every query through
  * [[CachePinning.releaseAll]]. For columnar [[pin]]s the block
  * storage still frees via LRU or `clearCache()` (only the plan
  * objects stay driver-resident); [[pinCkpt]] blocks are RDD-layer
  * checkpoint storage, NOT CacheManager entries — they are not
  * LRU-evictable and `clearCache()` never touches them, so skipping
  * releaseCaches leaks the blocks themselves until the
  * ContextCleaner collects the RDD.
  */
private[graft] trait CachePinning {

  private val pins = new ConcurrentLinkedQueue[DataFrame]()
  CachePinning.families.add(this)

  /** Persist `df`, MATERIALIZE it, and remember the handle for
    * [[releaseCaches]].
    *
    * Eager materialization is load-bearing, not a convenience. Every
    * pin exists because the frame feeds MULTIPLE consumers of the
    * returned query — and those consumers run concurrently: broadcast
    * exchanges execute on their own thread pool, so a broadcast side
    * and the probe side both hit the pin at once. Spark does not dedup
    * in-flight cached-partition computation — concurrent first readers
    * either recompute the partition or BLOCK on its block lock while
    * holding a task slot, and with every slot occupied by waiting
    * tasks the computing job starves (measured: a 143s wall-clock
    * stall with zero GC growth on a query whose steady state is 4s).
    * One count() populates the cache in a single parallel job before
    * any consumer exists; every later reader hits blocks. The count
    * adds no net work — a pin's frame is always fully consumed by the
    * query it backs.
    *
    * SIDE EFFECT CALLERS MUST KNOW: because materialization is eager,
    * full cache computation — and any in-plan `raise_error` guard —
    * runs at OPERATOR-CONSTRUCTION time, not first action. A caller
    * that only builds plans (plan inspection, a per-query try/catch
    * harness) still pays the materialization and sees guard exceptions
    * at construction. That is the accepted cost of the race fix above;
    * plan-only callers should treat operator construction as an
    * action. */
  protected def pin(df: DataFrame): DataFrame = pinWithCount(df)._1

  /** [[pin]], also returning the row count the eager materialization
    * already paid for — for operators whose downstream strategy
    * depends on the pinned frame's size (e.g. broadcast-vs-shuffle
    * decisions on batch-derived tables). */
  protected def pinWithCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    val n = p.count()
    pins.add(p)
    (p, n)
  }

  /** [[pin]] as an eager LOCAL CHECKPOINT instead of a columnar
    * persist (r20): same eager-materialization race fix, same release
    * tracking, but the blocks are raw InternalRows — no columnar
    * encode on build and no decode on any of the multiple consumer
    * reads (the r17 loop-residency doctrine applied to the pinned
    * text projections, whose build stage showed 52 task-seconds of
    * run time against 8 CPU-seconds: most of it block-write overhead
    * under the columnar codec). Lineage truncation is the accepted
    * trade everywhere else checkpoints are used. */
  protected def pinCkpt(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(true)
    pins.add(p)
    p
  }

  /** [[pinCkpt]] + the row count (a cheap job over the materialized
    * blocks) — the checkpoint analog of [[pinWithCount]]. */
  protected def pinCkptWithCount(df: DataFrame): (DataFrame, Long) = {
    val p = pinCkpt(df)
    (p, p.count())
  }

  /** Unpersist every DataFrame this operator family persisted since
    * the last release. Call after materializing the query result —
    * results already collected/written are unaffected. `blocking`
    * forces synchronous block removal (useful before timing runs).
    * Checkpoint pins ([[pinCkpt]]) need their backing RDD released
    * too — Dataset.unpersist alone never touches RDD-layer blocks
    * (the KCore r16 lesson, routed here by plan shape). */
  def releaseCaches(blocking: Boolean = false): Unit = {
    var d = pins.poll()
    while (d != null) {
      if (GraphOps.isFlatCheckpoint(d))
        GraphOps.releaseCheckpointedFrame(d, blocking)
      else d.unpersist(blocking)
      d = pins.poll()
    }
  }

  /** Pins registered and not yet released — test/diagnostic surface
    * (CachePinningSpec asserts the harness drain leaves this at 0).
    *
    * On the queue's strong references: they are NOT the retention
    * root — Spark's CacheManager itself holds every persisted plan
    * strongly until unpersist, so a WeakReference queue would not free
    * anything; it would only lose the handle needed to unpersist after
    * a GC, making the leak permanent. Strong refs + an explicit drain
    * is the correct shape. */
  private[graft] def pinnedCount: Int = pins.size()
}

private[graft] object CachePinning {

  /** Every pinning family, registered when its object initializes —
    * one that never initialized has pinned nothing. */
  private val families = new ConcurrentLinkedQueue[CachePinning]()

  /** The harnesses' one release point after each query: drain every
    * family's pins ([[CachePinning.releaseCaches]]), clear the SQL
    * cache, and unpersist every RDD still persisted — the iterative
    * operators' results are localCheckpoint-backed, RDD-layer storage
    * that `clearCache()` never touches. */
  def releaseAll(spark: SparkSession, blocking: Boolean): Unit = {
    families.forEach(_.releaseCaches(blocking))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}
