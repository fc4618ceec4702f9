package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-run harness that puts the STREAMING faces of the event
  * family under the driver's correctness gate. Each `q_streaming_*`
  * face in [[graft.faces.StreamingFaces]] reads `events.parquet` through the
  * real Structured Streaming file source, runs the same operator the
  * production stream would, drains it to completion, and returns the
  * materialized result as a batch frame the DuckDB oracle can check.
  *
  * Why a memory sink: the driver's compare collects every query's
  * output to a single parquet file anyway, so the harness face
  * collecting to the driver adds no scale hazard the gate didn't
  * already have. A production deployment uses
  * [[EventStream.startParquetSink]] (exactly-once, partitioned) —
  * that path is spec-covered; THIS path exists so the state-store
  * operators (dropDuplicatesWithinWatermark, stream-stream join,
  * flatMapGroupsWithState) execute under the driver's eye rather than
  * only inside ScalaTest.
  */
object StreamHarness {

  private val nameCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `events.parquet` as a STREAMING frame. The streaming parquet
    * source cannot infer a schema, so it comes from a batch footer
    * read; `ts` goes through the same unit negotiation as the batch
    * face ([[EventStream.adaptTs]]), so a producer-side unit change
    * hits both faces identically instead of skewing one. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file-stream source monitors a DIRECTORY (the production
    // layout — files arrive over time); testdata ships a single file,
    // so shim it with an O(1) symlink directory rather than a copy
    // keyed by a strong content hash of the FULL source path (r12
    // advice): String.hashCode is 32-bit and collision-prone, and two
    // distinct testdata dirs colliding would silently stream the wrong
    // file. 16 hex chars of SHA-256 makes a collision implausible.
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val streamDir = java.nio.file.Paths.get("/tmp", s"graft-stream-events-$key")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events-0.parquet")
    // Files.exists FOLLOWS symlinks, so a stale link whose target was
    // deleted reads as "absent" and the create below would throw
    // FileAlreadyExistsException. deleteIfExists removes the link
    // itself (never the target) whether broken or not; synchronized so
    // two suites shimming the same dir can't race delete-vs-create.
    StreamHarness.synchronized {
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(path))
    }
    spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", EventStream.adaptTs(schema("ts").dataType))
  }

  /** State-partition count for the bounded drains. Stateful-operator
    * parallelism is fixed at stream START from
    * `spark.sql.shuffle.partitions` — inheriting the BATCH default
    * (32 on the bench session) gave every micro-batch 32 partitions ×
    * 4 state stores (a stream-stream join keeps keyToNumValues +
    * keyWithIndexToValue per side) = 128 store commits per batch, and
    * the per-store fixed cost is BLOCKING wall, not compute
    * (jstack-confirmed on q_streaming_left_join, r18: task threads
    * parked in ChecksumCheckpointFileManager.createWithChecksum →
    * Future/Thread.start per delta file — executorRunTime 197 s at
    * 5.5 s CPU on the data batch). These eval drains carry KB-MB
    * state, so 8 partitions bounds the per-batch store count at 32;
    * a production stream sizes this to its STATE (hundreds of
    * partitions at 100 TB), explicitly — which is the point: state
    * partitioning should track state size, never the batch shuffle
    * default. Measured on the r17 weak-marked face: data batch
    * 8.2 s → 2.8 s, eviction batch 4.5 s → 0.5 s. */
  private val BoundedStatePartitions = 8

  /** Run `body` with the bounded-drain streaming confs applied and
    * restored after: state partitions sized to the harness's state
    * (see [[BoundedStatePartitions]]) and checkpoint-file checksums
    * OFF — these checkpoints live in /tmp for one drain and are
    * discarded; the checksum machinery (Spark 4.1, one background
    * future + shadow .crc per checkpoint file) exists to catch
    * corruption of DURABLE checkpoints and was the largest single
    * cost of every stateful face (delta-file creation serialized
    * behind per-file checksum futures). Production checkpoints keep
    * it on. Single-threaded session assumption (the SkewOps/rocksdb
    * contract). */
  private def withEphemeralCheckpointConfs[A](spark: SparkSession)
                                             (body: => A): A = {
    val flips = Seq(
      "spark.sql.shuffle.partitions" -> BoundedStatePartitions.toString,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    val prev = flips.map { case (k, _) => (k, spark.conf.getOption(k)) }
    flips.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Start `df` into a uniquely-named memory sink, drain all available
    * input, and return the sink table as a batch frame.
    *
    * @param awaitNoDataBatch wait (bounded) for a zero-input-row
    *        micro-batch to have run after the data batches. Event-time
    *        timeouts (sessionize) fire only in a batch AFTER the one
    *        that advanced the watermark; `processAllAvailable` alone
    *        returns once the data offsets are committed, which can be
    *        before that no-data batch ran. Stateless/append emissions
    *        (dedup, stream-stream join, complete-mode aggs) don't need
    *        it. */
  def runBounded(df: DataFrame, mode: String,
                 awaitNoDataBatch: Boolean = false,
                 settleTimeoutMs: Long = 60000L): DataFrame =
    withEphemeralCheckpointConfs(df.sparkSession) {
      runBoundedInner(df, mode, awaitNoDataBatch, settleTimeoutMs)
    }

  private def runBoundedInner(df: DataFrame, mode: String,
                              awaitNoDataBatch: Boolean,
                              settleTimeoutMs: Long): DataFrame = {
    val spark = df.sparkSession
    val name = s"stream_face_${nameCounter.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      q.processAllAvailable()
      if (awaitNoDataBatch) {
        val deadline = System.nanoTime() + settleTimeoutMs * 1000000L
        def noDataBatchRan: Boolean =
          q.recentProgress.exists(p => p.batchId > 0 && p.numInputRows == 0L)
        while (!noDataBatchRan && System.nanoTime() < deadline) {
          Thread.sleep(15)
          q.processAllAvailable()
        }
        if (!noDataBatchRan) sys.error(
          s"$name: no-data micro-batch did not run within ${settleTimeoutMs}ms" +
            " — event-time timeouts were never evaluated")
      }
    } finally q.stop()
    // hand the result over as a checkpointed frame and DROP the memory
    // sink: the sink pins its full result in the driver for the
    // session's lifetime, and a 100-query bench accumulates one per
    // streaming run — checkpoint blocks, by contrast, are released by
    // the harness's per-query unpersist sweep
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Streaming windowed counts, complete mode: every window is in the
    * sink when the stream drains, so the bounded run equals the batch
    * [[EventStream.windowedCounts]] bit-for-bit — no watermark-cutoff
    * bookkeeping needed. */
  def boundedWindowedCounts(spark: SparkSession, dir: String): DataFrame =
    runBounded(EventStream.windowedCounts(eventsStream(spark, dir)), "complete")

  /** Streaming SLIDING-window counts, complete mode — the overlapping
    * twin of [[boundedWindowedCounts]]: every event lands in
    * window/slide windows, every window is in the sink at drain, so
    * the bounded run equals the batch [[EventStream.slidingCounts]]
    * bit-for-bit. */
  def boundedSlidingCounts(spark: SparkSession, dir: String): DataFrame =
    runBounded(EventStream.slidingCounts(eventsStream(spark, dir)), "complete")

  /** The SAME windowed aggregation under the RocksDB state store
    * provider — the 100 TB state configuration. The default
    * HDFSBackedStateStoreProvider keeps every key's state as JVM-heap
    * objects (executor memory bounds total state — the thing that
    * OOMs a large-keyspace production stream); RocksDB keeps state in
    * native off-heap memtables + local SST files, bounding it by DISK
    * with heap-independent eviction, which is why every large-state
    * production deployment flips this provider. The face proves the
    * engine's operators run unmodified on it AND that the provider
    * genuinely engaged (require: the state operator's progress
    * reports rocksdb* custom metrics — a silent fallback to the
    * default provider would report none), with the result hash-gated
    * against the same oracle as q_streaming_window (state backend
    * must be result-invisible).
    *
    * Session-global conf flip for the face's duration (set inside
    * try, restored in finally — single-threaded session assumption,
    * the SkewOps contract). */
  def rocksdbWindowFace(spark: SparkSession,
                        dir: String): DataFrame = withEphemeralCheckpointConfs(spark) {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val df = EventStream.windowedCounts(eventsStream(spark, dir))
      val name = s"stream_face_${nameCounter.incrementAndGet()}"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
        require(ops.nonEmpty, "no state operator in streaming progress")
        import scala.jdk.CollectionConverters._
        val metricKeys = ops.flatMap(_.customMetrics.keySet.asScala)
        require(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
          "state operator reports no rocksdb metrics — the provider " +
            s"silently fell back (saw: ${metricKeys.mkString(", ")})")
      } finally q.stop()
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      out
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Watermark LATE-DATA DROP — the semantic that makes unbounded
    * streaming state bounded, proven end-to-end. Two staged arrivals
    * into one running query: first the RECENT 30% of events (advances
    * the event-time watermark to global-max − 2 h), then the old 70%
    * arriving LATE. The aggregation operator drops every late row
    * whose hour window was already evicted (window_end ≤ watermark) —
    * at 100 TB/day this is the contract that keeps state at
    * O(windows-in-flight) instead of O(history).
    *
    * Deterministic end-to-end, so the gate is exact:
    *  - the split cutoff is integer arithmetic (min + 7·span/10 µs),
    *    replayed by the oracle — no approx_percentile;
    *  - the watermark after arrival 1 is exactly
    *    floor(max_event_µs/1000) − 7 200 000 ms;
    *  - REQUIRE: the state operator's numRowsDroppedByWatermark
    *    equals the predicted count (late rows in evicted windows),
    *    and is nonzero — the metric, not an inference;
    *  - the append-mode sink then holds exactly the windows with
    *    window_end ≤ watermark, aggregated from on-time rows only —
    *    which is what the oracle replays relationally.
    */
  def lateDropFace(spark: SparkSession, dir: String): DataFrame =
    withEphemeralCheckpointConfs(spark) {
    import java.nio.file.Files
    val ev = EventStream.eventsTable(spark, dir)
    val root = Files.createTempDirectory("graft-stream-late-")
    val input = Files.createDirectories(root.resolve("input"))
    try {
      val bounds = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val cut = mn + (mx - mn) * 7L / 10L
      def stage(df: DataFrame, name: String): java.nio.file.Path = {
        val tmp = root.resolve(s"stage-$name")
        df.coalesce(1).write.parquet(tmp.toString)
        new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file staged in $tmp")).toPath
      }
      val onTime = ev.filter(unix_micros(col("ts")) > cut)
      val late = ev.filter(unix_micros(col("ts")) <= cut)
      val fileA = stage(onTime, "a")
      val fileB = stage(late, "b")
      val schema = spark.read.parquet(fileA.toString).schema
      val name = s"stream_late_${nameCounter.incrementAndGet()}"
      val q = EventStream.windowedCounts(
          spark.readStream.schema(schema).parquet(input.toString),
          watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        Files.move(fileA, input.resolve("events-0.parquet"))
        q.processAllAvailable() // batch 0 commits; watermark -> mx − 2h
        Files.move(fileB, input.resolve("events-1.parquet"))
        q.processAllAvailable() // late rows meet the advanced watermark
        // no trailing no-data wait needed (unlike the event-time-
        // timeout faces): window eviction/emission for wm happens in
        // the FIRST batch that runs after the watermark advanced —
        // serialized strictly before the late batch commits — and wm
        // does not advance again after the late batch, so the sink is
        // complete when the second processAllAvailable returns.
        // (A wait loop here also stalls ~10 s on
        // spark.sql.streaming.noDataProgressEventInterval — no-data
        // progress is only REPORTED at that cadence; measured 12.1s
        // -> 2.4s on sf0.01 when removed.)
        val dropped = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum
        val wmMs = mx / 1000L - 2L * 3600L * 1000L
        // the metric counts rows REACHING THE STATE STORE — i.e.
        // post-shuffle merged (window, event_type) GROUP rows, not
        // raw input rows (the drop filter sits above the partial
        // aggregate; measured: 2361 groups vs 6996 input rows on
        // sf0.01) — so the prediction is the DISTINCT evicted keys
        val expected = late.filter(
          (expr("unix_micros(ts) div 3600000000") + 1L) * 3600000L
            <= wmMs)
          .select(expr("unix_micros(ts) div 3600000000"), col("event_type"))
          .distinct().count()
        require(expected > 0,
          "late-drop face degenerate: no late row falls in an evicted " +
            "window — the events span is too short for the 2h delay")
        require(dropped == expected,
          s"watermark dropped $dropped late rows; the semantics " +
            s"predict $expected (wm=${wmMs}ms) — late-data handling drifted")
      } finally q.stop()
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      out
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Two-incarnation checkpoint run shared by the resume faces
    * (r12 verdict item 7): stages `dir`'s events as two TIME-ORDERED
    * parquet files (files arrive in event-time order in production,
    * and it keeps every phase-2 row ahead of the phase-1 watermark),
    * runs `build` over a file-source stream as two query incarnations
    * sharing one durable checkpoint — stop after the early half;
    * restart, REQUIRE resumed batch numbering (a fresh query would
    * restart at batchId 0), drain the late half — and returns the
    * recovered result. Sink per mode: complete uses the memory sink
    * (rebuilt whole each batch, and the only sink complete supports
    * here); append uses the EXACTLY-ONCE parquet file sink — the
    * memory sink refuses checkpoint recovery in append mode, and the
    * file sink + its _spark_metadata commit log is the sink a
    * production resume actually goes through (batch reads of the
    * output dir honor the log, so a retried batch can't double-read).
    *
    * @param awaitNoDataFinal wait for a trailing zero-input
    *        micro-batch in the SECOND incarnation — event-time
    *        timeouts fire only after the batch that advanced the
    *        watermark (the [[runBounded]] contract, applied to the
    *        incarnation whose watermark is final). */
  private def twoPhaseResume(spark: SparkSession, dir: String, mode: String,
      awaitNoDataFinal: Boolean = false, settleTimeoutMs: Long = 60000L)
      (build: DataFrame => DataFrame): DataFrame =
      withEphemeralCheckpointConfs(spark) {
    // NOTE: the conf scope spans BOTH incarnations — state files are
    // keyed by partition id, so the stateful partition count must be
    // identical across a stop→resume pair.
    import java.nio.file.Files
    val ev = EventStream.eventsTable(spark, dir)
    val root = Files.createTempDirectory("graft-stream-resume-")
    val input = Files.createDirectories(root.resolve("input"))
    val ckpt = root.resolve("ckpt").toString
    try {
      val medianUs = ev
        .agg(expr("approx_percentile(unix_micros(ts), 0.5, 10000)"))
        .head().getLong(0)
      def stage(df: DataFrame, name: String): java.nio.file.Path = {
        val tmp = root.resolve(s"stage-$name")
        df.coalesce(1).write.parquet(tmp.toString)
        new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file staged in $tmp")).toPath
      }
      val fileA = stage(ev.filter(unix_micros(col("ts")) <= medianUs), "a")
      val fileB = stage(ev.filter(unix_micros(col("ts")) > medianUs), "b")
      val schema = spark.read.parquet(fileA.toString).schema
      val useMemory = mode == "complete"
      val outDir = root.resolve("out").toString

      def phase(file: java.nio.file.Path, idx: Int,
                awaitNoData: Boolean): String = {
        Files.move(file, input.resolve(s"events-$idx.parquet"))
        val name = s"stream_resume_${nameCounter.incrementAndGet()}"
        val writer = build(
            spark.readStream.schema(schema).parquet(input.toString))
          .writeStream.queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", ckpt)
        val q =
          if (useMemory) writer.format("memory").start()
          else writer.format("parquet").option("path", outDir).start()
        try {
          q.processAllAvailable()
          if (awaitNoData) {
            // "most recent batch had zero input" is incarnation-safe:
            // recentProgress is per-query, and a pre-data empty batch
            // keeps the loop waiting until a post-data one runs
            val deadline = System.nanoTime() + settleTimeoutMs * 1000000L
            def noDataRan: Boolean =
              q.recentProgress.lastOption.exists(_.numInputRows == 0L)
            while (!noDataRan && System.nanoTime() < deadline) {
              Thread.sleep(15)
              q.processAllAvailable()
            }
            if (!noDataRan) sys.error(
              s"$name: no trailing no-data micro-batch within " +
                s"${settleTimeoutMs}ms — timeouts never evaluated")
          }
          if (idx > 0 && !q.recentProgress.exists(_.batchId >= idx))
            sys.error(s"$name: expected resumed batchId >= $idx — the " +
              "checkpoint was ignored, this incarnation started fresh")
        } finally q.stop()
        name
      }
      val n1 = phase(fileA, 0, awaitNoData = false)
      val n2 = phase(fileB, 1, awaitNoDataFinal)
      // localCheckpoint BEFORE the finally-cleanup deletes the sink dir
      val out = (if (useMemory) spark.table(n2)
        else spark.read.parquet(outDir))
        .localCheckpoint(true)
      if (useMemory) {
        spark.catalog.dropTempView(n1)
        spark.catalog.dropTempView(n2)
      }
      out
    } finally {
      // best-effort recursive cleanup of the staged input + checkpoint
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
  }

  /** Checkpoint stop→resume of the WINDOWED AGGREGATION state: the
    * returned complete-mode table equals the single-run batch
    * aggregation ONLY IF recovery restored every window of the first
    * half — which is exactly what the shared q_streaming_window
    * oracle hash-checks (a recovery that dropped state loses early
    * windows; one that replayed file A double-counts them). */
  def resumedWindowedCounts(spark: SparkSession, dir: String): DataFrame =
    twoPhaseResume(spark, dir, "complete")(
      EventStream.windowedCounts(_))

  /** Checkpoint stop→resume of CUSTOM flatMapGroupsWithState state —
    * the deeper recovery face: sessions whose events STRADDLE the
    * stop point can only be assembled correctly if incarnation 2
    * restores the open per-user SessionState (and its event-time
    * timeout) from the state store. Emissions split across the two
    * incarnations (a session closed by incarnation 1's watermark
    * stays closed — the time-ordered split keeps later events beyond
    * its gap); the union, restricted to the same provably-closed
    * region as [[boundedSessions]], equals the single-run result the
    * q_streaming_sessionize oracle hashes. */
  def resumedSessions(spark: SparkSession, dir: String,
                      gapMs: Long, delaySec: Long): DataFrame = {
    import spark.implicits._
    val sessions = twoPhaseResume(spark, dir, "append",
        awaitNoDataFinal = true) { stream =>
      EventStream.sessionize(
        stream.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStream.Event],
        gapMs, s"$delaySec seconds").toDF()
    }
    val maxUs = EventStream.eventsTable(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoffUs = maxUs - delaySec * 1000000L - gapMs * 1000L - 1000000L
    sessions.filter(unix_micros(col("session_end")) <= cutoffUs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
  }

  /** Streaming CDC-apply via foreachBatch — the remaining production
    * sink kind after the memory sink (gate faces) and the exactly-once
    * file sink (resume faces): each micro-batch of a versioned update
    * stream is MERGED into an accumulating snapshot table with
    * [[graft.operators.Snapshot.upsert]], the pattern every
    * lakehouse-style "stream into a corpus table" pipeline runs.
    *
    * Idempotence on retry comes from versioned state directories: the
    * merge for batch `b` reads `state/v<b>` and OVERWRITES
    * `state/v<b+1>` — a replayed batch rewrites the same output from
    * the same input, so the commit point is the checkpoint's batch
    * offset, exactly the contract foreachBatch documents.
    *
    * Tombstones are carried IN state (deleted = payload flag) and
    * erased only at the final read: dropping them per batch would let
    * a lower version arriving in a later batch resurrect an erased id
    * — with retained tombstones, latest-wins makes the final state
    * independent of how the file source slices batches, which is what
    * lets the face share q_snapshot_upsert's single-batch oracle.
    *
    * The update stream is staged as multiple files with
    * `maxFilesPerTrigger = 1`, and the face REQUIRES that more than
    * one merge actually ran — otherwise it would silently degrade to
    * the batch face. */
  def cdcApplyFace(spark: SparkSession, dir: String): DataFrame =
    withEphemeralCheckpointConfs(spark) {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-cdc-apply-")
    try {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"))
      def versioned(df: DataFrame, v: Long, deleted: Boolean): DataFrame =
        df.select(col("doc_id"), col("lang"), col("source"),
          lit(v).as("version"), lit(deleted).as("deleted"))
      val initial = versioned(d, 1L, deleted = false)
      val stateDir = root.resolve("state")
      initial.write.parquet(stateDir.resolve("v0").toString)
      // the same update log as q_snapshot_upsert, split into two
      // stream files: re-processing batch, then takedowns + fresh docs
      val input = Files.createDirectories(root.resolve("input"))
      def stage(df: DataFrame, name: String): Unit = {
        val tmp = root.resolve(s"stage-$name")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file staged in $tmp")).toPath
        Files.move(part, input.resolve(s"$name.parquet"))
      }
      stage(versioned(d.filter(col("doc_id") % 5 === 0)
        .withColumn("lang", lit("und")), 2L, deleted = false), "u0")
      stage(versioned(d.filter(col("doc_id") % 17 === 0), 3L, deleted = true)
        .unionByName(versioned(
          d.filter(col("doc_id") % 13 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L),
          1L, deleted = false)), "u1")
      val schema = spark.read
        .parquet(input.resolve("u0.parquet").toString).schema
      // high-water mark of batchId+1, NOT an invocation counter (r13
      // advice): a retried/re-executed micro-batch — the exact case the
      // versioned-state design claims idempotence for — re-runs the
      // same batchId, which must not advance the final-read version
      val maxV = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val prev = spark.read.parquet(stateDir.resolve(s"v$batchId").toString)
          graft.operators.Snapshot
            .upsert(prev, batch, "doc_id", "version")
            .write.mode("overwrite")
            .parquet(stateDir.resolve(s"v${batchId + 1}").toString)
          maxV.getAndUpdate(v => math.max(v, batchId + 1)); ()
        }
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      require(maxV.get >= 2,
        s"expected >= 2 incremental merges, reached batch version " +
          s"${maxV.get} — the stream collapsed into one batch and " +
          "proved nothing incremental")
      spark.read.parquet(stateDir.resolve(s"v${maxV.get}").toString)
        .filter(!coalesce(col("deleted"), lit(false)))
        .drop("deleted")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
  }

  /** Trigger.AvailableNow incremental CDC ingest — the
    * nightly-batch-over-streaming-checkpoint shape most production
    * corpus ingests actually run (r13 verdict item 6): a short-lived
    * query wakes up, drains WHATEVER ARRIVED since the last run from a
    * growing directory, merges it, and exits; the streaming checkpoint
    * (not a human-maintained high-water mark) is what remembers where
    * the last run stopped. Two incarnations over one durable
    * checkpoint: run 1 sees only the first update file; the second
    * file lands "overnight"; run 2 must resume from the checkpoint and
    * process ONLY the new file — both enforced from the observed batch
    * ids (a fresh start would re-run batch 0; a stalled source would
    * run nothing). Merge/state machinery identical to [[cdcApplyFace]]
    * (versioned state dirs, retained tombstones), so the face shares
    * q_snapshot_upsert's oracle. */
  def availableNowCdcFace(spark: SparkSession, dir: String): DataFrame =
    withEphemeralCheckpointConfs(spark) {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-cdc-avail-")
    try {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"))
      def versioned(df: DataFrame, v: Long, deleted: Boolean): DataFrame =
        df.select(col("doc_id"), col("lang"), col("source"),
          lit(v).as("version"), lit(deleted).as("deleted"))
      val stateDir = root.resolve("state")
      versioned(d, 1L, deleted = false)
        .write.parquet(stateDir.resolve("v0").toString)
      val input = Files.createDirectories(root.resolve("input"))
      def stage(df: DataFrame, name: String): Unit = {
        val tmp = root.resolve(s"stage-$name")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file staged in $tmp")).toPath
        Files.move(part, input.resolve(s"$name.parquet"))
      }
      // night 1: the re-processing batch
      stage(versioned(d.filter(col("doc_id") % 5 === 0)
        .withColumn("lang", lit("und")), 2L, deleted = false), "u0")
      val schema = spark.read
        .parquet(input.resolve("u0.parquet").toString).schema
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def nightlyRun(): Seq[Long] = {
        val before = batches.size
        val q = spark.readStream.schema(schema)
          .parquet(input.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val prev =
              spark.read.parquet(stateDir.resolve(s"v$batchId").toString)
            graft.operators.Snapshot
              .upsert(prev, batch, "doc_id", "version")
              .write.mode("overwrite")
              .parquet(stateDir.resolve(s"v${batchId + 1}").toString)
            batches.add(batchId); ()
          }
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // AvailableNow self-terminates once the snapshot of available
        // files is drained — THE property this face exists to prove
        try require(q.awaitTermination(120000L),
          "AvailableNow query did not self-terminate within 120s")
        finally q.stop()
        import scala.jdk.CollectionConverters._
        batches.iterator().asScala.toSeq.drop(before)
      }
      val night1 = nightlyRun()
      require(night1.nonEmpty && night1.max == 0L,
        s"night-1 run expected exactly batch 0, saw $night1")
      // overnight arrivals: takedowns + fresh docs
      stage(versioned(d.filter(col("doc_id") % 17 === 0), 3L, deleted = true)
        .unionByName(versioned(
          d.filter(col("doc_id") % 13 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L),
          1L, deleted = false)), "u1")
      val night2 = nightlyRun()
      require(night2.nonEmpty && night2.min >= 1L,
        s"night-2 run re-processed already-committed batches ($night2) — " +
          "the checkpoint was ignored, this was a fresh start")
      val maxV = (night1 ++ night2).max + 1L
      spark.read.parquet(stateDir.resolve(s"v$maxV").toString)
        .filter(!coalesce(col("deleted"), lit(false)))
        .drop("deleted")
        .localCheckpoint(true)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
  }

  /** Byte-rate-limited ingest (backpressure) face: the SAME CDC merge
    * as [[availableNowCdcFace]], but the update backlog arrives as SIX
    * similar-size files drained under `maxBytesPerTrigger` — the
    * ingest-throughput control that keeps a catch-up run (a stream
    * restarted after downtime facing days of backlog) from loading the
    * whole backlog into one giant micro-batch and OOMing state. At
    * 100 TB this knob IS the stability contract of every file-fed
    * production stream; `maxFilesPerTrigger` (cdcApplyFace) bounds
    * file COUNT, this bounds the actual bytes admitted.
    *
    * Require-enforced, all from observed batch ids/rows:
    *  - the backlog split into >= 2 batches (the limit was honored:
    *    one batch would mean the cap was ignored);
    *  - fewer batches than files (some batch admitted > 1 file: the
    *    cap aggregates BYTES, it is not a files-per-trigger in
    *    disguise);
    *  - batch ids are contiguous from 0 (checkpoint-consistent
    *    progress — no skips, no replays);
    *  - every batch's row count is bounded by the rows the byte cap
    *    can admit (cap/minFileBytes + 1 whole files — the file
    *    source's at-least-one-file floor);
    *  - the batches partition the staged log exactly (sum of batch
    *    rows = staged rows — nothing dropped, nothing duplicated).
    *
    * Tombstones ride IN state (the [[cdcApplyFace]] argument), so the
    * final state is independent of HOW the limiter sliced the backlog
    * — which is what lets this face share q_snapshot_upsert's oracle. */
  def backpressureFace(spark: SparkSession, dir: String): DataFrame =
    withEphemeralCheckpointConfs(spark) {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-backpressure-")
    try {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"))
      def versioned(df: DataFrame, v: Long, deleted: Boolean): DataFrame =
        df.select(col("doc_id"), col("lang"), col("source"),
          lit(v).as("version"), lit(deleted).as("deleted"))
      val stateDir = root.resolve("state")
      versioned(d, 1L, deleted = false)
        .write.parquet(stateDir.resolve("v0").toString)
      val input = Files.createDirectories(root.resolve("input"))
      def stage(df: DataFrame, name: String): Unit = {
        val tmp = root.resolve(s"stage-$name")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file staged in $tmp")).toPath
        Files.move(part, input.resolve(s"$name.parquet"))
      }
      // the full q_snapshot_upsert update log, sliced into 6
      // similar-size backlog files (slicing is arbitrary — retained
      // tombstones make the final state slicing-independent)
      val log = versioned(d.filter(col("doc_id") % 5 === 0)
          .withColumn("lang", lit("und")), 2L, deleted = false)
        .unionByName(versioned(d.filter(col("doc_id") % 17 === 0),
          3L, deleted = true))
        .unionByName(versioned(d.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
          1L, deleted = false))
        .localCheckpoint(true)
      val logRows = log.count()
      val nFiles = 6
      (0 until nFiles).foreach(k =>
        stage(log.filter(pmod(col("doc_id"), lit(nFiles)) === k), s"u$k"))
      val sizes = new java.io.File(input.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sorted
      require(sizes.length == nFiles, s"staged ${sizes.length} files")
      // cap ~2.5 median files: forces >= 2 batches, admits >= 2 files
      // in at least one batch (sizes are similar by construction)
      val cap = sizes(nFiles / 2) * 5 / 2
      val schema = spark.read
        .parquet(input.resolve("u0.parquet").toString).schema
      val observed =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", cap.toString)
        .parquet(input.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val prev =
            spark.read.parquet(stateDir.resolve(s"v$batchId").toString)
          val merged = graft.operators.Snapshot
            .upsert(prev, batch, "doc_id", "version")
            .localCheckpoint(true)
          merged.write.mode("overwrite")
            .parquet(stateDir.resolve(s"v${batchId + 1}").toString)
          observed.add((batchId, batch.count())); ()
        }
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(120000L),
        "AvailableNow query did not self-terminate within 120s")
      finally q.stop()
      import scala.jdk.CollectionConverters._
      val runs = observed.iterator().asScala.toSeq.sortBy(_._1)
      val ids = runs.map(_._1)
      require(ids.size >= 2,
        s"byte cap $cap ignored — the whole backlog ran as one batch")
      require(ids.size < nFiles,
        s"every batch took one file (${ids.size} batches of $nFiles " +
          "files) — the cap never aggregated bytes")
      require(ids == (0L until ids.size.toLong),
        s"batch ids not contiguous from 0: $ids")
      // at-least-one-file floor: a batch admits whole files while
      // under cap, so rows/batch <= rows of (cap/minBytes + 1) files;
      // bound via the largest staged file's rows
      val maxFileRows = spark.read.parquet(input.toString)
        .groupBy(pmod(col("doc_id"), lit(nFiles)))
        .count().agg(max(col("count"))).head().getLong(0)
      val admitCeil = (cap / sizes.head + 1) * maxFileRows
      runs.foreach { case (b, n) =>
        require(n <= admitCeil,
          s"batch $b admitted $n rows > ceiling $admitCeil — the byte " +
            "cap did not bound the batch")
      }
      require(runs.map(_._2).sum == logRows,
        s"batches sum ${runs.map(_._2).sum} rows but the staged log " +
          s"has $logRows — the limiter dropped or replayed data")
      val out = spark.read
        .parquet(stateDir.resolve(s"v${ids.size}").toString)
        .filter(!coalesce(col("deleted"), lit(false)))
        .drop("deleted")
        .localCheckpoint(true)
      graft.operators.GraphOps.releaseCheckpointedFrame(log)
      out
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
    }
  }

  /** Streaming exact-dedup, reduced to the DETERMINISTIC part of its
    * contract: the surviving key set. (Which physical row survives is
    * arrival-order dependent — not oracle-checkable; set membership
    * is, so only the key columns are projected.) The key is the
    * (user_id, event_type) pair — heavily duplicated in the data, so
    * the op genuinely drops rows. All events arrive in the first
    * micro-batch, where the watermark is still at its initial value,
    * so nothing is dropped as late and the surviving key set equals
    * batch `SELECT DISTINCT`. */
  def boundedDedupKeys(spark: SparkSession, dir: String): DataFrame =
    runBounded(
      EventStream.streamingDedup(
        eventsStream(spark, dir)
          .withColumn("dk", concat_ws(":", col("user_id"), col("event_type"))),
        "dk", "ts")
        .select(col("user_id"), col("event_type")),
      "append")

  /** Stream-stream interval join (purchase ⋈ preceding views within
    * one hour), drained bounded. Inner-join pairs emit in the batch
    * where both sides are in state — one data batch emits everything,
    * and the pair SET is deterministic, so the bounded run is
    * oracle-exact with no cutoff filter. */
  def boundedAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    runBounded(
      EventStream.streamAttribution(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view")),
      "append")
  }

  /** The final global watermark (µs) of the bounded attribution run.
    *
    * BOTH filtered branches of the events stream carry their own
    * `withWatermark` node, and Spark's global watermark is the MIN
    * across watermark nodes of (that node's max event time − delay) —
    * NOT `max(all ts) − delay`. The purchase branch's max ts trails
    * the view branch's by ~32 min at sf0.01, so deriving the decided
    * region from the overall max silently over-claims by that gap
    * (measured: two view-side null-extensions the engine correctly
    * withheld, because its watermark was 30 min lower than the naive
    * formula assumed). */
  def attributionWatermarkUs(spark: SparkSession, dir: String,
                             delaySec: Long): Long = {
    val perSide = EventStream.eventsTable(spark, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(col("m"))).head().getLong(0)
    perSide - delaySec * 1000000L
  }

  /** Stream-stream LEFT OUTER interval join, drained bounded, then
    * restricted to the watermark-closed region. The outer face is the
    * one a real attribution pipeline runs — purchases with NO
    * preceding view are the interesting rows (organic conversions),
    * and an inner join silently drops them. Append-mode mechanics:
    * matched pairs emit as soon as both sides are in state; a
    * null-extended row for an unmatched purchase emits only when the
    * watermark passes `p_ts` (no admissible view can then satisfy
    * `v_ts < p_ts` — see [[EventStream.streamAttribution]]), which for
    * the bounded run happens in the trailing no-data batch at the
    * final watermark wm = [[attributionWatermarkUs]]. The compared
    * region is the provably-decided `p_ts <= wm − 1s`, applied
    * identically to the batch oracle: a MemoryStream probe (dense
    * unmatched purchases, single view driving the watermark) measured
    * the engine's purchase-state eviction at exactly `p_ts <= wm` —
    * the bound Spark derives from the `v_ts < p_ts` inequality — and
    * the 1 s margin covers the watermark's ms flooring. */
  def boundedAttributionOuter(spark: SparkSession, dir: String,
                              delaySec: Long = 600,
                              windowSec: Long = 3600): DataFrame = {
    val ev = eventsStream(spark, dir)
    val joined = runBounded(
      EventStream.streamAttribution(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        watermarkDelay = s"$delaySec seconds",
        joinType = "left_outer"),
      "append", awaitNoDataBatch = true)
    val cutoffUs = attributionWatermarkUs(spark, dir, delaySec) - 1000000L
    joined.filter(unix_micros(col("p_ts")) <= cutoffUs)
  }

  /** Stream-stream FULL OUTER interval join — completing the
    * streaming join matrix (inner / left_outer / full_outer /
    * stream-static): purchases with no qualifying view null-extend on
    * the view side (the left face), AND views that attributed no
    * purchase null-extend on the purchase side — the "unattributed
    * inventory" rows an attribution pipeline audits. The two
    * null-extensions have DIFFERENT decision bounds, both measured
    * with a MemoryStream probe against wm =
    * [[attributionWatermarkUs]]:
    *  - purchase side: emitted once `p_ts <= wm` (from `v_ts < p_ts`
    *    no later view can match);
    *  - view side: emitted once `v_ts <= wm − window` (a view at
    *    v_ts can match purchases up to `v_ts + window`, so its state
    *    outlives it by the window — Spark's state-value watermark
    *    from the `v_ts > p_ts − window` inequality).
    * The compared region applies each bound to its own side, minus
    * the 1 s ms-flooring margin, mirrored in the batch oracle. */
  def boundedAttributionFull(spark: SparkSession, dir: String,
                             delaySec: Long = 600,
                             windowSec: Long = 3600): DataFrame = {
    val ev = eventsStream(spark, dir)
    val joined = runBounded(
      EventStream.streamAttribution(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        watermarkDelay = s"$delaySec seconds",
        joinType = "full_outer"),
      "append", awaitNoDataBatch = true)
    val wmUs = attributionWatermarkUs(spark, dir, delaySec)
    val pCutUs = wmUs - 1000000L
    val vCutUs = wmUs - windowSec * 1000000L - 1000000L
    joined.filter(
      (col("p_ts").isNotNull && unix_micros(col("p_ts")) <= pCutUs) ||
      (col("p_ts").isNull && unix_micros(col("v_ts")) <= vCutUs))
  }

  /** TWO stateful operators chained in ONE streaming query —
    * stream-stream interval join feeding a windowed aggregation, the
    * shape a production attribution pipeline actually runs (join the
    * raw streams, aggregate attributed revenue per window, one
    * checkpoint, no intermediate sink). Pre-3.5 Spark rejected this
    * outright (`Multiple streaming aggregations are not supported`
    * class of restrictions); modern Spark runs it by propagating a
    * SIMULATED watermark past the join: the join holds view-side rows
    * up to `window` behind the input watermark, so the aggregation
    * downstream sees `wm_agg = wm − window` and closes only windows
    * whose end has passed THAT. The compared region mirrors it:
    * `w_end <= wm − window − 1s` (wm = [[attributionWatermarkUs]],
    * 1 s for ms flooring), applied identically to the batch oracle.
    * Sums ride `decimal(18,6)` so the cross-engine totals are
    * order-independent ([[EventStream.windowedCounts]] discipline). */
  def boundedChainedAgg(spark: SparkSession, dir: String,
                        delaySec: Long = 600,
                        windowSec: Long = 3600,
                        aggWindow: String = "30 minutes"): DataFrame = {
    val ev = eventsStream(spark, dir)
    val joined = EventStream.streamAttribution(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"),
      watermarkDelay = s"$delaySec seconds")
    val agg = joined
      .groupBy(window(col("p_ts"), aggWindow).as("w"))
      .agg(count(lit(1)).as("pairs"),
        sum(col("value").cast("decimal(18,6)")).as("view_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("pairs"), col("view_value").cast("double").as("view_value"))
    val out = runBounded(agg, "append", awaitNoDataBatch = true)
    val cutUs = attributionWatermarkUs(spark, dir, delaySec) -
      windowSec * 1000000L - 1000000L
    out.filter(unix_micros(col("w_end")) <= cutUs)
  }

  /** Stream-static enrichment join — the remaining streaming join
    * kind after the stream-stream face: each streaming view event
    * picks up its user's lifetime purchase value from a STATIC
    * batch-computed dimension. The static side broadcasts (it is
    * re-evaluated per micro-batch, not held in the state store), so
    * the stream side never exchanges — the shape that holds when the
    * stream is 100 TB/day and the dimension is millions of rows. */
  def boundedEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val ltv = EventStream.eventsTable(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).as("ltv"))
    runBounded(
      eventsStream(spark, dir)
        .filter(col("event_type") === "view")
        .join(broadcast(ltv), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          col("ltv").cast("double").as("user_ltv")),
      "append")
  }

  /** Streaming sessionization (flatMapGroupsWithState, event-time
    * timeout), drained bounded, then restricted to sessions the final
    * watermark PROVABLY closed.
    *
    * The stream's append contract withholds a user's trailing session
    * while it could still grow: at end-of-input the watermark rests at
    * `max(ts) - delay`, and only sessions whose gap-timeout precedes
    * it were emitted. So the bounded result is compared on the closed
    * region: keep sessions with
    * `session_end + gap + 1s <= max(ts) - delay`
    * — the 1 s margin strictly covers the ms-rounding of both the
    * watermark (ms-truncated event-time stats) and the timeout
    * timestamp (rounded UP to the next ms), making "emitted" certain
    * for every kept session. The SAME predicate is applied to the
    * batch oracle, so both sides describe the identical closed region.
    * Every session emitted: gap-closed mid-batch OR timed out once the
    * no-data batch evaluated timeouts against the final watermark
    * ([[runBounded]] waits for that batch).
    */
  def boundedSessions(spark: SparkSession, dir: String,
                      gapMs: Long, delaySec: Long): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStream.Event]
    val sessions = runBounded(
      EventStream.sessionize(ev, gapMs, s"$delaySec seconds").toDF(),
      "append", awaitNoDataBatch = true)
    // the closed-region cutoff, computed from the BATCH table (same
    // max(ts) the stream saw — single bounded input)
    val maxUs = EventStream.eventsTable(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoffUs = maxUs - delaySec * 1000000L - gapMs * 1000L - 1000000L
    // total_value is a per-session DOUBLE fold in event order; the
    // oracle's decimal sum is exact — the two can differ in ulps, so
    // the hash-compared face carries only the µs-exact and integral
    // columns (the specs cover value totals stream-vs-batch)
    sessions.filter(unix_micros(col("session_end")) <= cutoffUs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
  }

  /** Sessionization via the BUILT-IN `session_window` aggregation —
    * the state-store-native counterpart of [[boundedSessions]]'s
    * custom flatMapGroupsWithState operator (the engine proves BOTH
    * routes: bring-your-own state for bespoke semantics, the built-in
    * for the common gap-session case, which also unlocks Spark's
    * session-merge state format and per-window eviction).
    *
    * Two semantic deltas vs the custom face, both inherent to the
    * built-in and mirrored in the oracle:
    *  - a session's window is `[first_ts, last_ts + gap)`, so
    *    `session_end` = last event + gap (the custom face reports
    *    last event);
    *  - sessions split when the inter-event gap is ≥ gap (windows
    *    `[ts, ts+gap)` don't overlap at exactly gap), where the
    *    custom face splits strictly > gap.
    * A session is decided once the watermark passes its window end:
    * `end <= max(ts) − delay − 1s` (end already carries the gap).
    * decimal(18,6) value sums — the built-in aggregates relationally,
    * so unlike [[boundedSessions]]'s event-order double fold the
    * total IS order-free and hash-gateable. */
  def boundedNativeSessions(spark: SparkSession, dir: String,
                            gapDur: String = "6 hours",
                            delaySec: Long = 600): DataFrame = {
    val out = runBounded(
      eventsStream(spark, dir)
        .withWatermark("ts", s"$delaySec seconds")
        .groupBy(col("user_id"), session_window(col("ts"), gapDur).as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("total_value").cast("double").as("total_value")),
      "append", awaitNoDataBatch = true)
    val maxUs = EventStream.eventsTable(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoffUs = maxUs - delaySec * 1000000L - 1000000L
    out.filter(unix_micros(col("session_end")) <= cutoffUs)
  }
}
