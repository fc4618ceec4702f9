package graft.faces

import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, StreamHarness}
import Shared._

/** Streaming faces over `events`: each runs a real bounded
  * Structured Streaming query (or the batch twin of one), with its
  * DuckDB oracle. */
object StreamingFaces {

  val faces: Seq[Face] = Seq(
    // Watermark-ready tumbling-window aggregation over event time
    // (EventStream.windowedCounts runs identically on readStream input).
    Face("q_events_window", (s, dir) => {
      EventStream.windowedCounts(EventStream.eventsTable(s, dir))
    },
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |           AS window_start,
        |         event_type, value
        |  FROM events)
        |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ---- Streaming faces under the driver's gate: each runs a REAL
    // Structured Streaming query (file source → state-store operator →
    // sink) to completion and returns the drained result. ----

    // Complete-mode streaming twin of q_events_window — identical
    // result by construction (complete mode emits every window).
    Face("q_streaming_window", (s, dir) => {
      StreamHarness.boundedWindowedCounts(s, dir)
    },
      // complete-mode streaming twin: every window reaches the sink, so
      // the oracle is q_events_window's verbatim
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |           AS window_start,
        |         event_type, value
        |  FROM events)
        |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // SLIDING windows (1h window / 15min slide): each event explodes
    // into 4 overlapping windows map-side before the partial agg —
    // the alerting/dashboard shape; complete mode, so the drained
    // stream equals the batch replay bit-for-bit.
    Face("q_streaming_sliding", (s, dir) => {
      StreamHarness.boundedSlidingCounts(s, dir)
    },
      // sliding replay: each event expands to its 4 member windows
      // (15-min bucket minus k slides, k = 0..3; with window = 4·slide
      // every k qualifies), then the tumbling aggregation verbatim
      """WITH k AS (SELECT unnest(range(0, 4)) AS k),
        |b AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |           - k.k * INTERVAL '15 minutes' AS window_start,
        |         event_type, value
        |  FROM events, k)
        |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // The same windowed aggregation under the RocksDB state store —
    // the 100 TB state backend (native off-heap memtables + local SST
    // files instead of JVM-heap state). The provider's engagement is
    // require-enforced from the progress's rocksdb* custom metrics;
    // the result must be state-backend-invisible (same oracle).
    Face("q_streaming_rocksdb", (s, dir) => {
      StreamHarness.rocksdbWindowFace(s, dir)
    },
      // the state backend must be result-invisible — same oracle as
      // q_streaming_window by design (provider engagement is
      // require-enforced in-face, not oracle-visible)
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |           AS window_start,
        |         event_type, value
        |  FROM events)
        |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // Watermark late-data DROP, proven from the engine's own metric:
    // recent 30% arrives, watermark advances to max−2h, the old 70%
    // arrives LATE; numRowsDroppedByWatermark require-equals the
    // predicted count, and the append sink holds exactly the
    // closed-window aggregate over on-time rows — the bounded-state
    // contract, hash-gated.
    Face("q_streaming_late_drop", (s, dir) => {
      StreamHarness.lateDropFace(s, dir)
    },
      // watermark semantics replayed relationally: integer split
      // cutoff, wm = floor(max_µs/1000) − 7 200 000 ms, emitted =
      // closed windows (end ≤ wm) over ON-TIME rows only; the drop
      // count itself is require-enforced in-face against the engine's
      // numRowsDroppedByWatermark metric
      """WITH b AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events),
        |c AS (SELECT min(us) + ((max(us) - min(us)) * 7) // 10 AS cut,
        |             max(us) // 1000 - 7200000 AS wm_ms FROM b),
        |a AS (SELECT b.* FROM b, c WHERE b.us > c.cut),
        |w AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |             time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
        |               AS window_end,
        |             event_type, value
        |      FROM a)
        |SELECT window_start, window_end, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |         AS total_value
        |FROM w, c
        |WHERE epoch_ms(window_end) <= c.wm_ms
        |GROUP BY window_start, window_end, event_type
        |ORDER BY window_start, event_type""".stripMargin,
      // two-arrival watermark stream, several batches
      minRuns = 3),

    // Checkpoint stop→resume: the SAME windowed aggregation as two
    // query incarnations over one durable checkpoint (state-store
    // recovery — the path a real pipeline exercises every deploy).
    // Hash-exact against the q_streaming_window oracle: the restored
    // state must reproduce the full aggregation bit-for-bit.
    Face("q_streaming_resume", (s, dir) => {
      StreamHarness.resumedWindowedCounts(s, dir)
    },
      // the stop→resume incarnation pair must land on the identical
      // full aggregation — same oracle as q_streaming_window by design
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |           AS window_start,
        |         event_type, value
        |  FROM events)
        |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
      // two query incarnations plus checkpoint recovery per run
      minRuns = 3),

    // dropDuplicatesWithinWatermark over the (user_id, event_type)
    // key; deterministic surviving-key-set contract.
    Face("q_streaming_dedup", (s, dir) => {
      StreamHarness.boundedDedupKeys(s, dir)
    },
      // surviving-key-set contract of the streaming dedup (which row
      // survives is arrival-order dependent; the key set is not)
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),

    // Stream-stream interval join (purchase ⋈ preceding views ≤1h).
    Face("q_streaming_attribution", (s, dir) => {
      StreamHarness.boundedAttribution(s, dir)
    },
      // pair-level interval join: strict bounds on both ends, matching
      // streamAttribution's (p_ts - 1h, p_ts) window
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ts AS p_ts, v.ts AS v_ts, v.value
        |FROM p JOIN v
        |  ON p.user_id = v.user_id AND v.ts < p.ts
        | AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
        |ORDER BY p.event_id, v.ts""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3),

    // Stream-stream LEFT OUTER interval join: unmatched purchases
    // (organic conversions) surface null-extended once the watermark
    // proves no qualifying view can still arrive; compared on the
    // provably-decided region (see boundedAttributionOuter). The null
    // v_ts is carried as (epoch-0 sentinel, matched=0): a nullable
    // TIMESTAMP would be the suite's first, and the gate's
    // pandas-side compare mis-handles NaT across datetime
    // resolutions — nullable DOUBLE (value) has a green precedent,
    // nullable timestamps don't.
    Face("q_streaming_left_join", (s, dir) => {
      StreamHarness.boundedAttributionOuter(s, dir)
        .select(col("event_id"), col("user_id"), col("p_ts"),
          coalesce(col("v_ts"), timestamp_micros(lit(0L))).as("v_ts"),
          col("v_ts").isNotNull.cast("long").as("matched"),
          col("value"))
    },
      // LEFT OUTER face of the same interval join, restricted to the
      // watermark-decided region. The watermark is the MIN across the
      // two filtered branches' watermark nodes (each tracks ITS OWN max
      // ts − delay), so the cutoff basis is the smaller of the per-type
      // maxima, not the overall max: p_ts <= wm − 1s — see
      // boundedAttributionOuter. Unmatched rows carry the epoch-0
      // sentinel + matched=0.
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view'),
        |w AS (SELECT min(m) - 600000000 AS wm FROM (
        |        SELECT max(epoch_us(ts)) AS m FROM p
        |        UNION ALL SELECT max(epoch_us(ts)) FROM v))
        |SELECT p.event_id, p.user_id, p.ts AS p_ts,
        |       COALESCE(v.ts, TIMESTAMP '1970-01-01 00:00:00') AS v_ts,
        |       CAST(CASE WHEN v.ts IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |         AS matched,
        |       v.value
        |FROM p LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.ts < p.ts
        | AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
        |WHERE epoch_us(p.ts) <= (SELECT wm FROM w) - 1000000
        |ORDER BY p.event_id, v_ts""".stripMargin,
      // multi-second stateful stream
      minRuns = 3),

    // Stream-stream FULL OUTER interval join — the join matrix
    // completed: unmatched purchases null-extend the view side AND
    // unattributed views null-extend the purchase side, both
    // watermark-gated; compared on the both-sides-decided region
    // (max_ts − delay − window − 1s). Null keys/timestamps coalesce
    // to sentinels on BOTH sides so the hash compare is
    // dtype-stable.
    Face("q_streaming_full_join", (s, dir) => {
      StreamHarness.boundedAttributionFull(s, dir)
        .select(coalesce(col("event_id"), lit(-1L)).as("event_id"),
          col("user_id"),
          coalesce(col("p_ts"), timestamp_micros(lit(0L))).as("p_ts"),
          coalesce(col("v_ts"), timestamp_micros(lit(0L))).as("v_ts"),
          col("p_ts").isNotNull.cast("long").as("has_p"),
          col("v_ts").isNotNull.cast("long").as("has_v"),
          col("value"))
    },
      // batch FULL join on the same strict interval, restricted to the
      // per-side decided regions (wm = min of the two branches' max ts
      // − delay; purchase side decided at p_ts <= wm − 1s, view side at
      // v_ts <= wm − window − 1s — the engine's measured state-eviction
      // bounds, see boundedAttributionFull); sentinel coalescing
      // mirrors the face
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view'),
        |j AS (SELECT p.event_id, COALESCE(p.user_id, v.user_id) AS user_id,
        |             p.ts AS p_ts, v.ts AS v_ts, v.value
        |      FROM p FULL JOIN v
        |        ON p.user_id = v.user_id AND v.ts < p.ts
        |       AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000),
        |w AS (SELECT min(m) - 600000000 AS wm FROM (
        |        SELECT max(epoch_us(ts)) AS m FROM p
        |        UNION ALL SELECT max(epoch_us(ts)) FROM v))
        |SELECT COALESCE(event_id, -1) AS event_id, user_id,
        |       COALESCE(p_ts, TIMESTAMP '1970-01-01 00:00:00') AS p_ts,
        |       COALESCE(v_ts, TIMESTAMP '1970-01-01 00:00:00') AS v_ts,
        |       CAST(CASE WHEN p_ts IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |         AS has_p,
        |       CAST(CASE WHEN v_ts IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |         AS has_v,
        |       value
        |FROM j, w
        |WHERE (p_ts IS NOT NULL AND epoch_us(p_ts) <= wm - 1000000)
        |   OR (p_ts IS NULL AND
        |       epoch_us(v_ts) <= wm - 3600000000 - 1000000)
        |ORDER BY user_id, event_id, p_ts, v_ts""".stripMargin,
      // multi-second stateful drain, the left-join cost class
      minRuns = 3),

    // TWO stateful operators chained in ONE streaming query:
    // stream-stream interval join → windowed aggregation (attributed
    // revenue per 30-min purchase window), append mode, one
    // checkpoint. Compared on w_end <= wm − joinWindow − 1s — the
    // watermark Spark propagates PAST the join to the agg (see
    // boundedChainedAgg).
    Face("q_streaming_chained_agg", (s, dir) => {
      StreamHarness.boundedChainedAgg(s, dir)
    },
      // batch replay of the chained join→agg pipeline: same interval
      // join, 30-min tumbling windows on p_ts (integer µs bucketing),
      // decimal(18,6) sums, restricted to w_end <= wm − joinWindow − 1s
      // (the watermark the agg sees after propagation past the join)
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value, event_type FROM events),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, value FROM e WHERE event_type = 'view'),
        |w AS (SELECT min(m) - 600000000 AS wm FROM (
        |        SELECT max(epoch_us(ts)) AS m FROM p
        |        UNION ALL SELECT max(epoch_us(ts)) FROM v)),
        |j AS (SELECT p.ts AS p_ts, v.value
        |      FROM p JOIN v
        |        ON p.user_id = v.user_id AND v.ts < p.ts
        |       AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000),
        |g AS (SELECT (epoch_us(p_ts) // 1800000000) * 1800000000 AS ws_us,
        |             count(*) AS pairs,
        |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |               AS view_value
        |      FROM j GROUP BY 1)
        |SELECT make_timestamp(ws_us) AS w_start,
        |       make_timestamp(ws_us + 1800000000) AS w_end,
        |       pairs, view_value
        |FROM g, w
        |WHERE ws_us + 1800000000 <= wm - 3600000000 - 1000000
        |ORDER BY w_start""".stripMargin,
      // multi-second stateful drain, the left-join cost class
      minRuns = 3),

    // Stream-static enrichment: streaming views pick up a static
    // per-user purchase-LTV dimension (broadcast per micro-batch).
    Face("q_streaming_enrich", (s, dir) => {
      StreamHarness.boundedEnrichment(s, dir)
    },
      // stream-static left join replayed batch-side: per-user purchase
      // LTV onto every view event
      """WITH l AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(18,6))) AS ltv
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT e.event_id, e.user_id, CAST(l.ltv AS DOUBLE) AS user_ltv
        |FROM events e LEFT JOIN l ON l.user_id = e.user_id
        |WHERE e.event_type = 'view'
        |ORDER BY e.event_id""".stripMargin),

    // flatMapGroupsWithState sessionization with event-time timeout,
    // compared on the watermark-closed region (see boundedSessions).
    Face("q_streaming_sessionize", (s, dir) => {
      StreamHarness.boundedSessions(s, dir,
          gapMs = 6L * 3600000, delaySec = 600)
    },
      // batch sessions restricted to the watermark-closed region the
      // bounded stream provably emitted: session_end + gap(6h) + 1s
      // margin <= max(ts) - delay(10min) — see StreamHarness
      // .boundedSessions for the rounding analysis behind the margin
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |x AS (SELECT user_id, event_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                     > 21600000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_no
        |      FROM x),
        |g AS (SELECT user_id, session_no,
        |             min(ts) AS session_start, max(ts) AS session_end,
        |             count(*) AS n_events
        |      FROM s GROUP BY user_id, session_no),
        |m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx FROM events)
        |SELECT user_id, session_start, session_end, n_events
        |FROM g, m
        |WHERE epoch_us(session_end)
        |      <= mx - 600000000 - 21600000000 - 1000000
        |ORDER BY user_id, session_start""".stripMargin),

    // The BUILT-IN session_window aggregation — the state-store-native
    // route to the same gap sessions (split at >= gap, end carries
    // the gap; see boundedNativeSessions). Relational aggregation
    // makes the value total order-free, so it IS hash-gated here.
    Face("q_streaming_session_window", (s, dir) => {
      StreamHarness.boundedNativeSessions(s, dir)
    },
      // native session_window replay: split at >= gap (windows
      // [ts, ts+gap) don't overlap at exactly gap — vs the custom
      // face's strict >), end = last event + gap, decided once the
      // watermark passes the END (which already carries the gap)
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  value FROM events),
        |x AS (SELECT user_id, event_id, ts, value,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                     >= 21600000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_no
        |      FROM x),
        |g AS (SELECT user_id, session_no,
        |             min(ts) AS session_start,
        |             max(ts) + INTERVAL 6 HOUR AS session_end,
        |             count(*) AS n_events,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |               AS total_value
        |      FROM s GROUP BY user_id, session_no),
        |m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx FROM events)
        |SELECT user_id, session_start, session_end, n_events, total_value
        |FROM g, m
        |WHERE epoch_us(session_end) <= mx - 600000000 - 1000000
        |ORDER BY user_id, session_start""".stripMargin),

    // Checkpoint stop→resume of CUSTOM flatMapGroupsWithState state —
    // deeper than q_streaming_resume's built-in window-agg recovery:
    // sessions straddling the stop point exist ONLY if incarnation 2
    // restored the open per-user SessionState + its event-time timeout
    // from the state store. Same closed-region contract (and oracle)
    // as q_streaming_sessionize.
    Face("q_streaming_resume_sessions", (s, dir) => {
      StreamHarness.resumedSessions(s, dir,
          gapMs = 6L * 3600000, delaySec = 600)
    },
      // the two-incarnation union on the same closed region must equal
      // the single-run sessionization — q_streaming_sessionize's oracle
      // verbatim
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |x AS (SELECT user_id, event_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |                     > 21600000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_no
        |      FROM x),
        |g AS (SELECT user_id, session_no,
        |             min(ts) AS session_start, max(ts) AS session_end,
        |             count(*) AS n_events
        |      FROM s GROUP BY user_id, session_no),
        |m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx FROM events)
        |SELECT user_id, session_start, session_end, n_events
        |FROM g, m
        |WHERE epoch_us(session_end)
        |      <= mx - 600000000 - 21600000000 - 1000000
        |ORDER BY user_id, session_start""".stripMargin),

    // foreachBatch CDC-apply: a versioned update stream merged
    // incrementally into a snapshot table (Snapshot.upsert per
    // micro-batch, versioned state dirs for retry idempotence,
    // tombstones erased only at read). ≥2 merges enforced; final
    // state must equal the single-batch upsert — the shared
    // q_snapshot_upsert recipe — bit-for-bit.
    Face("q_streaming_cdc_apply", (s, dir) =>
      StreamHarness.cdcApplyFace(s, dir),
      // the incremental foreachBatch apply must converge to the SAME
      // final state as the single-batch upsert — identical oracle
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |won AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY version DESC, prov DESC) AS rn
         |  FROM tagged)
         |SELECT doc_id, lang, source, version FROM won
         |WHERE rn = 1 AND NOT deleted ORDER BY doc_id""".stripMargin,
      // multi-second stateful stream
      minRuns = 3),

    // Trigger.AvailableNow incremental ingest — the nightly-batch-
    // over-streaming-checkpoint pattern: two short-lived query
    // incarnations over one checkpoint, each draining only what
    // arrived since the last run (resume + no-reprocess both
    // require-enforced from the observed batch ids); same versioned
    // CDC merge and oracle as q_streaming_cdc_apply.
    Face("q_streaming_availablenow", (s, dir) =>
      StreamHarness.availableNowCdcFace(s, dir),
      // identical final state to q_streaming_cdc_apply: the AvailableNow
      // face applies the same update log through the same merge — only
      // the trigger/incarnation mechanics differ, and those are
      // require-enforced inside the face, not oracle-visible
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |won AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY version DESC, prov DESC) AS rn
         |  FROM tagged)
         |SELECT doc_id, lang, source, version FROM won
         |WHERE rn = 1 AND NOT deleted ORDER BY doc_id""".stripMargin,
      // multi-second stateful stream
      minRuns = 3),

    // Byte-rate-limited backlog drain (backpressure): the CDC merge
    // under maxBytesPerTrigger over a 6-file backlog — >= 2 batches
    // (cap honored), < 6 batches (cap aggregates bytes, not files),
    // contiguous ids, per-batch row ceiling, exact partition of the
    // log; all require-enforced. Final state shares the upsert oracle.
    Face("q_streaming_backpressure", (s, dir) =>
      graft.streaming.StreamHarness.backpressureFace(s, dir),
      // identical final state again: the byte-rate-limited drain merges
      // the same log — batch slicing/bounding is require-enforced
      // in-face (tombstone retention makes state slicing-independent)
      s"""WITH d AS (SELECT doc_id, lang, source FROM documents),
         |tagged AS (
         |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS version,
         |         false AS deleted, 0 AS prov FROM d
         |  UNION ALL
         |  SELECT doc_id, 'und', source, 2, false, 1 FROM d
         |  WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, source, 3, true, 1 FROM d
         |  WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, 1, false, 1 FROM d
         |  WHERE doc_id % 13 = 0),
         |won AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY version DESC, prov DESC) AS rn
         |  FROM tagged)
         |SELECT doc_id, lang, source, version FROM won
         |WHERE rn = 1 AND NOT deleted ORDER BY doc_id""".stripMargin,
      // rate-limited multi-batch drain
      minRuns = 3)
  )
}
