package graft.faces

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.TableLayout
import Shared._

/** Layout, ingest and media faces: bucketing, pruning, compaction,
  * sorted and Z-order layouts, runtime filters, schema evolution,
  * JSONL/CSV/ORC/Avro ingest, table manifests, and image, audio and
  * video codecs, with their DuckDB oracles. */
object LayoutFaces {

  val faces: Seq[Face] = Seq(
    // Multimodal plumbing: binary payload -> mapPartitions decode ->
    // fixed-width features. ALL THREE decode paths are real codecs
    // (PNG/WAV/AVI), and the whole path — payload synthesis,
    // partition-streaming decode, feature projection — is
    // oracle-checked bit-for-bit (the oracle recomputes the features
    // from the UTF-8 bytes via hex decoding).
    Face("q_media_features", (s, dir) => {
      // image rows take the REAL PNG decode path (payload built by
      // PngCodec; width/height/bit_depth/pixel stats parsed/inflated/
      // unfiltered back OUT of the container), audio rows the REAL
      // WAV decode path (payload built by WavCodec; sample_rate/
      // bit_depth/amplitude stats read back out of the RIFF chunks),
      // and video rows the REAL AVI decode path (payload built by
      // AviCodec; width/height/n_frames/fps/pixel stats read back out
      // of the headers and reconstructed DIB scanlines) — the oracle
      // recomputes the same values from the generation rules (the
      // encode→decode round trips cancel by construction)
      val feats = Multimodal.decode(Multimodal.fromDocuments(t(s, dir, "documents")))
      feats.toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("checksum"),
          element_at(col("histogram"), 1).as("h0"),
          element_at(col("histogram"), 2).as("h1"),
          col("width"), col("height"), col("bit_depth"), col("color_type"),
          col("px_min"), col("px_max"), col("px_mean"),
          col("sample_rate"), col("n_samples"),
          col("amp_min"), col("amp_max"), col("amp_mean"),
          col("n_frames"), col("fps"))
    },
      s"""WITH b AS (
         |  SELECT doc_id, n_chars, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents),
         |bytes AS (
         |  SELECT doc_id, n_chars, n,
         |    list_transform(range(0, n), i ->
         |      strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))*16
         |      + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 17) AS bs
         |  FROM b),
         |dims AS (
         |  SELECT doc_id, n, bs,
         |    CASE WHEN doc_id % 3 = 0 THEN (n_chars % 64) + 1
         |         WHEN doc_id % 3 = 2 THEN (n_chars % 32) + 1
         |         ELSE 0 END AS w,
         |    CASE WHEN doc_id % 3 = 0 THEN (n_chars % 48) + 1
         |         WHEN doc_id % 3 = 2 THEN (n_chars % 24) + 1
         |         ELSE 0 END AS h,
         |    CASE WHEN doc_id % 3 = 2 THEN (n_chars % 6) + 2 ELSE 0 END AS nf
         |  FROM bytes),
         |content AS (
         |  SELECT doc_id, w, h, nf,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |      list_transform(range(0, w*h), i ->
         |        CASE WHEN n = 0 THEN 0 ELSE bs[(i % n) + 1] END)
         |    WHEN doc_id % 3 = 1 THEN
         |      flatten(list_transform(bs, x -> [0, (x + 128) % 256]))
         |    ELSE
         |      flatten(list_transform(range(0, nf), f ->
         |        list_transform(range(0, w*h), i ->
         |          CASE WHEN n = 0 THEN 0 ELSE bs[((i + f) % n) + 1] END)))
         |    END AS cs,
         |    CASE WHEN doc_id % 3 = 1 THEN
         |      list_transform(bs, x -> (x - 128) * 256)
         |    ELSE [] END AS amps
         |  FROM dims),
         |f AS (
         |  SELECT doc_id, w, h, nf, len(cs) AS nb,
         |    CASE WHEN len(cs) = 0 THEN 0 ELSE
         |      list_reduce(cs, (acc, x) -> (acc*31 + x) % 1000000007) END
         |      AS checksum,
         |    CAST(len(list_filter(cs, x -> x % 16 = 0)) AS DOUBLE)
         |      / greatest(len(cs), 1) AS h0,
         |    CAST(len(list_filter(cs, x -> x % 16 = 1)) AS DOUBLE)
         |      / greatest(len(cs), 1) AS h1,
         |    CASE WHEN len(cs) = 0 THEN 0 ELSE list_min(cs) END AS mn,
         |    CASE WHEN len(cs) = 0 THEN 0 ELSE list_max(cs) END AS mx,
         |    CAST(coalesce(list_sum(cs), 0) AS DOUBLE)
         |      / greatest(len(cs), 1) AS px_mean,
         |    len(amps) AS n_samples,
         |    coalesce(list_min(amps), 0) AS amp_min,
         |    coalesce(list_max(amps), 0) AS amp_max,
         |    CAST(coalesce(list_sum(amps), 0) AS DOUBLE)
         |      / greatest(len(amps), 1) AS amp_mean
         |  FROM content)
         |SELECT doc_id AS media_id,
         |       CASE WHEN doc_id % 3 = 0 THEN 'image'
         |            WHEN doc_id % 3 = 1 THEN 'audio'
         |            ELSE 'video' END AS media_type,
         |       CAST(nb AS BIGINT) AS n_bytes,
         |       CAST(checksum AS BIGINT) AS checksum, h0, h1,
         |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |       CAST(CASE WHEN doc_id % 3 = 0 THEN 8
         |                 WHEN doc_id % 3 = 1 THEN 16
         |                 ELSE 8 END AS INTEGER) AS bit_depth,
         |       CAST(0 AS INTEGER) AS color_type,
         |       CAST(mn AS INTEGER) AS px_min, CAST(mx AS INTEGER) AS px_max,
         |       px_mean,
         |       CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END
         |         AS INTEGER) AS sample_rate,
         |       CAST(n_samples AS BIGINT) AS n_samples,
         |       CAST(amp_min AS INTEGER) AS amp_min,
         |       CAST(amp_max AS INTEGER) AS amp_max, amp_mean,
         |       CAST(nf AS INTEGER) AS n_frames,
         |       CAST(CASE WHEN doc_id % 3 = 2 THEN 25 ELSE 0 END
         |         AS INTEGER) AS fps
         |FROM f ORDER BY media_id""".stripMargin),

    // Real thumbnail pipeline: PNG decode → box-filter average-pool to
    // maxDim 8 → PNG re-encode → decode AGAIN for the emitted stats —
    // two full codec round trips, so the oracle's replay of the
    // pooling arithmetic also proves the re-encoded container is
    // byte-valid.
    Face("q_image_resize", (s, dir) => {
      val imgs = Multimodal.fromDocuments(t(s, dir, "documents"))
        .filter(_.media_type == "image")
      Multimodal.decode(Multimodal.resize(imgs, maxDim = 8))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("px_min"), col("px_max"), col("px_mean"))
    },
      // replays the synthesis rule + the box-pool arithmetic: output
      // pixel (ox,oy) = floor(sum of box / area) with integer-division
      // box edges — exactly the engine's pooling; pass-through branch
      // for images already within the clamp
      s"""WITH b AS (
         |  SELECT doc_id, n_chars, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents WHERE doc_id % 3 = 0),
         |bytes AS (
         |  SELECT doc_id, n,
         |    list_transform(range(0, n), i ->
         |      strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))*16
         |      + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 17) AS bs,
         |    (n_chars % 64) + 1 AS w, (n_chars % 48) + 1 AS h
         |  FROM b),
         |tgt AS (
         |  SELECT doc_id, n, bs, w, h,
         |    CASE WHEN greatest(w, h) <= 8 THEN w
         |         ELSE greatest(1, CAST(round(w * (CAST(8 AS DOUBLE)
         |              / greatest(w, h))) AS BIGINT)) END AS nw,
         |    CASE WHEN greatest(w, h) <= 8 THEN h
         |         ELSE greatest(1, CAST(round(h * (CAST(8 AS DOUBLE)
         |              / greatest(w, h))) AS BIGINT)) END AS nh
         |  FROM bytes),
         |px AS (
         |  SELECT doc_id, nw, nh,
         |    CASE WHEN greatest(w, h) <= 8 THEN
         |      list_transform(range(0, w*h), i ->
         |        CASE WHEN n = 0 THEN 0 ELSE bs[(i % n) + 1] END)
         |    ELSE
         |      list_transform(range(0, nw*nh), o ->
         |        CAST(list_sum(flatten(list_transform(
         |          range((o // nw) * h // nh, ((o // nw) + 1) * h // nh),
         |          y -> list_transform(
         |            range((o % nw) * w // nw, ((o % nw) + 1) * w // nw),
         |            x -> CASE WHEN n = 0 THEN 0
         |                      ELSE bs[((y * w + x) % n) + 1] END))))
         |          AS BIGINT)
         |        // ((((o // nw) + 1) * h // nh - (o // nw) * h // nh)
         |           * (((o % nw) + 1) * w // nw - (o % nw) * w // nw)))
         |    END AS ps
         |  FROM tgt)
         |SELECT doc_id AS media_id, nw AS width, nh AS height,
         |       list_min(ps) AS px_min, list_max(ps) AS px_max,
         |       CAST(list_sum(ps) AS DOUBLE) / len(ps) AS px_mean
         |FROM px ORDER BY media_id""".stripMargin),

    // Real audio decimation: WAV decode → 2:1 window-average →
    // re-encode at 8 kHz → decode again for the emitted stats. Same
    // two-round-trip proof shape as q_image_resize.
    Face("q_audio_downsample", (s, dir) => {
      val aud = Multimodal.fromDocuments(t(s, dir, "documents"))
        .filter(_.media_type == "audio")
      Multimodal.decode(Multimodal.downsampleAudio(aud, factor = 2))
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("amp_min"), col("amp_max"), col("amp_mean"))
    },
      // mirrors Multimodal.fromDocuments + decodeOneStub: UTF-8 payload
      // bytes recovered via hex(encode(text)), then the same rolling
      // checksum mod 1e9+7 and mod-16 byte-histogram fractions. Exact:
      // checksum/counts are integer, fractions are int/int double
      // division. list_reduce seeds from the first element, which equals
      // the Scala loop's (0*31 + b0) first step.
      // the engine's image features come from a REAL PNG decode and its
      // audio features from a REAL WAV decode; the oracle replays both
      // from the generation rules instead (image pixels = UTF-8 text
      // bytes cycled over the imageDims canvas; audio data bytes = the
      // little-endian encoding of samples (b-128)*256, i.e. pairs
      // [0, (b+128)%256]) — the encode→decode round trips cancel by
      // construction, which is exactly the property the codec specs'
      // round-trip tests pin down
      // replays synthesis + the 2:1 byte-domain window average: sample
      // g = ((b[2g]+b[2g+1]) // 2 - 128) * 256, trailing sample alone
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |bytes AS (
         |  SELECT doc_id, n,
         |    list_transform(range(0, n), i ->
         |      strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))*16
         |      + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 17) AS bs
         |  FROM b),
         |amps AS (
         |  SELECT doc_id,
         |    list_transform(range(0, (n + 1) // 2), g ->
         |      ((CASE WHEN 2*g + 1 < n
         |             THEN (bs[2*g + 1] + bs[2*g + 2]) // 2
         |             ELSE bs[2*g + 1] END) - 128) * 256) AS am
         |  FROM bytes)
         |SELECT doc_id AS media_id, 8000 AS sample_rate,
         |       len(am) AS n_samples,
         |       CASE WHEN len(am) = 0 THEN 0 ELSE list_min(am) END AS amp_min,
         |       CASE WHEN len(am) = 0 THEN 0 ELSE list_max(am) END AS amp_max,
         |       CASE WHEN len(am) = 0 THEN 0.0
         |            ELSE CAST(list_sum(am) AS DOUBLE) / len(am) END
         |         AS amp_mean
         |FROM amps ORDER BY media_id""".stripMargin),

    // Real video frame demux: AVI payload -> per-codec-frame rows with
    // pixel stats — the explode-shaped media op (1 row -> n rows) over
    // true decoded frames. Frame pixels stay map-side; only the
    // fixed-width stats rows move. The oracle replays the synthesis
    // rule (frame f = text bytes cycled with phase shift f over the
    // videoDims canvas) — the encode→decode round trip cancels.
    Face("q_video_frames", (s, dir) => {
      Multimodal.videoFrameStats(Multimodal.fromDocuments(t(s, dir, "documents")))
        .toDF()
    },
      // Video frame demux oracle: replay the synthesis rule per frame
      // (frame f's pixel i = text byte (i+f) mod n on the videoDims
      // canvas) — the AVI encode→decode round trip cancels, so the
      // engine's codec-decoded per-frame stats are hash-exact vs this.
      s"""WITH b AS (
         |  SELECT doc_id, n_chars, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents WHERE doc_id % 3 = 2),
         |bytes AS (
         |  SELECT doc_id, n_chars, n,
         |    list_transform(range(0, n), i ->
         |      strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1))*16
         |      + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 17) AS bs
         |  FROM b),
         |dims AS (
         |  SELECT doc_id, n, bs,
         |    ((n_chars % 32) + 1) * ((n_chars % 24) + 1) AS fpx,
         |    (n_chars % 6) + 2 AS nf
         |  FROM bytes),
         |frames AS (
         |  SELECT doc_id, n, bs, fpx,
         |         unnest(range(0, nf)) AS frame_no
         |  FROM dims),
         |fc AS (
         |  SELECT doc_id, frame_no, fpx,
         |    list_transform(range(0, fpx), i ->
         |      CASE WHEN n = 0 THEN 0
         |           ELSE bs[((i + frame_no) % n) + 1] END) AS cs
         |  FROM frames)
         |SELECT doc_id AS media_id,
         |       CAST(frame_no AS INTEGER) AS frame_no,
         |       CAST(fpx AS INTEGER) AS f_bytes,
         |       CAST(list_min(cs) AS INTEGER) AS f_min,
         |       CAST(list_max(cs) AS INTEGER) AS f_max,
         |       CAST(list_sum(cs) AS DOUBLE) / fpx AS f_mean,
         |       CAST(list_reduce(cs, (acc, x) ->
         |         (acc*31 + x) % 1000000007) AS BIGINT) AS f_checksum
         |FROM fc ORDER BY media_id, frame_no""".stripMargin),

    // ---- Physical-layout faces (TableLayout): the storage-side
    // levers a 100 TB table lives or dies by, each one actually
    // exercised (real writes) with its physical property enforced by
    // a `require` inside the face. ----

    // Bucketed co-located join: customer ⋈ orders both bucketed on
    // custkey — join + per-customer rollup run with ZERO exchanges
    // (enforced); only the |segments|-row final rollup shuffles.
    Face("q_bucketed_join", (s, dir) => TableLayout.bucketedJoinFace(s, dir),
      // Layout faces: the oracle sees only the LOGICAL result — the
      // physical claims (no exchange / pruned dirs / fewer files /
      // merged footers) are require()-enforced inside each face, and the
      // hash match proves the layout machinery lost no rows.
      """SELECT c_mktsegment,
        |       count(DISTINCT c_custkey) AS n_customers,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // Hive-partitioned write + directory-pruned read (enforced via
    // inputFiles: only event_type=purchase directories are scanned).
    Face("q_partition_pruned", (s, dir) =>
      TableLayout.partitionPrunedFace(s, dir),
      """SELECT strftime(ts, '%Y-%m') AS month,
        |       count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY month""".stripMargin),

    // Small-file compaction round-trip: 48 micro-files → ~8 MB
    // targets; file count must drop, hash gate proves zero data loss.
    Face("q_compaction", (s, dir) => TableLayout.compactionFace(s, dir),
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       min(doc_id) AS min_doc_id,
        |       max(doc_id) AS max_doc_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Range-sorted (total-order) layout: documents written
    // length-sorted into 8 range files; per-file key intervals must
    // be pairwise DISJOINT (enforced — the precondition for parquet
    // stat skipping and sort-free consumption), and a point predicate
    // on the sort key must reach the scan as a pushed filter. Output
    // is boundary-independent, so the sampled range boundaries can't
    // perturb the hash.
    Face("q_sorted_layout", (s, dir) => TableLayout.sortedLayoutFace(s, dir),
      // boundary-independent measures only: the sampled range
      // boundaries vary, the totals and the rows-at-global-min don't
      """SELECT count(*) AS n_rows,
        |       min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       count(DISTINCT lang) AS n_langs,
        |       (SELECT count(*) FROM documents
        |        WHERE n_chars = (SELECT min(n_chars) FROM documents))
        |         AS n_at_min
        |FROM documents""".stripMargin),

    // Z-order (Morton) layout: events written z-ordered on
    // (user_id, hour) — per-file spans must bound BOTH dimensions
    // while the time-sorted control leaves user_id unbounded
    // (require-enforced) — multi-dimension data skipping, the
    // OPTIMIZE ZORDER BY construction.
    Face("q_zorder_layout", (s, dir) => TableLayout.zorderLayoutFace(s, dir),
      // z-order: boundary-independent global measures (the per-file
      // span contracts are require-enforced inside the face)
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT user_id) AS n_users,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id,
        |       CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events""".stripMargin),

    // Three-dimension Z-order — the (tenant, time, entity) layout:
    // events z-ordered on (user_id, hour, value-cents) via the N-D
    // Morton interleave; per-file spans must bound ALL THREE
    // dimensions while the time-sorted control bounds only time
    // (require-enforced for each dimension).
    Face("q_zorder3_layout", (s, dir) => TableLayout.zorder3LayoutFace(s, dir),
      // boundary-independent global aggregates, like q_zorder_layout;
      // value_c replays the face's floor(x+0.5) cents key exactly
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT CAST(floor(value * 100 + 0.5) AS BIGINT))
        |         AS n_values,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS value_c_sum
        |FROM events""".stripMargin),

    // Runtime bloom-filter join pruning: selective dim filter →
    // optimizer-injected might_contain probe on the fact side of a
    // shuffle join (enforced). Result is bit-identical to the plain
    // join — the bloom only pre-drops rows the equi-join would drop.
    Face("q_bloom_join", (s, dir) =>
      graft.operators.RuntimeFilters.bloomPrunedJoinFace(s, dir),
      // the bloom pre-filter is invisible to the result by construction
      """SELECT p_size, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS qty_sum,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 2
        |GROUP BY p_size ORDER BY p_size""".stripMargin),

    // Dynamic partition pruning: star join where the selective
    // predicate sits on a dim ATTRIBUTE (tier), so only the runtime
    // dynamicpruning subquery can prune the partitioned fact scan —
    // injection require-checked typed, pruning require-checked via
    // runtime metrics (2/5 partitions read). Production-default confs.
    Face("q_dpp_join", (s, dir) =>
      graft.operators.RuntimeFilters.dppJoinFace(s, dir),
      // DPP replay: the partitioned fact copy holds exactly the events
      // rows, so the oracle runs the same star join over events with
      // the tier dim as a VALUES list
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id
        |FROM events
        |JOIN (VALUES ('purchase','rev'), ('signup','acq'),
        |             ('click','eng'), ('view','eng'), ('error','ops'))
        |  AS dim(event_type, tier) USING (event_type)
        |WHERE tier IN ('rev','acq')
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Append-only schema evolution under mergeSchema: old files
    // surface the evolved column as null; the gate pins the exact
    // union-schema semantics.
    Face("q_schema_evolution", (s, dir) =>
      TableLayout.schemaEvolutionFace(s, dir),
      """WITH merged AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) AS n_total,
        |       count(n_chars) AS n_evolved,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       min(doc_id) AS min_doc_id,
        |       max(doc_id) AS max_doc_id
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin),

    // JSONL ingest with quarantine (the corpus interchange format):
    // real .jsonl files with deterministically torn lines
    // (doc_id % 37 == 5 truncated mid-object), explicit-schema
    // PERMISSIVE parse — malformed lines neither kill the ingest nor
    // silently vanish; the `__corrupt__` audit row is hash-gated.
    Face("q_jsonl_ingest", (s, dir) =>
      graft.sources.JsonlSource.ingestFace(s, dir),
      // Good rows = everything outside the corruption overlay; the torn
      // lines land in exactly one audit row. ASCII: '_' sorts before
      // the lowercase language codes in both engines' binary collation.
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 37 <> 5
        |GROUP BY lang
        |UNION ALL
        |SELECT '__corrupt__', count(*), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 37 = 5
        |ORDER BY lang""".stripMargin),

    // CSV ingest with quarantine — the JsonlSource contract on the
    // warehouse-export interchange format: declared schema (no
    // inference pass), PERMISSIVE corrupt-line routing, deterministic
    // torn-line overlay (doc_id % 41 == 7 truncated to 2 of 4
    // fields), quarantined count hash-gated.
    Face("q_csv_ingest", (s, dir) =>
      graft.sources.CsvSource.ingestFace(s, dir),
      // same quarantine contract as q_jsonl_ingest on the CSV overlay
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 41 <> 7
        |GROUP BY lang
        |UNION ALL
        |SELECT '__corrupt__', count(*), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 41 = 7
        |ORDER BY lang""".stripMargin),

    // ORC round-trip: documents written and read back as ORC with a
    // selective predicate require-enforced as a pushed filter — the
    // format surface isn't parquet-only.
    Face("q_orc_roundtrip", (s, dir) =>
      TableLayout.orcRoundTripFace(s, dir),
      // the ORC write/read round-trip is content-preserving; the oracle
      // is the same filtered aggregate on the parquet original
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       count(DISTINCT source) AS n_sources,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents WHERE n_chars > 500
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Manifest-scoped atomic publish (the Iceberg/Delta read-isolation
    // core on plain files): staged-but-unpublished files and a crashed
    // writer's orphans are INVISIBLE (reader resolves pointer ->
    // manifest -> named files, never a directory listing), the commit
    // is one atomic rename, pinned manifests time-travel — all
    // require-enforced; the current snapshot's aggregate is the gate.
    Face("q_manifest_commit", (s, dir) =>
      TableLayout.manifestCommitFace(s, dir),
      // the committed v2 snapshot replayed relationally — orphan
      // invisibility / staging isolation / pointer atomicity are
      // require-enforced in-face, not oracle-visible
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (SELECT doc_id,
        |             CASE WHEN doc_id % 5 = 0 THEN 'und' ELSE lang END
        |               AS lang, n_chars
        |      FROM documents WHERE doc_id % 3 <> 0)
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Manifest VACUUM (retention): expire snapshots below the
    // horizon, reclaim their exclusive files AND crashed writers'
    // orphans — liveness defined by retained manifests' file lists
    // (never listing/age, so deleting a reader-reachable file is
    // structurally impossible); current-read bit-stability across
    // the vacuum, orphan+v1 reclamation, and loud sub-horizon
    // time-travel failure all require-enforced.
    Face("q_manifest_vacuum", (s, dir) =>
      TableLayout.manifestVacuumFace(s, dir),
      // the surviving (v2) snapshot replayed relationally — orphan
      // reclamation / read-stability / manifest expiry are
      // require-enforced in-face, not oracle-visible
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE doc_id % 3 <> 0
        |GROUP BY source ORDER BY source""".stripMargin),

    // Avro ingest with writer/reader schema RESOLUTION: documents
    // staged as real container files through two producer schema
    // versions (v1: source; v2: source_name + quality), read under
    // ONE reader schema — alias rename + added-with-default are the
    // semantics parquet mergeSchema can't express. Torn files
    // (doc_id % 8 == 5, magic overwritten) quarantine wholesale,
    // require-enforced in-face.
    Face("q_avro_ingest", (s, dir) =>
      graft.sources.AvroSource.ingestFace(s, dir),
      // Avro resolution replayed relationally: v1-written slices
      // (doc_id % 8 <= 3) read the reader's quality DEFAULT -1.0 and
      // the aliased rename source->source_name; v2 slices carry real
      // quality = n_chars/1000.0; the torn slice (% 8 == 5) is
      // quarantined wholesale and absent
      """SELECT doc_id, lang, source AS source_name,
        |       CASE WHEN doc_id % 8 IN (4, 6, 7)
        |            THEN CAST(n_chars AS DOUBLE) / 1000.0
        |            ELSE -1.0 END AS quality
        |FROM documents WHERE doc_id % 8 <> 5
        |ORDER BY doc_id""".stripMargin)
  )
}
