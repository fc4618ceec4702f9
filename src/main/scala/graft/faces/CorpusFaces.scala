package graft.faces

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, Dedup, Distributions, Indexing, Ranking,
  Redaction, SequencePacking, TextAnalysis}
import graft.functions.{SimHashExpr, TopKBySim}
import Shared._

/** Corpus faces over `documents`: text statistics, exact and
  * near-duplicate dedup, corpus preparation and curation, sampling,
  * indexing and BPE tokenizer learning, redaction, with their DuckDB
  * oracles. */
object CorpusFaces {

  /** Edit budget for q_edit_near_dups. The sf corpus is bimodal over
    * the LSH candidates (true near-dups at 4-8 edits, band-collision
    * false positives at 140+), so 16 separates cleanly while leaving
    * the false candidates to exercise the filter. The oracle
    * interpolates the same constant. */
  private val EditNearDupMaxEdits = 16

  /** Window width (tokens) for q_substring_dedup. 8 is wide enough
    * that no two INDEPENDENT sf documents share a window (0 false
    * spans observed) while the seeded near-dup families light up with
    * partial spans (47/500 docs at sf0.01, many strictly < full-doc —
    * the span-merge path is exercised, not just whole-doc matches).
    * The oracle interpolates the same constant. */
  private val SubstringDupK = 8

  /** Mixture weights + corpus budget for q_lang_mix — zh's target
    * exceeds its stratum size, exercising the keep_bp cap. The oracle
    * CASE is generated from the same pairs so Scala and SQL can't
    * drift. */
  private val MixWeights: Seq[(String, Int)] =
    Seq("en" -> 4, "zh" -> 3, "de" -> 1, "es" -> 1, "fr" -> 1)
  private val MixBudgetPct = 60

  /** Per-language keep percentages for q_stratified_sample (unlisted
    * langs use [[SampleDefaultPct]]); the oracle CASE is generated
    * from the same pairs so Scala and SQL can't drift. */
  private val SampleRates: Seq[(String, Int)] = Seq("en" -> 50, "zh" -> 100)
  private val SampleDefaultPct = 20

  /** Generated oracle for [[graft.operators.Indexing.bpeLearn]]: an
    * unrolled `n`-stage CTE chain — stage i computes pair counts over
    * vocabulary v(i-1), picks the argmax pair b(i) (ties
    * lexicographic), and rewrites the vocabulary with the same greedy
    * left-to-right `list_reduce` fold the engine's `aggregate` HOF
    * runs. DuckDB list slices are INCLUSIVE at both ends, so
    * drop-last is `acc[:-2]`. The last stage skips the rewrite (its
    * result is never read). */
  private def bpeChainSql(n: Int, rewriteLast: Boolean): String = {
    // `word` is threaded through every v$i so eval oracles
    // (q_bpe_fertility) can join encoded lengths back on the
    // vocabulary key; the learn/encode oracles simply don't read it
    val base =
      s"""w AS (SELECT token AS word, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS token FROM documents)
         |  WHERE len(token) >= 2 GROUP BY token),
         |v0 AS (SELECT word, string_split(word, '') AS syms, freq FROM w)"""
        .stripMargin
    val rounds = (1 to n).map { i =>
      val count =
        s"""pc$i AS (
           |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
           |    SELECT freq, unnest(list_transform(range(1, len(syms)),
           |      j -> {'l': syms[j], 'r': syms[j+1]})) AS p FROM v${i - 1})
           |  GROUP BY p.l, p.r),
           |b$i AS (SELECT l, r, n FROM pc$i ORDER BY n DESC, l, r LIMIT 1)"""
          .stripMargin
      if (i == n && !rewriteLast) count
      else count + s""",
           |v$i AS (
           |  SELECT word, list_reduce([CAST([] AS VARCHAR[])] ||
           |      list_transform(syms, x -> [x]),
           |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l
           |                      AND x[1] = b.r
           |                     THEN acc[:-2] || [b.l || b.r]
           |                     ELSE acc || x END) AS syms, freq
           |  FROM v${i - 1}, b$i b)""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}"
  }

  /** Generated oracle for [[graft.operators.Indexing.bpeLearnBatched]]:
    * `passes` unrolled stages; per stage the pair counts, the
    * top-`window` ranked candidates, a RECURSIVE greedy selection
    * walk (rank order, accept while < `k` picked and {l, r, l||r}
    * shares no symbol with the accepted set — DuckDB replays the
    * driver's sequential fold as a recursive CTE with list
    * accumulators), and `k` LEFT-JOIN-guarded vocabulary rewrites
    * (an empty pick passes the vocabulary through), applied in pick
    * order exactly as the engine's one native fold sweep. */
  private def bpeBatchOracleSql(passes: Int, k: Int, window: Int,
                                encodeTopK: Option[Int] = None): String = {
    val base =
      s"""bw AS (SELECT token AS word, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS token FROM documents)
         |  WHERE len(token) >= 2 GROUP BY token),
         |bv0 AS MATERIALIZED (
         |  SELECT word, string_split(word, '') AS syms, freq FROM bw)"""
        .stripMargin
    val passSql = (1 to passes).map { p =>
      val prev = s"bv${p - 1}"
      val pick = s"len(r.picked) < $k AND NOT list_has_any(r.used, " +
        s"[c.l, c.r, c.l || c.r])"
      val rewrites = (1 to k).map { j =>
        val src = if (j == 1) prev else s"bv${p}_${j - 1}"
        s"""bsel${p}_$j AS (SELECT l, r FROM sel$p WHERE j = $j),
           |bv${p}_$j AS (
           |  SELECT word,
           |    CASE WHEN b.l IS NULL THEN syms
           |         ELSE list_reduce([CAST([] AS VARCHAR[])] ||
           |             list_transform(syms, x -> [x]),
           |           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l
           |                             AND x[1] = b.r
           |                            THEN acc[:-2] || [b.l || b.r]
           |                            ELSE acc || x END)
           |    END AS syms, freq
           |  FROM $src LEFT JOIN bsel${p}_$j b ON true)""".stripMargin
      }.mkString(",\n")
      s"""pc$p AS (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      j -> {'l': syms[j], 'r': syms[j+1]})) AS p FROM $prev)
         |  GROUP BY p.l, p.r),
         |cand$p AS MATERIALIZED (
         |  SELECT l, r, n, rn FROM (
         |    SELECT l, r, n,
         |      row_number() OVER (ORDER BY n DESC, l, r) AS rn
         |    FROM pc$p) WHERE rn <= $window),
         |rec$p AS (
         |  SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS VARCHAR[]) AS used,
         |         CAST([] AS BIGINT[]) AS picked
         |  UNION ALL
         |  SELECT c.rn,
         |    CASE WHEN $pick
         |         THEN r.used || [c.l, c.r, c.l || c.r] ELSE r.used END,
         |    CASE WHEN $pick
         |         THEN r.picked || [c.rn] ELSE r.picked END
         |  FROM rec$p r JOIN cand$p c ON c.rn = r.rn + 1),
         |sel$p AS MATERIALIZED (
         |  SELECT c.l, c.r, c.n, row_number() OVER (ORDER BY c.rn) AS j
         |  FROM cand$p c
         |  WHERE c.rn IN (SELECT unnest(picked) FROM (
         |    SELECT picked FROM rec$p ORDER BY rn DESC LIMIT 1))),
         |$rewrites,
         |bv$p AS MATERIALIZED (SELECT * FROM bv${p}_$k)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to passes)
      .map(p => s"SELECT $p AS pass, j, l, r, n FROM sel$p")
      .mkString("\nUNION ALL\n")
    val tail = encodeTopK match {
      case Some(topK) =>
        // serving arm: the final rewritten vocabulary IS the encoded
        // corpus — roll up the token distribution (bpeEncode's shape)
        s"""
           |SELECT token, CAST(sum(freq) AS BIGINT) AS n FROM (
           |  SELECT unnest(syms) AS token, freq FROM bv$passes)
           |GROUP BY token ORDER BY n DESC, token LIMIT $topK"""
          .stripMargin
      case None =>
        s""",
           |allsel AS ($sels)
           |SELECT CAST(row_number() OVER (ORDER BY pass, j) AS INTEGER)
           |    AS rank,
           |  CAST(pass AS INTEGER) AS pass, l AS "left", r AS "right",
           |  l || r AS merged, n
           |FROM allsel ORDER BY rank""".stripMargin
    }
    s"""WITH RECURSIVE $base,
       |$passSql$tail""".stripMargin
  }

  /** Generated oracle for [[graft.operators.Indexing.bpeLearnPhrases]]:
    * `passes` unrolled stages over the TOKEN-sequence table; per stage
    * the pair counts, the top-`window` ranked candidates, a RECURSIVE
    * greedy selection replaying the engine's minimal non-interaction
    * rule (three accumulator lists — accepted lefts, rights, merged
    * units; accept unless the candidate chains with an accepted pick
    * or touches an accepted merged unit), and ONE simultaneous
    * `list_reduce` fold applying the whole batch — valid precisely
    * because the selection rule makes batch members non-interacting,
    * so the engine's sequential rank-order sweep and this single
    * scan produce the same sequence. Pair lookup keys join l/r with
    * chr(1) (tokens are whitespace-split, so neither tokens nor
    * space-joined phrases can contain it) — a bare `l || r` key
    * would false-match across different split points. */
  private def bpePhraseOracleSql(passes: Int, k: Int,
                                 window: Int): String = {
    val base =
      s"""pw AS (SELECT list_filter($toksSql, t -> t <> '') AS syms
         |  FROM documents),
         |pv0 AS MATERIALIZED (
         |  SELECT syms, CAST(count(*) AS BIGINT) AS freq FROM pw
         |  WHERE len(syms) >= 2 GROUP BY syms)""".stripMargin
    val passSql = (1 to passes).map { p =>
      val prev = s"pv${p - 1}"
      val m = "c.l || ' ' || c.r"
      val ok = s"len(r.picked) < $k AND " +
        s"NOT list_contains(r.ls, c.r) AND " +
        s"NOT list_contains(r.rs, c.l) AND " +
        s"NOT list_contains(r.ls, $m) AND " +
        s"NOT list_contains(r.rs, $m) AND " +
        s"NOT list_contains(r.ms, $m) AND " +
        s"NOT list_contains(r.ms, c.l) AND " +
        s"NOT list_contains(r.ms, c.r)"
      s"""ppc$p AS (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      j -> {'l': syms[j], 'r': syms[j+1]})) AS p FROM $prev)
         |  GROUP BY p.l, p.r),
         |pcand$p AS MATERIALIZED (
         |  SELECT l, r, n, rn FROM (
         |    SELECT l, r, n,
         |      row_number() OVER (ORDER BY n DESC, l, r) AS rn
         |    FROM ppc$p) WHERE rn <= $window),
         |prec$p AS (
         |  SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS VARCHAR[]) AS ls,
         |         CAST([] AS VARCHAR[]) AS rs, CAST([] AS VARCHAR[]) AS ms,
         |         CAST([] AS BIGINT[]) AS picked
         |  UNION ALL
         |  SELECT c.rn,
         |    CASE WHEN $ok THEN r.ls || [c.l] ELSE r.ls END,
         |    CASE WHEN $ok THEN r.rs || [c.r] ELSE r.rs END,
         |    CASE WHEN $ok THEN r.ms || [$m] ELSE r.ms END,
         |    CASE WHEN $ok THEN r.picked || [c.rn] ELSE r.picked END
         |  FROM prec$p r JOIN pcand$p c ON c.rn = r.rn + 1),
         |psel$p AS MATERIALIZED (
         |  SELECT c.l, c.r, c.n, row_number() OVER (ORDER BY c.rn) AS j
         |  FROM pcand$p c
         |  WHERE c.rn IN (SELECT unnest(picked) FROM (
         |    SELECT picked FROM prec$p ORDER BY rn DESC LIMIT 1))),
         |ppl$p AS (
         |  SELECT coalesce(list(l || chr(1) || r),
         |    CAST([] AS VARCHAR[])) AS ps FROM psel$p),
         |pv$p AS MATERIALIZED (
         |  SELECT list_reduce([CAST([] AS VARCHAR[])] ||
         |      list_transform(syms, x -> [x]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND list_contains(q.ps,
         |                       acc[-1] || chr(1) || x[1])
         |                     THEN acc[:-2] || [acc[-1] || ' ' || x[1]]
         |                     ELSE acc || x END) AS syms, freq
         |  FROM $prev, ppl$p q)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to passes)
      .map(p => s"SELECT $p AS pass, j, l, r, n FROM psel$p")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $base,
       |$passSql,
       |allpsel AS ($sels)
       |SELECT CAST(row_number() OVER (ORDER BY pass, j) AS INTEGER)
       |    AS rank,
       |  CAST(pass AS INTEGER) AS pass, l AS "left", r AS "right",
       |  l || ' ' || r AS merged, n
       |FROM allpsel ORDER BY rank""".stripMargin
  }

  private def bpeLearnOracleSql(n: Int): String = {
    val finals = (1 to n).map(i =>
      s"""SELECT $i AS rank, l AS "left", r AS "right",
         |       l || r AS merged, n FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"${bpeChainSql(n, rewriteLast = false)}\n$finals\nORDER BY rank"
  }

  /** Oracle for q_bpe_encode: run the full chain INCLUDING the last
    * rewrite, then count the encoded symbols corpus-wide. */
  private def bpeEncodeOracleSql(n: Int, topK: Int): String =
    s"""${bpeChainSql(n, rewriteLast = true)}
       |SELECT token, CAST(sum(freq) AS BIGINT) AS n FROM (
       |  SELECT unnest(syms) AS token, freq FROM v$n)
       |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin

  // DuckDB mirrors of the TextAnalysis formulas, generated from the
  // same stopword lists so Scala and SQL can't drift
  private def stopCountSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toksSql, t -> list_contains($lst, t)))"
  }
  private def langCaseSql: String = {
    val langs = TextAnalysis.StopwordLists.map(_._1)
    val arms = TextAnalysis.StopwordLists.map { case (l, _) =>
      val others = langs.filter(_ != l)
        .map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN c_$l > 0 AND $others THEN '$l'"
    }.mkString("\n       ")
    s"""CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0
       |         THEN 'zh'
       |       $arms
       |       ELSE 'und' END""".stripMargin
  }

  // --- DuckDB mirrors of the Dedup pipeline, generated from the same
  // Dedup.Coeffs / SimHashExpr.NumBits constants so Scala and SQL can't
  // drift ------------------------------------------------------------
  /** Shared substring-dedup span CTEs (mirror Dedup.dupSpanFrames):
    * k-token windows over docs with >= k tokens, rolling-hash
    * fingerprints, duplicated iff >= 2 docs share the fingerprint,
    * merged spans emitted as `sp(doc_id, island, s, e)` plus the
    * window relation `w(doc_id, pos, h)`. Used by both the
    * q_substring_dedup (report) and q_substring_scrub (apply)
    * oracles so the two replay ONE span construction. */
  private def substringSpanCtes: String =
    s"""ft AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |  WHERE len($toksSql) >= $SubstringDupK),
       |g AS (
       |  SELECT doc_id, i AS pos, array_to_string(
       |    list_slice(toks, i, i+${SubstringDupK - 1}), ' ') AS gram
       |  FROM ft, unnest(range(1, len(toks)-${SubstringDupK}+2)) AS u(i)),
       |w AS (SELECT doc_id, pos, ${rhSql("gram")} AS h FROM g),
       |dh AS (SELECT h FROM w GROUP BY h
       |       HAVING count(DISTINCT doc_id) >= 2),
       |isl AS (
       |  SELECT doc_id, pos, CASE WHEN pos > coalesce(
       |    max(pos + $SubstringDupK) OVER (PARTITION BY doc_id
       |      ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |    THEN 1 ELSE 0 END AS brk
       |  FROM w JOIN dh USING (h)),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |sp AS (SELECT doc_id, island, min(pos) AS s,
       |         max(pos) + $SubstringDupK AS e
       |       FROM isl2 GROUP BY doc_id, island)""".stripMargin

  /** Distinct 3-gram shingles per document (mirrors Dedup.shingles). */
  private val shingleCte: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(toks)-2, 1)+1),
      |    i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS sh
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
      |        FROM documents))""".stripMargin

  /** MinHash signature columns m0..mk (mirrors Dedup.minhashSignature). */
  private def sigCte: String = {
    val ms = Dedup.Coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h*$a + $b) % ${Dedup.P})) AS m$i"
    }.mkString(",\n    ")
    s"""hs AS (SELECT doc_id, list_transform(sh, s -> ${rhSql("s")}) AS hs FROM sh),
       |sig AS (SELECT doc_id,
       |    $ms
       |  FROM hs)""".stripMargin
  }

  /** SimHash fingerprint CTEs (`t` + `hs` + `sim`, emitting doc_id,
    * sh) — mirrors Dedup.simhash / SimHashExpr; shared by the
    * q_simhash and q_simhash_near_dups oracles. */
  private def simhashCte: String = {
    val bits = (0 until SimHashExpr.NumBits).map { b =>
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString("\n  + ")
    s"""t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |      FROM documents),
       |hs AS (SELECT doc_id, list_transform(toks, s -> ${rhSql("s")}) AS hs FROM t),
       |sim AS (SELECT doc_id,
       |  $bits AS sh
       |FROM hs)""".stripMargin
  }

  /** Full LSH candidate+verify pipeline CTEs (shingles → signatures →
    * bands → candidate pairs → exact-Jaccard `scored`), shared by the
    * near-dup pair and cluster oracles. */
  private def lshPipelineSql: String = {
    val bandArms = (0 until Dedup.numBands).map { j =>
      s"SELECT doc_id, $j AS band, m${j * Dedup.BandRows} AS h1, " +
        s"m${j * Dedup.BandRows + 1} AS h2 FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$shingleCte,
       |$sigCte,
       |bands AS (
       |  $bandArms),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
       |   AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
       |      / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
       |      AS sim
       |  FROM cand c
       |  JOIN hs sa ON sa.doc_id = c.doc_a
       |  JOIN hs sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  private val fingerprintSql =
    """md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))""".stripMargin

  /** Shared quality/language CTEs (`c` + `scored`, emitting doc_id,
    * source, lang, gl = guessed language, quality) — mirrors
    * TextAnalysis.languageId/qualityScore and is reused by the
    * q_lang_quality, q_curation, and q_top_docs_per_lang oracles so
    * the three can't drift apart. */
  private def qualityScoredCte: String =
    s"""c AS (
       |  SELECT doc_id, source, lang, text,
       |    ${TextAnalysis.StopwordLists.map { case (l, ws) =>
              s"${stopCountSql(ws)} AS c_$l" }.mkString(",\n    ")},
       |    CAST(len($toksSql) AS DOUBLE) AS tok,
       |    CAST(len(list_distinct($toksSql)) AS DOUBLE) AS uniq,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |      AS punct
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, source, lang,
       |    $langCaseSql AS gl,
       |    0.25 * least(1.0, tok / 50.0)
       |      + 0.25 * (uniq / (tok + 1.0))
       |      + 0.25 * (1.0 - least(1.0, punct * 5.0 / (tok + 1.0)))
       |      + 0.25 * least(1.0, c_en * 5.0 / (tok + 1.0)) AS quality
       |  FROM c)""".stripMargin

  // --- DuckDB mirrors of the CorpusOps formulas, generated from the
  // same constants (DecontamGramSize, EvalMod, TopBigramFracThreshold,
  // SampleRates) so Scala and SQL can't drift -------------------------

  /** Decontamination CTEs (csh: distinct n-gram hashes per doc; cg:
    * exploded grams; ceg: eval-set gram hashes; cont: contaminated
    * train docs with shared-gram counts) — mirrors
    * CorpusOps.decontaminate (n-gram size and eval modulus interpolate
    * from the same constants).
    *
    * @param docFilter extra doc_id predicate restricting BOTH the
    *                   eval-gram set and the contamination counting —
    *                   the incremental-prep oracle scopes the stage to
    *                   the batch, mirroring the batch-side evaluation
    *                   in CorpusOps.incrementalPrepKept. */
  private def decontamCte(docFilter: String = "TRUE"): String = {
    val n1 = CorpusOps.DecontamGramSize - 1
    s"""csh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_distinct(list_transform(
       |      range(1, greatest(len(toks)-$n1, 1)+1),
       |      i -> array_to_string(list_slice(toks, i, i+$n1), ' '))),
       |    s -> ${rhSql("s")})) AS ghs
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |        FROM documents)),
       |cg AS (SELECT doc_id, unnest(ghs) AS gram FROM csh),
       |ceg AS (SELECT DISTINCT gram FROM cg
       |        WHERE doc_id % ${CorpusOps.EvalMod} = 0 AND ($docFilter)),
       |cont AS (
       |  SELECT cg.doc_id AS doc_id, count(*) AS n_shared_grams
       |  FROM cg JOIN ceg USING (gram)
       |  WHERE cg.doc_id % ${CorpusOps.EvalMod} <> 0 AND ($docFilter)
       |  GROUP BY 1)""".stripMargin
  }

  /** Repetition-stats CTEs (rt: tokens; rb: base stats + bigrams WITH
    * multiplicity; rc: per-(doc, bigram-HASH) counts — the engine
    * counts multiplicity per rolling hash (TopNgramCountExpr), so the
    * oracle groups the same hashes; rpd: per-doc bigram aggregates;
    * rep: the full stat row) — mirrors CorpusOps.repetitionStats,
    * including the <2-token omission. */
  private def repetitionCte: String =
    s"""rt AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |       FROM documents),
       |rb AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |         list_transform(range(1, len(toks)),
       |           i -> array_to_string(list_slice(toks, i, i+1), ' ')) AS bigrams
       |       FROM rt WHERE len(toks) >= 2),
       |rc AS (SELECT doc_id, bg, count(*) AS n
       |       FROM (SELECT doc_id, unnest(list_transform(bigrams,
       |                    s -> ${rhSql("s")})) AS bg FROM rb)
       |       GROUP BY doc_id, bg),
       |rpd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |          CAST(max(n) AS BIGINT) AS top_bigram_n
       |        FROM rc GROUP BY doc_id),
       |rep AS (
       |  SELECT rb.doc_id, n_tokens, n_distinct_tokens,
       |    CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens
       |      AS dup_token_frac,
       |    n_bigrams, top_bigram_n,
       |    CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
       |    CAST(top_bigram_n AS DOUBLE) / n_bigrams
       |      > CAST(${CorpusOps.TopBigramFracThreshold} AS DOUBLE)
       |      AS repetitive
       |  FROM rb JOIN rpd USING (doc_id))""".stripMargin

  /** The corpus-prep funnel CTE chain (quality/language scoring, exact
    * + near-dup dedup, decontamination, repetition filter → `kept` =
    * (doc_id, lang, n_tokens, split bucket b)) — the SQL twin of
    * CorpusOps.corpusPrepKeptFromShared, shared verbatim by the
    * q_corpus_prep_v2 and q_corpus_prep_v3 oracles so the two funnels
    * can't drift. Callers prepend `WITH RECURSIVE` (the `reach` CTE). */
  private def corpusKeptCtesSql: String =
    s"""${qualityScoredCte.replace("scored AS (", "qscored AS (")},
       |f AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
       |ecanon AS (
       |  SELECT doc_id,
       |         doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_ec
       |  FROM f),
       |$lshPipelineSql,
       |pedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE sim >= 0.5
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM scored WHERE sim >= 0.5),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM pedges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |asg AS (
       |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |${decontamCte()},
       |$repetitionCte,
       |toks AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |         FROM documents),
       |kept AS (
       |  SELECT q.doc_id, q.lang, t.n_tokens,
       |    ${rhSql("CAST(q.doc_id AS VARCHAR)")} % 10 AS b
       |  FROM qscored q
       |  JOIN ecanon e ON e.doc_id = q.doc_id
       |  JOIN asg a ON a.doc_id = q.doc_id
       |  JOIN toks t ON t.doc_id = q.doc_id
       |  LEFT JOIN cont ct ON ct.doc_id = q.doc_id
       |  LEFT JOIN rep r ON r.doc_id = q.doc_id
       |  WHERE e.is_ec AND a.doc_id = a.cluster
       |    AND q.doc_id % ${CorpusOps.EvalMod} <> 0
       |    AND ct.doc_id IS NULL
       |    AND NOT coalesce(r.repetitive, false)
       |    AND q.gl = q.lang AND q.quality >= 0.5)""".stripMargin

  /** Keep-percentage CASE for q_stratified_sample — generated from the
    * same [[SampleRates]] pairs the Spark query passes. */
  private def sampleCaseSql: String = {
    val arms = SampleRates.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString(" ")
    s"CASE $arms ELSE $SampleDefaultPct END"
  }

  /** Mixture-weight CASE for q_lang_mix — generated from the same
    * [[MixWeights]] pairs the Spark query passes (absent strata weigh
    * 0, mirroring CorpusOps.mixtureSample). */
  private def mixCaseSql: String = {
    val arms = MixWeights.map { case (l, w) => s"WHEN lang = '$l' THEN $w" }
      .mkString(" ")
    s"CASE $arms ELSE 0 END"
  }

  val faces: Seq[Face] = Seq(
    // Text analysis: token/char/punct stats, BPE-ish token count,
    // canonical fingerprint, native rolling-hash expression.
    Face("q_text_stats", (s, dir) => {
      val d = t(s, dir, "documents")
      val txt = col("text")
      d.select(col("doc_id"),
               TextAnalysis.tokenCount(txt).as("n_tokens"),
               TextAnalysis.bpeTokenCount(txt).as("n_bpe_tokens"),
               TextAnalysis.punctCount(txt).as("n_punct"),
               TextAnalysis.distinctTokenCount(txt).as("n_distinct_tokens"),
               TextAnalysis.fingerprintMd5(txt).as("fingerprint"),
               TextAnalysis.rollingHash(txt).as("rhash"))
    },
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         |    AS n_bpe_tokens,
         |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |  len(list_distinct($toksSql)) AS n_distinct_tokens,
         |  md5(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint,
         |  CASE WHEN len(text) = 0 THEN 0 ELSE
         |    list_reduce(list_transform(range(1, len(text)+1),
         |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
         |      (acc, x) -> (acc*31 + x) % 1000000007) END AS rhash
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic + quality scoring.
    Face("q_lang_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val txt = col("text")
      d.select(col("doc_id"), col("lang"),
               TextAnalysis.languageId(txt).as("guessed_lang"),
               TextAnalysis.qualityScore(txt).as("quality"))
    },
      s"""WITH $qualityScoredCte
         |SELECT doc_id, lang, gl AS guessed_lang, quality
         |FROM scored ORDER BY doc_id""".stripMargin),

    // Positive PMI over forward skip-grams (window 2): the
    // word-association matrix word2vec implicitly factorizes (Levy &
    // Goldberg 2014). Pair-event marginals over ALL pairs, minCount
    // output filter, fixed-point log2 — integer-exact end to end.
    Face("q_ppmi_cooccur", (s, dir) => {
      CorpusOps.ppmiCooccurrence(t(s, dir, "documents"), "doc_id",
          "text")
    },
      // skip-gram PPMI replay: pair unfold by correlated lateral
      // ranges, pair-event marginals, then the fixed-point log2 chain
      // (q_kl_drift's recursion) keyed by the pair
      s"""WITH RECURSIVE
         |tok AS (SELECT $toksSql AS toks FROM documents),
         |pr AS (
         |  SELECT toks[i] AS w1, toks[i + j] AS w2
         |  FROM tok,
         |       unnest(range(1, len(toks))) AS u(i),
         |       unnest(range(1, least(2, len(toks) - i) + 1)) AS v(j)
         |  WHERE len(toks[i]) > 0 AND len(toks[i + j]) > 0),
         |pc AS (SELECT w1, w2, count(*) AS c_pair FROM pr GROUP BY 1, 2),
         |cl AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_l
         |       FROM pc GROUP BY 1),
         |cr AS (SELECT w2, CAST(sum(c_pair) AS BIGINT) AS c_r
         |       FROM pc GROUP BY 1),
         |nn AS (SELECT CAST(sum(c_pair) AS BIGINT) AS n_pairs FROM pc),
         |r AS (SELECT p.w1, p.w2, p.c_pair, l.c_l, r2.c_r,
         |        p.c_pair * n.n_pairs AS num, l.c_l * r2.c_r AS den
         |      FROM pc p JOIN cl l USING (w1) JOIN cr r2 USING (w2), nn n
         |      WHERE p.c_pair >= 5
         |        AND p.c_pair * n.n_pairs >= l.c_l * r2.c_r),
         |et0 AS (SELECT *, length(bin(num)) - length(bin(den)) AS e0
         |        FROM r),
         |et AS (SELECT *, CASE WHEN num < (den << e0) THEN e0 - 1
         |                      ELSE e0 END AS e
         |       FROM et0),
         |fx AS (
         |  SELECT w1, w2, 0 AS i, CAST(num AS BIGINT) AS pp,
         |         CAST(den << e AS BIGINT) AS qq, CAST(0 AS BIGINT) AS frac
         |  FROM et
         |  UNION ALL
         |  SELECT w1, w2, i + 1, ps,
         |         CASE WHEN ps >= 2*qs THEN 2*qs ELSE qs END,
         |         frac*2 + CASE WHEN ps >= 2*qs THEN 1 ELSE 0 END
         |  FROM (SELECT w1, w2, i, frac,
         |          (pp >> sh)*(pp >> sh) AS ps, (qq >> sh)*(qq >> sh) AS qs
         |        FROM (SELECT *, greatest(length(bin(pp)) - 31, 0) AS sh
         |              FROM fx WHERE i < 8) s) s2)
         |SELECT et.w1, et.w2, et.c_pair, et.c_l, et.c_r,
         |       et.e*256 + fx.frac AS ppmi_q8
         |FROM et JOIN fx ON fx.w1 = et.w1 AND fx.w2 = et.w2 AND fx.i = 8
         |ORDER BY et.w1, et.w2""".stripMargin),

    // Temperature-based source mixing (τ=0.5): sampling weights
    // ∝ sqrt(n_docs) — the exponentiated-count upsampling recipe a
    // multi-domain training run uses to boost tail sources. sqrt is
    // the one IEEE-correctly-rounded power, quantized to integer
    // BEFORE the normalization sum, so every share is a truncating
    // BIGINT division over order-independent integer totals.
    Face("q_temperature_mix", (s, dir) => {
      CorpusOps.temperatureMixWeights(t(s, dir, "documents"), "source",
          budget = 10000L)
    },
      // τ=0.5 source mixing: sqrt is IEEE-correctly-rounded, weight
      // quantized to integer BEFORE the normalization sum
      s"""WITH c AS (SELECT source, count(*) AS n_docs
         |           FROM documents GROUP BY 1),
         |w AS (SELECT source, n_docs,
         |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0)
         |             AS BIGINT) AS weight_q
         |      FROM c),
         |t AS (SELECT *, CAST(sum(weight_q) OVER () AS BIGINT) AS tot
         |      FROM w)
         |SELECT source, n_docs, weight_q,
         |  weight_q * 1000000 // tot AS weight_ppm,
         |  10000 * weight_q // tot AS target_docs,
         |  (10000 * weight_q // tot) * 1000 // n_docs AS upsample_permille
         |FROM t ORDER BY source""".stripMargin),

    // Per-source quality-percentile calibration: each doc's per-mille
    // percentile WITHIN its source (FineWeb-style per-domain
    // thresholding removes the domain bias of a global quality
    // floor). VALUE-FREQUENCY selection — the exchange carries only
    // the (source, q_milli) frequency frame, never a per-source
    // corpus sort.
    Face("q_quality_calibration", (s, dir) => {
      CorpusOps.qualityCalibration(t(s, dir, "documents"), "doc_id",
          "text", "source")
    },
      // per-source value-percentile over milli-quantized quality —
      // replays the VALUE-FREQUENCY selection exactly (cumulative
      // below-count over the bounded frequency frame, ties share the
      // value's percentile)
      s"""WITH $qualityScoredCte,
         |sq AS (SELECT doc_id, source,
         |         CAST(floor(quality * 1000.0) AS BIGINT) AS q_milli
         |       FROM scored),
         |f AS (SELECT source, q_milli, count(*) AS cnt
         |      FROM sq GROUP BY 1, 2),
         |cum AS (SELECT source, q_milli,
         |          CAST(coalesce(sum(cnt) OVER (PARTITION BY source
         |            ORDER BY q_milli ROWS BETWEEN UNBOUNDED PRECEDING
         |            AND 1 PRECEDING), 0) AS BIGINT) AS below,
         |          CAST(sum(cnt) OVER (PARTITION BY source)
         |               AS BIGINT) AS n
         |        FROM f)
         |SELECT s.doc_id, s.source, s.q_milli,
         |  c.below * 1000 // greatest(c.n - 1, 1) AS pr_permille,
         |  (c.below * 1000 // greatest(c.n - 1, 1)) >= 500 AS keep
         |FROM sq s JOIN cum c
         |  ON c.source = s.source AND c.q_milli = s.q_milli
         |ORDER BY s.doc_id""".stripMargin),

    // Exact dedup: canonical-fingerprint window (one shuffle, no skew).
    Face("q_exact_dedup", (s, dir) => {
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH f AS (SELECT doc_id, $fingerprintSql AS fingerprint FROM documents)
         |SELECT doc_id, fingerprint,
         |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
         |  count(*) OVER (PARTITION BY fingerprint) AS group_size,
         |  doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
         |FROM f ORDER BY doc_id""".stripMargin),

    // MinHash signatures (k=8 affine permutations of shingle rolling
    // hashes) — the LSH building block, exposed per-component.
    Face("q_minhash", (s, dir) => {
      val sig = Dedup.minhashSignature(col("text"), 3)
      val cols = col("doc_id") +: Dedup.Coeffs.indices.map(i =>
        element_at(sig, i + 1).as(s"m$i"))
      t(s, dir, "documents").select(cols: _*)
    },
      s"""WITH $shingleCte,
         |$sigCte
         |SELECT doc_id, ${Dedup.Coeffs.indices.map(i => s"m$i").mkString(", ")}
         |FROM sig ORDER BY doc_id""".stripMargin),

    // Incremental dedup: a new batch (odd doc ids) deduped against an
    // already-deduplicated corpus (even ids) — the day-to-day ingest
    // operator. The corpus side NEVER shuffles: it streams through
    // broadcast probes of the batch's fingerprints and LSH bands;
    // within-batch canonicals reuse the full-dedup operators.
    Face("q_incremental_dedup", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.incrementalDedupKept(
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text")
    },
      // the batch is the odd ids, the corpus the even ids; band
      // collisions/sims come from the same all-docs LSH CTEs (bands are
      // per-doc deterministic, so all-docs pairs restricted to
      // odd-even / odd-odd equal the cross-set / within-batch pairs)
      s"""WITH RECURSIVE $lshPipelineSql,
         |fps AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |xfp AS (
         |  SELECT DISTINCT b.fp FROM fps b JOIN fps e ON e.fp = b.fp
         |  WHERE b.doc_id % 2 = 1 AND e.doc_id % 2 = 0),
         |xnd AS (
         |  SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END
         |    AS doc_id
         |  FROM scored WHERE sim >= 0.5 AND (doc_a % 2) <> (doc_b % 2)),
         |bec AS (
         |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_ec
         |  FROM fps WHERE doc_id % 2 = 1),
         |pedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored
         |  WHERE sim >= 0.5 AND doc_a % 2 = 1 AND doc_b % 2 = 1
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM scored
         |  WHERE sim >= 0.5 AND doc_a % 2 = 1 AND doc_b % 2 = 1),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM pedges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         |SELECT f.doc_id FROM fps f
         |JOIN bec ON bec.doc_id = f.doc_id
         |LEFT JOIN comp c ON c.id = f.doc_id
         |LEFT JOIN xfp ON xfp.fp = f.fp
         |LEFT JOIN xnd ON xnd.doc_id = f.doc_id
         |WHERE f.doc_id % 2 = 1 AND bec.is_ec
         |  AND coalesce(c.cluster, f.doc_id) = f.doc_id
         |  AND xfp.fp IS NULL AND xnd.doc_id IS NULL
         |ORDER BY f.doc_id""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3),

    // Incremental corpus-prep end-to-end — the daily-ingest composite:
    // the new batch (doc_id % 3 == 0, so the batch CONTAINS eval-rule
    // ids and the decontamination/eval-exclusion stages are exercised)
    // runs the full v2 funnel within-batch AND the cross-corpus dedup
    // against the remaining docs as the already-curated corpus. One
    // pinned batch projection feeds everything; the corpus side only
    // streams through broadcast probes (plan-asserted in
    // PlanShapeSpec).
    Face("q_incremental_prep", (s, dir) => {
      val d = t(s, dir, "documents")
      CorpusOps.incrementalPrepKept(
          d.filter(pmod(col("doc_id"), lit(3)) === 0),
          d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", "lang")
    },
      // the incremental composite: the v2 funnel's stage CTEs restricted
      // to the batch (doc_id % 3 = 0) — within-batch canonicals/clusters
      // from the all-docs LSH pairs filtered to batch-batch (bands are
      // per-doc deterministic, so the restriction is exact), batch-side
      // decontamination via decontamCte's docFilter — plus the
      // q_incremental_dedup-style cross rules (xfp/xnd) against the
      // remaining docs as the corpus
      s"""WITH RECURSIVE ${qualityScoredCte.replace("scored AS (", "qscored AS (")},
         |f AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |$lshPipelineSql,
         |${decontamCte("doc_id % 3 = 0")},
         |$repetitionCte,
         |toks AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |         FROM documents),
         |bec AS (
         |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_ec
         |  FROM f WHERE doc_id % 3 = 0),
         |pedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored
         |  WHERE sim >= 0.5 AND doc_a % 3 = 0 AND doc_b % 3 = 0
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM scored
         |  WHERE sim >= 0.5 AND doc_a % 3 = 0 AND doc_b % 3 = 0),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM pedges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |xfp AS (
         |  SELECT DISTINCT b.fp FROM f b JOIN f e ON e.fp = b.fp
         |  WHERE b.doc_id % 3 = 0 AND e.doc_id % 3 <> 0),
         |xnd AS (
         |  SELECT DISTINCT CASE WHEN doc_a % 3 = 0 THEN doc_a ELSE doc_b END
         |    AS doc_id
         |  FROM scored
         |  WHERE sim >= 0.5 AND (doc_a % 3 = 0) <> (doc_b % 3 = 0))
         |SELECT q.doc_id, q.lang, t.n_tokens
         |FROM qscored q
         |JOIN bec ON bec.doc_id = q.doc_id
         |JOIN toks t ON t.doc_id = q.doc_id
         |JOIN f ON f.doc_id = q.doc_id
         |LEFT JOIN comp c ON c.id = q.doc_id
         |LEFT JOIN cont ct ON ct.doc_id = q.doc_id
         |LEFT JOIN rep r ON r.doc_id = q.doc_id
         |LEFT JOIN xfp ON xfp.fp = f.fp
         |LEFT JOIN xnd ON xnd.doc_id = q.doc_id
         |WHERE q.doc_id % 3 = 0 AND bec.is_ec
         |  AND coalesce(c.cluster, q.doc_id) = q.doc_id
         |  AND q.doc_id % ${CorpusOps.EvalMod} <> 0
         |  AND ct.doc_id IS NULL
         |  AND NOT coalesce(r.repetitive, false)
         |  AND q.gl = q.lang AND q.quality >= 0.5
         |  AND xfp.fp IS NULL AND xnd.doc_id IS NULL
         |ORDER BY q.doc_id""".stripMargin),

    // Near-dup pairs: LSH banding (never all-pairs) + exact Jaccard
    // verify — the scale path for 100 TB dedup.
    Face("q_lsh_near_dups", (s, dir) => {
      Dedup.lshNearDups(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH $lshPipelineSql
         |SELECT doc_a, doc_b, sim FROM scored
         |WHERE sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),

    // Cluster-level dedup: LSH pairs → connected components →
    // canonical min-id doc per transitive near-dup cluster.
    Face("q_neardup_clusters", (s, dir) => {
      Dedup.nearDupClusters(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH RECURSIVE $lshPipelineSql,
         |pedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE sim >= 0.5
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM scored WHERE sim >= 0.5),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM pedges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |asg AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, cluster,
         |       count(*) OVER (PARTITION BY cluster) AS cluster_size,
         |       doc_id = cluster AS is_canonical
         |FROM asg ORDER BY doc_id""".stripMargin),

    // The dedup REPORT: cluster-size histogram + removable-doc count
    // — the "how much does near-dup dedup save" summary every
    // production dedup run reads before committing to a scrub. Two
    // bounded rollups over the doc-keyed cluster table (cluster-count
    // then histogram-sized); the corpus never re-shuffles.
    Face("q_neardup_cluster_stats", (s, dir) => {
      Dedup.nearDupClusters(t(s, dir, "documents"), "doc_id", "text")
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          expr("cluster_size * n_clusters").as("n_docs"),
          expr("(cluster_size - 1) * n_clusters").as("n_removable"))
    },
      // same cluster construction, rolled to the size histogram
      s"""WITH RECURSIVE $lshPipelineSql,
         |pedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE sim >= 0.5
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM scored WHERE sim >= 0.5),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM pedges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |asg AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |cs AS (SELECT cluster, count(*) AS sz FROM asg GROUP BY 1)
         |SELECT sz AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(sz * count(*) AS BIGINT) AS n_docs,
         |  CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
         |FROM cs GROUP BY sz ORDER BY sz""".stripMargin),

    // MinHash estimator quality: signature-match estimate vs exact
    // Jaccard per LSH candidate pair, integer per-mille — the eval
    // face for the dedup family's sketch (recall@k's role for ANN).
    Face("q_minhash_est_quality", (s, dir) => {
      Dedup.minhashEstQuality(t(s, dir, "documents"), "doc_id", "text")
    },
      // estimator-vs-exact replay over the same candidate CTEs; the
      // signature compare sums per-component CASE equalities over the
      // m0..m{k-1} columns sigCte emits
      {
      val k = Dedup.Coeffs.size
      val matches = Dedup.Coeffs.indices
        .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $lshPipelineSql,
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST($matches AS BIGINT) AS n_match,
         |    CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS isz,
         |    CAST(len(ha.hs) + len(hb.hs)
         |      - len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS uni
         |  FROM cand c
         |  JOIN sig a ON a.doc_id = c.doc_a
         |  JOIN sig b ON b.doc_id = c.doc_b
         |  JOIN hs ha ON ha.doc_id = c.doc_a
         |  JOIN hs hb ON hb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b,
         |  n_match * 1000 // $k AS est_permille,
         |  isz * 1000 // uni AS exact_permille,
         |  abs(n_match * 1000 // $k - isz * 1000 // uni) AS err_permille
         |FROM est ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Exact n-gram Jaccard similarity join (prefix filtering — the
    // PPJoin principle): the deterministic-exact counterpart of the
    // probabilistic LSH pair mining, same never-all-pairs shape.
    Face("q_jaccard_near_dups", (s, dir) => {
      Dedup.jaccardNearDups(t(s, dir, "documents"), "doc_id", "text")
    },
      // semantic mirror is the brute-force all-pairs join — prefix
      // filtering is exact, so the oracle needn't replicate it
      s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, list_transform(sh, s -> ${rhSql("s")}) AS hs FROM sh),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
         |      AS sim
         |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, sim FROM p
         |WHERE sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),

    // Edit-distance near-dup pairs: LSH band candidates verified by
    // Levenshtein on the raw text — the fuzzy-substring face of the
    // dedup family (catches small in-place mutations Jaccard treats as
    // set noise). The quadratic DP runs on candidates only.
    Face("q_edit_near_dups", (s, dir) => {
      Dedup.editNearDups(t(s, dir, "documents"), "doc_id", "text",
          maxEdits = EditNearDupMaxEdits)
        .select(col("doc_a"), col("doc_b"), col("edits").cast("long").as("edits"))
    },
      // same band-candidate CTEs as the LSH oracle; Levenshtein is the
      // classical unit-cost edit distance in both engines (exact int)
      s"""WITH $lshPipelineSql
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edits
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.doc_a
         |JOIN documents db ON db.doc_id = c.doc_b
         |WHERE levenshtein(da.text, db.text) <= $EditNearDupMaxEdits
         |ORDER BY 1, 2""".stripMargin,
      // has shown multi-x run spreads
      minRuns = 3),

    // Cross-document exact-substring duplication (Lee et al. 2022):
    // merged spans of 8-token windows whose rolling-hash fingerprint
    // occurs in >= 2 documents — the span-level signal document
    // fingerprints can't see. One pinned tokenize scan, fingerprint
    // postings never collected, islands window doc-bounded.
    Face("q_substring_dedup", (s, dir) => {
      Dedup.substringDupSpans(t(s, dir, "documents"), "doc_id", "text",
          k = SubstringDupK)
    },
      // mirrors Dedup.substringDupSpans: k-token windows fingerprinted
      // with the shared rolling hash, duplicated iff the fingerprint
      // spans >= 2 docs, per-doc gaps-and-islands span merge, all
      // arithmetic integer (one truncating per-mille division)
      s"""WITH $substringSpanCtes,
         |tot AS (SELECT doc_id, max(pos) + ${SubstringDupK - 1} AS n_tokens
         |        FROM w GROUP BY doc_id),
         |agg AS (SELECT doc_id, count(*) AS n_dup_spans,
         |          CAST(sum(e - s) AS BIGINT) AS dup_tokens
         |        FROM sp GROUP BY doc_id)
         |SELECT t.doc_id, t.n_tokens,
         |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
         |  coalesce(a.dup_tokens, 0) AS dup_tokens,
         |  coalesce(a.dup_tokens, 0) * 1000 // t.n_tokens AS dup_permille
         |FROM tot t LEFT JOIN agg a USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // The APPLY half of substring dedup: rebuild every document with
    // its cross-doc duplicated spans removed (short docs untouched,
    // fully-duplicated docs scrubbed to empty). Two corpus scans by
    // design — span pass + token pass; doc-keyed range anti-join.
    Face("q_substring_scrub", (s, dir) => {
      Dedup.scrubDupSpans(t(s, dir, "documents"), "doc_id", "text",
          k = SubstringDupK)
    },
      // mirrors Dedup.scrubDupSpans over the SAME span CTEs: every doc
      // (short ones untouched), kept = positions outside every span
      // (NOT EXISTS range test), canonical-form text re-joined in
      // position order, md5-gated
      s"""WITH $substringSpanCtes,
         |tk AS (
         |  SELECT doc_id, i AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents),
         |       unnest(range(1, len(toks)+1)) AS u(i)),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tk t
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id
         |      AND t.pos >= sp.s AND t.pos < sp.e)),
         |tot AS (SELECT doc_id, CAST(sum(len($toksSql)) AS BIGINT)
         |          AS n_tokens FROM documents GROUP BY 1),
         |ka AS (SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(array_agg(tok ORDER BY pos), ' ')
         |           AS scrub_text
         |       FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, t.n_tokens,
         |  coalesce(ka.n_kept, 0) AS n_kept,
         |  md5(coalesce(ka.scrub_text, '')) AS scrub_md5
         |FROM tot t LEFT JOIN ka USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // SimHash fingerprint (native one-pass Catalyst expression).
    Face("q_simhash", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
    },
      s"""WITH $simhashCte
         |SELECT doc_id, sh AS simhash FROM sim ORDER BY doc_id""".stripMargin),

    // The SQL SURFACE of the extension functions: the same engine
    // primitives (rolling_hash, token_hashes, simhash) invoked through
    // a plain spark.sql string over a registered view — the route a
    // SQL-only user takes (SparkSessionExtensions / register()).
    Face("q_sql_surface", (s, dir) => {
      graft.GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs")
      val out = s.sql(
        """SELECT doc_id,
          |       rolling_hash(text) AS text_hash,
          |       simhash(token_hashes(text)) AS fingerprint
          |FROM graft_docs ORDER BY doc_id""".stripMargin)
      s.catalog.dropTempView("graft_docs")
      out
    },
      // same primitives replayed: polynomial hash over the raw text +
      // the simhash CTE (identical to q_simhash's fingerprint)
      s"""WITH $simhashCte
         |SELECT d.doc_id, ${rhSql("d.text")} AS text_hash,
         |       sim.sh AS fingerprint
         |FROM documents d JOIN sim ON sim.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // SimHash near-dup pairs (banded Hamming-ball search — exact by
    // pigeonhole, never all-pairs).
    Face("q_simhash_near_dups", (s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text")
    },
      {
      // band bounds generated from the same constants as
      // Dedup.simhashNearDups — Scala and SQL can't drift
      val nBits = SimHashExpr.NumBits
      val maxHamming = 3
      val nb = maxHamming + 1
      val bounds = (0 to nb).map(i => i * nBits / nb)
      val arms = (0 until nb).map { j =>
        val off = bounds(j)
        val mask = (1L << (bounds(j + 1) - bounds(j))) - 1
        s"SELECT doc_id, $j AS band, (sh >> $off) & $mask AS v FROM sim"
      }.mkString("\n  UNION ALL ")
      s"""WITH $simhashCte,
         |bands AS (
         |  $arms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN sim sa ON sa.doc_id = c.doc_a
         |JOIN sim sb ON sb.doc_id = c.doc_b
         |WHERE bit_count(xor(sa.sh, sb.sh)) <= $maxHamming
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Exact phrase search on positional postings: adjacency = integer
    // position equality, |phrase|-1 equi-joins over term-filtered
    // postings (see Indexing.phraseSearch).
    Face("q_phrase_search", (s, dir) => {
      Indexing.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          Seq("value", "table", "part"))
    },
      // positional phrase replay: 1-based list index → 0-based pos,
      // each later term's postings shifted back by its offset, then the
      // same equi-join chain
      """WITH t AS (SELECT doc_id,
        |             string_split_regex(lower(text), '\s+') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, u.pos, u.term FROM (
        |        SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
        |          i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
        |        FROM t)),
        |a AS (SELECT doc_id, pos FROM p WHERE term = 'value'),
        |b AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE term = 'table'),
        |c AS (SELECT doc_id, pos - 2 AS pos FROM p WHERE term = 'part'),
        |m AS (SELECT a.doc_id, a.pos
        |      FROM a JOIN b USING (doc_id, pos) JOIN c USING (doc_id, pos))
        |SELECT doc_id, count(*) AS n_matches,
        |       CAST(min(pos) AS INTEGER) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BM25 ranked retrieval: Okapi scoring of a 4-term query against
    // the corpus, idf in fixed-point log2 (integer square-and-
    // renormalize, F=8) and tf saturation cleared to one truncating
    // BIGINT division — both replayed bit-exact by the oracle. 'dup'
    // is the rare discriminator (df 25 vs ~380 at sf0.001), so the
    // face exercises real idf spread. See Ranking.bm25TopK.
    Face("q_bm25_topk", (s, dir) => {
      Ranking.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "hash", "join", "vector"), k = 10)
    },
      // BM25 replay: the 8-round fixed-point log2 runs as a recursive
      // CTE over the |Q|-row term frame (pure integer shifts/multiplies,
      // bit-for-bit the engine's chain); scoring is the same one
      // truncating BIGINT division per (doc, term)
      s"""WITH RECURSIVE
         |tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tk AS (SELECT doc_id, tok FROM tok WHERE len(tok) > 0),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
         |gl AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS a FROM dl),
         |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM tk
         |       WHERE tok IN ('dup','hash','join','vector')
         |       GROUP BY doc_id, tok),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |e0t AS (SELECT term, 2*n + 2 AS p, 2*df + 1 AS q,
         |          length(bin(2*n + 2)) - length(bin(2*df + 1)) AS e0
         |        FROM dfq, gl),
         |et AS (SELECT term, p, q,
         |         CASE WHEN p < (q << e0) THEN e0 - 1 ELSE e0 END AS e
         |       FROM e0t),
         |fx AS (
         |  SELECT term, 0 AS i, CAST(p AS BIGINT) AS pp,
         |         CAST(q << e AS BIGINT) AS qq, CAST(0 AS BIGINT) AS frac
         |  FROM et
         |  UNION ALL
         |  SELECT term, i + 1, ps,
         |         CASE WHEN ps >= 2*qs THEN 2*qs ELSE qs END,
         |         frac*2 + CASE WHEN ps >= 2*qs THEN 1 ELSE 0 END
         |  FROM (SELECT term, i, frac,
         |          (pp >> sh)*(pp >> sh) AS ps, (qq >> sh)*(qq >> sh) AS qs
         |        FROM (SELECT *, greatest(length(bin(pp)) - 31, 0) AS sh
         |              FROM fx WHERE i < 8) s) s2),
         |idf AS (SELECT et.term, et.e*256 + fx.frac AS idf
         |        FROM et JOIN fx ON fx.term = et.term AND fx.i = 8),
         |sc AS (SELECT tf.doc_id,
         |         CAST(sum(idf.idf*22*a*tf
         |                  // (10*a*tf + 3*a + 9*dl.dl*n)) AS BIGINT)
         |           AS score,
         |         count(*) AS matched
         |       FROM tf JOIN dl USING (doc_id) JOIN idf USING (term), gl
         |       GROUP BY tf.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |            AS INTEGER) AS rank,
         |       doc_id, score, matched
         |FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 10)
         |ORDER BY rank""".stripMargin),

    // Mixture-drift monitor: Laplace-smoothed token-distribution KL
    // divergence between the even-id and odd-id corpus splits, with
    // per-token drift attribution (top 20 KL(A||B) contributors).
    // The signed log runs in the shared fixed-point integer log2
    // (F=8), contributions stay raw BIGINTs, both global KLs are
    // sign-safe truncating milli-bit divisions — all replayed exactly.
    Face("q_kl_drift", (s, dir) => {
      Distributions.klDriftTopK(t(s, dir, "documents"),
          "doc_id", "text", k = 20)
    },
      // KL drift replay: the same 8-round fixed-point log2 chain as the
      // bm25 oracle, run over the UNION-vocab frame on the magnitude
      // ratio big/small, sign restored from num vs den; contributions
      // raw; global KLs via the same sign-safe truncating division
      s"""WITH RECURSIVE
         |tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tk AS (SELECT doc_id % 2 = 0 AS in_a, tok AS token FROM tok
         |       WHERE len(tok) > 0),
         |cnt AS (SELECT token,
         |          CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         |          CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
         |        FROM tk GROUP BY token),
         |gl AS (SELECT CAST(sum(c_a) AS BIGINT) AS ca,
         |              CAST(sum(c_b) AS BIGINT) AS cb,
         |              count(*) AS v FROM cnt),
         |r AS (SELECT token, c_a, c_b,
         |        (c_a + 1)*(cb + v) AS num, (c_b + 1)*(ca + v) AS den
         |      FROM cnt, gl),
         |et0 AS (SELECT token, num, den,
         |          greatest(num, den) AS p, least(num, den) AS q,
         |          length(bin(greatest(num, den)))
         |            - length(bin(least(num, den))) AS e0
         |        FROM r),
         |et AS (SELECT token, num, den, p, q,
         |         CASE WHEN p < (q << e0) THEN e0 - 1 ELSE e0 END AS e
         |       FROM et0),
         |fx AS (
         |  SELECT token, 0 AS i, CAST(p AS BIGINT) AS pp,
         |         CAST(q << e AS BIGINT) AS qq, CAST(0 AS BIGINT) AS frac
         |  FROM et
         |  UNION ALL
         |  SELECT token, i + 1, ps,
         |         CASE WHEN ps >= 2*qs THEN 2*qs ELSE qs END,
         |         frac*2 + CASE WHEN ps >= 2*qs THEN 1 ELSE 0 END
         |  FROM (SELECT token, i, frac,
         |          (pp >> sh)*(pp >> sh) AS ps, (qq >> sh)*(qq >> sh) AS qs
         |        FROM (SELECT *, greatest(length(bin(pp)) - 31, 0) AS sh
         |              FROM fx WHERE i < 8) s) s2),
         |sl AS (SELECT et.token, r.c_a, r.c_b,
         |         CASE WHEN et.num >= et.den THEN et.e*256 + fx.frac
         |              ELSE -(et.e*256 + fx.frac) END AS slog2_q8
         |       FROM et JOIN fx ON fx.token = et.token AND fx.i = 8
         |       JOIN r ON r.token = et.token),
         |w AS (SELECT token, c_a, c_b, slog2_q8,
         |        (c_a + 1)*slog2_q8 AS contrib_q8,
         |        (c_b + 1)*(-slog2_q8) AS w_ba
         |      FROM sl),
         |kl AS (SELECT
         |    CASE WHEN s_ab >= 0 THEN (1000*s_ab) // ((ca + v)*256)
         |         ELSE -((1000*(-s_ab)) // ((ca + v)*256)) END AS kl_ab_milli,
         |    CASE WHEN s_ba >= 0 THEN (1000*s_ba) // ((cb + v)*256)
         |         ELSE -((1000*(-s_ba)) // ((cb + v)*256)) END AS kl_ba_milli
         |  FROM (SELECT CAST(sum(contrib_q8) AS BIGINT) AS s_ab,
         |               CAST(sum(w_ba) AS BIGINT) AS s_ba FROM w), gl)
         |SELECT CAST(row_number() OVER (ORDER BY contrib_q8 DESC, token)
         |            AS INTEGER) AS rank,
         |       token, c_a, c_b, slog2_q8, contrib_q8,
         |       kl_ab_milli, kl_ba_milli
         |FROM (SELECT * FROM w ORDER BY contrib_q8 DESC, token LIMIT 20), kl
         |ORDER BY rank""".stripMargin),

    // Unigram-LM perplexity quality scores: model trained on even-id
    // docs (Laplace over the union vocab), every odd-id doc scored by
    // exact integer bit cost — the CCNet-style perplexity filter with
    // the model join co-partitioned on token (vocab never broadcast).
    Face("q_unigram_ppl", (s, dir) => {
      Distributions.unigramPerplexity(t(s, dir, "documents"),
          "doc_id", "text")
    },
      // unigram perplexity replay: model chain over the union vocab
      // (numerator CA+V >= denominator c_a+1 always — no sign branch),
      // candidate tf join, one truncating division per doc
      s"""WITH RECURSIVE
         |tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tk AS (SELECT doc_id, doc_id % 2 = 0 AS in_a, tok AS token
         |       FROM tok WHERE len(tok) > 0),
         |voc AS (SELECT token,
         |          CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a
         |        FROM tk GROUP BY token),
         |gl AS (SELECT CAST(sum(c_a) AS BIGINT) AS ca, count(*) AS v
         |       FROM voc),
         |et0 AS (SELECT token, ca + v AS p, c_a + 1 AS q,
         |          length(bin(ca + v)) - length(bin(c_a + 1)) AS e0
         |        FROM voc, gl),
         |et AS (SELECT token, p, q,
         |         CASE WHEN p < (q << e0) THEN e0 - 1 ELSE e0 END AS e
         |       FROM et0),
         |fx AS (
         |  SELECT token, 0 AS i, CAST(p AS BIGINT) AS pp,
         |         CAST(q << e AS BIGINT) AS qq, CAST(0 AS BIGINT) AS frac
         |  FROM et
         |  UNION ALL
         |  SELECT token, i + 1, ps,
         |         CASE WHEN ps >= 2*qs THEN 2*qs ELSE qs END,
         |         frac*2 + CASE WHEN ps >= 2*qs THEN 1 ELSE 0 END
         |  FROM (SELECT token, i, frac,
         |          (pp >> sh)*(pp >> sh) AS ps, (qq >> sh)*(qq >> sh) AS qs
         |        FROM (SELECT *, greatest(length(bin(pp)) - 31, 0) AS sh
         |              FROM fx WHERE i < 8) s) s2),
         |model AS (SELECT et.token, et.e*256 + fx.frac AS nll_tok_q8
         |          FROM et JOIN fx ON fx.token = et.token AND fx.i = 8),
         |ctf AS (SELECT doc_id, token, count(*) AS tf FROM tk
         |        WHERE NOT in_a GROUP BY doc_id, token)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
         |       CAST(sum(tf*nll_tok_q8) AS BIGINT) AS nll_q8,
         |       CAST((1000*CAST(sum(tf*nll_tok_q8) AS BIGINT))
         |            // (256*CAST(sum(tf) AS BIGINT)) AS BIGINT) AS bits_milli
         |FROM ctf JOIN model USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Corpus token frequencies, top 20 (explode + global sort + limit;
    // deterministic tie-break on the token).
    Face("q_top_tokens", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($toksSql) AS token FROM documents)
         |WHERE len(token) > 0
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // End-to-end curation pipeline: language-verified, quality-scored,
    // exact-deduped document funnel (composition of the text +
    // dedup operators — counts per source).
    Face("q_curation", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d.select(col("doc_id"), col("source"), col("lang"),
        TextAnalysis.languageId(col("text")).as("guessed_lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val canon = Dedup.exactDedup(d, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical"))
      scored.join(canon, "doc_id")
        .filter(col("is_canonical") && col("guessed_lang") === col("lang") &&
          col("quality") >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },
      s"""WITH $qualityScoredCte,
         |f AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |canon AS (
         |  SELECT doc_id,
         |         doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_c
         |  FROM f)
         |SELECT source, count(*) AS n_kept,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM scored JOIN canon USING (doc_id)
         |WHERE is_c AND gl = lang AND quality >= 0.5
         |GROUP BY source ORDER BY source""".stripMargin),

    // The full corpus-preparation pipeline in ONE query — every stage
    // of a training-data funnel composed end-to-end: language
    // verification, exact dedup (fingerprint canonical), transitive
    // near-dup dedup (LSH -> connected components canonical), quality
    // floor, deterministic hash split, per-(split, lang) stats. All
    // stages are the library's scale-path operators; the relational
    // stages compose lazily under one Catalyst plan, while the CC
    // stage inside nearDupClusters is the engine's iterative fixpoint
    // and materializes its rounds eagerly when the query is built
    // (Catalyst has no fixpoint operator — SURVEY.md §4.3).
    Face("q_corpus_prep", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d.select(col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).as("gl"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val ecanon = Dedup.exactDedup(d, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical").as("is_ec"))
      val ncanon = Dedup.nearDupClusters(d, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical").as("is_nc"))
      val bucket = pmod(TextAnalysis.rollingHash(col("doc_id").cast("string")),
        lit(10))
      scored.join(ecanon, "doc_id").join(ncanon, "doc_id")
        .filter(col("is_ec") && col("is_nc") &&
          col("gl") === col("lang") && col("quality") >= 0.5)
        .withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    },
      // assembled from the SAME shared fragments as the stage-level
      // oracles (quality CTE renamed to avoid the `scored` name the LSH
      // pipeline also uses) — stages can't drift from their composed form
      s"""WITH RECURSIVE ${qualityScoredCte.replace("scored AS (", "qscored AS (")},
         |f AS (SELECT doc_id, $fingerprintSql AS fp FROM documents),
         |ecanon AS (
         |  SELECT doc_id,
         |         doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_ec
         |  FROM f),
         |$lshPipelineSql,
         |pedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE sim >= 0.5
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM scored WHERE sim >= 0.5),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM pedges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN pedges e ON e.src = reach.r),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |asg AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |toks AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |         FROM documents),
         |kept AS (
         |  SELECT q.doc_id, q.lang, t.n_tokens,
         |    ${rhSql("CAST(q.doc_id AS VARCHAR)")} % 10 AS b
         |  FROM qscored q
         |  JOIN ecanon e ON e.doc_id = q.doc_id
         |  JOIN asg a ON a.doc_id = q.doc_id
         |  JOIN toks t ON t.doc_id = q.doc_id
         |  WHERE e.is_ec AND a.doc_id = a.cluster
         |    AND q.gl = q.lang AND q.quality >= 0.5)
         |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Ranking: top-3 quality documents per language (deterministic
    // tie-break on doc_id). Bounded TopKBySim aggregate, NOT a
    // row_number window: the window would shuffle + fully sort every
    // document inside one task per language (~5 languages = ~5 tasks
    // for the whole corpus at 100 TB), while the aggregate keeps a
    // 3-element buffer per key, combines map-side, and exchanges
    // |langs|·k rows. Same (quality desc, doc_id asc) order contract.
    Face("q_top_docs_per_lang", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .groupBy(col("lang"))
        .agg(TopKBySim.top_k_by_sim(col("quality"), col("doc_id"), 3).as("tk"))
        .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "top")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
          col("top.neighbor_id").as("doc_id"), col("top.sim").as("quality"))
    },
      s"""WITH $qualityScoredCte,
         |r AS (SELECT lang, doc_id, quality,
         |        row_number() OVER (PARTITION BY lang
         |                           ORDER BY quality DESC, doc_id) AS rank
         |      FROM scored)
         |SELECT lang, rank, doc_id, quality FROM r
         |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin),

    // Deterministic hash-based train/val/test split (80/10/10) — the
    // standard reproducible corpus-split primitive; portable rolling
    // hash so the DuckDB oracle derives identical assignments.
    Face("q_hash_split", (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = pmod(TextAnalysis.rollingHash(col("doc_id").cast("string")),
        lit(10))
      d.select(col("doc_id"), col("n_chars"),
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
          sum(col("n_chars")).as("sum_chars"))
    },
      s"""WITH h AS (SELECT doc_id, n_chars,
         |    ${rhSql("CAST(doc_id AS VARCHAR)")} % 10 AS b
         |  FROM documents)
         |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sequence packing (training-batch construction): docs packed into
    // 4096-token sequences per language shard via the declarative
    // prefix-sum face; per-pack stats. The exact-greedy face is
    // spec-tested (sequential state — not SQL-expressible).
    Face("q_pack_stats", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      SequencePacking.packByPrefixSum(d, "lang", "doc_id", "n_tokens", 4096L)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang, n_tokens,
         |    -- CAST: DuckDB's window sum over BIGINT is HUGEINT, so the
         |    -- floor-div result must be pinned back to BIGINT to match the
         |    -- Spark side's .cast("long") (SequencePacking.packByPrefixSum)
         |    CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 4096 AS BIGINT)
         |      AS pack_id
         |  FROM d)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),

    // Benchmark decontamination: training docs sharing any token
    // 4-gram (compared by rolling hash) with the held-out eval slice
    // (doc_id % 20 == 0). The eval-gram table broadcasts, so the
    // corpus-side gram stream never shuffles before the per-doc count.
    Face("q_decontaminate", (s, dir) => {
      CorpusOps.decontaminate(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH ${decontamCte()}
         |SELECT doc_id, n_shared_grams FROM cont ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition statistics: bigram multiplicities and
    // duplicate-token mass per document — the repetition-filter inputs
    // (docs with <2 tokens have no bigrams and are omitted).
    Face("q_repetition_stats", (s, dir) => {
      CorpusOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH $repetitionCte
         |SELECT doc_id, n_tokens, n_distinct_tokens, dup_token_frac,
         |       n_bigrams, top_bigram_n, top_bigram_frac, repetitive
         |FROM rep ORDER BY doc_id""".stripMargin),

    // C4-style domain filtering: per-source quality aggregation and a
    // source-level keep decision. One partial-aggregated exchange on
    // source (3-long partials — hot domains cost #sources, not #docs);
    // mean quality summed in fixed-point longs for order-free
    // exactness.
    Face("q_source_curation", (s, dir) => {
      CorpusOps.sourceCuration(t(s, dir, "documents"), "text")
    },
      // per-source rollup of the shared quality CTE; mean quality summed
      // as floor(q·10⁹) BIGINTs (order-free, mirroring the fixed-point
      // sum in CorpusOps.sourceCuration), divided back in the same
      // /1e9-then-/n IEEE order; thresholds interpolate from the same
      // constants the operator uses.
      s"""WITH $qualityScoredCte,
         |s AS (SELECT source, count(*) AS n_docs,
         |        sum(CAST(floor(quality * 1e9) AS BIGINT)) AS sq,
         |        sum(CASE WHEN quality < ${CorpusOps.SourceDocQualityFloor}
         |            THEN 1 ELSE 0 END) AS nlow
         |      FROM scored GROUP BY source)
         |SELECT source, n_docs,
         |  CAST(sq AS DOUBLE) / 1e9 / CAST(n_docs AS DOUBLE)
         |    AS avg_quality,
         |  CAST(nlow AS DOUBLE) / CAST(n_docs AS DOUBLE) AS low_frac,
         |  (CAST(sq AS DOUBLE) / 1e9 / CAST(n_docs AS DOUBLE)
         |     >= ${CorpusOps.SourceAvgQualityFloor}
         |   AND CAST(nlow AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |     <= ${CorpusOps.SourceLowFracCeiling}) AS kept
         |FROM s ORDER BY source""".stripMargin),

    // Deterministic hash-stratified sampling: per-language keep rates
    // on a portable rolling hash of the id — reproducible across
    // engines and stable under corpus growth (pure per-row filter).
    Face("q_stratified_sample", (s, dir) => {
      CorpusOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          SampleRates.toMap, SampleDefaultPct)
        .select(col("doc_id"), col("lang"), col("sampled"))
    },
      s"""SELECT doc_id, lang,
         |  ${rhSql("CAST(doc_id AS VARCHAR)")} % 100 < ($sampleCaseSql)
         |    AS sampled
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Fixed-SIZE deterministic sampling (bottom-k by hash priority):
    // exactly 5 docs per language, a pure function of row identity —
    // the bounded TopKBySim aggregate (|strata|·k exchange rows at
    // any corpus size), where stratifiedSample's Bernoulli rate gives
    // a variable-size sample.
    Face("q_priority_sample", (s, dir) => {
      CorpusOps.prioritySample(t(s, dir, "documents"), "doc_id", "lang", 5)
        .select(col("stratum").as("lang"), col("rank"),
          col("id").as("doc_id"), col("priority"))
    },
      // bottom-k replayed as the window the operator's bounded
      // aggregate REPLACES: rank by (priority, id) per stratum
      s"""WITH h AS (SELECT lang, doc_id,
         |  ${rhSql("CAST(doc_id AS VARCHAR)")} AS priority FROM documents),
         |r AS (SELECT lang, doc_id, priority,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY priority, doc_id) AS INT) AS rank
         |      FROM h)
         |SELECT lang, rank, doc_id, priority FROM r
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),

    // Per-ROW-weight priority sample: 10 docs with odds monotone in
    // character length — key = (hash · 2^20) div weight, the
    // integer-quantized Efraimidis-Spirakis race (see
    // CorpusOps.weightedPrioritySample).
    Face("q_weighted_sample", (s, dir) => {
      CorpusOps.weightedPrioritySample(
          t(s, dir, "documents")
            .withColumn("wlen", length(col("text")).cast("long")),
          "doc_id", "wlen", 10)
        .withColumnRenamed("id", "doc_id")
    },
      // weighted race replayed: same hash, same 2^20 scale, same
      // integer div by the char-length weight, rank by (key, id)
      s"""WITH d AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS w
         |           FROM documents WHERE len(text) > 0),
         |h AS (SELECT doc_id, w,
         |  (${rhSql("CAST(doc_id AS VARCHAR)")} * 1048576) // w AS key
         |  FROM d),
         |r AS (SELECT doc_id, w, key,
         |        CAST(row_number() OVER (ORDER BY key, doc_id) AS INT)
         |          AS rank
         |      FROM h)
         |SELECT rank, doc_id, w AS weight, key FROM r
         |WHERE rank <= 10 ORDER BY rank""".stripMargin),

    // Corpus document frequency (the IDF input): per-token doc counts
    // and exact corpus fraction, one distinct-token explode + hash agg.
    Face("q_doc_frequency", (s, dir) => {
      CorpusOps.docFrequency(t(s, dir, "documents"), "doc_id", "text")
    },
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($toksSql)) AS token
         |  FROM documents),
         |df AS (SELECT token, count(*) AS doc_freq FROM dt
         |       WHERE len(token) > 0 GROUP BY token),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT token, doc_freq, n_docs,
         |       CAST(doc_freq AS DOUBLE) / n_docs AS df_frac
         |FROM df, nd ORDER BY token""".stripMargin),

    // Top-3 TF-IDF terms per document (keyword extraction): one
    // tokenize stream feeds both the tf and document-frequency
    // aggregations; ratio idf keeps the oracle bit-exact (ln is
    // monotone, so the ranking is the classical one).
    Face("q_tfidf_top_terms", (s, dir) => {
      CorpusOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text")
    },
      // mirrors CorpusOps.tfidfTopTerms: tf with multiplicity, doc_freq
      // as a row count over the tf relation, ratio idf in the same IEEE
      // order (tf/n_tokens double division, n_docs/doc_freq double
      // division, one multiply)
      s"""WITH tt AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |  WHERE len(token) > 0),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tt
         |       GROUP BY doc_id, token),
         |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (
         |  SELECT f.doc_id, f.token, f.tf, d.doc_freq,
         |    (CAST(f.tf AS DOUBLE)
         |       / CAST(CAST(sum(f.tf) OVER (PARTITION BY f.doc_id) AS BIGINT)
         |              AS DOUBLE))
         |    * (CAST((SELECT n_docs FROM nd) AS DOUBLE)
         |       / CAST(d.doc_freq AS DOUBLE)) AS score
         |  FROM tf f JOIN dfq d USING (token)),
         |r AS (SELECT doc_id, token, tf, doc_freq, score,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY score DESC, token) AS rank
         |      FROM sc)
         |SELECT doc_id, rank, token, tf, doc_freq, score FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Inverted index with bounded posting lists: one exchange on term,
    // postings capped INSIDE the aggregation buffer (TopKBySim keyed
    // by -doc_id), hot terms keep only their count.
    Face("q_inverted_index", (s, dir) => {
      Indexing.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          dfCap = 40)
    },
      // mirrors Indexing.invertedIndex: distinct (doc, term) pairs, df
      // per term, ascending comma-joined postings only under the cap
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($toksSql)) AS term
         |  FROM documents)
         |SELECT term, count(*) AS doc_freq,
         |  CASE WHEN count(*) <= 40
         |       THEN array_to_string(list_sort(list(doc_id)), ',') END
         |    AS postings
         |FROM dt WHERE len(term) > 0
         |GROUP BY term ORDER BY term""".stripMargin),

    // Deterministic training shuffle: salted-hash sharding + stable
    // intra-shard order — reproducible across runs and engines, and
    // the window partitions on batch_id so no single-task global sort.
    Face("q_corpus_shuffle", (s, dir) => {
      Indexing.corpusShuffle(t(s, dir, "documents"), "doc_id", nBatches = 8)
    },
      // mirrors Indexing.corpusShuffle: salted rolling hashes over the
      // 12-digit-padded id, squared mod P for the nonlinear mix — ':b'
      // suffix shards, ':o' orders within the shard
      s"""WITH sh0 AS (
         |  SELECT doc_id,
         |    ${rhSql("lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':b'")} AS hb,
         |    ${rhSql("lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':o'")} AS ho
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CAST((hb * hb) % ${Dedup.P} % 8 AS INTEGER) AS batch_id,
         |    (ho * ho) % ${Dedup.P} AS oh
         |  FROM sh0)
         |SELECT batch_id,
         |  row_number() OVER (PARTITION BY batch_id ORDER BY oh, doc_id)
         |    AS seq,
         |  doc_id
         |FROM sh ORDER BY batch_id, seq""".stripMargin),

    // N-gram familiarity: mean corpus df of each doc's distinct
    // bigrams — the LM-free fluency/typicality quality signal.
    Face("q_ngram_familiarity", (s, dir) => {
      Indexing.ngramFamiliarity(t(s, dir, "documents"), "doc_id", "text")
    },
      // mirrors Indexing.ngramFamiliarity: repetitionCte's bigram
      // contract (raw whitespace tokens, space-joined adjacent pairs,
      // <2-token docs omitted), DISTINCT per doc, mean corpus df
      s"""WITH ft AS (SELECT doc_id, $toksSql AS toks FROM documents
         |            WHERE len($toksSql) >= 2),
         |fb AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         range(1, len(toks)),
         |         i -> array_to_string(list_slice(toks, i, i+1), ' '))))
         |         AS bigram
         |       FROM ft),
         |fdf AS (SELECT bigram, count(*) AS bdf FROM fb GROUP BY bigram)
         |SELECT b.doc_id,
         |  count(*) AS n_distinct_bigrams,
         |  CAST(sum(d.bdf) AS DOUBLE) / count(*) AS familiarity
         |FROM fb b JOIN fdf d USING (bigram)
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    // BPE merge-candidate counts: adjacent char pairs weighted by
    // word frequency, computed over the vocabulary table so every
    // tokenizer-training iteration costs |vocab|, not |corpus|.
    Face("q_bpe_pair_counts", (s, dir) => {
      Indexing.bpePairCounts(t(s, dir, "documents"), "text", topK = 50)
    },
      // mirrors Indexing.bpePairCounts: word-frequency table first,
      // then char-pair counts weighted by word freq
      s"""WITH wf AS (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS word FROM documents)
         |  WHERE len(word) >= 2 GROUP BY word),
         |pc AS (
         |  SELECT unnest(list_transform(range(1, len(word)),
         |           i -> substr(word, CAST(i AS INTEGER), 2))) AS pair,
         |         freq
         |  FROM wf)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
         |FROM pc GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin),

    // Full BPE merge learning: 8 iterations of count → argmax →
    // greedy merge over the word-frequency vocabulary (corpus scanned
    // once; each round costs |vocab|). The oracle replays the whole
    // loop with a generated 8-stage CTE chain.
    // Batched BPE learning (r19, VERDICT r18 #6): up to 8 mutually
    // non-interacting merges per pass (greedy in count order over the
    // top-64 candidates), 4 passes → 32 merges in 4 driver round
    // trips — the pass-bounded loop shape a 32k-merge production
    // tokenizer needs; the one-merge q_bpe_learn face keeps the
    // classic recurrence contract.
    Face("q_bpe_learn_batched", (s, dir) => {
      Indexing.bpeLearnBatched(t(s, dir, "documents"), "text",
        passes = 4, batchK = 8, window = 64)
    },
      // batched BPE: 4 unrolled passes, recursive greedy selection of
      // <= 8 non-interacting merges over the top-64 candidates per
      // pass, LEFT-JOIN-guarded chained rewrites (see bpeBatchOracleSql)
      bpeBatchOracleSql(4, 8, 64)),

    // DEEP batched BPE (r20, VERDICT r19 #4): 256 merges in 4 driver
    // round trips — token-sequence symbols (wordpiece-style phrase
    // units, pair space |vocab|² instead of the char alphabet the
    // corpus saturates at ~90 merges) and the MINIMAL non-interaction
    // batch rule (shared lefts/rights safe; only chains and
    // merged-unit collisions excluded), which lifts per-pass yield
    // from ~|symbols|/2 to the full batchK. The oracle replays each
    // pass's greedy selection recursively and applies the whole batch
    // in ONE simultaneous fold — equal to the engine's sequential
    // sweep exactly because the rule makes batch members
    // non-interacting.
    Face("q_bpe_learn_deep", (s, dir) => {
      Indexing.bpeLearnPhrases(t(s, dir, "documents"), "text",
        passes = 4, batchK = 64, window = 1024)
    },
      bpePhraseOracleSql(4, 64, 1024)),

    // The INCREMENTAL-maintenance twin of q_bpe_learn_deep (r20 —
    // VERDICT r19 "What's missing #2"'s named remedy): pair counts
    // live in a maintained stateful frame seeded by ONE corpus
    // exchange; each pass updates it with a delta built from only the
    // rows a merge touched and selects candidates from the table
    // directly — per-pass cost scales with the touched fraction, the
    // property that matters when depth pushes passes into the
    // hundreds. Byte-identical merges by construction, so the SAME
    // recursive oracle gates both paths independently.
    Face("q_bpe_learn_incr", (s, dir) => {
      Indexing.bpeLearnPhrasesIncremental(t(s, dir, "documents"),
        "text", passes = 4, batchK = 64, window = 1024)
    },
      // the incremental path must land the byte-identical merge table —
      // same generated oracle, independently re-run
      bpePhraseOracleSql(4, 64, 1024)),

    // The batched table SERVING (its q_bpe_encode): encode the corpus
    // with all 32 batch-learned merges in rank order and roll up the
    // top-30 token distribution — proves the pass-bounded learner's
    // artifact drops into the serving path unchanged (a 4x deeper
    // vocabulary than the classic 8-merge face at the same number of
    // driver round trips).
    Face("q_bpe_encode_batched", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Indexing.bpeLearnBatched(docs, "text", passes = 4,
          batchK = 8, window = 64)
        .orderBy("rank")
        .select("left", "right", "merged")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq
      Indexing.bpeEncode(docs, "text", merges, topK = 30)
    },
      // the batched table's serving arm: same 4-pass chain, final
      // vocabulary rolled up as the encoded token distribution
      bpeBatchOracleSql(4, 8, 64,
      encodeTopK = Some(30))),

    Face("q_bpe_learn", (s, dir) => {
      Indexing.bpeLearn(t(s, dir, "documents"), "text", numMerges = 8)
    },
      // replays Indexing.bpeLearn's full 8-iteration loop as a
      // generated CTE chain: per round, pair counts over the current
      // vocabulary, argmax (ties lexicographic), greedy left-to-right
      // merge via list_reduce
      bpeLearnOracleSql(8)),

    // Serving-time BPE: learn 8 merges, then encode the corpus with
    // them and emit the top-30 encoded-token distribution — the
    // learn → apply handoff a tokenizer deployment runs.
    Face("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Indexing.bpeLearn(docs, "text", numMerges = 8)
        .orderBy("rank")
        .select("left", "right", "merged")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq
      Indexing.bpeEncode(docs, "text", merges, topK = 30)
    },
      // replays learn-then-encode end-to-end: the 8-round chain with
      // the final rewrite applied, then the corpus-wide token rollup
      bpeEncodeOracleSql(8, 30)),

    // Tokenizer fertility per language — the BPE-family EVAL face:
    // encoded symbols per word under the learned 8-merge table,
    // split by language id. One corpus scan; each distinct word
    // encoded once and met back on the vocabulary key.
    Face("q_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Indexing.bpeLearn(docs, "text", numMerges = 8)
        .orderBy("rank")
        .select("left", "right", "merged")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq
      Indexing.bpeFertility(docs, "doc_id", "text", merges)
    },
      // mirrors Indexing.bpeFertility: the SAME encode chain (word
      // threaded through v8 for the vocabulary join), language ids
      // from the shared quality CTEs, counts + one truncating division
      s"""${bpeChainSql(8, rewriteLast = true)},
         |el AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms_w
         |       FROM v8),
         |$qualityScoredCte,
         |lw AS (SELECT s.gl AS lang, t.token AS word, count(*) AS freq
         |       FROM (SELECT doc_id, unnest($toksSql) AS token
         |             FROM documents) t
         |       JOIN scored s USING (doc_id)
         |       WHERE len(t.token) >= 2
         |       GROUP BY 1, 2)
         |SELECT l.lang, count(*) AS n_vocab,
         |  CAST(sum(l.freq) AS BIGINT) AS n_words,
         |  CAST(sum(l.freq * e.n_syms_w) AS BIGINT) AS n_syms,
         |  CAST(sum(l.freq * e.n_syms_w) AS BIGINT) * 1000
         |    // CAST(sum(l.freq) AS BIGINT) AS fertility_permille
         |FROM lw l JOIN el e USING (word)
         |GROUP BY l.lang ORDER BY l.lang""".stripMargin),

    // corpus_prep extended with the CorpusOps stages — the full
    // Gopher-style funnel end-to-end: language verification, exact +
    // transitive near-dup dedup, eval-slice exclusion + benchmark
    // decontamination, repetition filter, quality floor, deterministic
    // hash split, per-(split, lang) stats. The funnel itself lives in
    // CorpusOps.corpusPrepKept, which computes every text-derived
    // input in ONE pinned projection shared by all five stages.
    Face("q_corpus_prep_v2", (s, dir) => {
      val kept = CorpusOps.corpusPrepKept(t(s, dir, "documents"),
        "doc_id", "text", "lang")
      val bucket = pmod(TextAnalysis.rollingHash(col("doc_id").cast("string")),
        lit(10))
      kept.withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    },
      // v1's composed funnel + the CorpusOps stages, assembled from the
      // SAME shared fragments as the stage-level oracles (decontamCte,
      // repetitionCte) — composed and per-stage forms can't drift
      s"""WITH RECURSIVE $corpusKeptCtesSql
         |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // v2's funnel extended with the post-curation operators — the
    // full training-data pipeline end-to-end: curate (v2's five
    // stages), strip boilerplate spans, chunk into context windows.
    // All text derivation still ONE pinned projection (now carrying
    // the token arrays); spans/chunks computed for KEPT docs only
    // (dedup first, so planted near-dup pairs don't inflate span
    // doc-frequency). Per (split, lang): doc/token totals, boilerplate
    // survival, chunk count and window-level redundancy (distinct
    // chunk hashes).
    Face("q_corpus_prep_v3", (s, dir) => {
      val v3 = CorpusOps.corpusPrepV3(t(s, dir, "documents"),
        "doc_id", "text", "lang")
      val bucket = pmod(TextAnalysis.rollingHash(col("doc_id").cast("string")),
        lit(10))
      // ONE aggregation over the exploded chunk rows: every kept doc
      // has >= 1 chunk, so gating the doc-level sums on pos == 0
      // counts each doc exactly once — no second consumption of the
      // pipeline and no doc-agg ⋈ chunk-agg join
      v3.withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test"))
        .select(col("split"), col("lang"), col("n_tokens"), col("n_spans"),
          col("n_boiler_spans"), col("n_tokens_kept"),
          posexplode(col("chunks")).as(Seq("pos", "chunk_hash")))
        .groupBy(col("split"), col("lang"))
        .agg(count(when(col("pos") === 0, 1)).as("n_docs"),
          sum(when(col("pos") === 0, col("n_tokens"))).as("sum_tokens"),
          sum(when(col("pos") === 0, col("n_spans"))).as("n_spans"),
          sum(when(col("pos") === 0, col("n_boiler_spans")))
            .as("n_boiler_spans"),
          sum(when(col("pos") === 0, col("n_tokens_kept")))
            .as("sum_tokens_kept"),
          count(lit(1)).as("n_chunks"),
          count_distinct(col("chunk_hash")).as("n_distinct_chunks"))
    },
      // the kept chain (identical to v2's, via the same fragment) + the
      // boilerplate-span and chunking stages over the kept docs — mirrors
      // CorpusOps.corpusPrepV3 (constants interpolate from the same
      // defs as the stage-level q_boilerplate_spans / q_chunk_docs
      // oracles)
      {
      val k = CorpusOps.BoilerplateSpanTokens
      val nSpans = s"greatest(CAST(ceil(len(toks) / $k.0) AS BIGINT), 1)"
      val mx = CorpusOps.ChunkMaxTokens
      val stride = mx - CorpusOps.ChunkOverlap
      val nChunks = s"1 + (greatest(len(toks) - $mx, 0) + ${stride - 1})" +
        s" // $stride"
      val splitCase = "CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' " +
        "ELSE 'test' END"
      s"""WITH RECURSIVE $corpusKeptCtesSql,
         |ktk AS (
         |  SELECT k.doc_id, k.lang, k.n_tokens, k.b, t.toks
         |  FROM kept k JOIN rt t USING (doc_id)),
         |vsp0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range($nSpans),
         |      i -> array_to_string(list_slice(toks, i*$k + 1, i*$k + $k), ' ')))
         |      AS span,
         |    unnest(list_transform(range($nSpans),
         |      i -> least(len(toks) - i*$k, $k))) AS span_len
         |  FROM ktk),
         |vsp AS (SELECT doc_id, span_len, ${rhSql("span")} AS span_hash
         |        FROM vsp0),
         |vfr AS (
         |  SELECT span_hash FROM (
         |    SELECT span_hash, count(DISTINCT doc_id) AS span_df
         |    FROM vsp GROUP BY span_hash)
         |  WHERE span_df >= ${CorpusOps.BoilerplateMinDocs}),
         |vspan AS (
         |  SELECT vsp.doc_id, count(*) AS n_spans,
         |    CAST(sum(CASE WHEN vfr.span_hash IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boiler_spans,
         |    CAST(sum(CASE WHEN vfr.span_hash IS NULL THEN span_len ELSE 0 END)
         |      AS BIGINT) AS n_tokens_kept
         |  FROM vsp LEFT JOIN vfr ON vsp.span_hash = vfr.span_hash
         |  GROUP BY vsp.doc_id),
         |vch AS (
         |  SELECT doc_id,
         |    unnest(range($nChunks)) AS pos,
         |    unnest(list_transform(range($nChunks),
         |      i -> array_to_string(
         |             list_slice(toks, i*$stride + 1, i*$stride + $mx), ' ')))
         |      AS chunk
         |  FROM ktk),
         |vchh AS (SELECT doc_id, pos, ${rhSql("chunk")} AS chunk_hash FROM vch),
         |rows_ AS (
         |  SELECT $splitCase AS split, k.lang, k.n_tokens, v.n_spans,
         |    v.n_boiler_spans, v.n_tokens_kept, c.pos, c.chunk_hash
         |  FROM ktk k JOIN vspan v USING (doc_id) JOIN vchh c USING (doc_id))
         |SELECT split, lang,
         |  count(CASE WHEN pos = 0 THEN 1 END) AS n_docs,
         |  CAST(sum(CASE WHEN pos = 0 THEN n_tokens END) AS BIGINT)
         |    AS sum_tokens,
         |  CAST(sum(CASE WHEN pos = 0 THEN n_spans END) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN pos = 0 THEN n_boiler_spans END) AS BIGINT)
         |    AS n_boiler_spans,
         |  CAST(sum(CASE WHEN pos = 0 THEN n_tokens_kept END) AS BIGINT)
         |    AS sum_tokens_kept,
         |  count(*) AS n_chunks,
         |  count(DISTINCT chunk_hash) AS n_distinct_chunks
         |FROM rows_ GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
      // has shown driver-only inflation under min-of-2
      minRuns = 3),

    // C4/RefinedWeb-style boilerplate-span removal: spans repeating
    // across >= 3 distinct docs are chrome/footer boilerplate; per-doc
    // survival stats. Span doc-frequency is the only corpus-wide
    // exchange; the frequent tail broadcasts back.
    Face("q_boilerplate_spans", (s, dir) => {
      CorpusOps.boilerplateSpans(t(s, dir, "documents"), "doc_id", "text")
    },
      {
      val k = CorpusOps.BoilerplateSpanTokens
      val nSpans = s"greatest(CAST(ceil(len(toks) / $k.0) AS BIGINT), 1)"
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sp0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range($nSpans),
         |      i -> array_to_string(list_slice(toks, i*$k + 1, i*$k + $k), ' ')))
         |      AS span,
         |    unnest(list_transform(range($nSpans),
         |      i -> least(len(toks) - i*$k, $k))) AS span_len
         |  FROM tk),
         |sp AS (SELECT doc_id, span_len, ${rhSql("span")} AS span_hash
         |       FROM sp0),
         |fr AS (
         |  SELECT span_hash FROM (
         |    SELECT span_hash, count(DISTINCT doc_id) AS span_df
         |    FROM sp GROUP BY span_hash)
         |  WHERE span_df >= ${CorpusOps.BoilerplateMinDocs})
         |SELECT sp.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN fr.span_hash IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_boiler_spans,
         |  CAST(sum(span_len) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN fr.span_hash IS NULL THEN span_len ELSE 0 END)
         |    AS BIGINT) AS n_tokens_kept
         |FROM sp LEFT JOIN fr ON sp.span_hash = fr.span_hash
         |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin
    }),

    // Domain-mixture resampling (DoReMi/Pile-style): derive per-lang
    // keep rates from target weights + a corpus budget, then sample by
    // portable hash. Integer-exact rate arithmetic; the corpus itself
    // never shuffles (tiny count agg + broadcast rates + per-row
    // filter).
    Face("q_lang_mix", (s, dir) => {
      CorpusOps.mixtureSample(t(s, dir, "documents"), "doc_id", "lang",
          MixWeights.toMap, MixBudgetPct)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("target_docs")).as("target_docs"),
          max(col("keep_bp")).as("keep_bp"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
    },
      {
      val wSum = MixWeights.map(_._2).sum
      s"""WITH c AS (SELECT lang, count(*) AS stratum_docs
         |           FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(stratum_docs) AS BIGINT) AS n_total FROM c),
         |r AS (
         |  SELECT lang, stratum_docs,
         |    (n_total * $MixBudgetPct * ($mixCaseSql)) // (100 * $wSum)
         |      AS target_docs
         |  FROM c, tot),
         |r2 AS (
         |  SELECT lang, stratum_docs, target_docs,
         |    least(10000, (10000 * target_docs) // stratum_docs) AS keep_bp
         |  FROM r)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(max(r2.target_docs) AS BIGINT) AS target_docs,
         |  CAST(max(r2.keep_bp) AS BIGINT) AS keep_bp,
         |  CAST(sum(CASE WHEN ${rhSql("CAST(doc_id AS VARCHAR)")} % 10000
         |                     < r2.keep_bp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled
         |FROM documents d JOIN r2 ON d.lang = r2.lang
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    }),

    // Context-window chunking (the dual of q_pack_stats): docs longer
    // than the window split into overlapping chunks — pure per-row
    // posexplode, zero exchanges at any scale.
    Face("q_chunk_docs", (s, dir) => {
      CorpusOps.chunkDocs(t(s, dir, "documents"), "doc_id", "text")
    },
      {
      val mx = CorpusOps.ChunkMaxTokens
      val stride = mx - CorpusOps.ChunkOverlap
      val nChunks = s"1 + (greatest(len(toks) - $mx, 0) + ${stride - 1})" +
        s" // $stride"
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ch AS (
         |  SELECT doc_id, $nChunks AS n_chunks,
         |    unnest(range($nChunks)) AS chunk_id,
         |    unnest(list_transform(range($nChunks),
         |      i -> least(len(toks) - i*$stride, $mx))) AS chunk_len,
         |    unnest(list_transform(range($nChunks),
         |      i -> array_to_string(
         |             list_slice(toks, i*$stride + 1, i*$stride + $mx), ' ')))
         |      AS chunk
         |  FROM tk)
         |SELECT doc_id, chunk_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |  chunk_len, ${rhSql("chunk")} AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin
    }),

    // PII redaction: the synthetic corpus has no PII, so a
    // deterministic overlay plants id-derived emails/phones (zero, one,
    // and many matches per row), then the scrub runs as a pure
    // codegen'd projection. The oracle builds the identical overlay and
    // replays the same two-stage redaction.
    Face("q_pii_redact", (s, dir) => {
      val d = t(s, dir, "documents")
      Redaction.redactPii(
          d.select(col("doc_id"),
            Redaction.piiOverlay(col("text"), col("doc_id")).as("text")),
          "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("redacted")).cast("long").as("red_len"),
          md5(col("redacted")).as("red_md5"))
    },
      s"""WITH p AS (SELECT doc_id, ${Redaction.piiOverlaySql} AS text2
         |           FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text2, '${Redaction.EmailPattern}'))
         |      AS BIGINT) AS n_emails,
         |    regexp_replace(text2, '${Redaction.EmailPattern}',
         |      '${Redaction.EmailToken}', 'g') AS t1
         |  FROM p),
         |f AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '${Redaction.PhonePattern}'))
         |      AS BIGINT) AS n_phones,
         |    regexp_replace(t1, '${Redaction.PhonePattern}',
         |      '${Redaction.PhoneToken}', 'g') AS redacted
         |  FROM e)
         |SELECT doc_id, n_emails, n_phones,
         |  CAST(length(redacted) AS BIGINT) AS red_len,
         |  md5(redacted) AS red_md5
         |FROM f ORDER BY doc_id""".stripMargin),

    // Right-to-be-forgotten cascade: a deletion-request set (docs with
    // doc_id % 97 == 3) propagated across the corpus AND its derived
    // tables — chunks and the embedding index — because deleting from
    // `documents` alone leaves the content alive downstream. Per table
    // ONE broadcast-join audit pass (requests are the tiny side; the
    // corpus never shuffles) plus the anti-join purge whose surviving
    // count must reconcile with the audit (require inside the op).
    Face("q_gdpr_purge", (s, dir) => {
      val d = t(s, dir, "documents")
      val req = d.where(col("doc_id") % 97 === 3)
        .select(col("doc_id").as("req_id"))
      Redaction.purgeCascade(Seq(
        ("chunks", CorpusOps.chunkDocs(d, "doc_id", "text"), "doc_id"),
        ("documents", d, "doc_id"),
        ("embeddings", t(s, dir, "embeddings"), "vec_id")),
        req, "req_id")
    },
      {
      val mx = CorpusOps.ChunkMaxTokens
      val stride = mx - CorpusOps.ChunkOverlap
      val nChunks = s"1 + (greatest(len(toks) - $mx, 0) + ${stride - 1})" +
        s" // $stride"
      s"""WITH req AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 3),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ch AS (SELECT doc_id, $nChunks AS n_chunks FROM tk),
         |a AS (
         |  SELECT 'chunks' AS tbl,
         |    CAST(sum(n_chunks) AS BIGINT) AS rows_before,
         |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM req)
         |                  THEN n_chunks ELSE 0 END) AS BIGINT) AS purged
         |  FROM ch
         |  UNION ALL
         |  SELECT 'documents', count(*),
         |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM req)
         |                  THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM documents
         |  UNION ALL
         |  SELECT 'embeddings', count(*),
         |    CAST(sum(CASE WHEN vec_id IN (SELECT doc_id FROM req)
         |                  THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM embeddings)
         |SELECT tbl, rows_before, purged, rows_before - purged AS rows_after
         |FROM a ORDER BY tbl""".stripMargin
    })
  )
}
