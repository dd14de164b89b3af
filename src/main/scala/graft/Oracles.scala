package graft

/** DuckDB oracle SQL for every entry in SparkEntry.queries.
  *
  * Dialect discipline (SURVEY.md §7.4):
  *  - regexes restricted to the Java∩RE2 subset; case-insensitivity via (?i);
  *  - DuckDB regexp_replace needs the 'g' flag wherever Spark's
  *    replace-all semantics matter;
  *  - integer results cast to Spark's output width (row_number/size/length
  *    → INT, integer sums → BIGINT: DuckDB widens to HUGEINT otherwise);
  *  - the HUGEINT rule is TRANSITIVE: every aggregate in a FINAL
  *    projection — or any intermediate feeding one UNCAST (a CTE's
  *    `sum(c) AS cell` later surfaced via `min(cell)`) — must be CAST,
  *    because DuckDB sum(BIGINT)→HUGEINT reaches pandas as float64 and
  *    the driver's exact hash rejects int64-vs-float64 even when every
  *    value matches (round-11 cms_frequency/cms_native defect;
  *    scripts/check.py now fails dtype-class mismatches for this);
  *  - double aggregates rounded identically on both sides;
  *  - every query is totally ordered by a unique key.
  *
  * ERROR-BAND NOTE — sketch/fast-hash tiers (`minhash_fast`,
  * `distinct_sketch`, `latency_percentiles_approx`): a direct value
  * oracle requires the two engines to compute the same bits, and
  * sketch internals (HLL registers, GK summaries) and fast 64-bit
  * hash families (Spark xxhash64, murmur3 `hash`) have no DuckDB
  * twin — the engines' hash overlap is exactly the MessageDigest
  * family (md5/sha), which is what the verified `minhash_signature` /
  * `minhash_lsh` tier uses. These tiers are therefore verified via
  * DETERMINISTIC ERROR-BAND OUTPUTS instead: each query emits the
  * exact twin's value (DuckDB-recomputable) plus a boolean flag,
  * computed in-engine with integer arithmetic, that the estimate
  * lands inside a band the sketch's error CONTRACT guarantees with
  * overwhelming margin (HLL: 5× rsd; GK: 3× the guaranteed rank
  * error + slack; MinHash: Hoeffding at 2e−14/pair). The raw
  * estimate is NOT an output column — engine-specific bits never
  * reach the hash compare — and the oracle asserts the flag TRUE.
  * A sketch regression (wrong rsd, broken merge, biased hash) flips
  * the flag and fails the row; band tightness is separately pinned
  * in-engine by InvariantSpec. The fast LSH tier additionally layers:
  * the signature/banding machinery is ONE shared parametrized
  * implementation (Dedup.minhashSignatureWith / lshPairsWith) whose
  * md5 instantiation IS oracle-verified, and InvariantSpec
  * cross-checks that both tiers recover every exact-duplicate pair
  * on a corpus constructed to contain them.
  */
object Oracles {

  /** Synthetic link corpus — must mirror graft.etl.Urls.linkCorpus exactly. */
  val LinksCte: String =
    """links AS (
      |  SELECT o_orderkey AS link_id,
      |         'https://' || lower(c_mktsegment) || '.example.com/page/' ||
      |           CAST(o_orderkey AS VARCHAR) ||
      |           (CASE WHEN o_orderkey % 11 = 0 THEN '.pdf'
      |                 WHEN o_orderkey % 13 = 0 THEN '/login'
      |                 WHEN o_orderkey % 5 = 0 THEN '#sec'
      |                 WHEN o_orderkey % 7 = 0 THEN '/' ELSE '' END) AS url,
      |         lower(o_orderstatus || ' ' || o_orderpriority) AS anchor_text,
      |         lower(c_name) AS context,
      |         CAST(o_orderkey % 4 AS INT) AS depth,
      |         CAST(o_custkey % 11 AS INT) AS parent_relevance
      |  FROM orders JOIN customer ON o_custkey = c_custkey)""".stripMargin

  /** norm_url on top of links — mirrors Urls.normalizeUrl. */
  val NormCte: String =
    """n AS (
      |  SELECT *, regexp_replace(regexp_replace(url, '#.*', ''), '/$', '') AS norm_url
      |  FROM links)""".stripMargin

  // shared with the Spark side — a single source of truth means the two
  // engines cannot disagree on the skip semantics
  val SkipExt: String  = graft.etl.Urls.SkipExtPattern
  val SkipPath: String = graft.etl.Urls.SkipPathPattern
  val LinkTopic = """(?i)urgent|high|building"""

  /** relevance expression on documents — mirrors Scoring.scorePage. */
  val RelExpr: String =
    """CAST(least(10,
      |  (CASE WHEN regexp_matches(substr(coalesce(text,''),1,40), 'spark|window|stream') THEN 3 ELSE 0 END) +
      |  (CASE WHEN len(regexp_extract_all(coalesce(text,''), 'spark|window|stream')) >= 10 THEN 3
      |        WHEN len(regexp_extract_all(coalesce(text,''), 'spark|window|stream')) >= 5 THEN 2
      |        WHEN len(regexp_extract_all(coalesce(text,''), 'spark|window|stream')) >= 2 THEN 1
      |        ELSE 0 END)) AS INT)""".stripMargin

  /** word rows / 3-shingle rows on documents — mirrors graft.etl.Shingles. */
  val WordsCte: String =
    """w0 AS (
      |  SELECT doc_id,
      |         unnest(string_split(coalesce(text,''), ' ')) AS word,
      |         generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos
      |  FROM documents),
      |words AS (SELECT * FROM w0 WHERE length(word) > 0)""".stripMargin

  /** Candidate/reference clipped-gram pair chain shared by bleu_eval /
    * rouge_eval — mirrors TextAnalysis.pairClipStats (one CTE text, two
    * surfaces, so the twins cannot silently diverge). Ends at
    * j(doc_id, ref_id, n1_total, n1_match, n2_total, n2_match,
    * r1_total, r2_total): candidate totals for precision, reference
    * totals for recall, symmetric clipped matches.
    */
  /** WER ground truth — mirrors TextAnalysis.werEval's re-encoding:
    * 40-word eval slices, joint per-pair word vocabulary densely
    * ranked alphabetically, both sides chr-encoded so DuckDB's BYTE
    * levenshtein computes the WORD-level distance. Shared verbatim by
    * `wer_eval` (relational re-encode plan) and `wer_inrow` (compiled
    * in-row DP) — one ground truth, two engine plans.
    */
  lazy val WerOracle: String =
    """WITH d AS (SELECT doc_id,
      |    (list_filter(string_split(coalesce(text, ''), ' '),
      |      w -> length(w) > 0))[1:40] AS ws
      |  FROM documents),
      |dl AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw FROM d),
      |pairs AS (SELECT c.doc_id, c.doc_id + 1 AS ref_id,
      |            c.nw AS clen, r.nw AS rlen
      |          FROM dl c JOIN dl r ON r.doc_id = c.doc_id + 1
      |          WHERE c.doc_id % 2 = 0 AND c.nw >= 1 AND r.nw >= 1),
      |toks AS (
      |  SELECT pid, side, pos, ws[pos] AS word FROM (
      |    SELECT p.doc_id AS pid, 0 AS side, c.ws AS ws,
      |           CAST(unnest(generate_series(1, CAST(c.nw AS INT))) AS INT) AS pos
      |    FROM pairs p JOIN dl c ON c.doc_id = p.doc_id)
      |  UNION ALL
      |  SELECT pid, side, pos, ws[pos] AS word FROM (
      |    SELECT p.doc_id AS pid, 1 AS side, r.ws AS ws,
      |           CAST(unnest(generate_series(1, CAST(r.nw AS INT))) AS INT) AS pos
      |    FROM pairs p JOIN dl r ON r.doc_id = p.ref_id)),
      |voc AS (SELECT pid, word,
      |          CAST(row_number() OVER (PARTITION BY pid ORDER BY word)
      |            AS INT) AS idx
      |        FROM (SELECT DISTINCT pid, word FROM toks)),
      |enc AS (SELECT t.pid, t.side,
      |          string_agg(chr(32 + v.idx), '' ORDER BY t.pos) AS s
      |        FROM toks t JOIN voc v ON v.pid = t.pid AND v.word = t.word
      |        GROUP BY t.pid, t.side)
      |SELECT p.doc_id, p.ref_id, p.clen, p.rlen,
      |  CAST(levenshtein(c.s, r.s) AS BIGINT) AS dist,
      |  CAST((10000 * levenshtein(c.s, r.s)) // p.rlen AS BIGINT) AS wer_bp
      |FROM pairs p
      |  JOIN enc c ON c.pid = p.doc_id AND c.side = 0
      |  JOIN enc r ON r.pid = p.doc_id AND r.side = 1
      |ORDER BY p.doc_id""".stripMargin

  lazy val PairClipCte: String =
    s"""WITH $WordsCte,
       |uni AS (SELECT doc_id, word AS g FROM words),
       |b0 AS (SELECT doc_id, pos, word,
       |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |       FROM words),
       |bigr AS (SELECT doc_id, word || ' ' || w1 AS g FROM b0
       |         WHERE w1 IS NOT NULL),
       |cnt1 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
       |         FROM uni GROUP BY doc_id, g),
       |cnt2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
       |         FROM bigr GROUP BY doc_id, g),
       |tot1 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS t
       |         FROM cnt1 GROUP BY doc_id),
       |tot2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS t
       |         FROM cnt2 GROUP BY doc_id),
       |pairs AS (SELECT c.doc_id, r.doc_id AS ref_id
       |          FROM documents c JOIN documents r
       |            ON r.doc_id = c.doc_id + 1
       |          WHERE c.doc_id % 2 = 0),
       |elig AS (SELECT p.doc_id, p.ref_id, tc.t AS n1_total,
       |           tr.t AS r1_total
       |         FROM pairs p
       |         JOIN tot1 tc ON tc.doc_id = p.doc_id
       |         JOIN tot1 tr ON tr.doc_id = p.ref_id
       |         WHERE tc.t >= 2 AND tr.t >= 2),
       |m1 AS (SELECT e.doc_id, CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS m
       |       FROM elig e
       |       JOIN cnt1 a ON a.doc_id = e.doc_id
       |       JOIN cnt1 b ON b.doc_id = e.ref_id AND b.g = a.g
       |       GROUP BY e.doc_id),
       |m2 AS (SELECT e.doc_id, CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS m
       |       FROM elig e
       |       JOIN cnt2 a ON a.doc_id = e.doc_id
       |       JOIN cnt2 b ON b.doc_id = e.ref_id AND b.g = a.g
       |       GROUP BY e.doc_id),
       |j AS (SELECT e.doc_id, e.ref_id, e.n1_total,
       |        CAST(coalesce(m1.m, 0) AS BIGINT) AS n1_match,
       |        t2.t AS n2_total,
       |        CAST(coalesce(m2.m, 0) AS BIGINT) AS n2_match,
       |        e.r1_total, tr2.t AS r2_total
       |      FROM elig e
       |      JOIN tot2 t2 ON t2.doc_id = e.doc_id
       |      JOIN tot2 tr2 ON tr2.doc_id = e.ref_id
       |      LEFT JOIN m1 ON m1.doc_id = e.doc_id
       |      LEFT JOIN m2 ON m2.doc_id = e.doc_id)""".stripMargin

  /** 5-gram shingles with the source carried — grams5(doc_id, source,
    * gram); matches Shingles.shingleArray(_, 5) over non-empty words.
    */
  val Gram5SrcCte: String =
    """WITH w0 AS (
      |  SELECT doc_id, source,
      |         unnest(string_split(coalesce(text,''), ' ')) AS word,
      |         generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos
      |  FROM documents),
      |words5 AS (SELECT * FROM w0 WHERE length(word) > 0),
      |sh5 AS (
      |  SELECT doc_id, source, pos, word,
      |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
      |         lead(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
      |         lead(word, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
      |  FROM words5),
      |grams5 AS (
      |  SELECT doc_id, source,
      |         word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 AS gram
      |  FROM sh5 WHERE w4 IS NOT NULL)""".stripMargin

  /** Gopher-rule signal chain (requires the `words` CTE in scope — pair
    * with [[WordsCte]]), ending in gj(doc_id, text_len, n_words,
    * sum_len, alpha_words, stop_hits, top2_chars) — shared by
    * `gopher_rules` and `curation_funnel` so the stop list, bigram
    * tie-break, and coalesce edges cannot silently diverge between the
    * standalone query and the funnel's stage (one CTE text, two
    * surfaces — the [[WordsCte]]/[[ComponentsCtes]] rule).
    */
  val GopherCtes: String =
    """gbase AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(length(word)) AS BIGINT) AS sum_len,
      |    CAST(sum(CASE WHEN regexp_matches(word, '[a-zA-Z]') THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
      |    CAST(count(DISTINCT CASE WHEN word IN ('the','a','be','to','of','and','that','with')
      |                             THEN word END) AS BIGINT) AS stop_hits
      |  FROM words GROUP BY doc_id),
      |gbg0 AS (SELECT doc_id,
      |    word || ' ' || lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      |  FROM words),
      |gbg AS (SELECT doc_id, bigram, count(*) AS cnt
      |  FROM gbg0 WHERE bigram IS NOT NULL GROUP BY 1, 2),
      |gtop AS (SELECT doc_id, CAST(cnt * length(bigram) AS BIGINT) AS top2_chars,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY cnt DESC, length(bigram) DESC, bigram) AS rn
      |  FROM gbg),
      |gj AS (SELECT d.doc_id, CAST(length(coalesce(d.text, '')) AS INT) AS text_len,
      |    coalesce(b.n_words, 0) AS n_words, coalesce(b.sum_len, 0) AS sum_len,
      |    coalesce(b.alpha_words, 0) AS alpha_words, coalesce(b.stop_hits, 0) AS stop_hits,
      |    coalesce(t.top2_chars, 0) AS top2_chars
      |  FROM documents d LEFT JOIN gbase b USING (doc_id)
      |  LEFT JOIN (SELECT doc_id, top2_chars FROM gtop WHERE rn = 1) t USING (doc_id))""".stripMargin

  /** The five gopher rules over gj's columns, in the canonical
    * (wordcount, meanlen, alpha, stop, repeat) order — one expression
    * text each for the standalone flags, the funnel's m1, and
    * rule_attribution's per-rule rollup. */
  val GopherRuleExprs: Seq[(String, String)] = Seq(
    "wordcount" -> "(n_words >= 50 AND n_words <= 100000)",
    "meanlen" -> "(n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10)",
    "alpha" -> "(n_words > 0 AND alpha_words * 10 >= n_words * 8)",
    "stop" -> "(stop_hits >= 2)",
    "repeat" -> "(top2_chars * 5 <= text_len)")

  /** The overall gopher verdict — the conjunction of the five rules. */
  val GopherPassExpr: String =
    GopherRuleExprs.map(_._2).mkString("(", "\n    AND ", ")")

  /** k-word paragraph rows (requires the `words` CTE in scope — pair
    * with [[WordsCte]]), ending in pd<sfx>(doc_id, p_idx, p_text, dg):
    * consecutive word index → width-k windows (partial tail kept) →
    * 60-bit paragraph digest. One text for the whole paragraph family
    * (paragraph_dedup / paragraph_sweep / paragraph_attribution) —
    * mirrors Dedup.paragraphFrame.
    */
  private def ParaCtes(k: Int, sfx: String): String =
    s"""wi$sfx AS (SELECT doc_id, word,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
       |           AS BIGINT) AS widx
       |       FROM words),
       |paras$sfx AS (SELECT doc_id, widx // $k AS p_idx,
       |            string_agg(word, ' ' ORDER BY widx) AS p_text
       |          FROM wi$sfx GROUP BY doc_id, widx // $k),
       |pd$sfx AS (SELECT doc_id, p_idx, p_text,
       |         CAST(concat('0x', substr(md5(p_text), 1, 15)) AS BIGINT) AS dg
       |       FROM paras$sfx)""".stripMargin

  /** Language-ID marker chain ending in lpred(doc_id, lang, predicted)
    * — shared by `lang_id`, `langid_eval`, and `curation_funnel`
    * (mirrors TextAnalysis.LangMarkers / withLangPredicted).
    */
  val LangPredCtes: String =
    """lh AS (SELECT doc_id, lang,
      |    len(regexp_extract_all(coalesce(text,''), '\b(the|a|and)\b')) AS hits_en,
      |    len(regexp_extract_all(coalesce(text,''), '\b(der|die|das|und)\b')) AS hits_de,
      |    len(regexp_extract_all(coalesce(text,''), '\b(el|la|los|y)\b')) AS hits_es,
      |    len(regexp_extract_all(coalesce(text,''), '\b(le|la|les|et)\b')) AS hits_fr
      |  FROM documents),
      |lpred AS (SELECT doc_id, lang,
      |  CASE WHEN hits_en > 0 AND hits_en = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'en'
      |       WHEN hits_de > 0 AND hits_de = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'de'
      |       WHEN hits_es > 0 AND hits_es = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'es'
      |       WHEN hits_fr > 0 AND hits_fr = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'fr'
      |       ELSE 'unknown' END AS predicted
      |  FROM lh)""".stripMargin

  /** Quality-score CTE chain ending in qual(doc_id, tokens, stop_hits,
    * len_bp, stop_bp, quality_bp) — ONE home for the len/stop-ratio
    * quality formula (mirrors TextAnalysis.qualityAnnotated; the
    * [[GopherCtes]]/[[LangPredCtes]] rule — ADVICE r15 counted ~12
    * inline copies of this chain, each a silent-divergence risk).
    * The stopword regex interpolates TextAnalysis.Stopwords, so both
    * engines read the one list. Consumers needing more document
    * columns join back on doc_id.
    */
  val QualityCtes: String =
    s"""q0 AS (SELECT doc_id,
       |    CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
       |         ELSE len(string_split(coalesce(text,''), ' ')) END AS BIGINT) AS tokens,
       |    CAST(len(regexp_extract_all(coalesce(text,''), '${graft.etl.TextAnalysis.Stopwords}')) AS BIGINT) AS stop_hits,
       |    least(10000, 25 * length(coalesce(text,''))) AS len_bp
       |  FROM documents),
       |qual AS (SELECT doc_id, tokens, stop_hits, len_bp,
       |    CASE WHEN tokens = 0 THEN 0
       |         ELSE (10000 * stop_hits) // tokens END AS stop_bp,
       |    CAST(least(10000, (7 * len_bp + 9 * (CASE WHEN tokens = 0 THEN 0
       |         ELSE (10000 * stop_hits) // tokens END)) // 10) AS BIGINT) AS quality_bp
       |  FROM q0)""".stripMargin

  /** Two-stage quality-trainer chain (requires words + gj =
    * [[GopherCtes]] in scope) — generated from the SAME QualityTrain
    * constants (buckets, rounds) and the same split/feature hash
    * family, so the Spark loop and the oracle replay cannot drift:
    * quantized multinomial-NB warm start qw0, unrolled perceptron
    * refinement qw1..qwR, per-candidate valid-mistake counts, and the
    * pocket pick. Ends in qchosen(b, w) + qpick(round). qw-prefixed
    * names: the enclosing queries already use w0/words (WordsCte).
    * The chain CTEs are AS MATERIALIZED: DuckDB 1.0 inlines CTEs, so
    * without it each qw_r re-derives the whole prefix per reference
    * (3-4 refs each, depth Rounds ⇒ exponential re-evaluation —
    * measured minutes vs sub-second materialized).
    */
  private lazy val QualityTrainCtes: String = {
    val B = graft.etl.QualityTrain.Buckets
    val R = graft.etl.QualityTrain.Rounds
    val rounds = (1 to R).map { r =>
      val pw = s"qw${r - 1}"
      s"""qs$r AS (SELECT t.doc_id, t.y, sum($pw.w * t.cnt) AS score
         |      FROM tr t JOIN $pw ON t.b = $pw.b GROUP BY t.doc_id, t.y),
         |qm$r AS (SELECT doc_id FROM qs$r WHERE y * score <= 0),
         |qd$r AS (SELECT t.b, sum(t.y * t.cnt) AS dw
         |      FROM tr t JOIN qm$r USING (doc_id) GROUP BY t.b),
         |qw$r AS MATERIALIZED (SELECT $pw.b, CAST($pw.w + coalesce(qd$r.dw, 0) AS BIGINT) AS w
         |      FROM $pw LEFT JOIN qd$r ON $pw.b = qd$r.b)""".stripMargin
    }.mkString(",\n")
    val vmists = (0 to R).map { r =>
      s"""qv$r AS (SELECT CAST($r AS BIGINT) AS round, count(*) FILTER (
         |        WHERE y * score <= 0) AS vm FROM (
         |        SELECT t.doc_id, t.y, sum(qw$r.w * t.cnt) AS score
         |        FROM va t JOIN qw$r ON t.b = qw$r.b GROUP BY t.doc_id, t.y))""".stripMargin
    }.mkString(",\n")
    val cands = (0 to R)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, b, w FROM qw$r")
      .mkString("\n  UNION ALL ")
    s"""lbl AS (SELECT doc_id, CASE WHEN $GopherPassExpr
       |          THEN 1 ELSE -1 END AS y FROM gj),
       |spl AS (SELECT doc_id,
       |          CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS sbucket
       |        FROM documents),
       |ft AS MATERIALIZED (SELECT doc_id,
       |         CAST(concat('0x', substr(md5(lower(word)), 1, 8)) AS BIGINT) % $B AS b,
       |         CAST(count(*) AS BIGINT) AS cnt
       |       FROM words GROUP BY 1, 2
       |       UNION ALL
       |       SELECT doc_id, CAST($B AS BIGINT) AS b, CAST(1 AS BIGINT) AS cnt
       |       FROM documents),
       |tr AS MATERIALIZED (SELECT f.doc_id, f.b, f.cnt, l.y
       |       FROM ft f JOIN lbl l USING (doc_id) JOIN spl s USING (doc_id)
       |       WHERE s.sbucket < 80),
       |va AS MATERIALIZED (SELECT f.doc_id, f.b, f.cnt, l.y
       |       FROM ft f JOIN lbl l USING (doc_id) JOIN spl s USING (doc_id)
       |       WHERE s.sbucket >= 80 AND s.sbucket < 90),
       |qcls AS (SELECT b, sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS np,
       |           sum(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS nn
       |         FROM tr WHERE b < $B GROUP BY b),
       |qtot AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM qcls),
       |qpri AS (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS dp,
       |           sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS dn
       |         FROM (SELECT DISTINCT doc_id, y FROM tr)),
       |qgrid AS (SELECT CAST(unnest(range(0, ${B + 1})) AS BIGINT) AS b),
       |qw0 AS MATERIALIZED (SELECT g.b, CASE WHEN g.b < $B THEN
       |          CAST(round((ln((coalesce(c.np, 0) + 1.0) / (t.tp + $B.0))
       |            - ln((coalesce(c.nn, 0) + 1.0) / (t.tn + $B.0))) * 10000) AS BIGINT)
       |        ELSE
       |          CAST(round((ln(p.dp + 1.0) - ln(p.dn + 1.0)) * 10000) AS BIGINT)
       |        END AS w
       |        FROM qgrid g LEFT JOIN qcls c ON g.b = c.b, qtot t, qpri p),
       |$rounds,
       |$vmists,
       |qpick AS (SELECT round FROM (
       |  ${(0 to R).map(r => s"SELECT round, vm FROM qv$r").mkString(" UNION ALL ")}
       |) ORDER BY vm ASC, round ASC LIMIT 1),
       |qcands AS ($cands),
       |qchosen AS (SELECT c.b, c.w FROM qcands c JOIN qpick USING (round))""".stripMargin
  }

  val Shingle3Cte: String = WordsCte + """,
      |sh0 AS (
      |  SELECT doc_id, pos, word,
      |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM words),
      |shingles AS (
      |  SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
      |  FROM sh0 WHERE w2 IS NOT NULL)""".stripMargin

  /** 8-word gram stream — ONE home for the lead×7 window chain shared
    * by the substring/novelty/decontamination group (round 18, VERDICT
    * r17 item 6: the next-worst repeated CTE family after QualityCtes/
    * GopherRuleExprs/ParaCtes/LangPredCtes). Follows [[WordsCte]]'s
    * `words`; [[Gram8DigestCtes]] ends in g(doc_id, gram) — the 60-bit
    * md5-prefix digest keying substring_dedup / ingest_novelty —
    * and [[Gram8ShingleCtes]] ends in shing(doc_id, shingle) — the
    * per-doc-distinct STRING shingles decontaminate_eval joins on.
    * span_clip keeps its own variant: it also threads the 8 word
    * POSITIONS through the window (lead(pos, i)), a structurally
    * different frame.
    */
  private val Gram8Text: String =
    "word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4" +
      " || ' ' || w5 || ' ' || w6 || ' ' || w7"

  private val Gram8Lead: String =
    """g0 AS (SELECT doc_id, pos, word,
      |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
      |         lead(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3,
      |         lead(word, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS w4,
      |         lead(word, 5) OVER (PARTITION BY doc_id ORDER BY pos) AS w5,
      |         lead(word, 6) OVER (PARTITION BY doc_id ORDER BY pos) AS w6,
      |         lead(word, 7) OVER (PARTITION BY doc_id ORDER BY pos) AS w7
      |       FROM words)""".stripMargin

  private val Gram8DigestCtes: String =
    s"""$Gram8Lead,
       |g AS (SELECT doc_id,
       |        CAST(concat('0x', substr(md5($Gram8Text), 1, 15)) AS BIGINT)
       |          AS gram
       |      FROM g0 WHERE w7 IS NOT NULL)""".stripMargin

  private val Gram8ShingleCtes: String =
    s"""$Gram8Lead,
       |shing AS (SELECT DISTINCT doc_id, $Gram8Text AS shingle
       |  FROM g0 WHERE w7 IS NOT NULL)""".stripMargin

  /** Serial-window packing spec — shared by batch_pack (the semantic
    * reference plan) and batch_pack_sharded (the two-phase 100 TB plan,
    * which must reproduce it bit-for-bit).
    */
  private val BatchPackSql: String =
    """WITH w AS (
      |  SELECT doc_id, n_chars,
      |    CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_chars
      |  FROM documents)
      |SELECT doc_id, n_chars, running_chars,
      |  CAST(floor((running_chars - 1) / 4000.0) AS INT) AS batch_id
      |FROM w ORDER BY doc_id""".stripMargin

  /** knn pair scoring skeleton: expects CTEs p(qid, cid, qe, ce, ...). */
  /** simhash signature CTE chain ending in sigt(doc_id, simhash16) —
    * shared by the signature query and the near-dup pairing.
    */
  private val SimhashSigCte: String = {
    val bitSums = (0 until 16).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(",\n  ")
    val sig = (0 until 16).map(b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""$WordsCte,
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(word), 1, 4)) AS INT) AS h FROM words),
       |s AS (SELECT doc_id,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |sigt AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash16 FROM s)""".stripMargin
  }

  /** 60-bit simhash + Manku combination-key banding (6 blocks × 10
    * bits, all C(6,3)=20 three-block combinations as 30-bit keys) —
    * mirrors Dedup.simhashWideFrom/simhashWideNearDup. The combo list
    * is generated from the SAME Scala combinations iterator the Spark
    * side uses, so the two can never drift.
    */
  private val SimhashWideCtes: String = {
    val bitSums = (0 until 60).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(",\n  ")
    val sig = (0 until 60).map(b =>
      s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val comboRows = (0 until 6).combinations(3).toSeq.zipWithIndex
      .map { case (bs, id) =>
        s"SELECT doc_id, simhash60, $id AS comb, " +
          s"((simhash60 >> ${bs(0) * 10}) & 1023) * 1048576 + " +
          s"((simhash60 >> ${bs(1) * 10}) & 1023) * 1024 + " +
          s"((simhash60 >> ${bs(2) * 10}) & 1023) AS ckey FROM sigt"
      }.mkString("\n  UNION ALL ")
    s"""$WordsCte,
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) AS h FROM words),
       |s AS (SELECT doc_id,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |sigt AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash60 FROM s),
       |cmb AS ($comboRows)""".stripMargin
  }

  /** WITH-body ending in lshpairs(doc_a, doc_b) — the LSH candidate
    * pairs, shared by minhash_lsh and split_leakage so the pairing
    * cannot drift between the dedup and leakage-audit surfaces.
    */
  private val LshPairCtes: String =
    s"""$Shingle3Cte,
       |sig AS (SELECT doc_id,
       |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
       |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
       |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
       |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bkey FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig),
       |lshpairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  /** WITH-body (requires WITH RECURSIVE) ending in comp/sizes: the LSH
    * candidate graph's transitive closure — shared by dedup_components
    * and dedup_canonical so the two queries cannot drift.
    */
  private val ComponentsCtes: String =
    s"""$Shingle3Cte,
       |sig AS (SELECT doc_id,
       |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
       |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
       |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
       |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
       |  FROM shingles GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bkey FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig),
       |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u),
       |sizes AS (SELECT component, count(*) AS cluster_size
       |          FROM comp GROUP BY component)""".stripMargin

  /** GraphCuration.adaptiveBits replayed in SQL: the smallest
    * b ∈ [3,12] with 2^b · 1000 ≥ count(embeddings) — integer-exact
    * (a float ceil(log2(·)) can straddle a ulp at exact powers of two
    * and flip the blocking domain between engines). Shared by every
    * oracle whose blocking key derives its width from the corpus count
    * (`embedding_neardup`, `semdedup`).
    */
  private val AdaptiveBitsSql: String =
    """CAST(coalesce((SELECT min(i) FROM range(3, 13) t(i)
      |  WHERE (1::BIGINT << CAST(i AS INT)) * 1000 >= (SELECT count(*) FROM embeddings)), 12) AS INT)"""
      .stripMargin.replace("\n", " ")

  private def cosineFrom(pairCte: String, extraCols: String): String =
    s"""$pairCte,
       |z AS (SELECT qid, cid$extraCols,
       |             CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
       |      FROM p),
       |d AS (SELECT qid, cid$extraCols,
       |             sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
       |      FROM z GROUP BY ALL),
       |s AS (SELECT qid, cid$extraCols,
       |             round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM d)""".stripMargin

  // Built from a Seq with a duplicate-key require (same rationale as
  // SparkEntry.queryList): a Map literal keeps the last entry silently.
  private val RboSql: String =
    """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w0
        |       WHERE length(word) > 0 GROUP BY ALL),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |posts AS (SELECT word, doc_id,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (word) CROSS JOIN nn),
        |norms AS (SELECT doc_id, sum(w*w) AS nsq FROM posts GROUP BY doc_id),
        |pairs AS (SELECT q.doc_id AS qid, c.doc_id AS did,
        |            sum(q.w * c.w) AS num
        |          FROM posts q JOIN posts c
        |            ON q.word = c.word AND q.doc_id < 16 AND q.doc_id <> c.doc_id
        |          GROUP BY ALL),
        |ls AS (SELECT qid, did,
        |        round(num / (sqrt(nq.nsq) * sqrt(nd.nsq)), 4) AS cos
        |      FROM pairs JOIN norms nq ON nq.doc_id = qid
        |                 JOIN norms nd ON nd.doc_id = did),
        |lr AS (SELECT qid, did,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
        |      FROM ls),
        |kp AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
        |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |      WHERE q.vec_id < 16),
        |kz AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
        |       FROM kp),
        |kd AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM kz GROUP BY ALL),
        |ks AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM kd),
        |kr AS (SELECT qid, cid,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM ks),
        |common AS (SELECT l.qid, greatest(l.rank, v.rank) AS m
        |           FROM lr l JOIN kr v ON v.qid = l.qid AND v.cid = l.did
        |           WHERE l.rank <= 5 AND v.rank <= 5),
        |c AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_common,
        |        CAST(sum(CASE m WHEN 1 THEN 661 WHEN 2 THEN 181
        |          WHEN 3 THEN 61 WHEN 4 THEN 21 ELSE 6 END) AS BIGINT)
        |          AS rbo_x960
        |      FROM common GROUP BY qid)
        |SELECT q.qid, coalesce(c.n_common, 0) AS n_common,
        |  coalesce(c.rbo_x960, 0) AS rbo_x960
        |FROM (SELECT DISTINCT qid FROM lr) q LEFT JOIN c USING (qid)
        |ORDER BY qid""".stripMargin

  val all: Map[String, String] = {
    val dups = oracleList.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate oracle keys: ${dups.mkString(", ")}")
    oracleList.toMap
  }

  private def oracleList: Seq[(String, String)] = Seq(

    // ---- core relational ----
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "dim_join_agg" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal,
        |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |      FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "running_sum" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0 AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "semi_anti_customers" ->
      """SELECT c_custkey, TRUE AS has_open_order FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT c_custkey, FALSE FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    // ---- URL pipeline ----
    "url_normalize" ->
      s"""WITH $LinksCte, $NormCte
         |SELECT link_id, url, norm_url FROM n ORDER BY link_id""".stripMargin,

    "url_skip_filter" ->
      s"""WITH $LinksCte, $NormCte
         |SELECT link_id, norm_url FROM n
         |WHERE NOT regexp_matches(norm_url, '$SkipExt')
         |  AND NOT regexp_matches(norm_url, '$SkipPath')
         |ORDER BY link_id""".stripMargin,

    "same_domain" ->
      s"""WITH $LinksCte
         |SELECT link_id, url, regexp_extract(url, '^https?://([^/]+)', 1) AS domain
         |FROM links
         |WHERE regexp_extract(url, '^https?://([^/]+)', 1) = 'building.example.com'
         |ORDER BY link_id""".stripMargin,

    "url_slug" ->
      s"""WITH $LinksCte
         |SELECT link_id, url,
         |  substr(regexp_replace(regexp_replace(url, '^https?://', ''),
         |    '[^a-zA-Z0-9]', '_', 'g'), 1, 50) AS slug
         |FROM links ORDER BY link_id""".stripMargin,

    "engine_route" ->
      s"""WITH $LinksCte,
         |d AS (SELECT link_id, url,
         |        regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM links)
         |SELECT link_id, url,
         |  CASE WHEN regexp_matches(domain, '(machinery|household)\\.example\\.com') THEN 'playwright'
         |       WHEN regexp_matches(url, '/(login|admin|logout|signin)(/|$$)') THEN 'playwright'
         |       WHEN domain = 'building.example.com' THEN 'jina'
         |       ELSE 'trafilatura' END AS engine
         |FROM d ORDER BY link_id""".stripMargin,

    "visited_antijoin" ->
      s"""WITH $LinksCte, $NormCte
         |SELECT link_id, norm_url FROM n
         |WHERE norm_url NOT IN (SELECT norm_url FROM n WHERE link_id % 3 = 0)
         |ORDER BY link_id""".stripMargin,

    // Bloom pre-filtering is pure routing: false positives re-check in
    // the exact anti-join, true negatives bypass it — the RESULT is the
    // plain anti-join, so the oracle is visited_antijoin's, verbatim.
    // The Bloom bits themselves (xxhash64) never surface in the output.
    "bloom_prefilter" ->
      s"""WITH $LinksCte, $NormCte
         |SELECT link_id, norm_url FROM n
         |WHERE norm_url NOT IN (SELECT norm_url FROM n WHERE link_id % 3 = 0)
         |ORDER BY link_id""".stripMargin,

    "frontier_union" ->
      s"""WITH $LinksCte, $NormCte,
         |pr AS (SELECT norm_url, CAST(parent_relevance + depth AS INT) AS priority,
         |              depth, link_id FROM n),
         |u AS (SELECT norm_url, priority, depth FROM pr WHERE link_id % 2 = 0
         |      UNION ALL
         |      SELECT norm_url, CAST(priority + 1 AS INT), depth FROM pr WHERE link_id % 3 = 0)
         |SELECT norm_url, CAST(max(priority) AS INT) AS priority,
         |  CAST(min(depth) AS INT) AS depth, count(*) AS n_sources
         |FROM u GROUP BY norm_url ORDER BY norm_url""".stripMargin,

    "frontier_pop" ->
      s"""WITH $LinksCte, $NormCte,
         |d AS (SELECT norm_url, CAST(parent_relevance + depth AS INT) AS priority,
         |             regexp_extract(norm_url, '^https?://([^/]+)', 1) AS domain FROM n),
         |r AS (SELECT domain, norm_url, priority,
         |        CAST(row_number() OVER (PARTITION BY domain
         |          ORDER BY priority DESC, norm_url) AS INT) AS rn FROM d)
         |SELECT domain, rn, norm_url, priority FROM r WHERE rn <= 3
         |ORDER BY domain, rn""".stripMargin,

    "score_link" ->
      s"""WITH $LinksCte
         |SELECT link_id, url, anchor_text,
         |  CAST(least(10,
         |    (CASE WHEN regexp_matches(url, '$LinkTopic') THEN 3 ELSE 0 END) +
         |    (CASE WHEN regexp_matches(anchor_text, '$LinkTopic') THEN 5 ELSE 0 END) +
         |    (CASE WHEN regexp_matches(context, '$LinkTopic') THEN 2 ELSE 0 END)) AS INT) AS link_score
         |FROM links ORDER BY link_id""".stripMargin,

    "priority_calc" ->
      s"""WITH $LinksCte,
         |sc AS (SELECT link_id, parent_relevance,
         |  CAST(least(10,
         |    (CASE WHEN regexp_matches(url, '$LinkTopic') THEN 3 ELSE 0 END) +
         |    (CASE WHEN regexp_matches(anchor_text, '$LinkTopic') THEN 5 ELSE 0 END) +
         |    (CASE WHEN regexp_matches(context, '$LinkTopic') THEN 2 ELSE 0 END)) AS INT) AS link_score
         |  FROM links)
         |SELECT link_id, link_score, parent_relevance,
         |  CAST(link_score + (CASE WHEN parent_relevance >= 8 THEN 3
         |                          WHEN parent_relevance >= 5 THEN 1
         |                          ELSE 0 END) AS INT) AS priority
         |FROM sc ORDER BY link_id""".stripMargin,

    "page_id_gen" ->
      s"""WITH $LinksCte, $NormCte,
         |k AS (SELECT norm_url FROM n
         |      WHERE NOT regexp_matches(norm_url, '$SkipExt')
         |        AND NOT regexp_matches(norm_url, '$SkipPath'))
         |SELECT norm_url,
         |  printf('%03d', row_number() OVER (ORDER BY norm_url)) AS page_id
         |FROM k ORDER BY norm_url""".stripMargin,

    // per-domain fetch-wave scheduling — mirrors Urls.politenessBatches
    "politeness_batches" ->
      s"""WITH $LinksCte, $NormCte,
         |k AS (SELECT norm_url,
         |        regexp_extract(norm_url, '^https?://([^/]+)', 1) AS domain,
         |        CAST(parent_relevance + depth AS INT) AS priority
         |      FROM n
         |      WHERE NOT regexp_matches(norm_url, '$SkipExt')
         |        AND NOT regexp_matches(norm_url, '$SkipPath')),
         |r AS (SELECT domain, norm_url, priority,
         |        CAST(row_number() OVER (PARTITION BY domain
         |          ORDER BY priority DESC, norm_url) AS INT) AS rn
         |      FROM k)
         |SELECT domain, CAST((rn + 1) // 2 AS INT) AS wave, rn, norm_url, priority
         |FROM r WHERE (rn + 1) // 2 <= 3 ORDER BY domain, rn""".stripMargin,

    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_priority_shipping" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(quarter(l_shipdate) AS INT) AS ship_quarter,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_promo_share" ->
      """WITH j AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS ship_year, p_type,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS disc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_year,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc ELSE 0 END) AS DOUBLE)
        |    * 100.0 / sum(disc) AS promo_share_pct,
        |  sum(disc) / 10000.0 AS total_revenue
        |FROM j GROUP BY ship_year ORDER BY ship_year""".stripMargin,

    // ---- document scoring / classification ----
    "score_page" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(regexp_extract_all(coalesce(text,''), 'spark|window|stream')) AS INT) AS mentions,
         |  $RelExpr AS relevance
         |FROM documents ORDER BY doc_id""".stripMargin,

    "stars_bucket" ->
      s"""WITH s AS (SELECT $RelExpr AS relevance FROM documents)
         |SELECT CASE WHEN relevance >= 9 THEN '*****'
         |            WHEN relevance >= 7 THEN '****'
         |            WHEN relevance >= 5 THEN '***'
         |            WHEN relevance >= 3 THEN '**'
         |            ELSE '*' END AS stars,
         |  count(*) AS n_docs
         |FROM s GROUP BY stars ORDER BY stars""".stripMargin,

    "obstacle_detect" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    CASE WHEN length(coalesce(text,'')) < 100 THEN 'ANTI_SCRAPE'
        |         WHEN regexp_matches(coalesce(text,''), 'login|sign.?in|unauthorized|customer') THEN 'LOGIN_REQUIRED'
        |         WHEN regexp_matches(coalesce(text,''), 'captcha|verify|vector') THEN 'CAPTCHA'
        |         WHEN regexp_matches(coalesce(text,''), 'cloudflare|checking.+browser|slow.+slow') THEN 'ANTI_SCRAPE'
        |         ELSE 'NONE' END AS obstacle
        |  FROM documents)
        |SELECT doc_id, obstacle,
        |  (obstacle IN ('CAPTCHA', 'ANTI_SCRAPE')) AS recoverable
        |FROM o ORDER BY doc_id""".stripMargin,

    "obstacle_route" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    CASE WHEN length(coalesce(text,'')) < 100 THEN 'ANTI_SCRAPE'
        |         WHEN regexp_matches(coalesce(text,''), 'login|sign.?in|unauthorized|customer') THEN 'LOGIN_REQUIRED'
        |         WHEN regexp_matches(coalesce(text,''), 'captcha|verify|vector') THEN 'CAPTCHA'
        |         WHEN regexp_matches(coalesce(text,''), 'cloudflare|checking.+browser|slow.+slow') THEN 'ANTI_SCRAPE'
        |         ELSE 'NONE' END AS obstacle
        |  FROM documents)
        |SELECT doc_id, obstacle,
        |  CASE WHEN obstacle = 'NONE' THEN 'clean' ELSE 'quarantine' END AS route,
        |  CASE WHEN obstacle = 'LOGIN_REQUIRED' THEN 'provide_credentials'
        |       WHEN obstacle = 'CAPTCHA' THEN 'solve_manually'
        |       WHEN obstacle = 'ANTI_SCRAPE' THEN 'retry_with_backoff'
        |       ELSE 'none' END AS suggested_action
        |FROM o ORDER BY doc_id""".stripMargin,

    "content_flags" ->
      """SELECT doc_id,
        |  regexp_matches(coalesce(text,''), '\bjoin\b') AS has_join,
        |  regexp_matches(coalesce(text,''), '\bwindow\b.*\bwindow\b') AS has_tables,
        |  (length(coalesce(text,'')) > 200) AS is_long
        |FROM documents ORDER BY doc_id""".stripMargin,

    "truncate_notice" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(coalesce(text,'')) > 200
        |         THEN substr(coalesce(text,''), 1, 200) || ' [truncated ' ||
        |              CAST(length(coalesce(text,'')) AS VARCHAR) || ' chars]'
        |         ELSE coalesce(text,'') END AS bounded_text
        |  FROM documents)
        |SELECT doc_id, bounded_text, CAST(length(bounded_text) AS INT) AS bounded_len
        |FROM t ORDER BY doc_id""".stripMargin,

    // ---- aggregations ----
    "crawl_stats" ->
      s"""WITH s AS (SELECT lang, n_chars, $RelExpr AS relevance FROM documents)
         |SELECT lang, count(*) AS n_pages,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  count(CASE WHEN relevance >= 8 THEN 1 END) AS hi_band,
         |  count(CASE WHEN relevance >= 5 AND relevance < 8 THEN 1 END) AS mid_band,
         |  count(CASE WHEN relevance < 5 THEN 1 END) AS lo_band
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "hierarchical_stats" ->
      s"""WITH s AS (SELECT lang, source, n_chars, $RelExpr AS relevance FROM documents),
         |partial AS (
         |  SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
         |         CAST(max(relevance) AS INT) AS best_relevance
         |  FROM s GROUP BY lang, source)
         |SELECT lang, count(*) AS n_sources, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(chars) AS BIGINT) AS total_chars,
         |  CAST(max(best_relevance) AS INT) AS best_relevance
         |FROM partial GROUP BY lang ORDER BY lang""".stripMargin,

    "topk_pages" ->
      s"""WITH s AS (SELECT doc_id, lang, n_chars, $RelExpr AS relevance FROM documents)
         |SELECT doc_id, lang, relevance, n_chars FROM s
         |ORDER BY relevance DESC, doc_id LIMIT 10""".stripMargin,

    "topk_per_lang" ->
      s"""WITH s AS (SELECT doc_id, lang, $RelExpr AS relevance FROM documents),
         |r AS (SELECT lang, doc_id, relevance,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY relevance DESC, doc_id) AS INT) AS rn FROM s)
         |SELECT lang, rn, doc_id, relevance FROM r WHERE rn <= 3
         |ORDER BY lang, rn""".stripMargin,

    // same truth as topk_per_lang, which serves both names (the plan
    // pin reads this one for the native GroupTopK operator)
    "topk_native" ->
      s"""WITH s AS (SELECT doc_id, lang, $RelExpr AS relevance FROM documents),
         |r AS (SELECT lang, doc_id, relevance,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY relevance DESC, doc_id) AS INT) AS rn FROM s)
         |SELECT lang, rn, doc_id, relevance FROM r WHERE rn <= 3
         |ORDER BY lang, rn""".stripMargin,

    "heading_extract" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    regexp_extract_all('# doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |      '## lang ' || lang || chr(10) || coalesce(text,''),
        |      '(?m)^(#{1,6}) +(.*)$', 2) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(generate_subscripts(hs, 1) - 1 AS INT) AS heading_idx,
        |  unnest(hs) AS heading
        |FROM m ORDER BY doc_id, heading_idx""".stripMargin,

    "tree_closure" ->
      """WITH nodes AS (
        |  SELECT o_orderkey AS node, CAST(floor(o_orderkey / 10) AS BIGINT) AS parent
        |  FROM orders WHERE o_orderkey > 0),
        |l2 AS (SELECT a.node AS node, b.parent AS grandparent
        |       FROM nodes a JOIN nodes b ON a.parent = b.node)
        |SELECT n.node, n.parent, l2.grandparent
        |FROM nodes n LEFT JOIN l2 ON n.node = l2.node
        |ORDER BY n.node""".stripMargin,

    "batch_pack" -> BatchPackSql,
    // Two-phase sharded packing is bit-identical to the serial spec —
    // same oracle proves the decomposition exact.
    "batch_pack_sharded" -> BatchPackSql,

    "rag_chunk" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t,
        |             length(coalesce(text,'')) AS len FROM documents),
        |n AS (SELECT doc_id, t,
        |        least(greatest(CAST(ceil((CAST(greatest(len, 1) AS DOUBLE) - 20) / 100) AS INT), 1), 50) AS nch
        |      FROM d),
        |e AS (SELECT doc_id, t, CAST(unnest(range(0, nch)) AS INT) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx,
        |  substr(t, chunk_idx * 100 + 1, 120) AS chunk,
        |  CAST(length(substr(t, chunk_idx * 100 + 1, 120)) AS INT) AS chunk_len
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // Code-aware chunking: same fence-segmentation + per-segment chunk
    // math as Chunker.chunkCodeAware (size=100, overlap=20 → step 80).
    "code_chunk" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
        |m AS (SELECT doc_id,
        |        substr(t,1,150) || chr(10) || '```' || chr(10) ||
        |        substr(t,151,80) || chr(10) || '```' || chr(10) ||
        |        substr(t,231) AS md
        |      FROM d),
        |g AS (SELECT doc_id, string_split(md, '```') AS segs FROM m),
        |s AS (SELECT doc_id, CAST(unnest(range(1, len(segs)+1)) AS INT) AS i, segs FROM g),
        |seg AS (SELECT doc_id, CAST(i - 1 AS INT) AS seg_idx, segs[i] AS seg,
        |               ((i - 1) % 2 = 1) AS is_code,
        |               length(segs[i]) AS slen
        |        FROM s),
        |pn AS (SELECT *, CASE WHEN is_code THEN 1
        |         ELSE least(greatest(CAST(ceil((CAST(greatest(slen,1) AS DOUBLE) - 20) / 80) AS INT), 1), 50) END AS nch
        |       FROM seg),
        |e AS (SELECT doc_id, seg_idx, is_code, seg,
        |             CAST(unnest(range(0, nch)) AS INT) AS ci
        |      FROM pn)
        |SELECT doc_id, seg_idx, ci AS chunk_idx, is_code,
        |  CASE WHEN is_code THEN '```' || seg || '```'
        |       ELSE substr(seg, ci * 80 + 1, 100) END AS chunk,
        |  CAST(length(CASE WHEN is_code THEN '```' || seg || '```'
        |       ELSE substr(seg, ci * 80 + 1, 100) END) AS INT) AS chunk_len
        |FROM e ORDER BY doc_id, seg_idx, chunk_idx""".stripMargin,

    // n-gram collision against the held-out slice — mirrors
    // Dedup.decontaminate (distinct shingles per doc on both sides)
    "decontaminate" ->
      s"""WITH $Shingle3Cte,
         |ds AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |bench AS (SELECT DISTINCT shingle FROM ds WHERE doc_id % 97 = 0),
         |train AS (SELECT * FROM ds WHERE doc_id % 97 <> 0)
         |SELECT t.doc_id, count(*) AS n_shared
         |FROM train t JOIN bench b ON t.shingle = b.shingle
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // ---- events ----
    "json_extract" ->
      """WITH k AS (SELECT event_id,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT CAST(k % 10 AS BIGINT) AS k_mod, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM k GROUP BY k_mod ORDER BY k_mod""".stripMargin,

    "lag_lead" ->
      """SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |  (value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS delta_value,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "sessionize" ->
      """WITH x AS (SELECT user_id, event_id, value, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM b)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS session_value,
        |  CAST(min(ts_us) AS BIGINT) AS start_us, CAST(max(ts_us) AS BIGINT) AS end_us,
        |  (max(ts_us) - min(ts_us)) / 60000000.0 AS duration_min
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    // session type-pair association — mirrors Events.sessionBaskets
    // (same session assignment as sessionize, presence-distinct, a<b)
    "session_baskets" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM b),
        |pres AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |       FROM (SELECT DISTINCT user_id, session_seq FROM pres)),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |       FROM pres GROUP BY event_type),
        |pr AS (SELECT p1.event_type AS a, p2.event_type AS b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM pres p1 JOIN pres p2
        |         ON p1.user_id = p2.user_id AND p1.session_seq = p2.session_seq
        |        AND p1.event_type < p2.event_type
        |       GROUP BY 1, 2)
        |SELECT a, b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b, n_sessions,
        |  (10000 * n_ab) // n_sessions AS support_bp,
        |  (10000 * n_sessions * n_ab) // (ta.n_t * tb.n_t) AS lift_bp
        |FROM pr JOIN tc ta ON pr.a = ta.event_type
        |        JOIN tc tb ON pr.b = tb.event_type
        |        CROSS JOIN ns
        |ORDER BY a, b""".stripMargin,

    // session-ordered type transitions — mirrors Events.sessionTransitions
    "session_transitions" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM b),
        |t AS (SELECT event_type AS from_type,
        |        lead(event_type, 1) OVER (PARTITION BY user_id, session_seq
        |          ORDER BY ts_us, event_id) AS to_type
        |      FROM s),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |      FROM c GROUP BY from_type)
        |SELECT c.from_type, to_type, n, n_from, (10000 * n) // n_from AS prob_bp
        |FROM c JOIN f ON c.from_type = f.from_type
        |ORDER BY c.from_type, to_type""".stripMargin,

    // weekly churn — mirrors Events.churnRate
    "churn_rate" ->
      """WITH wa AS (SELECT DISTINCT
        |    (CAST(epoch_us(ts) AS BIGINT) // 86400000000) // 7 AS wk, user_id
        |  FROM events),
        |j AS (SELECT a.wk, a.user_id,
        |        CASE WHEN b.user_id IS NULL THEN 0 ELSE 1 END AS retained
        |      FROM wa a LEFT JOIN wa b
        |        ON b.wk = a.wk + 1 AND b.user_id = a.user_id)
        |SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(retained) AS BIGINT) AS n_retained,
        |  CAST((10000 * (count(*) - sum(retained))) // count(*) AS BIGINT) AS churn_bp
        |FROM j GROUP BY wk ORDER BY wk""".stripMargin,

    // ingest-rate spikes — mirrors Events.rateSpikes (integer
    // cross-multiplied threshold, day-partitioned window)
    "rate_spikes" ->
      """WITH h AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |hourly AS (SELECT hr, CAST(count(*) AS BIGINT) AS n, hr // 24 AS day
        |           FROM h GROUP BY hr),
        |w AS (SELECT hr, day, n,
        |        CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS n_day,
        |        CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS hours_present
        |      FROM hourly)
        |SELECT hr, day, n, n_day, hours_present
        |FROM w WHERE n * hours_present > 2 * n_day ORDER BY hr""".stripMargin,

    // time-series motif match — mirrors Events.tsMotif: mean-centered
    // (×4, integer) distance² to the rising-ramp pattern over 4
    // contiguous hours, top-3 per cohort (d2 asc, hr asc)
    "ts_motif" ->
      """WITH h AS (SELECT user_id % 16 AS cohort,
        |             CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |c AS (SELECT cohort, hr, CAST(count(*) AS BIGINT) AS n
        |      FROM h GROUP BY cohort, hr),
        |wnd AS (SELECT cohort, hr, n AS x0,
        |          lead(n, 1) OVER (PARTITION BY cohort ORDER BY hr) AS x1,
        |          lead(n, 2) OVER (PARTITION BY cohort ORDER BY hr) AS x2,
        |          lead(n, 3) OVER (PARTITION BY cohort ORDER BY hr) AS x3,
        |          lead(hr, 3) OVER (PARTITION BY cohort ORDER BY hr) AS hr3
        |        FROM c),
        |f AS (SELECT cohort, hr, x0, x1, x2, x3, x0 + x1 + x2 + x3 AS sx
        |      FROM wnd WHERE hr3 = hr + 3),
        |s AS (SELECT cohort, hr, CAST(
        |        (x0 * 4 - sx + 6) * (x0 * 4 - sx + 6) +
        |        (x1 * 4 - sx + 2) * (x1 * 4 - sx + 2) +
        |        (x2 * 4 - sx - 2) * (x2 * 4 - sx - 2) +
        |        (x3 * 4 - sx - 6) * (x3 * 4 - sx - 6) AS BIGINT) AS d2
        |      FROM f),
        |r AS (SELECT cohort, hr, d2,
        |        CAST(row_number() OVER (PARTITION BY cohort
        |          ORDER BY d2, hr) AS INT) AS rank
        |      FROM s)
        |SELECT cohort, rank, hr AS hr_start, d2
        |FROM r WHERE rank <= 3 ORDER BY cohort, rank""".stripMargin,

    // median/MAD anomaly hours — mirrors Events.tsAnomaly: LOWER
    // medians via cumulative value histograms ((N+1)//2 rank), MAD
    // floored at 1, all integer
    "ts_anomaly" ->
      """WITH h AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |hourly AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n
        |           FROM h GROUP BY event_type, hr),
        |h1 AS (SELECT event_type, n AS v, count(*) AS cnt
        |       FROM hourly GROUP BY event_type, n),
        |c1 AS (SELECT event_type, v,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS nn
        |       FROM h1),
        |med AS (SELECT event_type,
        |          CAST(min(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS BIGINT) AS med
        |        FROM c1 GROUP BY event_type),
        |d AS (SELECT hourly.event_type, hr, n, med, abs(n - med) AS dev
        |      FROM hourly JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, dev AS v, count(*) AS cnt
        |       FROM d GROUP BY event_type, dev),
        |c2 AS (SELECT event_type, v,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS nn
        |       FROM h2),
        |mad AS (SELECT event_type,
        |          CAST(min(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS BIGINT) AS mad
        |        FROM c2 GROUP BY event_type)
        |SELECT d.event_type, hr, n, med, mad, dev
        |FROM d JOIN mad USING (event_type)
        |WHERE dev > 3 * greatest(mad, 1)
        |ORDER BY event_type, hr""".stripMargin,

    // dense-grid resample + trailing 3h sum — mirrors Events.tsFill
    "ts_fill" ->
      """WITH h AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |hourly AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n
        |           FROM h GROUP BY event_type, hr),
        |span AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |         FROM hourly GROUP BY event_type),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hr
        |         FROM span),
        |f AS (SELECT g.event_type, g.hr, coalesce(hourly.n, 0) AS n
        |      FROM grid g LEFT JOIN hourly
        |        ON g.event_type = hourly.event_type AND g.hr = hourly.hr)
        |SELECT event_type, hr, n,
        |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_3h,
        |  (n = 0) AS is_gap
        |FROM f ORDER BY event_type, hr""".stripMargin,

    // overlapping-interval coalescing — mirrors Events.intervalMerge
    // (break on overlap vs the running max end, not event gap;
    // variable 1-10 min durations make contained intervals real)
    "interval_merge" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS s,
        |    CAST(epoch_us(ts) AS BIGINT) + (event_id % 10 + 1) * 60000000 AS e
        |  FROM events),
        |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
        |      FROM iv),
        |b AS (SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |                     THEN 1 ELSE 0 END AS brk FROM m),
        |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |      FROM b)
        |SELECT user_id, grp AS interval_seq,
        |  CAST(min(s) AS BIGINT) AS start_us, CAST(max(e) AS BIGINT) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, grp ORDER BY user_id, interval_seq""".stripMargin,

    // session funnel (same sessionization CTE as `sessionize`) —
    // mirrors Events.funnelStages
    "funnel_stages" ->
      """WITH x AS (SELECT user_id, event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM b),
        |per AS (SELECT user_id, session_seq,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN ts_us END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t_purchase
        |        FROM s GROUP BY user_id, session_seq),
        |f AS (SELECT
        |       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                      AND t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                      AND t_click >= t_view AND t_purchase IS NOT NULL
        |                      AND t_purchase >= t_click THEN 1 ELSE 0 END) AS BIGINT) AS s3
        |      FROM per)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS stage_name, s1 AS n_sessions,
        |         CASE WHEN s1 > 0 THEN CAST(10000 AS BIGINT) END AS pct_of_first_bp FROM f
        |  UNION ALL SELECT 2, 'view>click', s2,
        |         CASE WHEN s1 > 0 THEN (10000 * s2) // s1 END FROM f
        |  UNION ALL SELECT 3, 'view>click>purchase', s3,
        |         CASE WHEN s1 > 0 THEN (10000 * s3) // s1 END FROM f)
        |ORDER BY stage""".stripMargin,

    // hour-bucket cohorts, offsets 0-5 — mirrors Events.cohortRetention
    "cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |               CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bucket
        |             FROM events),
        |fb AS (SELECT user_id, min(bucket) AS cohort FROM act GROUP BY user_id)
        |SELECT cohort, CAST(bucket - cohort AS INT) AS hour_offset, count(*) AS n_users
        |FROM act JOIN fb USING (user_id)
        |WHERE bucket - cohort <= 5
        |GROUP BY cohort, hour_offset ORDER BY cohort, hour_offset""".stripMargin,

    "tumbling_window" ->
      """SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
        |FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin,

    "sliding_window" ->
      """WITH e AS (SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |w AS (SELECT event_type, value,
        |        unnest([CAST(floor(us / 3600000000.0) AS BIGINT) * 3600000000,
        |                CAST(floor((us - 1800000000) / 3600000000.0) AS BIGINT) * 3600000000 + 1800000000]) AS win_start
        |      FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
        |FROM w GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,

    "hourly_profile" ->
      """SELECT CAST(hour(ts) AS INT) AS hour_of_day, event_type, count(*) AS n
        |FROM events GROUP BY hour_of_day, event_type
        |ORDER BY hour_of_day, event_type""".stripMargin,

    // ---- text analysis ----
    "token_count" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |            ELSE len(string_split(coalesce(text,''), ' ')) END AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(coalesce(text,''), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS re_tokens
        |  FROM documents)
        |SELECT lang, CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
        |  CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
        |  CAST(sum(ws_tokens) AS DOUBLE) / count(*) AS avg_ws_tokens
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "quality_score" ->
      s"""WITH $QualityCtes
         |SELECT doc_id, CAST(len_bp AS BIGINT) AS len_factor_bp,
         |  CAST(stop_bp AS BIGINT) AS stop_ratio_bp,
         |  quality_bp
         |FROM qual ORDER BY doc_id""".stripMargin,

    // quality-weighted salted-hash sampling — mirrors TextAnalysis.weightedSample
    "weighted_sample" ->
      s"""WITH $QualityCtes,
         |s AS (SELECT doc_id, quality_bp,
         |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
         |      FROM qual)
         |SELECT doc_id, quality_bp, u FROM s
         |WHERE u * 10000 < quality_bp * 4294967296
         |ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""WITH $LangPredCtes
         |SELECT doc_id, lang, predicted
         |FROM lpred ORDER BY doc_id""".stripMargin,

    // Poisson bootstrap — mirrors Observability.bootstrapMean (same
    // salted-hash uniform as weighted_sample; Poisson(1) CDF cuts as
    // integer literals)
    "bootstrap_mean" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |         ELSE len(string_split(coalesce(text,''), ' ')) END AS BIGINT) AS v
        |  FROM documents),
        |rep AS (SELECT doc_id, v, CAST(unnest(range(0, 16)) AS INT) AS b FROM t),
        |u AS (SELECT b, v,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        |      FROM rep),
        |c AS (SELECT b, v,
        |        CASE WHEN u < 1580030168 THEN 0
        |             WHEN u < 3160060337 THEN 1
        |             WHEN u < 3950075421 THEN 2
        |             WHEN u < 4213413783 THEN 3
        |             WHEN u < 4279248373 THEN 4
        |             ELSE 5 END AS cnt
        |      FROM u)
        |SELECT b, CAST(sum(cnt) AS BIGINT) AS n_eff,
        |  CAST(sum(cnt * v) AS BIGINT) AS token_mass,
        |  CAST((10000 * sum(cnt * v)) // sum(cnt) AS BIGINT) AS mean_tokens_bp
        |FROM c GROUP BY b ORDER BY b""".stripMargin,

    // lang-ID confusion matrix — mirrors TextAnalysis.langidEval
    "langid_eval" ->
      s"""WITH $LangPredCtes,
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
         |        FROM lpred GROUP BY lang),
         |g AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
         |      FROM lpred GROUP BY lang, predicted)
         |SELECT g.lang, predicted, n, n_lang,
         |  CAST((10000 * n) // n_lang AS BIGINT) AS share_bp
         |FROM g JOIN tot ON g.lang = tot.lang
         |ORDER BY g.lang, predicted""".stripMargin,

    // top-20 PMI collocations — mirrors TextAnalysis.collocations
    "collocations" ->
      s"""WITH $WordsCte,
         |uni AS (SELECT word, count(*) AS c FROM words GROUP BY word),
         |nn AS (SELECT count(*) AS n FROM words),
         |sh0 AS (SELECT doc_id, pos, word,
         |          lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS wnext
         |        FROM words),
         |cbi AS (SELECT word AS w1, wnext AS w2, count(*) AS c12
         |        FROM sh0 WHERE wnext IS NOT NULL GROUP BY word, wnext),
         |sc AS (SELECT w1, w2, c12,
         |         round(ln(CAST(n AS DOUBLE) * c12 / (u1.c * u2.c)), 4) AS pmi
         |       FROM cbi JOIN uni u1 ON w1 = u1.word
         |                JOIN uni u2 ON w2 = u2.word, nn
         |       WHERE c12 >= 5)
         |SELECT w1, w2, c12, pmi FROM sc
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    // df==1 novelty over distinct 3-shingles — mirrors TextAnalysis.ngramNovelty
    "ngram_novelty" ->
      s"""WITH $Shingle3Cte,
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |dfreq AS (SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST((10000 * sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         |    AS novelty_bp
         |FROM dsh JOIN dfreq USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $Shingle3Cte
         |SELECT doc_id, min(md5(shingle)) AS fingerprint, count(*) AS n_shingles
         |FROM shingles GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ---- dedup ----
    "dedup_exact" ->
      """SELECT md5(coalesce(text,'')) AS text_hash,
        |  CAST(min(doc_id) AS BIGINT) AS canonical_doc, count(*) AS n_copies
        |FROM documents GROUP BY text_hash
        |ORDER BY text_hash""".stripMargin,

    "minhash_signature" ->
      s"""WITH $Shingle3Cte
         |SELECT doc_id,
         |  min(md5('seed0:' || shingle)) AS mh_0,
         |  min(md5('seed1:' || shingle)) AS mh_1,
         |  min(md5('seed7:' || shingle)) AS mh_7
         |FROM shingles GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "minhash_lsh" ->
      s"""WITH $LshPairCtes
         |SELECT DISTINCT doc_a, doc_b FROM lshpairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    // corpus-scale containment tier: the SAME lshpairs CTE as
    // minhash_lsh (pairing cannot drift), LEFT-joined to the shingle
    // intersection so zero-overlap candidates keep their row with
    // n_common = 0 — structural parity with Spark's in-row intersect
    "containment_pipeline" ->
      s"""WITH $LshPairCtes,
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
         |       FROM dsh GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS nc
         |          FROM lshpairs p
         |          JOIN dsh a ON a.doc_id = p.doc_a
         |          JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
         |          GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b,
         |  CAST(coalesce(i.nc, 0) AS BIGINT) AS n_common,
         |  CAST((10000 * coalesce(i.nc, 0)) // sa.n_sh AS BIGINT) AS cont_a_bp,
         |  CAST((10000 * coalesce(i.nc, 0)) // sb.n_sh AS BIGINT) AS cont_b_bp
         |FROM lshpairs p
         |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |JOIN sz sa ON sa.doc_id = p.doc_a
         |JOIN sz sb ON sb.doc_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    // band-bucket occupancy profile: reuses the SAME banded CTE as the
    // pairing so the cost model cannot drift from the join it prices
    // (the unreferenced lshpairs CTE is not materialized by DuckDB)
    "lsh_bucket_stats" ->
      s"""WITH $LshPairCtes,
         |occ AS (SELECT band, bkey, CAST(count(*) AS BIGINT) AS c
         |        FROM banded GROUP BY 1, 2),
         |cls AS (SELECT CAST(CASE WHEN c < 2 THEN 0 WHEN c < 4 THEN 1
         |               WHEN c < 8 THEN 2 WHEN c < 16 THEN 3
         |               WHEN c < 32 THEN 4 ELSE 5 END AS INT) AS occ_class,
         |          CAST(count(*) AS BIGINT) AS n_buckets,
         |          CAST(sum(c) AS BIGINT) AS doc_rows,
         |          CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS pair_mass
         |        FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(pair_mass) AS BIGINT) AS tp FROM cls)
         |SELECT occ_class, n_buckets, doc_rows, pair_mass,
         |  CAST(CASE WHEN tp = 0 THEN 0
         |       ELSE (10000 * pair_mass) // tp END AS BIGINT) AS pair_share_bp
         |FROM cls, tot ORDER BY occ_class""".stripMargin,

    // Band-parameter advisor — mirrors Dedup.lshBandAdvisor: measured
    // pair mass at every band size tiling the 8-hash signature (bucket
    // key = concat of adjacent minhash strings — no md5, the raw tuple
    // IS the bucket identity), linear budget of 4 candidate pairs per
    // signed doc (read off the one-band tiling's doc_rows), chosen =
    // smallest within-budget band size, fallback largest. All integer.
    "lsh_band_advisor" ->
      s"""WITH $Shingle3Cte,
         |sig AS (SELECT doc_id,
         |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
         |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
         |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
         |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
         |  FROM shingles GROUP BY doc_id),
         |bb AS (
         |  SELECT doc_id, 2 AS band_size, 0 AS band, mh_0 || '|' || mh_1 AS key FROM sig
         |  UNION ALL SELECT doc_id, 2, 1, mh_2 || '|' || mh_3 FROM sig
         |  UNION ALL SELECT doc_id, 2, 2, mh_4 || '|' || mh_5 FROM sig
         |  UNION ALL SELECT doc_id, 2, 3, mh_6 || '|' || mh_7 FROM sig
         |  UNION ALL SELECT doc_id, 4, 0, mh_0 || '|' || mh_1 || '|' || mh_2 || '|' || mh_3 FROM sig
         |  UNION ALL SELECT doc_id, 4, 1, mh_4 || '|' || mh_5 || '|' || mh_6 || '|' || mh_7 FROM sig
         |  UNION ALL SELECT doc_id, 8, 0, mh_0 || '|' || mh_1 || '|' || mh_2 || '|' || mh_3 || '|' || mh_4 || '|' || mh_5 || '|' || mh_6 || '|' || mh_7 FROM sig),
         |occ AS (SELECT band_size, band, key, CAST(count(*) AS BIGINT) AS c
         |        FROM bb GROUP BY ALL),
         |cells AS (SELECT CAST(band_size AS INT) AS band_size,
         |            CAST(count(*) AS BIGINT) AS n_buckets,
         |            CAST(sum(c) AS BIGINT) AS doc_rows,
         |            CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS pair_mass
         |          FROM occ GROUP BY 1),
         |nb AS (SELECT CAST(sum(CASE WHEN band_size = 8 THEN doc_rows ELSE 0 END) * 4 AS BIGINT) AS pair_budget FROM cells),
         |j AS (SELECT band_size, CAST(8 // band_size AS INT) AS n_bands, n_buckets,
         |        doc_rows, pair_mass, pair_budget,
         |        pair_mass <= pair_budget AS within_budget
         |      FROM cells, nb),
         |pick AS (SELECT coalesce(min(CASE WHEN within_budget THEN band_size END),
         |                         max(band_size)) AS pick FROM j)
         |SELECT band_size, n_bands, n_buckets, doc_rows, pair_mass, pair_budget,
         |  within_budget, band_size = pick AS chosen
         |FROM j, pick ORDER BY band_size""".stripMargin,

    // fast-tier error-band audit (see the error-band note above):
    // exact pair Jaccard over the bounded block — same shingle ground
    // truth as ngram_jaccard, no threshold — with est_ok asserted TRUE
    "minhash_fast" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 64),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word,
        |         generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |sh0 AS (SELECT doc_id, pos, word,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM words),
        |shingles AS (SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
        |             FROM sh0 WHERE w2 IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |          FROM shingles a JOIN shingles b
        |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common,
        |  CAST((10000 * n_common) // (sa.n_sh + sb.n_sh - n_common) AS BIGINT) AS jaccard_bp,
        |  TRUE AS est_ok
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // transitive closure of the LSH candidate graph — mirrors
    // Dedup.dedupComponents (DuckDB recursive CTE = the serial truth the
    // distributed label-propagation fixpoint must reproduce exactly)
    "dedup_components" ->
      s"""WITH RECURSIVE $ComponentsCtes
         |SELECT c.doc_id, c.component, s.cluster_size
         |FROM comp c JOIN sizes s USING (component)
         |ORDER BY doc_id""".stripMargin,

    // incremental snapshot merge — the ORACLE IS THE FULL RECOMPUTE:
    // Dedup.dedupComponentsIncremental's contract is exact equality
    // with the from-scratch closure (same SQL as dedup_components),
    // so the delta-merge path is value-pinned against the serial truth
    "dedup_components_incremental" ->
      s"""WITH RECURSIVE $ComponentsCtes
         |SELECT c.doc_id, c.component, s.cluster_size
         |FROM comp c JOIN sizes s USING (component)
         |ORDER BY doc_id""".stripMargin,

    // canonical-survivor selection on top of the same closure —
    // mirrors Dedup.dedupCanonical
    "dedup_canonical" ->
      s"""WITH RECURSIVE $ComponentsCtes,
         |cf AS (SELECT c.doc_id, c.component, s.cluster_size
         |       FROM comp c JOIN sizes s USING (component)),
         |j AS (SELECT cf.doc_id, cf.component, cf.cluster_size, d.n_chars
         |      FROM cf JOIN documents d USING (doc_id)),
         |k AS (SELECT doc_id, cluster_size FROM (
         |        SELECT doc_id, cluster_size,
         |          row_number() OVER (PARTITION BY component
         |            ORDER BY n_chars DESC, doc_id) AS rn
         |        FROM j) WHERE rn = 1)
         |SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         |       true AS was_clustered
         |FROM k
         |UNION ALL
         |SELECT d.doc_id, CAST(1 AS BIGINT), false
         |FROM documents d LEFT JOIN cf ON d.doc_id = cf.doc_id
         |WHERE cf.doc_id IS NULL
         |ORDER BY doc_id""".stripMargin,

    // does dedup remove good or bad content — mirrors
    // Dedup.dupQualityProfile: quality/token mass of clustered vs
    // singleton docs over the shared closure
    "dup_quality_profile" ->
      s"""WITH RECURSIVE $ComponentsCtes,
         |$QualityCtes
         |SELECT (c.doc_id IS NOT NULL) AS was_clustered,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(quality_bp) // count(*) AS BIGINT) AS avg_quality_bp
         |FROM qual LEFT JOIN comp c ON qual.doc_id = c.doc_id
         |GROUP BY 1 ORDER BY was_clustered""".stripMargin,

    // asymmetric batch × corpus banding — mirrors Dedup.dedupIncremental
    "dedup_incremental" ->
      s"""WITH $Shingle3Cte,
         |sig AS (SELECT doc_id,
         |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
         |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
         |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
         |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
         |  FROM shingles GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig)
         |SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS corpus_doc
         |FROM banded x JOIN banded y
         |  ON x.band = y.band AND x.bkey = y.bkey
         |WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
         |ORDER BY new_doc, corpus_doc""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 64),
         |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word,
         |         generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos FROM docs),
         |words AS (SELECT * FROM w0 WHERE length(word) > 0),
         |sh0 AS (SELECT doc_id, pos, word,
         |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM words),
         |shingles AS (SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
         |             FROM sh0 WHERE w2 IS NOT NULL),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM shingles a JOIN shingles b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, n_common,
         |  CAST((10000 * n_common) // (sa.n_sh + sb.n_sh - n_common) AS BIGINT) AS jaccard_bp
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE (10000 * n_common) // (sa.n_sh + sb.n_sh - n_common) >= 150
         |ORDER BY doc_a, doc_b""".stripMargin,

    // exact duplicated-8-gram spans — mirrors Dedup.substringDedup:
    // per doc, total 8-gram positions vs positions whose gram appears
    // in another document, integer-basis-point fraction
    "substring_dedup" ->
      s"""WITH $WordsCte,
         |$Gram8DigestCtes,
         |d AS (SELECT gram FROM (
         |        SELECT gram, count(DISTINCT doc_id) AS nd
         |        FROM g GROUP BY gram) WHERE nd >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
         |dup AS (SELECT g.doc_id, count(*) AS nd
         |        FROM g JOIN d USING (gram) GROUP BY g.doc_id)
         |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(u.nd, 0) AS BIGINT) AS n_dup_grams,
         |  CAST((10000 * coalesce(u.nd, 0)) // t.n_grams AS BIGINT) AS dup_bp
         |FROM tot t LEFT JOIN dup u USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // global first-occurrence-wins paragraph dedup — mirrors
    // Dedup.paragraphDedup: 10-word windows (partial tail kept),
    // earliest (doc_id, p_idx) per 60-bit paragraph digest survives,
    // survivors reassembled in order
    "paragraph_dedup" ->
      s"""WITH $WordsCte,
         |${ParaCtes(10, "")},
         |kp AS (SELECT doc_id, p_idx, p_text FROM (
         |         SELECT doc_id, p_idx, p_text,
         |           row_number() OVER (PARTITION BY dg ORDER BY doc_id, p_idx) AS rn
         |         FROM pd) WHERE rn = 1),
         |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
         |       FROM pd GROUP BY doc_id),
         |rs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(p_text, ' ' ORDER BY p_idx) AS clean_text
         |       FROM kp GROUP BY doc_id)
         |SELECT t.doc_id, t.n_paras,
         |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_paras - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
         |  coalesce(r.clean_text, '') AS clean_text
         |FROM tt t LEFT JOIN rs r USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // paragraph-width calibration — mirrors Dedup.paragraphSweep:
    // per candidate width, instances vs distinct digests vs drop share
    "paragraph_sweep" ->
      s"""WITH $WordsCte,
         |${graft.etl.Dedup.SweepWidths.map(k => ParaCtes(k, k.toString)).mkString(",\n")}
         |SELECT * FROM (
         |${graft.etl.Dedup.SweepWidths.map(k =>
           s"""SELECT CAST($k AS BIGINT) AS k,
              |  CAST(count(*) AS BIGINT) AS n_paras,
              |  CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct,
              |  CAST(count(*) - count(DISTINCT dg) AS BIGINT) AS n_dropped,
              |  CAST((10000 * (count(*) - count(DISTINCT dg))) // count(*) AS BIGINT) AS drop_bp
              |FROM pd$k""".stripMargin).mkString("\nUNION ALL\n")}
         |) ORDER BY k""".stripMargin,

    // directed paragraph-syndication matrix — mirrors
    // Dedup.paragraphAttribution: each dropped copy attributed to its
    // (winner_source, loser_source) edge
    "paragraph_attribution" ->
      s"""WITH $WordsCte,
         |${ParaCtes(10, "")},
         |w AS (SELECT dg, doc_id AS wd, p_idx AS wp FROM (
         |        SELECT dg, doc_id, p_idx,
         |          row_number() OVER (PARTITION BY dg ORDER BY doc_id, p_idx) AS rn
         |        FROM pd) WHERE rn = 1),
         |lost AS (SELECT w.wd AS win_doc, p.doc_id AS lose_doc
         |         FROM pd p JOIN w ON p.dg = w.dg
         |         WHERE NOT (p.doc_id = w.wd AND p.p_idx = w.wp))
         |SELECT sw.source AS src_win, sl.source AS src_lose,
         |  CAST(count(*) AS BIGINT) AS n_paras
         |FROM lost JOIN documents sw ON lost.win_doc = sw.doc_id
         |          JOIN documents sl ON lost.lose_doc = sl.doc_id
         |GROUP BY sw.source, sl.source
         |ORDER BY src_win, src_lose""".stripMargin,

    // staged curation survivorship — mirrors CorpusPipeline.curationFunnel:
    // gopher → lang-id → quality → exact dedup → near-dup canonical over
    // the shared components closure; cumulative (docs, tokens) per stage
    "curation_funnel" ->
      s"""WITH RECURSIVE $ComponentsCtes,
         |$GopherCtes,
         |$LangPredCtes,
         |gfl AS (SELECT doc_id, $GopherPassExpr AS m1 FROM gj),
         |$QualityCtes,
         |tk AS (SELECT doc_id, md5(coalesce(text,'')) AS h FROM documents),
         |fx AS (SELECT tk.doc_id, qual.tokens AS toks, tk.h, gfl.m1,
         |    (gfl.m1 AND lpred.predicted <> 'unknown') AS m2,
         |    (gfl.m1 AND lpred.predicted <> 'unknown'
         |      AND qual.quality_bp >= ${etl.CorpusPipeline.FunnelQualityBp}) AS m3
         |  FROM tk JOIN gfl USING (doc_id) JOIN lpred USING (doc_id) JOIN qual USING (doc_id)),
         |f4 AS (SELECT fx.*,
         |    (m3 AND row_number() OVER (PARTITION BY h, m3 ORDER BY doc_id) = 1) AS m4
         |  FROM fx),
         |f5p AS (SELECT f4.*, c.component FROM f4 LEFT JOIN comp c USING (doc_id)),
         |f5 AS (SELECT f5p.*,
         |    (m4 AND (component IS NULL OR
         |      row_number() OVER (PARTITION BY coalesce(component, doc_id), m4
         |        ORDER BY doc_id) = 1)) AS m5
         |  FROM f5p),
         |lva AS (SELECT CASE WHEN NOT m1 THEN 0 WHEN NOT m2 THEN 1 WHEN NOT m3 THEN 2
         |                    WHEN NOT m4 THEN 3 WHEN NOT m5 THEN 4 ELSE 5 END AS lvl,
         |               toks
         |  FROM f5),
         |la AS (SELECT lvl, count(*) AS nd, sum(toks) AS nt FROM lva GROUP BY lvl),
         |st AS (SELECT CAST(unnest(range(0, 6)) AS BIGINT) AS stage)
         |SELECT st.stage,
         |  CASE st.stage WHEN 0 THEN 'raw' WHEN 1 THEN 'gopher' WHEN 2 THEN 'lang_id'
         |       WHEN 3 THEN 'quality' WHEN 4 THEN 'exact_dedup'
         |       ELSE 'neardup_canonical' END AS stage_name,
         |  CAST(coalesce(sum(la.nd), 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(la.nt), 0) AS BIGINT) AS n_tokens
         |FROM st LEFT JOIN la ON la.lvl >= st.stage
         |GROUP BY st.stage ORDER BY st.stage""".stripMargin,

    "simhash" ->
      s"""WITH $SimhashSigCte
         |SELECT doc_id, simhash16 FROM sigt ORDER BY doc_id""".stripMargin,

    // bit-block LSH over the simhash signature — mirrors Dedup.simhashNearDup
    // cross-source syndication matrix — mirrors Dedup.sourceOverlap:
    // the shared lshpairs CTE rolled up to unordered source cells
    "source_overlap" ->
      s"""WITH $LshPairCtes,
         |sp AS (SELECT least(da.source, db.source) AS src1,
         |              greatest(da.source, db.source) AS src2
         |       FROM lshpairs p
         |       JOIN documents da ON da.doc_id = p.doc_a
         |       JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT src1, src2, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM sp GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin,

    // near-dup detector P/R/F1 — mirrors Dedup.neardupEval: simhash
    // tier (full corpus, restricted to the slice) vs exact 3-gram
    // Jaccard >= 150bp truth on doc_id<64; full outer so zero-overlap
    // predictions count as false positives
    "neardup_eval" ->
      s"""WITH $SimhashSigCte,
         |blocks AS (SELECT doc_id, simhash16, b.blk,
         |    (simhash16 >> (b.blk * 4)) & 15 AS bval
         |  FROM sigt, (SELECT unnest([0, 1, 2, 3]) AS blk) b),
         |pred AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM blocks x JOIN blocks y
         |    ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.simhash16, y.simhash16)) <= 2
         |    AND x.doc_id < 64 AND y.doc_id < 64),
         |jsh0 AS (SELECT doc_id, pos, word,
         |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |       FROM words WHERE doc_id < 64),
         |jshingles AS (SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
         |             FROM jsh0 WHERE w2 IS NOT NULL),
         |jsizes AS (SELECT doc_id, count(*) AS n_sh FROM jshingles GROUP BY doc_id),
         |jinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |          FROM jshingles a JOIN jshingles b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id),
         |truth AS (SELECT doc_a, doc_b,
         |    CASE WHEN (10000 * n_common) // (sa.n_sh + sb.n_sh - n_common) >= 150
         |         THEN 1 ELSE 0 END AS t
         |  FROM jinter JOIN jsizes sa ON doc_a = sa.doc_id
         |              JOIN jsizes sb ON doc_b = sb.doc_id),
         |m AS (SELECT coalesce(tr.t, 0) AS t,
         |        CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS p
         |      FROM truth tr FULL OUTER JOIN pred p
         |        ON tr.doc_a = p.doc_a AND tr.doc_b = p.doc_b),
         |agg AS (SELECT CAST(sum(t) AS BIGINT) AS n_truth,
         |          CAST(sum(p) AS BIGINT) AS n_pred,
         |          CAST(sum(t * p) AS BIGINT) AS n_tp FROM m),
         |pr AS (SELECT n_truth, n_pred, n_tp,
         |        CASE WHEN n_pred = 0 THEN 0 ELSE (10000 * n_tp) // n_pred END AS precision_bp,
         |        CASE WHEN n_truth = 0 THEN 0 ELSE (10000 * n_tp) // n_truth END AS recall_bp
         |      FROM agg)
         |SELECT n_truth, n_pred, n_tp,
         |  CAST(precision_bp AS BIGINT) AS precision_bp,
         |  CAST(recall_bp AS BIGINT) AS recall_bp,
         |  CAST(CASE WHEN precision_bp + recall_bp = 0 THEN 0
         |       ELSE (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
         |       END AS BIGINT) AS f1_bp
         |FROM pr""".stripMargin,

    // BOUNDED audit-slice tier (round 16): pairs only inside doc_id<64
    // — the 64-key band domain makes a full-corpus pairing n²/64 by
    // construction, so the corpus tier is simhash_wide_neardup; this
    // tier mirrors Dedup.simhashNearDup's slice-first plan
    "simhash_neardup" ->
      s"""WITH $SimhashSigCte,
         |blocks AS (SELECT doc_id, simhash16, b.blk,
         |    (simhash16 >> (b.blk * 4)) & 15 AS bval
         |  FROM sigt, (SELECT unnest([0, 1, 2, 3]) AS blk) b
         |  WHERE doc_id < 64)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash16, y.simhash16)) AS INT) AS hamming
         |FROM blocks x JOIN blocks y
         |  ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash16, y.simhash16)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the scale tier — mirrors Dedup.simhashWideNearDup: 60-bit
    // signature, 20 Manku combination keys of 30 bits, hamming <= 3
    // verified on candidates (pigeonhole recall 1)
    "simhash_wide_neardup" ->
      s"""WITH $SimhashWideCtes
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash60, y.simhash60)) AS INT) AS hamming
         |FROM cmb x JOIN cmb y
         |  ON x.comb = y.comb AND x.ckey = y.ckey AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash60, y.simhash60)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // ---- similarity search ----
    "knn_brute" -> {
      val p =
        """p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
         |      FROM s)
         |SELECT qid, rank, cid, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // kNN-vote label noise — mirrors Similarity.labelNoise
    "label_noise" -> {
      val p =
        """p AS (SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid,
          |        c.label AS clabel, q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 64)""".stripMargin
      s"""WITH ${cosineFrom(p, ", qlabel, clabel")},
         |r AS (SELECT qid, qlabel, clabel,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |v AS (SELECT qid, qlabel, clabel, CAST(count(*) AS BIGINT) AS n
         |      FROM r WHERE rk <= 5 GROUP BY ALL),
         |m AS (SELECT qid, qlabel, clabel, n,
         |        row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel) AS vrk
         |      FROM v)
         |SELECT qid, qlabel AS label, clabel AS neighbor_label, n AS n_votes
         |FROM m WHERE vrk = 1 AND clabel <> qlabel ORDER BY qid""".stripMargin
    },

    // contrastive hard negatives — mirrors Similarity.hardNegatives
    "hard_negatives" -> {
      val p =
        """p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS clabel,
          |        q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c
          |        ON q.vec_id <> c.vec_id AND q.label <> c.label
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH ${cosineFrom(p, ", clabel")},
         |r AS (SELECT qid, cid, clabel, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
         |      FROM s)
         |SELECT qid, rank, cid, clabel, cos FROM r WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin
    },

    // ANN cell-occupancy audit — mirrors Similarity.bucketBalance
    // (same sign-bucket cell expression as knn_bucketed)
    "bucket_balance" ->
      """WITH b AS (SELECT vec_id,
        |        CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
        |             (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
        |             (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
        |      FROM embeddings),
        |cells AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
        |               count(*) AS n_cells FROM cells)
        |SELECT bucket, n_vecs,
        |  CAST((10000 * n_vecs) // total AS BIGINT) AS share_bp,
        |  CAST((10000 * n_vecs * n_cells) // total AS BIGINT) AS balance_bp
        |FROM cells, tot ORDER BY bucket""".stripMargin,

    "knn_bucketed" -> {
      val p =
        """b AS (SELECT vec_id, embedding,
          |        CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
          |             (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
          |             (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
          |      FROM embeddings),
          |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce,
          |             q.bucket AS qb
          |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH ${cosineFrom(p, ", qb")},
         |r AS (SELECT qid, qb, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
         |      FROM s)
         |SELECT qid, qb AS bucket, rank, cid, cos FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },

    // Blocking = label × sign-bucket (same cell expression as knn_bucketed);
    // mirrors Similarity.embeddingNearDup's bounded-block self-join.
    // multi-probe: query's cell plus its three Hamming-1 neighbors —
    // mirrors Similarity.knnMultiprobe
    "knn_multiprobe" -> {
      val p =
        """b AS (SELECT vec_id, embedding,
          |        CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
          |             (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
          |             (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
          |      FROM embeddings),
          |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM b q JOIN b c
          |        ON c.bucket IN (q.bucket, xor(q.bucket, 1), xor(q.bucket, 2), xor(q.bucket, 4))
          |       AND q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
         |      FROM s)
         |SELECT qid, rank, cid, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // bits derives from the corpus count exactly as
    // GraphCuration.adaptiveBits: smallest b in [3,12] with
    // 2^b * 1000 >= n (integer-exact — no float log2). At the verified
    // SFs (n <= 8000) this floors at 3, the pre-r15 pinned config; the
    // bucket is the sign bits of the first `bits` dims, MSB-first,
    // mirroring Similarity.signBucket.
    "embedding_neardup" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding, label,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn),
          |p AS (SELECT x.vec_id AS qid, y.vec_id AS cid, x.embedding AS qe, y.embedding AS ce,
          |             x.label AS label
          |      FROM b x JOIN b y
          |        ON x.label = y.label AND x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, ", label")}
         |SELECT label, qid AS vec_a, cid AS vec_b, cos FROM s
         |WHERE cos >= 0.3 ORDER BY label, vec_a, vec_b""".stripMargin
    },

    // Recall buyback for the adaptive blocking — mirrors
    // Similarity.embeddingNearDupMultiprobe: the probe side emits its
    // own cell plus the `bits` Hamming-1 flips; each a<b pair matches
    // exactly one probe value, so no dedup is needed
    "neardup_multiprobe" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding, label,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn),
          |pr AS (SELECT vec_id, embedding, label,
          |         CAST(unnest([bucket] || list_transform(range(nn.bits), i ->
          |           xor(bucket, CAST(1::BIGINT << CAST(i AS INT) AS INT)))) AS INT) AS probe
          |       FROM b, nn),
          |p AS (SELECT x.vec_id AS qid, y.vec_id AS cid, x.embedding AS qe, y.embedding AS ce,
          |             x.label AS label
          |      FROM pr x JOIN b y
          |        ON x.label = y.label AND x.probe = y.bucket AND x.vec_id < y.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, ", label")}
         |SELECT label, qid AS vec_a, cid AS vec_b, cos FROM s
         |WHERE cos >= 0.3 ORDER BY label, vec_a, vec_b""".stripMargin
    },

    // Blocking-recall audit on the bounded vec_id<256 slice — mirrors
    // Similarity.neardupRecall: exact same-label cos>=0.3 truth vs the
    // production adaptive-bits blocking and its Hamming-1 probe set
    "neardup_recall" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding, label,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn WHERE vec_id < 256),
          |p AS (SELECT x.vec_id AS qid, y.vec_id AS cid, x.embedding AS qe, y.embedding AS ce,
          |             x.label AS label, x.bucket AS a_bk, y.bucket AS b_bk
          |      FROM b x JOIN b y
          |        ON x.label = y.label AND x.vec_id < y.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, ", label, a_bk, b_bk")},
         |g AS (SELECT label, CAST(count(*) AS BIGINT) AS n_exact,
         |        CAST(sum(CASE WHEN a_bk = b_bk THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
         |        CAST(sum(CASE WHEN bit_count(xor(a_bk, b_bk)) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_probed
         |      FROM s WHERE cos >= 0.3 GROUP BY label)
         |SELECT label, n_exact, n_blocked, n_probed,
         |  CAST((10000 * n_blocked) // n_exact AS BIGINT) AS recall_bp,
         |  CAST((10000 * n_probed) // n_exact AS BIGINT) AS probed_recall_bp
         |FROM g ORDER BY label""".stripMargin
    },

    // IVF assignment: nearest of the broadcast centroid slice; mean over
    // exact basis points — mirrors Similarity.clusterAssign
    "cluster_assign" -> {
      val p =
        """p AS (SELECT e.vec_id AS qid, c.vec_id AS cid, e.embedding AS qe, c.embedding AS ce
          |      FROM embeddings e JOIN embeddings c
          |        ON c.vec_id < 8 AND e.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s)
         |SELECT cid, count(*) AS n_assigned,
         |  CAST(sum(CAST(round(cos * 10000) AS BIGINT)) AS DOUBLE) / count(*) / 10000.0 AS mean_cos
         |FROM r WHERE rk = 1 GROUP BY cid ORDER BY cid""".stripMargin
    },

    // assignment (as cluster_assign) + majority-label purity —
    // mirrors Similarity.clusterPurity; ties break to smallest label
    "cluster_purity" -> {
      val p =
        """p AS (SELECT e.vec_id AS qid, e.label AS qlabel, c.vec_id AS cid,
          |        e.embedding AS qe, c.embedding AS ce
          |      FROM embeddings e JOIN embeddings c
          |        ON c.vec_id < 8 AND e.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, ", qlabel")},
         |r AS (SELECT qid, qlabel, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |g AS (SELECT cid, qlabel, CAST(count(*) AS BIGINT) AS n
         |      FROM r WHERE rk = 1 GROUP BY ALL),
         |t AS (SELECT cid, qlabel, n,
         |        row_number() OVER (PARTITION BY cid ORDER BY n DESC, qlabel) AS lrk,
         |        CAST(sum(n) OVER (PARTITION BY cid) AS BIGINT) AS n_assigned
         |      FROM g)
         |SELECT cid, n_assigned, qlabel AS top_label, n AS top_n,
         |  CAST((10000 * n) // n_assigned AS BIGINT) AS purity_bp
         |FROM t WHERE lrk = 1 ORDER BY cid""".stripMargin
    },

    // assignment (as cluster_assign) + per-dimension exact-bp means —
    // mirrors Similarity.kmeansUpdate
    "kmeans_update" -> {
      val p =
        """p AS (SELECT e.vec_id AS qid, c.vec_id AS cid, e.embedding AS qe, c.embedding AS ce
          |      FROM embeddings e JOIN embeddings c
          |        ON c.vec_id < 8 AND e.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |b AS (SELECT cid, qid FROM r WHERE rk = 1),
         |x AS (SELECT b.cid,
         |        CAST(generate_subscripts(e.embedding, 1) - 1 AS INT) AS dim,
         |        CAST(unnest(e.embedding) AS DOUBLE) AS x
         |      FROM b JOIN embeddings e ON e.vec_id = b.qid)
         |SELECT cid, dim, count(*) AS n_assigned,
         |  CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS DOUBLE) / count(*) / 10000.0 AS mean_x
         |FROM x WHERE dim < 4
         |GROUP BY cid, dim ORDER BY cid, dim""".stripMargin
    },

    "label_stats" ->
      """WITH z AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |d AS (SELECT vec_id, label, sqrt(sum(x * x)) AS vnorm
        |      FROM z GROUP BY vec_id, label)
        |SELECT label, count(*) AS n_vecs, round(avg(vnorm), 4) AS avg_norm,
        |  round(min(vnorm), 4) AS min_norm, round(max(vnorm), 4) AS max_norm
        |FROM d GROUP BY label ORDER BY label""".stripMargin,

    // ---- fixpoint / windows / custom-agg / multimodal ----
    "crawl_bfs" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |edges AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                          CAST(o_orderkey % c AS BIGINT) AS dst
        |          FROM orders, cnt),
        |v0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS depth),
        |f1 AS (SELECT DISTINCT dst AS node FROM edges JOIN v0 ON src = v0.node
        |       WHERE dst % 11 >= 5 AND dst NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT * FROM v0 UNION ALL SELECT node, 1 FROM f1),
        |f2 AS (SELECT DISTINCT dst AS node FROM edges JOIN f1 ON src = f1.node
        |       WHERE dst % 11 >= 5 AND dst NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT node, 2 FROM f2),
        |f3 AS (SELECT DISTINCT dst AS node FROM edges JOIN f2 ON src = f2.node
        |       WHERE dst % 11 >= 5 AND dst NOT IN (SELECT node FROM v2)),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM f3)
        |SELECT node, CAST(depth AS INT) AS depth FROM v3 ORDER BY node""".stripMargin,

    // 3 unrolled damped power iterations, integer ppm mass — mirrors
    // Crawl.pagerankIter (div/% semantics agree across engines on
    // non-negative operands)
    // naive canonical a<b<c enumeration (the oracle need not scale);
    // per-node participation is orientation-independent — mirrors
    // Crawl.triangleCounts
    "triangle_count" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                      CAST(o_orderkey % c AS BIGINT) AS dst
        |      FROM orders, cnt),
        |und AS (SELECT DISTINCT least(src, dst) AS l, greatest(src, dst) AS h
        |        FROM e WHERE src <> dst),
        |tri AS (SELECT e1.l AS a, e1.h AS b, e2.h AS c
        |        FROM und e1
        |        JOIN und e2 ON e2.l = e1.h
        |        JOIN und e3 ON e3.l = e1.l AND e3.h = e2.h),
        |n AS (SELECT unnest([a, b, c]) AS node FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM n GROUP BY node ORDER BY n_triangles DESC, node""".stripMargin,

    // out-degree distribution — mirrors Crawl.degreeDistribution
    "degree_distribution" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                      CAST(o_orderkey % c AS BIGINT) AS dst
        |      FROM orders, cnt),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
        |b AS (SELECT CASE WHEN outdeg < 2 THEN 0 WHEN outdeg < 4 THEN 1
        |              WHEN outdeg < 8 THEN 2 WHEN outdeg < 16 THEN 3
        |              WHEN outdeg < 32 THEN 4 WHEN outdeg < 64 THEN 5
        |              ELSE 6 END AS bucket
        |      FROM deg),
        |cells AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total FROM cells)
        |SELECT bucket, n_nodes,
        |  CAST((10000 * n_nodes) // total AS BIGINT) AS share_bp
        |FROM cells, tot ORDER BY bucket""".stripMargin,

    // link reciprocity — mirrors Crawl.reciprocity (same edge list as
    // triangle_count/pagerank; semi-join against the transpose)
    "reciprocity" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                      CAST(o_orderkey % c AS BIGINT) AS dst
        |      FROM orders, cnt),
        |d AS (SELECT src, dst FROM e WHERE src <> dst),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_recip FROM d a
        |      WHERE EXISTS (SELECT 1 FROM d b
        |                    WHERE b.src = a.dst AND b.dst = a.src)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM d)
        |SELECT n_edges, n_recip,
        |  CAST((10000 * n_recip) // n_edges AS BIGINT) AS reciprocity_bp
        |FROM t, r""".stripMargin,

    "pagerank_iter" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                      CAST(o_orderkey % c AS BIGINT) AS dst
        |      FROM orders, cnt),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |m0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m0 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m1 AS (SELECT n.node,
        |         CAST(150000 + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m1 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m2 AS (SELECT n.node,
        |         CAST(150000 + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m2 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m3 AS (SELECT n.node,
        |         CAST(150000 + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node, pr AS pr_ppm FROM m3 ORDER BY node""".stripMargin,

    // personalized PageRank from seed 0 — mirrors Crawl.pprSeed: all
    // restart mass at the seed, zero-mass nodes dropped (sparsity)
    "ppr_seed" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                      CAST(o_orderkey % c AS BIGINT) AS dst
        |      FROM orders, cnt),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |m0 AS (SELECT node,
        |         CAST(CASE WHEN node = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS pr
        |       FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m0 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m1 AS (SELECT n.node,
        |         CAST(CASE WHEN n.node = 0 THEN 150000 ELSE 0 END
        |           + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m1 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m2 AS (SELECT n.node,
        |         CAST(CASE WHEN n.node = 0 THEN 150000 ELSE 0 END
        |           + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (SELECT e.dst AS node, CAST(sum(m.pr // d.outdeg) AS BIGINT) AS inbound
        |       FROM e JOIN m2 m ON e.src = m.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |m3 AS (SELECT n.node,
        |         CAST(CASE WHEN n.node = 0 THEN 150000 ELSE 0 END
        |           + (85 * coalesce(c.inbound, 0)) // 100 AS BIGINT) AS pr
        |       FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node, pr AS pr_ppm FROM m3 WHERE pr > 0 ORDER BY node""".stripMargin,

    "range_window" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_type, event_id, ts_us,
        |  CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY ts_us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
        |    AS rolling_1h_value
        |FROM e ORDER BY event_type, event_id""".stripMargin,

    "session_window_agg" ->
      """WITH x AS (SELECT user_id, event_id, value, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM b)
        |SELECT user_id,
        |  CAST(min(ts_us) AS BIGINT) AS start_us,
        |  CAST(max(ts_us) + 1800000000 AS BIGINT) AS end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS session_value
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, start_us""".stripMargin,

    // A3 extractive summary — mirrors Summaries.extractiveSummary:
    // 40-word passages scored by top-3 TF keyword occurrences, the 2
    // best kept in DOCUMENT order; everything integer/string-exact.
    // Only the abstractive model prose stays a declared contract
    // (Summaries.summarizeEnriched is its boundary).
    "summary_extract" ->
      s"""WITH $WordsCte,
         |tf AS (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2),
         |k3 AS (SELECT doc_id, word FROM (
         |         SELECT doc_id, word,
         |           row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY c DESC, word) AS rn
         |         FROM tf) WHERE rn <= 3),
         |kw AS (SELECT doc_id, string_agg(word, ',' ORDER BY word) AS keywords
         |       FROM k3 GROUP BY doc_id),
         |ch AS (SELECT w.doc_id, (w.pos - 1) // 40 AS cidx,
         |         string_agg(w.word, ' ' ORDER BY w.pos) AS chunk,
         |         CAST(sum(CASE WHEN k.word IS NOT NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS score
         |       FROM words w LEFT JOIN k3 k
         |         ON k.doc_id = w.doc_id AND k.word = w.word
         |       GROUP BY 1, 2),
         |kept AS (SELECT doc_id, cidx, chunk, score,
         |           row_number() OVER (PARTITION BY doc_id
         |                              ORDER BY score DESC, cidx) AS rn
         |         FROM ch),
         |s AS (SELECT doc_id,
         |        string_agg(chunk, ' ... ' ORDER BY cidx) AS summary,
         |        CAST(count(*) AS BIGINT) AS n_kept,
         |        CAST(max(score) AS BIGINT) AS top_score
         |      FROM kept WHERE rn <= 2 GROUP BY doc_id),
         |t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |      FROM ch GROUP BY doc_id)
         |SELECT t.doc_id, kw.keywords, t.n_chunks, s.n_kept, s.top_score,
         |  s.summary
         |FROM t JOIN s USING (doc_id) JOIN kw USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    "bounded_summary" ->
      """WITH t AS (SELECT lang, doc_id,
        |             substr(coalesce(text,''), 1, 30) AS piece FROM documents),
        |w AS (SELECT lang, doc_id, piece,
        |        sum(length(piece) + 1) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS cum
        |      FROM t),
        |k AS (SELECT * FROM w WHERE cum <= 200)
        |SELECT lang, string_agg(piece, '|' ORDER BY doc_id) AS summary,
        |  CAST(length(string_agg(piece, '|' ORDER BY doc_id)) AS INT) AS summary_len,
        |  CAST(count(*) AS INT) AS n_pieces
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "multimodal_features" ->
      """WITH a AS (SELECT doc_id AS asset_id, lang, text,
        |             encode(text) AS payload FROM documents),
        |h AS (SELECT *, CAST(concat('0x', substr(md5(text), 1, 6)) AS BIGINT) AS hh,
        |        substr(hex(payload), 1, 2) AS b0 FROM a)
        |SELECT asset_id, lang,
        |  CAST(octet_length(payload) AS INT) AS byte_len,
        |  CASE WHEN payload IS NULL OR octet_length(payload) = 0 THEN 'empty'
        |       WHEN b0 < '70' THEN 'image'
        |       WHEN b0 < '74' THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(hh % 1920 + 1 AS INT) AS width,
        |  CAST((hh // 1920) % 1080 + 1 AS INT) AS height,
        |  md5(text) AS digest
        |FROM h ORDER BY asset_id""".stripMargin,

    // X11 dispatch thresholds — mirrors Multimodal.imageClassify /
    // ImageFeatures.analyze's routing tree on the same hash-derived
    // integer features (all div/mod — engine-exact)
    "image_classify" ->
      """WITH h AS (SELECT doc_id AS asset_id,
        |    CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 6)) AS BIGINT) AS hh
        |  FROM documents),
        |f AS (SELECT asset_id,
        |    CAST(hh % 1200 + 1 AS INT) AS img_w,
        |    CAST((hh // 1200) % 800 + 1 AS INT) AS img_h,
        |    CAST((hh // 7) % 120 AS INT) AS colorfulness,
        |    CAST((hh // 11) % 4000 AS INT) AS edge_bp,
        |    CAST((hh // 13) % 10000 AS INT) AS dominant_bp
        |  FROM h)
        |SELECT asset_id, img_w, img_h, colorfulness, edge_bp, dominant_bp,
        |  CASE WHEN img_w < 50 OR img_h < 50
        |         OR greatest(img_w, img_h) > least(img_w, img_h) * 8 THEN 'decorative'
        |       WHEN colorfulness < 24 AND edge_bp >= 1500 THEN 'text'
        |       WHEN dominant_bp >= 5000 THEN 'graphic'
        |       WHEN colorfulness >= 24 AND dominant_bp < 2500 THEN 'photo'
        |       ELSE 'graphic' END AS category
        |FROM f ORDER BY asset_id""".stripMargin,

    // Deterministic structured image description — mirrors
    // Multimodal.imageDescribe: image_classify's feature frame
    // templated into size-band/orientation/category/dimensions/
    // detail/tone prose.
    "image_describe" ->
      """WITH h AS (SELECT doc_id AS asset_id,
        |    CAST(concat('0x', substr(md5(coalesce(text, '')), 1, 6)) AS BIGINT) AS hh
        |  FROM documents),
        |f AS (SELECT asset_id,
        |    CAST(hh % 1200 + 1 AS INT) AS img_w,
        |    CAST((hh // 1200) % 800 + 1 AS INT) AS img_h,
        |    CAST((hh // 7) % 120 AS INT) AS colorfulness,
        |    CAST((hh // 11) % 4000 AS INT) AS edge_bp,
        |    CAST((hh // 13) % 10000 AS INT) AS dominant_bp
        |  FROM h),
        |k AS (SELECT asset_id, img_w, img_h, colorfulness, edge_bp,
        |    CASE WHEN img_w < 50 OR img_h < 50
        |           OR greatest(img_w, img_h) > least(img_w, img_h) * 8 THEN 'decorative'
        |         WHEN colorfulness < 24 AND edge_bp >= 1500 THEN 'text'
        |         WHEN dominant_bp >= 5000 THEN 'graphic'
        |         WHEN colorfulness >= 24 AND dominant_bp < 2500 THEN 'photo'
        |         ELSE 'graphic' END AS category
        |  FROM f),
        |t AS (SELECT asset_id, img_w, img_h, category,
        |    CASE WHEN img_w * img_h >= 400000 THEN 'large'
        |         WHEN img_w * img_h >= 100000 THEN 'medium'
        |         ELSE 'small' END AS size_band,
        |    CASE WHEN img_w > img_h THEN 'landscape'
        |         WHEN img_w < img_h THEN 'portrait'
        |         ELSE 'square' END AS orientation,
        |    CASE WHEN edge_bp >= 2000 THEN 'high' ELSE 'low' END AS detail,
        |    CASE WHEN colorfulness >= 60 THEN 'vivid'
        |         WHEN colorfulness >= 24 THEN 'colorful'
        |         ELSE 'muted' END AS tone
        |  FROM k)
        |SELECT asset_id, img_w, img_h, category,
        |  'a ' || size_band || ' ' || orientation || ' ' || category ||
        |    ' image, ' || CAST(img_w AS VARCHAR) || 'x' ||
        |    CAST(img_h AS VARCHAR) || ' px, ' || detail || ' detail, ' ||
        |    tone || ' tone' AS description
        |FROM t ORDER BY asset_id""".stripMargin,

    // ---- image pipeline ----
    "image_filter" ->
      """WITH imgs AS (
        |  SELECT p_partkey AS img_id, p_brand AS page,
        |    concat(replace(lower(p_name), ' ', '_'),
        |      CASE WHEN p_partkey % 9 = 0 THEN '_icon' ELSE '' END, '.png') AS src,
        |    CASE WHEN p_partkey % 17 = 0 THEN concat('logo ', p_type) ELSE p_type END AS alt,
        |    CAST(p_size * 13 % 500 + 40 AS INT) AS width,
        |    CAST(p_size * 7 % 400 + 60 AS INT) AS height,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT) AS comp_bytes,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT) * 3 AS orig_bytes
        |  FROM part),
        |kept AS (
        |  SELECT * FROM imgs
        |  WHERE width >= 100 AND height >= 100
        |    AND NOT regexp_matches(lower(src), '(?i)icon|logo|avatar|emoji|button|arrow|chevron|loading|spinner|placeholder')
        |    AND NOT regexp_matches(lower(alt), '(?i)icon|logo|avatar|emoji|button|arrow|chevron|loading|spinner|placeholder')),
        |r AS (SELECT page, img_id, src, width, height,
        |        CAST(row_number() OVER (PARTITION BY page ORDER BY img_id) AS INT) AS rn
        |      FROM kept)
        |SELECT page, rn, img_id, src, width, height FROM r WHERE rn <= 5
        |ORDER BY page, rn""".stripMargin,

    "image_resolve" ->
      """WITH imgs AS (
        |  SELECT p_partkey AS img_id, p_brand AS page,
        |    concat(replace(lower(p_name), ' ', '_'),
        |      CASE WHEN p_partkey % 9 = 0 THEN '_icon' ELSE '' END, '.png') AS src,
        |    CASE WHEN p_partkey % 17 = 0 THEN concat('logo ', p_type) ELSE p_type END AS alt,
        |    CAST(p_size * 13 % 500 + 40 AS INT) AS width,
        |    CAST(p_size * 7 % 400 + 60 AS INT) AS height,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT) AS comp_bytes,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT) * 3 AS orig_bytes
        |  FROM part)
        |SELECT img_id, comp_bytes, orig_bytes,
        |  coalesce(
        |    CASE WHEN comp_bytes < 95000 THEN concat('compressed/', src) END,
        |    CASE WHEN orig_bytes < 95000 THEN concat('original/', src) END,
        |    CASE WHEN orig_bytes < 310000 THEN concat('original/', src) END,
        |    'ERROR:unreadable') AS chosen
        |FROM imgs ORDER BY img_id""".stripMargin,

    // ---- skew handling: salted two-phase == plain single-phase ----
    "skew_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_price,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // ---- strategy router / distinct / priority crawl ----
    "transform_route" ->
      """SELECT source, count(*) AS n_pages,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CASE WHEN count(*) <= 5 AND sum(n_chars) <= 30000 THEN 'direct'
        |       WHEN count(*) <= 10 AND sum(n_chars) <= 60000 THEN 'summarize_first'
        |       ELSE 'index_only' END AS strategy
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // HLL error-band audit (see the error-band note above): exact
    // distincts with approx_ok asserted TRUE
    "distinct_sketch" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(*) AS n_rows,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Native-HLL audit — mirrors Router.hllNative: same error-band
    // discipline as distinct_sketch (the estimate stays in-engine; the
    // oracle asserts the 10% band flag), exact columns recomputed.
    "hll_native" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(*) AS n_rows,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "crawl_priority" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |edges AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                          CAST(o_orderkey % c AS BIGINT) AS dst
        |          FROM orders, cnt),
        |v0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS round, CAST(0 AS BIGINT) AS priority),
        |c1 AS (SELECT dst, max(CAST(least(10, CAST(dst % 11 AS INT)) + (CASE WHEN src % 11 >= 8 THEN 3 WHEN src % 11 >= 5 THEN 1 ELSE 0 END) AS BIGINT)) AS priority
        |       FROM edges JOIN (SELECT node FROM v0) vv ON src = vv.node
        |       WHERE dst NOT IN (SELECT node FROM v0) GROUP BY dst),
        |s1 AS (SELECT node, 1 AS round, priority FROM (
        |        SELECT dst AS node, priority,
        |          row_number() OVER (ORDER BY priority DESC, dst) AS rn FROM c1) t
        |      WHERE rn <= 5),
        |v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM s1),
        |c2 AS (SELECT dst, max(CAST(least(10, CAST(dst % 11 AS INT)) + (CASE WHEN src % 11 >= 8 THEN 3 WHEN src % 11 >= 5 THEN 1 ELSE 0 END) AS BIGINT)) AS priority
        |       FROM edges JOIN (SELECT node FROM v1) vv ON src = vv.node
        |       WHERE dst NOT IN (SELECT node FROM v1) GROUP BY dst),
        |s2 AS (SELECT node, 2 AS round, priority FROM (
        |        SELECT dst AS node, priority,
        |          row_number() OVER (ORDER BY priority DESC, dst) AS rn FROM c2) t
        |      WHERE rn <= 5),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM s2),
        |c3 AS (SELECT dst, max(CAST(least(10, CAST(dst % 11 AS INT)) + (CASE WHEN src % 11 >= 8 THEN 3 WHEN src % 11 >= 5 THEN 1 ELSE 0 END) AS BIGINT)) AS priority
        |       FROM edges JOIN (SELECT node FROM v2) vv ON src = vv.node
        |       WHERE dst NOT IN (SELECT node FROM v2) GROUP BY dst),
        |s3 AS (SELECT node, 3 AS round, priority FROM (
        |        SELECT dst AS node, priority,
        |          row_number() OVER (ORDER BY priority DESC, dst) AS rn FROM c3) t
        |      WHERE rn <= 5),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM s3)
        |SELECT node, CAST(round AS INT) AS round, priority FROM v3
        |ORDER BY node""".stripMargin,

    "sql_chunk" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t,
        |             length(coalesce(text,'')) AS len FROM documents),
        |n AS (SELECT doc_id, t,
        |        least(greatest(CAST(ceil((CAST(greatest(len, 1) AS DOUBLE) - 30) / 120) AS INT), 1), 50) AS nch
        |      FROM d),
        |e AS (SELECT doc_id, t, CAST(unnest(range(0, nch)) AS INT) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx,
        |  substr(t, chunk_idx * 120 + 1, 150) AS chunk,
        |  CAST(length(substr(t, chunk_idx * 120 + 1, 150)) AS INT) AS chunk_len
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // ---- as-of join: composition verified against native ASOF ----
    "asof_join" ->
      """WITH ord AS (SELECT o_custkey AS k,
        |               CAST(epoch_us(o_orderdate) AS BIGINT) AS t_us,
        |               CAST(max(o_orderkey) AS BIGINT) AS last_orderkey
        |             FROM orders GROUP BY 1, 2),
        |ev AS (SELECT event_id, user_id AS k,
        |         CAST(epoch_us(ts) AS BIGINT) AS t_us FROM events)
        |SELECT ev.event_id, ev.k AS user_id, ev.t_us AS ts_us, ord.last_orderkey
        |FROM ev ASOF LEFT JOIN ord ON ev.k = ord.k AND ev.t_us >= ord.t_us
        |ORDER BY event_id""".stripMargin,

    // ---- range join (binned band-join == plain theta join) ----
    "range_join_band" ->
      """WITH ord AS (SELECT o_custkey AS k,
        |               CAST(1704067200000000 + ((epoch_us(o_orderdate) // 86400000000) % 31)
        |                 * 86400000000 AS BIGINT) AS o_us FROM orders),
        |ev AS (SELECT event_id, user_id AS k,
        |         CAST(epoch_us(ts) AS BIGINT) AS e_us FROM events)
        |SELECT event_id, count(*) AS n_orders_in_band
        |FROM ev JOIN ord ON ev.k = ord.k AND abs(e_us - o_us) <= 259200000000
        |GROUP BY event_id ORDER BY event_id""".stripMargin,

    // ---- LSH candidates -> exact jaccard (production dedup flow) ----
    "neardup_pipeline" ->
      s"""WITH $Shingle3Cte,
         |sig AS (SELECT doc_id,
         |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
         |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
         |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
         |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
         |  FROM shingles GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM banded x JOIN banded y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |sets AS (SELECT doc_id, count(DISTINCT shingle) AS n_sh FROM shingles GROUP BY doc_id),
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |          FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
         |            JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
         |  CAST((10000 * coalesce(i.n_common, 0)) //
         |    (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0)) AS BIGINT) AS jaccard_bp
         |FROM cand c
         |  LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
         |  JOIN sets sa ON c.doc_a = sa.doc_id JOIN sets sb ON c.doc_b = sb.doc_id
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,

    // dedup threshold sweep — mirrors Dedup.dedupSweep over the same
    // candidate+verify pair frame as neardup_pipeline
    "dedup_sweep" ->
      s"""WITH $Shingle3Cte,
         |sig AS (SELECT doc_id,
         |  min(md5('seed0:' || shingle)) AS mh_0, min(md5('seed1:' || shingle)) AS mh_1,
         |  min(md5('seed2:' || shingle)) AS mh_2, min(md5('seed3:' || shingle)) AS mh_3,
         |  min(md5('seed4:' || shingle)) AS mh_4, min(md5('seed5:' || shingle)) AS mh_5,
         |  min(md5('seed6:' || shingle)) AS mh_6, min(md5('seed7:' || shingle)) AS mh_7
         |  FROM shingles GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM banded x JOIN banded y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |sets AS (SELECT doc_id, count(DISTINCT shingle) AS n_sh FROM shingles GROUP BY doc_id),
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |          FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
         |            JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |          GROUP BY c.doc_a, c.doc_b),
         |jp AS (SELECT c.doc_a, c.doc_b,
         |  CAST((10000 * coalesce(i.n_common, 0)) //
         |    (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0)) AS BIGINT) AS jaccard_bp
         |  FROM cand c
         |    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
         |    JOIN sets sa ON c.doc_a = sa.doc_id JOIN sets sb ON c.doc_b = sb.doc_id),
         |ax AS (SELECT CAST(unnest([500, 9000, 9600, 9800, 9880]) AS BIGINT) AS threshold),
         |pt AS (SELECT ax.threshold, jp.doc_a, jp.doc_b
         |       FROM ax JOIN jp ON jp.jaccard_bp >= ax.threshold),
         |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs FROM pt GROUP BY threshold),
         |nd AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs FROM
         |         (SELECT DISTINCT threshold, unnest([doc_a, doc_b]) AS d FROM pt)
         |       GROUP BY threshold)
         |SELECT ax.threshold,
         |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
         |FROM ax LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
         |ORDER BY ax.threshold""".stripMargin,

    // ---- deterministic hash split ----
    "train_test_split" ->
      """WITH b AS (SELECT doc_id,
        |         CAST(CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS INT) AS bucket
        |       FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // ---- relational breadth ----
    "above_avg_orders" ->
      """WITH w AS (SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_total,
        |         count(*) OVER (PARTITION BY o_custkey) AS cust_n
        |       FROM orders)
        |SELECT o_custkey, o_orderkey, cents / 100.0 AS o_totalprice
        |FROM w WHERE cents * cust_n > cust_total
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q5_local_supplier" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    // CDC snapshot diff — mirrors Splits.snapshotDiff
    "snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey,
        |                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |              FROM orders),
        |o AS (SELECT o_orderkey, cents AS c_old FROM base WHERE o_orderkey % 19 <> 0),
        |n AS (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 7 = 0 THEN cents + 1 ELSE cents END AS c_new
        |      FROM base WHERE o_orderkey % 23 <> 0)
        |SELECT CASE WHEN c_old IS NULL THEN 'added'
        |            WHEN c_new IS NULL THEN 'removed'
        |            WHEN c_old <> c_new THEN 'changed'
        |            ELSE 'unchanged' END AS status, count(*) AS n_rows
        |FROM o FULL OUTER JOIN n USING (o_orderkey)
        |GROUP BY status ORDER BY status""".stripMargin,

    // one-pass profiling report — mirrors Observability.tableProfile
    "table_profile" ->
      """WITH a AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_rf,
        |  count(DISTINCT l_returnflag) AS nd_rf,
        |  CAST(min(l_returnflag) AS VARCHAR) AS mn_rf,
        |  CAST(max(l_returnflag) AS VARCHAR) AS mx_rf,
        |  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_ls,
        |  count(DISTINCT l_linestatus) AS nd_ls,
        |  CAST(min(l_linestatus) AS VARCHAR) AS mn_ls,
        |  CAST(max(l_linestatus) AS VARCHAR) AS mx_ls,
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_sk,
        |  count(DISTINCT l_suppkey) AS nd_sk,
        |  CAST(min(l_suppkey) AS VARCHAR) AS mn_sk,
        |  CAST(max(l_suppkey) AS VARCHAR) AS mx_sk,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_pk,
        |  count(DISTINCT l_partkey) AS nd_pk,
        |  CAST(min(l_partkey) AS VARCHAR) AS mn_pk,
        |  CAST(max(l_partkey) AS VARCHAR) AS mx_pk
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_returnflag' AS column_name, n_rows, nu_rf AS n_nulls,
        |         nd_rf AS n_distinct, mn_rf AS min_value, mx_rf AS max_value FROM a
        |  UNION ALL SELECT 'l_linestatus', n_rows, nu_ls, nd_ls, mn_ls, mx_ls FROM a
        |  UNION ALL SELECT 'l_suppkey', n_rows, nu_sk, nd_sk, mn_sk, mx_sk FROM a
        |  UNION ALL SELECT 'l_partkey', n_rows, nu_pk, nd_pk, mn_pk, mx_pk FROM a)
        |ORDER BY column_name""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS volume,
        |  count(*) AS n_items
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,

    "rollup_sales" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_price,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    // UNPIVOT — mirrors Relational2.unpivotFlags (coalesced cells so
    // DuckDB's NULL-dropping UNPIVOT default cannot desync)
    "unpivot_flags" ->
      """WITH wide AS (SELECT l_returnflag,
        |  CAST(coalesce(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END), 0) AS BIGINT) AS F,
        |  CAST(coalesce(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END), 0) AS BIGINT) AS O
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, status, total_cents
        |FROM (UNPIVOT wide ON F, O INTO NAME status VALUE total_cents)
        |ORDER BY l_returnflag, status""".stripMargin,

    // explicit GROUPING SETS — mirrors Relational2.groupingSetsSales
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    "pivot_flags" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END) AS BIGINT) / 100.0 AS F_total,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_n,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END) AS BIGINT) / 100.0 AS O_total,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "median_price" ->
      """WITH x AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |         ORDER BY cents, l_orderkey, l_linenumber) AS rn,
        |        count(*) OVER (PARTITION BY l_returnflag) AS n FROM x)
        |SELECT l_returnflag,
        |  CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS median_price,
        |  count(*) AS n_mid
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // same histogram + cumulative-count rank selection as median_price,
    // three targets — mirrors Relational2.quartilePrices
    "quartile_prices" ->
      """WITH x AS (SELECT l_returnflag,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents FROM lineitem),
        |h AS (SELECT l_returnflag, cents, count(*) AS cnt FROM x GROUP BY 1, 2),
        |c AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |      FROM h),
        |b AS (SELECT *, cum - cnt AS cum_before FROM c)
        |SELECT l_returnflag,
        |  max(CASE WHEN (n * 25 + 99) // 100 > cum_before AND (n * 25 + 99) // 100 <= cum THEN cents END) / 100.0 AS p25,
        |  max(CASE WHEN (n * 50 + 99) // 100 > cum_before AND (n * 50 + 99) // 100 <= cum THEN cents END) / 100.0 AS p50,
        |  max(CASE WHEN (n * 75 + 99) // 100 > cum_before AND (n * 75 + 99) // 100 <= cum THEN cents END) / 100.0 AS p75
        |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "json_struct_parse" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 + 1 AS k_derived
        |FROM events ORDER BY event_id""".stripMargin,

    // ---- corpus QA / preprocessing ----
    // PII shell + redaction mirror TextAnalysis.piiRedact exactly.
    "pii_redact" ->
      """WITH d AS (SELECT doc_id,
        |        'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
        |        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
        |        coalesce(text,'') AS raw
        |      FROM documents)
        |SELECT doc_id,
        |  substr(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'), 1, 120) AS redacted_head,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones
        |FROM d ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH n AS (SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(coalesce(text,'')),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |       FROM documents)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS INT) AS norm_len
        |FROM n ORDER BY doc_id""".stripMargin,

    // Gopher-style repetition signals — mirrors TextAnalysis.repetitionProfile
    "repetition_profile" ->
      s"""WITH $WordsCte,
         |wc AS (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY 1, 2),
         |p AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         |        CAST(count(*) AS BIGINT) AS n_distinct,
         |        CAST(max(cnt) AS BIGINT) AS top_freq
         |      FROM wc GROUP BY doc_id)
         |SELECT doc_id, n_words, n_distinct, top_freq,
         |  (10000 * (n_words - n_distinct)) // n_words AS dup_word_bp,
         |  (10000 * top_freq) // n_words AS top_word_bp
         |FROM p ORDER BY doc_id""".stripMargin,

    // Gopher hard gate — mirrors TextAnalysis.gopherRules: all rule
    // comparisons are integer products (no division), top-bigram tie
    // broken count desc → length desc → bigram asc in both engines
    "gopher_rules" ->
      s"""WITH $WordsCte,
         |$GopherCtes
         |SELECT doc_id, text_len, n_words, sum_len, alpha_words, stop_hits, top2_chars,
         |  ${GopherRuleExprs.map { case (n, e) => s"$e AS r_$n" }.mkString(",\n  ")},
         |  $GopherPassExpr AS gopher_pass
         |FROM gj ORDER BY doc_id""".stripMargin,

    // which rule does the rejecting — mirrors TextAnalysis.ruleAttribution:
    // per rule, total failures and UNIQUE failures (docs failing only it)
    "rule_attribution" ->
      s"""WITH $WordsCte,
         |$GopherCtes,
         |fl AS (SELECT doc_id,
         |  ${GopherRuleExprs.map { case (n, e) => s"$e AS r_$n" }.mkString(",\n  ")}
         |  FROM gj),
         |nf AS (SELECT *,
         |  ${GopherRuleExprs.map { case (n, _) =>
             s"(CASE WHEN r_$n THEN 0 ELSE 1 END)" }.mkString(" + ")} AS nfails
         |  FROM fl),
         |ex AS (
         |  ${GopherRuleExprs.map { case (n, _) =>
             s"SELECT '$n' AS rule, r_$n AS pass, nfails FROM nf" }
             .mkString("\n  UNION ALL ")})
         |SELECT rule, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
         |  CAST(sum(CASE WHEN NOT pass AND nfails = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_fail,
         |  CAST((10000 * sum(CASE WHEN pass THEN 0 ELSE 1 END)) // count(*) AS BIGINT) AS fail_bp
         |FROM ex GROUP BY rule ORDER BY rule""".stripMargin,

    "length_histogram" ->
      """SELECT lang, CAST(floor(n_chars / 100.0) AS INT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bin_chars
        |FROM documents GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |         CAST(CAST(concat('0x', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS INT) AS bucket
        |       FROM documents)
        |SELECT lang, count(*) AS n_sampled,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM b WHERE bucket < 20 GROUP BY lang ORDER BY lang""".stripMargin,

    // per-group feature scaling — mirrors TextAnalysis.featureScale
    // (percent_rank: identical integer rank operands → bit-equal IEEE)
    "feature_scale" ->
      """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x
        |           FROM documents),
        |s AS (SELECT lang, min(x) AS mn, max(x) AS mx FROM d GROUP BY lang)
        |SELECT doc_id, lang, x AS n_chars,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE (10000 * (x - mn)) // (mx - mn) END AS minmax_bp,
        |  percent_rank() OVER (PARTITION BY d.lang ORDER BY x, doc_id) AS qrank
        |FROM d JOIN s USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // group-level split — mirrors Splits.groupSplit (hash on SOURCE)
    "group_split" ->
      s"""WITH b AS (SELECT source, text,
         |    CAST(CAST(concat('0x', substr(md5('gsplit:' || source), 1, 4)) AS INT) % 100 AS INT) AS bucket
         |  FROM documents),
         |s AS (SELECT source, text,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM b)
         |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN length(coalesce(text, '')) = 0 THEN 0
         |    ELSE len(string_split(coalesce(text, ''), ' ')) END) AS BIGINT) AS n_tokens
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    // cross-split leakage audit — mirrors Splits.splitLeakage (shares
    // the LSH pair CTEs with minhash_lsh)
    "split_leakage" ->
      s"""WITH $LshPairCtes,
         |assign AS (SELECT doc_id,
         |    CASE WHEN CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 < 80
         |         THEN 'train' ELSE 'test' END AS doc_split,
         |    CASE WHEN CAST(concat('0x', substr(md5('gsplit:' || source), 1, 4)) AS INT) % 100 < 80
         |         THEN 'train' ELSE 'test' END AS src_split
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a.doc_split <> b.doc_split THEN 1 ELSE 0 END) AS BIGINT)
         |    AS doc_cross_pairs,
         |  CAST(sum(CASE WHEN a.src_split <> b.src_split THEN 1 ELSE 0 END) AS BIGINT)
         |    AS group_cross_pairs
         |FROM lshpairs p JOIN assign a ON a.doc_id = p.doc_a
         |               JOIN assign b ON b.doc_id = p.doc_b""".stripMargin,

    // eval-side benchmark decontamination — mirrors
    // Splits.decontaminateEval (8-word shingles via lead×7 over the
    // filtered word stream; the split-bucket hash is QualityTrainCtes'
    // spl idiom). The per-TRAINING-doc twin is `decontaminate`.
    "decontaminate_eval" ->
      s"""WITH $WordsCte,
         |$Gram8ShingleCtes,
         |spl AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
         |  FROM documents),
         |bench AS (SELECT s.doc_id AS bench_doc, shingle
         |  FROM shing s JOIN spl USING (doc_id) WHERE bucket >= 90),
         |train AS (SELECT s.doc_id AS train_doc, shingle
         |  FROM shing s JOIN spl USING (doc_id) WHERE bucket < 80),
         |sz AS (SELECT bench_doc, count(*) AS n_sh FROM bench GROUP BY 1),
         |inter AS (SELECT bench_doc, train_doc, count(*) AS n_common
         |  FROM bench JOIN train USING (shingle) GROUP BY 1, 2),
         |top AS (SELECT bench_doc, train_doc, n_common FROM (
         |    SELECT *, row_number() OVER (PARTITION BY bench_doc
         |      ORDER BY n_common DESC, train_doc) AS rk FROM inter)
         |  WHERE rk = 1),
         |o AS (SELECT s.bench_doc, s.n_sh,
         |    coalesce(t.train_doc, -1) AS top_train_doc,
         |    coalesce(t.n_common, 0) AS n_common
         |  FROM sz s LEFT JOIN top t USING (bench_doc))
         |SELECT bench_doc, CAST(n_sh AS BIGINT) AS n_sh,
         |  CAST(top_train_doc AS BIGINT) AS top_train_doc,
         |  CAST(n_common AS BIGINT) AS n_common,
         |  CAST((10000 * n_common) // n_sh AS BIGINT) AS containment_bp,
         |  CAST(CASE WHEN (10000 * n_common) // n_sh >= 5000 THEN 1 ELSE 0 END
         |    AS BIGINT) AS contaminated
         |FROM o ORDER BY bench_doc""".stripMargin,

    // exact k-per-group reservoir — mirrors Splits.reservoirSample
    // (8-hex-digit hash fits INT64 via the 0x cast; same salt idiom as
    // stratified_sample)
    "reservoir_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |         CAST(CAST(concat('0x', substr(md5('reservoir:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS BIGINT) AS u
        |       FROM documents),
        |r AS (SELECT lang, doc_id, u,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS INT) AS rk
        |      FROM b)
        |SELECT lang, rk, doc_id, u FROM r WHERE rk <= 8
        |ORDER BY lang, rk""".stripMargin,

    // sparse TF-IDF cosine retrieval — mirrors TfIdf.tfidfSearch
    // (integer basis-point weights; bounded query block vs corpus)
    "tfidf_search" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w0
        |       WHERE length(word) > 0 GROUP BY ALL),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |posts AS (SELECT word, doc_id,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (word) CROSS JOIN nn),
        |norms AS (SELECT doc_id, sum(w*w) AS nsq FROM posts GROUP BY doc_id),
        |pairs AS (SELECT q.doc_id AS qid, c.doc_id AS did,
        |            sum(q.w * c.w) AS num
        |          FROM posts q JOIN posts c
        |            ON q.word = c.word AND q.doc_id < 16 AND q.doc_id <> c.doc_id
        |          GROUP BY ALL),
        |s AS (SELECT qid, did,
        |        round(num / (sqrt(nq.nsq) * sqrt(nd.nsq)), 4) AS cos
        |      FROM pairs JOIN norms nq ON nq.doc_id = qid
        |                 JOIN norms nd ON nd.doc_id = did),
        |r AS (SELECT qid, did, cos,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY cos DESC, did) AS INT) AS rank
        |      FROM s)
        |SELECT qid, rank, did, cos FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // retriever agreement — mirrors TfIdf.retrieverOverlap: the
    // tfidf_search and knn_brute top-5 sets replayed, then per-query
    // Jaccard in exact bp
    "retriever_overlap" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w0
        |       WHERE length(word) > 0 GROUP BY ALL),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |posts AS (SELECT word, doc_id,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS w
        |  FROM tf JOIN dfq USING (word) CROSS JOIN nn),
        |norms AS (SELECT doc_id, sum(w*w) AS nsq FROM posts GROUP BY doc_id),
        |pairs AS (SELECT q.doc_id AS qid, c.doc_id AS did,
        |            sum(q.w * c.w) AS num
        |          FROM posts q JOIN posts c
        |            ON q.word = c.word AND q.doc_id < 16 AND q.doc_id <> c.doc_id
        |          GROUP BY ALL),
        |ls AS (SELECT qid, did,
        |        round(num / (sqrt(nq.nsq) * sqrt(nd.nsq)), 4) AS cos
        |      FROM pairs JOIN norms nq ON nq.doc_id = qid
        |                 JOIN norms nd ON nd.doc_id = did),
        |lr AS (SELECT qid, did,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
        |      FROM ls),
        |lexset AS (SELECT qid, did AS cand FROM lr WHERE rank <= 5),
        |kp AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
        |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |      WHERE q.vec_id < 16),
        |kz AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
        |       FROM kp),
        |kd AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM kz GROUP BY ALL),
        |ks AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM kd),
        |kr AS (SELECT qid, cid,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM ks),
        |vecset AS (SELECT qid, cid AS cand FROM kr WHERE rank <= 5),
        |m AS (SELECT coalesce(l.qid, v.qid) AS qid,
        |        CASE WHEN l.cand IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
        |        CASE WHEN v.cand IS NOT NULL THEN 1 ELSE 0 END AS in_vec
        |      FROM lexset l FULL OUTER JOIN vecset v
        |        ON l.qid = v.qid AND l.cand = v.cand)
        |SELECT qid, CAST(sum(in_lex) AS BIGINT) AS n_lex,
        |  CAST(sum(in_vec) AS BIGINT) AS n_vec,
        |  CAST(sum(in_lex * in_vec) AS BIGINT) AS n_both,
        |  CAST((10000 * sum(in_lex * in_vec)) //
        |    (sum(in_lex) + sum(in_vec) - sum(in_lex * in_vec)) AS BIGINT) AS jaccard_bp
        |FROM m GROUP BY qid ORDER BY qid""".stripMargin,

    // ---- IR / analytics extras ----
    "tfidf_topk" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 64),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
        |dfx AS (SELECT word, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sc AS (SELECT doc_id, word, tf, df,
        |         round(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
        |       FROM tf JOIN dfx USING (word), nn),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, word) AS INT) AS rn FROM sc)
        |SELECT doc_id, rn, word, tf, df, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    // Okapi BM25 (k1=1.2, b=0.75) — mirrors TfIdf.bm25TopK; the scoring
    // expression is textually order-identical so both engines produce
    // the same IEEE doubles before the 4 dp round
    "bm25_topk" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 64),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word, t.tf, f.df,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY bm25 DESC, word) AS INT) AS rn FROM sc)
        |SELECT doc_id, rn, word, tf, df, bm25 FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,

    "edit_distance" ->
      """WITH c AS (SELECT c_custkey AS k, c_name AS name FROM customer
        |           WHERE c_custkey < 40)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM c a JOIN c b ON a.k < b.k
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY key_a, key_b""".stripMargin,

    // full-table scale form: identical (prefix, length) blocking on both
    // sides — see TfIdf.editDistanceBanded
    "edit_distance_banded" ->
      """WITH c AS (SELECT c_custkey AS k, c_name AS name,
        |             substr(c_name, 1, 17) || '|' || CAST(length(c_name) AS VARCHAR) AS blk
        |           FROM customer)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM c a JOIN c b ON a.blk = b.blk AND a.k < b.k
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY key_a, key_b""".stripMargin,

    "rank_functions" ->
      """WITH x AS (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
        |           FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM x
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, rnk, quartile""".stripMargin,

    "set_ops" ->
      """WITH open_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |closed_c AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_custkey, 'both' AS membership
        |FROM (SELECT o_custkey FROM open_c INTERSECT SELECT o_custkey FROM closed_c)
        |UNION ALL
        |SELECT o_custkey, 'open_only'
        |FROM (SELECT o_custkey FROM open_c EXCEPT SELECT o_custkey FROM closed_c)
        |UNION ALL
        |SELECT o_custkey, 'closed_only'
        |FROM (SELECT o_custkey FROM closed_c EXCEPT SELECT o_custkey FROM open_c)
        |ORDER BY o_custkey, membership""".stripMargin,

    "cube_sales" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_price,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    "safe_parse" ->
      """WITH d AS (SELECT event_id,
        |         CASE WHEN event_id % 3 = 0 THEN substr(props, 1, 8)
        |              ELSE props END AS dirty FROM events),
        |p AS (SELECT event_id, dirty,
        |        CASE WHEN json_valid(dirty)
        |             THEN CAST(json_extract_string(dirty, '$.k') AS BIGINT) END AS parsed,
        |        CAST(nullif(regexp_extract(dirty, '([0-9]+)', 1), '') AS BIGINT) AS rescued0
        |      FROM d)
        |SELECT event_id,
        |  coalesce(parsed, CASE WHEN parsed IS NULL THEN rescued0 END, -1) AS k_final,
        |  CASE WHEN parsed IS NOT NULL THEN 'parsed'
        |       WHEN rescued0 IS NOT NULL THEN 'regex_rescue'
        |       ELSE 'failed' END AS tier
        |FROM p ORDER BY event_id""".stripMargin,

    // ---- round-4 relational breadth (Relational3) ----

    "q6_forecast" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev,
        |    ns.n_name AS supp_nation
        |  FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation nc ON c_nationkey = nc.n_nationkey
        |    JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ns ON s_nationkey = ns.n_nationkey)
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS BIGINT)
        |    * 10000 // CAST(sum(rev) AS BIGINT) AS mkt_share_bp,
        |  CAST(sum(rev) AS BIGINT) / 10000.0 AS total_revenue
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) -
        |           CAST(round(p_retailprice * 100, 0) AS BIGINT) *
        |             CAST(l_quantity AS BIGINT) * 100) AS BIGINT) / 10000.0 AS profit,
        |  count(*) AS n_items
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q13_order_distribution" ->
      """WITH counts AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM counts GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_top_supplier" ->
      """WITH revs AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS rev_units
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev_units / 10000.0 AS total_revenue
        |FROM revs JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_units = (SELECT max(rev_units) FROM revs)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH lines AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#5' AND p_size <= 25),
        |stats AS (
        |  SELECT l_partkey AS sk, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |         count(*) AS n_lines
        |  FROM lines GROUP BY l_partkey)
        |SELECT CAST(sum(price_cents) AS BIGINT) / 100.0 AS small_qty_revenue,
        |       count(*) AS n_small
        |FROM lines JOIN stats ON l_partkey = sk
        |WHERE qty * 5 * n_lines < sum_qty""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0 AS o_totalprice,
        |  sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "q19_disjunctive_bands" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 45)""".stripMargin,

    "q21_only_late_supplier" ->
      """WITH lines AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 1000
        |         THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |per_supp AS (
        |  SELECT l_orderkey, l_suppkey, max(late) AS supp_late
        |  FROM lines GROUP BY l_orderkey, l_suppkey),
        |per_order AS (
        |  SELECT l_orderkey, count(*) AS n_supp,
        |    CAST(sum(supp_late) AS BIGINT) AS n_late,
        |    max(CASE WHEN supp_late = 1 THEN l_suppkey END) AS late_supp
        |  FROM per_supp GROUP BY l_orderkey
        |  HAVING n_supp >= 2 AND n_late = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM per_order JOIN supplier ON late_supp = s_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q22_idle_rich" ->
      """WITH t AS (
        |  SELECT CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS tot_pos,
        |         count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal
        |FROM customer, t
        |WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) * n_pos > tot_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH lines AS (
        |  SELECT p_partkey, p_brand, l_suppkey,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY p_partkey
        |      ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT), l_suppkey) AS rn
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5)
        |SELECT p_partkey, p_brand, c / 100.0 AS min_price, s_suppkey, s_name
        |FROM lines JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1 ORDER BY p_partkey""".stripMargin,

    // end-to-end IVF: assignment lists + 2-probe search, mirrored CTE by
    // CTE from Similarity.knnIvf (assignment ties = cos DESC, cid ASC)
    "knn_ivf" ->
      """WITH za AS (
        |  SELECT e.vec_id AS vid, c.vec_id AS cid,
        |         CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |         CAST(unnest(c.embedding) AS DOUBLE) AS y
        |  FROM embeddings e JOIN embeddings c
        |    ON c.vec_id < 8 AND e.vec_id <> c.vec_id),
        |da AS (SELECT vid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM za GROUP BY ALL),
        |sa AS (SELECT vid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM da),
        |assign AS (SELECT vid, cid AS acid FROM (
        |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM sa) WHERE rk = 1),
        |probes AS (SELECT vid AS qid, cid AS pcid FROM (
        |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM sa WHERE vid < 16) WHERE rk <= 2),
        |cand AS (SELECT p.qid, a.vid AS cid
        |         FROM probes p JOIN assign a ON a.acid = p.pcid AND a.vid <> p.qid),
        |zq AS (SELECT cand.qid, cand.cid,
        |         CAST(unnest(q.embedding) AS DOUBLE) AS x,
        |         CAST(unnest(c.embedding) AS DOUBLE) AS y
        |       FROM cand JOIN embeddings q ON q.vec_id = cand.qid
        |                 JOIN embeddings c ON c.vec_id = cand.cid),
        |dq AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM zq GROUP BY ALL),
        |sq AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM dq),
        |r AS (SELECT qid, cid, cos,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
        |      FROM sq)
        |SELECT qid, rank, cid, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // IVF probe sweep — mirrors Similarity.ivfSweep: one shared
    // assignment/scored skeleton, three unrolled probe tiers
    "ivf_sweep" -> {
      val head =
        """WITH za AS (
          |  SELECT e.vec_id AS vid, c.vec_id AS cid,
          |         CAST(unnest(e.embedding) AS DOUBLE) AS x,
          |         CAST(unnest(c.embedding) AS DOUBLE) AS y
          |  FROM embeddings e JOIN embeddings c
          |    ON c.vec_id < 8 AND e.vec_id <> c.vec_id),
          |da AS (SELECT vid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
          |       FROM za GROUP BY ALL),
          |sa AS (SELECT vid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM da),
          |assign AS (SELECT vid, cid AS acid FROM (
          |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
          |  FROM sa) WHERE rk = 1),
          |probes AS (SELECT vid AS qid, cid AS pcid, rk AS prk FROM (
          |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
          |  FROM sa WHERE vid < 16) WHERE rk <= 3),
          |cand AS (SELECT p.qid, p.prk, a.vid AS cid
          |         FROM probes p JOIN assign a ON a.acid = p.pcid AND a.vid <> p.qid),
          |zq AS (SELECT cand.qid, cand.prk, cand.cid,
          |         CAST(unnest(q.embedding) AS DOUBLE) AS x,
          |         CAST(unnest(c.embedding) AS DOUBLE) AS y
          |       FROM cand JOIN embeddings q ON q.vec_id = cand.qid
          |                 JOIN embeddings c ON c.vec_id = cand.cid),
          |dq AS (SELECT qid, prk, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
          |       FROM zq GROUP BY ALL),
          |sq AS (SELECT qid, prk, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM dq),
          |zb AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          |         CAST(unnest(q.embedding) AS DOUBLE) AS x,
          |         CAST(unnest(c.embedding) AS DOUBLE) AS y
          |       FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |       WHERE q.vec_id < 16),
          |db AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
          |       FROM zb GROUP BY ALL),
          |sb AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM db),
          |ex AS (SELECT qid, cid FROM (
          |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
          |  FROM sb) WHERE rank <= 5)""".stripMargin
      val tiers = (1 to 3).map { p =>
        s"""top$p AS (SELECT qid, cid FROM (
           |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           |  FROM sq WHERE prk <= $p) WHERE rank <= 5),
           |st$p AS (SELECT $p AS nprobe,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sq WHERE prk <= $p) AS n_scanned,
           |  CAST(count(*) AS BIGINT) AS n_hit,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact
           |FROM ex JOIN top$p t ON ex.qid = t.qid AND ex.cid = t.cid)""".stripMargin
      }.mkString(",\n", ",\n", "")
      head + tiers +
        """
          |SELECT nprobe, n_scanned, n_hit, n_exact,
          |  CAST((10000 * n_hit) // n_exact AS BIGINT) AS recall_bp
          |FROM (SELECT * FROM st1 UNION ALL SELECT * FROM st2 UNION ALL SELECT * FROM st3)
          |ORDER BY nprobe""".stripMargin
    },

    // trained-codebook IVF — mirrors Similarity.knnIvfTrained (one
    // Lloyd round over all dims, dim-ordered centroid reassembly)
    "knn_ivf_trained" ->
      """WITH za AS (
        |  SELECT e.vec_id AS vid, c.vec_id AS cid,
        |         CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |         CAST(unnest(c.embedding) AS DOUBLE) AS y
        |  FROM embeddings e JOIN embeddings c
        |    ON c.vec_id < 8 AND e.vec_id <> c.vec_id),
        |da AS (SELECT vid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM za GROUP BY ALL),
        |sa AS (SELECT vid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM da),
        |assign AS (SELECT vid, acid FROM (
        |  SELECT vid, cid AS acid,
        |         row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM sa) WHERE rk = 1),
        |tx AS (SELECT a.acid AS cid,
        |         CAST(generate_subscripts(e.embedding, 1) - 1 AS INT) AS dim,
        |         CAST(unnest(e.embedding) AS DOUBLE) AS x
        |       FROM assign a JOIN embeddings e ON e.vec_id = a.vid),
        |tm AS (SELECT cid, dim,
        |         CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS DOUBLE)
        |           / count(*) / 10000.0 AS mx
        |       FROM tx GROUP BY cid, dim),
        |tc AS (SELECT cid, list(mx ORDER BY dim) AS ce FROM tm GROUP BY cid),
        |zb AS (SELECT e.vec_id AS vid, t.cid,
        |         CAST(unnest(e.embedding) AS DOUBLE) AS x, unnest(t.ce) AS y
        |       FROM embeddings e CROSS JOIN tc t),
        |db AS (SELECT vid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM zb GROUP BY ALL),
        |sb AS (SELECT vid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM db),
        |assign2 AS (SELECT vid, acid FROM (
        |  SELECT vid, cid AS acid,
        |         row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM sb) WHERE rk = 1),
        |probes AS (SELECT vid AS qid, cid AS pcid FROM (
        |  SELECT vid, cid,
        |         row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM sb WHERE vid < 16) WHERE rk <= 2),
        |cand AS (SELECT p.qid, a.vid AS cid
        |         FROM probes p JOIN assign2 a ON a.acid = p.pcid AND a.vid <> p.qid),
        |zq AS (SELECT cand.qid, cand.cid,
        |         CAST(unnest(q.embedding) AS DOUBLE) AS x,
        |         CAST(unnest(c.embedding) AS DOUBLE) AS y
        |       FROM cand JOIN embeddings q ON q.vec_id = cand.qid
        |                 JOIN embeddings c ON c.vec_id = cand.cid),
        |dq AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM zq GROUP BY ALL),
        |sq AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM dq),
        |r AS (SELECT qid, cid, cos,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INT) AS rank
        |      FROM sq)
        |SELECT qid, rank, cid, cos FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // ---- round-4 CDC / corpus-statistics wave ----

    // MERGE-style upsert apply — mirrors Changelog.cdcApply (sequence =
    // linenumber⊗cents composite: see the Scala scaladoc on determinism)
    "cdc_apply" ->
      """WITH base AS (SELECT o_orderkey,
        |                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c_base
        |              FROM orders WHERE o_orderkey % 4 <> 3),
        |chg AS (SELECT l_orderkey, l_linenumber,
        |          CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |          CAST(l_linenumber AS BIGINT) * 1000000000 +
        |            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS seq
        |        FROM lineitem),
        |latest AS (SELECT l_orderkey AS o_orderkey,
        |             max_by(CASE WHEN (l_orderkey + l_linenumber) % 11 = 0
        |                         THEN 'delete' ELSE 'upsert' END, seq) AS op,
        |             max_by(cents, seq) AS chg
        |           FROM chg GROUP BY l_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN op = 'upsert' THEN chg ELSE c_base END AS final_cents,
        |  CASE WHEN op IS NULL THEN 'base'
        |       WHEN c_base IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS src
        |FROM base FULL OUTER JOIN latest USING (o_orderkey)
        |WHERE op IS NULL OR op <> 'delete'
        |ORDER BY o_orderkey""".stripMargin,

    // IVM merge — the oracle is the FULL RECOMPUTE over
    // (base ∖ retracted) ∪ inserted, proving Changelog.ivmUpdate's
    // incremental path equals the rescan it avoids
    "ivm_update" ->
      """WITH o AS (SELECT o_orderkey,
        |             strftime(o_orderdate, '%Y-%m') AS month,
        |             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        |           FROM orders),
        |kept AS (SELECT * FROM o
        |         WHERE (o_orderkey % 4 <> 3 AND o_orderkey % 7 <> 0)
        |            OR o_orderkey % 4 = 3)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(c) AS BIGINT) AS rev_cents
        |FROM kept GROUP BY month ORDER BY month""".stripMargin,

    // SCD type-2 interval build — mirrors Changelog.scd2Build
    "scd2_build" ->
      """WITH e AS (SELECT user_id, event_type AS status,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id FROM events),
        |f AS (SELECT *, CASE WHEN lag(status) OVER
        |        (PARTITION BY user_id ORDER BY ts_us, event_id)
        |        IS NOT DISTINCT FROM status THEN 0 ELSE 1 END AS chg FROM e),
        |g AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp FROM f),
        |i AS (SELECT user_id, grp, min(status) AS status, min(ts_us) AS valid_from_us
        |      FROM g GROUP BY user_id, grp)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from_us) AS INT) AS version,
        |  status, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us) AS valid_to_us
        |FROM i ORDER BY user_id, version""".stripMargin,

    // event-time dimension lookup — mirrors Changelog.scd2Lookup
    "scd2_lookup" ->
      """WITH e AS (SELECT user_id, event_type AS status,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id FROM events),
        |f AS (SELECT *, CASE WHEN lag(status) OVER
        |        (PARTITION BY user_id ORDER BY ts_us, event_id)
        |        IS NOT DISTINCT FROM status THEN 0 ELSE 1 END AS chg FROM e),
        |g AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp FROM f),
        |i AS (SELECT user_id, grp, min(status) AS status, min(ts_us) AS valid_from_us
        |      FROM g GROUP BY user_id, grp),
        |dim AS (SELECT user_id, status, valid_from_us,
        |          lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us)
        |            AS valid_to_us
        |        FROM i),
        |ev AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events)
        |SELECT ev.event_id, ev.user_id, ev.ts_us, dim.status
        |FROM ev JOIN dim ON ev.user_id = dim.user_id
        |  AND dim.valid_from_us <= ev.ts_us
        |  AND (dim.valid_to_us IS NULL OR ev.ts_us < dim.valid_to_us)
        |ORDER BY event_id""".stripMargin,

    // duplicate 3-gram rate — mirrors CorpusStats.dupNgramRate
    "dup_ngram_rate" ->
      s"""WITH $Shingle3Cte,
         |pairs AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |bys AS (SELECT shingle, count(*) AS n_docs FROM pairs GROUP BY shingle),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |        FROM pairs JOIN bys USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  CAST(coalesce((10000 * n_dup) // n_shingles, 0) AS BIGINT) AS dup_bp
         |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // per-type exact latency percentiles — mirrors Events.latencyPercentiles
    "latency_percentiles" ->
      """WITH h AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             count(*) AS cnt
        |           FROM events GROUP BY event_type, cents),
        |c AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM h),
        |b AS (SELECT *, cum - cnt AS cum_before FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  max(CASE WHEN (n * 50 + 99) // 100 > cum_before
        |            AND (n * 50 + 99) // 100 <= cum THEN cents END) / 100.0 AS p50,
        |  max(CASE WHEN (n * 90 + 99) // 100 > cum_before
        |            AND (n * 90 + 99) // 100 <= cum THEN cents END) / 100.0 AS p90,
        |  max(CASE WHEN (n * 99 + 99) // 100 > cum_before
        |            AND (n * 99 + 99) // 100 <= cum THEN cents END) / 100.0 AS p99
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,

    // GK-sketch error-band audit (see the error-band note above):
    // the exact histogram-rank percentiles with the three per-quantile
    // band flags asserted TRUE
    "latency_percentiles_approx" ->
      """WITH h AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             count(*) AS cnt
        |           FROM events GROUP BY event_type, cents),
        |c AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM h),
        |b AS (SELECT *, cum - cnt AS cum_before FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  max(CASE WHEN (n * 50 + 99) // 100 > cum_before
        |            AND (n * 50 + 99) // 100 <= cum THEN cents END) / 100.0 AS p50,
        |  max(CASE WHEN (n * 90 + 99) // 100 > cum_before
        |            AND (n * 90 + 99) // 100 <= cum THEN cents END) / 100.0 AS p90,
        |  max(CASE WHEN (n * 99 + 99) // 100 > cum_before
        |            AND (n * 99 + 99) // 100 <= cum THEN cents END) / 100.0 AS p99,
        |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,

    // time-bounded conversion funnel — mirrors Events.funnelWindowed
    // (existence pairing per hop, distinct-reduced; 1h = 3600000000 µs)
    "funnel_windowed" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |v AS (SELECT user_id, us AS v_us FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id AS cu, us AS c_us FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, us AS p_us FROM ev WHERE event_type = 'purchase'),
        |vc AS (SELECT DISTINCT v.user_id, c_us FROM v JOIN c ON v.user_id = cu
        |        AND c_us > v_us AND c_us <= v_us + 3600000000),
        |vcp AS (SELECT DISTINCT vc.user_id FROM vc JOIN p ON vc.user_id = pu
        |        AND p_us > c_us AND p_us <= c_us + 3600000000)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS stage_name,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT CAST(2 AS INT), 'view>click<=1h',
        |       CAST(count(DISTINCT user_id) AS BIGINT) FROM vc
        |UNION ALL
        |SELECT CAST(3 AS INT), 'view>click>purchase<=1h',
        |       CAST(count(*) AS BIGINT) FROM vcp
        |ORDER BY stage""".stripMargin,

    // robust median/MAD outlier gate — mirrors Events.outlierMad (the
    // latency_percentiles histogram-rank machinery applied twice:
    // values, then absolute deviations)
    "outlier_mad" ->
      """WITH v AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM events),
        |h AS (SELECT event_type, cents, count(*) AS cnt FROM v GROUP BY ALL),
        |c AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM h),
        |med AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |          max(CASE WHEN (n * 50 + 99) // 100 > cum - cnt
        |                    AND (n * 50 + 99) // 100 <= cum THEN cents END) AS med_cents
        |        FROM c GROUP BY event_type),
        |d AS (SELECT v.event_type, v.cents,
        |        abs(v.cents - m.med_cents) AS dev, m.n_events, m.med_cents
        |      FROM v JOIN med m USING (event_type)),
        |hd AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY ALL),
        |cd AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM hd),
        |mad AS (SELECT event_type,
        |          max(CASE WHEN (n * 50 + 99) // 100 > cum - cnt
        |                    AND (n * 50 + 99) // 100 <= cum THEN dev END) AS mad_cents
        |        FROM cd GROUP BY event_type)
        |SELECT d.event_type, max(d.n_events) AS n_events,
        |  max(d.med_cents) AS med_cents, max(mad.mad_cents) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > mad.mad_cents * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  max(CASE WHEN d.dev > mad.mad_cents * 3 THEN d.dev END) AS max_dev_cents
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    // retention base table — mirrors Relational3.repeatCustomers
    "repeat_customers" ->
      """WITH o AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month
        |           FROM orders)
        |SELECT o_custkey, count(*) AS n_orders,
        |  count(DISTINCT month) AS n_months,
        |  min(month) AS first_month, max(month) AS last_month
        |FROM o GROUP BY o_custkey HAVING count(DISTINCT month) >= 2
        |ORDER BY o_custkey""".stripMargin,

    // month-over-month bridge — mirrors Relational3.monthlyRevenueDelta
    "monthly_revenue_delta" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month_d,
        |             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |               AS rev_cents
        |           FROM orders GROUP BY 1)
        |SELECT strftime(a.month_d, '%Y-%m') AS month, a.rev_cents,
        |  b.rev_cents AS prev_cents,
        |  a.rev_cents - b.rev_cents AS delta_cents
        |FROM m a LEFT JOIN m b ON b.month_d = a.month_d - INTERVAL 1 MONTH
        |ORDER BY month""".stripMargin,

    // uniform-budget mix rebalancing — mirrors CorpusStats.mixWeights
    "mix_weights" ->
      """WITH t AS (SELECT lang,
        |  CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |            ELSE len(string_split(coalesce(text,''), ' ')) END AS INT) AS tc
        |  FROM documents),
        |toks AS (SELECT lang, CAST(sum(tc) AS BIGINT) AS n_tokens FROM t GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        |               count(*) AS n_langs FROM toks)
        |SELECT lang, n_tokens,
        |  CAST((10000 * n_tokens) // total AS BIGINT) AS share_bp,
        |  CAST(least(10000, (10000 * (total // n_langs)) // n_tokens) AS BIGINT) AS rate_bp,
        |  CAST((n_tokens * least(10000, (10000 * (total // n_langs)) // n_tokens)) // 10000
        |       AS BIGINT) AS expected_tokens
        |FROM toks, tot ORDER BY lang""".stripMargin,

    // Heaps-law decile growth — mirrors CorpusStats.vocabGrowth
    "vocab_growth" ->
      s"""WITH $WordsCte,
         |m AS (SELECT max(doc_id) AS max_doc FROM documents),
         |tok AS (SELECT (doc_id * 10) // (max_doc + 1) AS bucket,
         |          CAST(count(*) AS BIGINT) AS n_tokens
         |        FROM words, m GROUP BY 1),
         |fs AS (SELECT word, min(doc_id) AS first_doc FROM words GROUP BY word),
         |nw AS (SELECT (first_doc * 10) // (max_doc + 1) AS bucket,
         |          CAST(count(*) AS BIGINT) AS n_new_words
         |        FROM fs, m GROUP BY 1),
         |pb AS (SELECT bucket, n_tokens,
         |         CAST(coalesce(n_new_words, 0) AS BIGINT) AS n_new_words
         |       FROM tok LEFT JOIN nw USING (bucket))
         |SELECT p.bucket, p.n_tokens,
         |  CAST(sum(c.n_tokens) AS BIGINT) AS cum_tokens,
         |  p.n_new_words,
         |  CAST(sum(c.n_new_words) AS BIGINT) AS cum_vocab
         |FROM pb p JOIN pb c ON c.bucket <= p.bucket
         |GROUP BY p.bucket, p.n_tokens, p.n_new_words
         |ORDER BY p.bucket""".stripMargin,

    "q11_important_parts" ->
      """WITH revs AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |             (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) AS rev_units
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT CAST(sum(rev_units) AS BIGINT) AS total,
        |             count(*) AS n_parts FROM revs)
        |SELECT l_partkey, rev_units / 10000.0 AS part_value
        |FROM revs, t
        |WHERE rev_units * n_parts * 2 > total * 3
        |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_excess_shippers" ->
      """WITH pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT *, CAST(sum(pair_qty) OVER (PARTITION BY l_partkey) AS BIGINT)
        |    AS part_qty FROM pairs),
        |excess AS (
        |  SELECT DISTINCT l_suppkey FROM tot WHERE pair_qty * 2 > part_qty)
        |SELECT s_suppkey, s_name, n_name AS nation
        |FROM excess JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "gap_fill" ->
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_lines,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#5' GROUP BY 1),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |axis AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds)
        |SELECT strftime(axis.day, '%Y-%m-%d') AS day,
        |       coalesce(n_lines, 0) AS n_lines, coalesce(qty, 0) AS qty
        |FROM axis LEFT JOIN daily ON axis.day = daily.day
        |ORDER BY 1""".stripMargin,

    "event_transitions" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT event_type AS from_type, to_type, count(*) AS n
        |FROM r WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type""".stripMargin,

    "top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path""".stripMargin,

    // PostingCap = 32 (TfIdf.PostingCap): literal on both sides
    "inverted_index" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |d AS (SELECT DISTINCT word, doc_id FROM w0 WHERE length(word) > 0),
        |dfs AS (SELECT word, count(*) AS df FROM d GROUP BY word),
        |topd AS (
        |  SELECT word, doc_id FROM (
        |    SELECT word, doc_id,
        |      row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn
        |    FROM d) WHERE rn <= 32),
        |posts AS (
        |  SELECT word,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM topd GROUP BY word)
        |SELECT word, df, postings FROM dfs JOIN posts USING (word)
        |ORDER BY df DESC, word""".stripMargin,

    // full BPE loop: 3 rounds of top-pair pick + sentinel replace —
    // mirrors CorpusStats.bpeTrain (greedy left-to-right merge ==
    // non-overlapping replace on both engines; chr(1)/chr(2) are the
    // sentinels, decoded back through earlier merges in the output)
    "bpe_train" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wf1 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0
        |        WHERE length(word) > 0 GROUP BY word),
        |p1 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf1, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf2 AS (SELECT replace(word, (SELECT pair FROM p1), chr(1)) AS word, freq
        |        FROM wf1),
        |p2 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf2, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf3 AS (SELECT replace(word, (SELECT pair FROM p2), chr(2)) AS word, freq
        |        FROM wf2),
        |p3 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf3, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)
        |SELECT CAST(1 AS INT) AS round, (SELECT pair FROM p1) AS merge_pair,
        |       (SELECT n FROM p1) AS n
        |UNION ALL
        |SELECT CAST(2 AS INT),
        |       replace((SELECT pair FROM p2), chr(1), (SELECT pair FROM p1)),
        |       (SELECT n FROM p2)
        |UNION ALL
        |SELECT CAST(3 AS INT),
        |       replace(replace((SELECT pair FROM p3), chr(2), (SELECT pair FROM p2)),
        |               chr(1), (SELECT pair FROM p1)),
        |       (SELECT n FROM p3)
        |ORDER BY round""".stripMargin,

    // corpus tokenization under the learned merges — mirrors
    // CorpusStats.bpeEncode (same training CTEs as bpe_train, then the
    // ordered replace chain applied per word of every document)
    "bpe_encode" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wf1 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0
        |        WHERE length(word) > 0 GROUP BY word),
        |p1 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf1, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf2 AS (SELECT replace(word, (SELECT pair FROM p1), chr(1)) AS word, freq
        |        FROM wf1),
        |p2 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf2, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf3 AS (SELECT replace(word, (SELECT pair FROM p2), chr(2)) AS word, freq
        |        FROM wf2),
        |p3 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf3, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |dw AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |       FROM documents),
        |enc AS (SELECT doc_id, length(word) AS lc,
        |          length(replace(replace(replace(word,
        |            (SELECT pair FROM p1), chr(1)),
        |            (SELECT pair FROM p2), chr(2)),
        |            (SELECT pair FROM p3), chr(3))) AS le
        |        FROM dw WHERE length(word) > 0)
        |SELECT d.doc_id,
        |  CAST(coalesce(sum(lc), 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce(sum(le), 0) AS BIGINT) AS n_tokens,
        |  CASE WHEN coalesce(sum(lc), 0) > 0
        |       THEN (10000 * CAST(sum(le) AS BIGINT)) // CAST(sum(lc) AS BIGINT)
        |       ELSE NULL END AS ratio_bp
        |FROM documents d LEFT JOIN enc ON enc.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // tokenizer fertility per language — mirrors
    // CorpusStats.bpeFertility: same 3-round learned merge table as
    // bpe_encode, lang-grouped symbols-per-word
    "bpe_fertility" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wf1 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0
        |        WHERE length(word) > 0 GROUP BY word),
        |p1 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf1, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf2 AS (SELECT replace(word, (SELECT pair FROM p1), chr(1)) AS word, freq
        |        FROM wf1),
        |p2 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf2, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |wf3 AS (SELECT replace(word, (SELECT pair FROM p2), chr(2)) AS word, freq
        |        FROM wf2),
        |p3 AS (SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |       FROM wf3, unnest(range(1, length(word))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |dw AS (SELECT lang, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |       FROM documents),
        |enc AS (SELECT lang, length(word) AS lc,
        |          length(replace(replace(replace(word,
        |            (SELECT pair FROM p1), chr(1)),
        |            (SELECT pair FROM p2), chr(2)),
        |            (SELECT pair FROM p3), chr(3))) AS le
        |        FROM dw WHERE length(word) > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(lc) AS BIGINT) AS n_chars,
        |  CAST(sum(le) AS BIGINT) AS n_symbols,
        |  CAST((10000 * sum(lc)) // count(*) AS BIGINT) AS chars_per_word_bp,
        |  CAST((10000 * sum(le)) // count(*) AS BIGINT) AS symbols_per_word_bp,
        |  CAST((10000 * sum(lc)) // count(*)
        |     - (10000 * sum(le)) // count(*) AS BIGINT) AS saved_bp
        |FROM enc GROUP BY lang ORDER BY lang""".stripMargin,

    // bigram next-word table — mirrors CorpusStats.bigramNext
    "bigram_next" ->
      s"""WITH $WordsCte,
         |bg AS (SELECT doc_id, word AS w1,
         |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |       FROM words),
         |c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
         |      FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2),
         |r AS (SELECT w1, w2, n,
         |        CAST(row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS INT) AS rank
         |      FROM c)
         |SELECT w1, rank, w2, n FROM r WHERE rank <= 3 ORDER BY w1, rank""".stripMargin,

    // CCNet-analog LM score — mirrors CorpusStats.lmScore: integer
    // per-instance transition probability, then integer mean per doc
    "lm_score" ->
      s"""WITH $WordsCte,
         |bg AS (SELECT doc_id, word AS w1,
         |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |       FROM words),
         |inst AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
         |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
         |          FROM inst GROUP BY w1, w2),
         |prefix AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM model GROUP BY w1),
         |s AS (SELECT doc_id, (10000 * n12) // n1 AS p_bp
         |      FROM inst JOIN model USING (w1, w2) JOIN prefix USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(p_bp) // count(*) AS BIGINT) AS lm_score_bp,
         |  CAST(min(p_bp) AS BIGINT) AS min_p_bp
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // range(1, n) is [1, n): pairs at 1..len-1, matching the Spark
    // sequence(1, length-1) under its length>=2 guard
    "bpe_pairs" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wf AS (SELECT word, count(*) AS freq FROM w0
        |       WHERE length(word) > 0 GROUP BY word),
        |pairs AS (
        |  SELECT substring(word, i, 2) AS pair, CAST(sum(freq) AS BIGINT) AS n
        |  FROM wf, unnest(range(1, length(word))) AS t(i)
        |  GROUP BY 1)
        |SELECT pair, n FROM pairs ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // Product-quantization ADC search — mirrors Similarity.knnPq:
    // M=4 subspaces × 16 dims, K=16 codewords (the vec_id < 16 seed
    // slice). Elements are quantized to integral 1e-3 units FIRST, so
    // every sub-distance is an exact BIGINT Σ(xq−yq)² — a grouped FP
    // sum is thread-order nondeterministic in DuckDB and the old
    // round(sum*1e4) form flaked at .5 boundaries (r4). List slices
    // are 1-based inclusive.
    "knn_pq" ->
      """WITH mk AS (
        |  SELECT m.m, s.vec_id AS k, s.embedding AS se
        |  FROM embeddings s, (SELECT unnest([0, 1, 2, 3]) AS m) m
        |  WHERE s.vec_id < 16),
        |z AS (SELECT e.vec_id, mk.m, mk.k,
        |        CAST(round(CAST(unnest(e.embedding[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |        CAST(round(CAST(unnest(mk.se[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS y
        |      FROM embeddings e CROSS JOIN mk),
        |d AS (SELECT vec_id, m, k,
        |        CAST(sum((x-y)*(x-y)) AS BIGINT) AS du
        |      FROM z GROUP BY ALL),
        |codes AS (SELECT vec_id, m, k AS code FROM (
        |  SELECT vec_id, m, k,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d) WHERE rk = 1),
        |adc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |          CAST(sum(q.du) AS BIGINT) AS adist_units
        |        FROM codes c JOIN d q
        |          ON q.m = c.m AND q.k = c.code
        |         AND q.vec_id < 16 AND q.vec_id <> c.vec_id
        |        GROUP BY ALL),
        |r AS (SELECT qid, cid, adist_units,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY adist_units, cid) AS INT) AS rank
        |      FROM adc)
        |SELECT qid, rank, cid, adist_units FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // PQ distortion audit — mirrors Similarity.pqDistortion (same
    // quantized sub-distance CTEs as knn_pq, argmin per (vec, m),
    // M-keyed rollup; HUGEINT-safe casts)
    "pq_distortion" ->
      """WITH mk AS (
        |  SELECT m.m, s.vec_id AS k, s.embedding AS se
        |  FROM embeddings s, (SELECT unnest([0, 1, 2, 3]) AS m) m
        |  WHERE s.vec_id < 16),
        |z AS (SELECT e.vec_id, mk.m, mk.k,
        |        CAST(round(CAST(unnest(e.embedding[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |        CAST(round(CAST(unnest(mk.se[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS y
        |      FROM embeddings e CROSS JOIN mk),
        |d AS (SELECT vec_id, m, k,
        |        CAST(sum((x-y)*(x-y)) AS BIGINT) AS du
        |      FROM z GROUP BY ALL),
        |best AS (SELECT vec_id, m, du FROM (
        |  SELECT vec_id, m, du,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d) WHERE rk = 1)
        |SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(du) AS BIGINT) AS total_du,
        |  CAST(max(du) AS BIGINT) AS max_du,
        |  CAST(CAST(sum(du) AS BIGINT) // count(*) AS BIGINT) AS mean_du
        |FROM best GROUP BY m ORDER BY m""".stripMargin,

    // PQ shortlist (ADC top-25) + exact re-rank — mirrors
    // Similarity.knnPqRerank; same quantized-integer ADC CTEs as
    // knn_pq, then the exact BIGINT Σ(xq−yq)² fold (1e-6 units) over
    // the shortlist only
    "knn_pq_rerank" ->
      """WITH mk AS (
        |  SELECT m.m, s.vec_id AS k, s.embedding AS se
        |  FROM embeddings s, (SELECT unnest([0, 1, 2, 3]) AS m) m
        |  WHERE s.vec_id < 16),
        |z AS (SELECT e.vec_id, mk.m, mk.k,
        |        CAST(round(CAST(unnest(e.embedding[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |        CAST(round(CAST(unnest(mk.se[mk.m*16+1 : mk.m*16+16]) AS DOUBLE) * 1000) AS BIGINT) AS y
        |      FROM embeddings e CROSS JOIN mk),
        |d AS (SELECT vec_id, m, k,
        |        CAST(sum((x-y)*(x-y)) AS BIGINT) AS du
        |      FROM z GROUP BY ALL),
        |codes AS (SELECT vec_id, m, k AS code FROM (
        |  SELECT vec_id, m, k,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d) WHERE rk = 1),
        |adc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |          sum(q.du) AS adist_units
        |        FROM codes c JOIN d q
        |          ON q.m = c.m AND q.k = c.code
        |         AND q.vec_id < 16 AND q.vec_id <> c.vec_id
        |        GROUP BY ALL),
        |short AS (SELECT qid, cid FROM (
        |  SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY adist_units, cid) AS rk
        |  FROM adc) WHERE rk <= 25),
        |ze AS (SELECT s.qid, s.cid,
        |         CAST(round(CAST(unnest(q.embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
        |         CAST(round(CAST(unnest(c.embedding) AS DOUBLE) * 1000) AS BIGINT) AS y
        |       FROM short s JOIN embeddings q ON q.vec_id = s.qid
        |                    JOIN embeddings c ON c.vec_id = s.cid),
        |de AS (SELECT qid, cid,
        |         CAST(sum((x-y)*(x-y)) AS BIGINT) AS dist_units
        |       FROM ze GROUP BY ALL),
        |r AS (SELECT qid, cid, dist_units,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY dist_units, cid) AS INT) AS rank
        |      FROM de)
        |SELECT qid, rank, cid, dist_units FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // PQ with TRAINED codebooks (2 medoid-Lloyd rounds, codebook seeded
    // from the query-DISJOINT vec_id∈[16,32) slice) — mirrors
    // Similarity.knnPqTrained. All distances exact BIGINT over
    // 1e-3-quantized elements; the Lloyd means use floor-division
    // integer math whose numerator (s − pmod(s,n)) is exactly
    // divisible, so DuckDB `//` and Spark `div` agree for any sign;
    // the medoid (argmin member distance to that mean, ties to low
    // vec_id) keeps every codeword an exact corpus subvector.
    "knn_pq_trained" ->
      """WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
        |dims AS (SELECT unnest(range(16)) AS dim),
        |x AS (SELECT e.vec_id, ms.m, dims.dim,
        |        CAST(round(CAST(e.embedding[ms.m*16 + dims.dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS x
        |      FROM embeddings e CROSS JOIN ms CROSS JOIN dims),
        |cb0 AS (SELECT m, vec_id - 16 AS k, dim, x AS c
        |        FROM x WHERE vec_id >= 16 AND vec_id < 32),
        |d0 AS (SELECT x.vec_id, x.m, cb0.k,
        |         CAST(sum((x.x - cb0.c)*(x.x - cb0.c)) AS BIGINT) AS du
        |       FROM x JOIN cb0 ON cb0.m = x.m AND cb0.dim = x.dim
        |       GROUP BY ALL),
        |a0 AS (SELECT vec_id, m, k AS code FROM (
        |  SELECT vec_id, m, k,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d0) WHERE rk = 1),
        |mn0 AS (SELECT a0.m, a0.code, x.dim,
        |          CAST((sum(x.x) - (((sum(x.x) % count(*)) + count(*)) % count(*)))
        |            // count(*) AS BIGINT) AS c
        |        FROM a0 JOIN x ON x.vec_id = a0.vec_id AND x.m = a0.m
        |        GROUP BY ALL),
        |md0 AS (SELECT m, code, vec_id AS mvid FROM (
        |  SELECT x.m, a0.code, x.vec_id,
        |    row_number() OVER (PARTITION BY x.m, a0.code
        |      ORDER BY sum((x.x - mn0.c)*(x.x - mn0.c)), x.vec_id) AS rk
        |  FROM a0
        |  JOIN x ON x.vec_id = a0.vec_id AND x.m = a0.m
        |  JOIN mn0 ON mn0.m = x.m AND mn0.code = a0.code AND mn0.dim = x.dim
        |  GROUP BY x.m, a0.code, x.vec_id) WHERE rk = 1),
        |cb1 AS (SELECT md0.m, md0.code AS k, x.dim, x.x AS c
        |        FROM md0 JOIN x ON x.vec_id = md0.mvid AND x.m = md0.m),
        |d1 AS (SELECT x.vec_id, x.m, cb1.k,
        |         CAST(sum((x.x - cb1.c)*(x.x - cb1.c)) AS BIGINT) AS du
        |       FROM x JOIN cb1 ON cb1.m = x.m AND cb1.dim = x.dim
        |       GROUP BY ALL),
        |a1 AS (SELECT vec_id, m, k AS code FROM (
        |  SELECT vec_id, m, k,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d1) WHERE rk = 1),
        |mn1 AS (SELECT a1.m, a1.code, x.dim,
        |          CAST((sum(x.x) - (((sum(x.x) % count(*)) + count(*)) % count(*)))
        |            // count(*) AS BIGINT) AS c
        |        FROM a1 JOIN x ON x.vec_id = a1.vec_id AND x.m = a1.m
        |        GROUP BY ALL),
        |md1 AS (SELECT m, code, vec_id AS mvid FROM (
        |  SELECT x.m, a1.code, x.vec_id,
        |    row_number() OVER (PARTITION BY x.m, a1.code
        |      ORDER BY sum((x.x - mn1.c)*(x.x - mn1.c)), x.vec_id) AS rk
        |  FROM a1
        |  JOIN x ON x.vec_id = a1.vec_id AND x.m = a1.m
        |  JOIN mn1 ON mn1.m = x.m AND mn1.code = a1.code AND mn1.dim = x.dim
        |  GROUP BY x.m, a1.code, x.vec_id) WHERE rk = 1),
        |cb2 AS (SELECT md1.m, md1.code AS k, x.dim, x.x AS c
        |        FROM md1 JOIN x ON x.vec_id = md1.mvid AND x.m = md1.m),
        |d2 AS (SELECT x.vec_id, x.m, cb2.k,
        |         CAST(sum((x.x - cb2.c)*(x.x - cb2.c)) AS BIGINT) AS du
        |       FROM x JOIN cb2 ON cb2.m = x.m AND cb2.dim = x.dim
        |       GROUP BY ALL),
        |codes AS (SELECT vec_id, m, k AS code FROM (
        |  SELECT vec_id, m, k,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY du, k) AS rk
        |  FROM d2) WHERE rk = 1),
        |adc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |          CAST(sum(q.du) AS BIGINT) AS adist_units
        |        FROM codes c JOIN d2 q
        |          ON q.m = c.m AND q.k = c.code
        |         AND q.vec_id < 16 AND q.vec_id <> c.vec_id
        |        GROUP BY ALL),
        |r AS (SELECT qid, cid, adist_units,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY adist_units, cid) AS INT) AS rank
        |      FROM adc)
        |SELECT qid, rank, cid, adist_units FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Concat-and-split sequence packing — mirrors Packing.packSequences:
    // shard = doc_id % 8, per-shard running token sum, bin spans by
    // integer div. sum() OVER in DuckDB widens to HUGEINT → cast back.
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
        |         CASE WHEN length(coalesce(text, '')) = 0 THEN 0
        |              ELSE len(string_split(coalesce(text, ''), ' ')) END AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, shard, nt,
        |        CAST(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
        |      FROM t WHERE nt > 0)
        |SELECT doc_id, shard, CAST(nt AS INT) AS n_tokens,
        |       CAST((cum - nt) // 512 AS BIGINT) AS start_bin,
        |       CAST((cum - 1) // 512 AS BIGINT) AS end_bin,
        |       CAST((cum - 1) // 512 - (cum - nt) // 512 + 1 AS BIGINT) AS n_bins
        |FROM c ORDER BY doc_id""".stripMargin,

    // Token-budget chunking — mirrors Chunker.tokenChunk (budget 64).
    // List slices are 1-based inclusive and truncate past the end in
    // both engines.
    "token_chunk" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(coalesce(text, ''), ' '),
        |                         w -> length(w) > 0) AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
        |        CAST(least(64, n - u.i*64) AS INT) AS n_chunk_tokens,
        |        array_to_string(toks[u.i*64+1 : u.i*64+64], ' ') AS chunk_text
        |      FROM n, unnest(range((n-1)//64 + 1)) AS u(i))
        |SELECT doc_id, chunk_id, n_chunk_tokens, chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Hashed-feature linear scorer — mirrors TextAnalysis
    // .qualityClassifier: weight(w) = md5-hex prefix → BIGINT in
    // [-1000, 1000]; score = Σ token weights (list_sum widens → cast).
    "quality_classifier" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(coalesce(text, ''), ' '),
        |                         w -> length(w) > 0) AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |        CAST(coalesce(list_sum(list_transform(toks, w ->
        |          CAST(concat('0x', substr(md5(lower(w)), 1, 8)) AS BIGINT)
        |            % 2001 - 1000)), 0) AS BIGINT) AS score
        |      FROM t WHERE len(toks) > 0)
        |SELECT doc_id, n_tokens, score,
        |       CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS verdict
        |FROM s ORDER BY doc_id""".stripMargin,

    // Anchor-text aggregation — mirrors Urls.anchorText: (domain,
    // anchor) counts, top-5 per domain, ties lexicographic.
    "anchor_text" ->
      s"""WITH $LinksCte,
         |d AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
         |             anchor_text
         |      FROM links),
         |g AS (SELECT domain, anchor_text, count(*) AS n_links
         |      FROM d GROUP BY ALL),
         |r AS (SELECT domain, anchor_text, n_links,
         |        CAST(row_number() OVER (PARTITION BY domain
         |          ORDER BY n_links DESC, anchor_text) AS INT) AS rank
         |      FROM g)
         |SELECT domain, rank, anchor_text, n_links FROM r
         |WHERE rank <= 5 ORDER BY domain, rank""".stripMargin,

    // Z-order layout audit — mirrors Layout.zorderLayout: 8-bit
    // buckets per dim, Morton interleave, 64 file slices, per-file
    // min/max envelopes. All BIGINT bit math.
    "zorder_layout" -> {
      val morton = (0 until 8).map(i =>
        s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT user_id % 256 AS xb,
         |                  (epoch_us(ts) // 3600000000) % 256 AS yb
         |           FROM events),
         |z AS (SELECT xb, yb, ($morton) AS zkey FROM b),
         |f AS (SELECT zkey // 1024 AS file_id, xb, yb FROM z)
         |SELECT file_id, count(*) AS n_rows,
         |       min(xb) AS x_min, max(xb) AS x_max,
         |       min(yb) AS y_min, max(yb) AS y_max,
         |       max(xb) - min(xb) + 1 AS x_span,
         |       max(yb) - min(yb) + 1 AS y_span
         |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin
    },

    // Length-grouped batching — mirrors Packing.paddingBatches:
    // 16-token bands, 8-doc batches in doc_id order, padding waste in
    // basis points. sum() widens to HUGEINT in DuckDB → cast back.
    "padding_batches" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN length(coalesce(text, '')) = 0 THEN 0
        |              ELSE len(string_split(coalesce(text, ''), ' ')) END AS nt
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(nt AS INT) AS nt, nt // 16 AS band
        |      FROM t WHERE nt > 0),
        |r AS (SELECT band, nt,
        |        (row_number() OVER (PARTITION BY band ORDER BY doc_id) - 1) // 8
        |          AS batch_id
        |      FROM b),
        |g AS (SELECT band, batch_id, count(*) AS n_docs,
        |        CAST(max(nt) AS INT) AS max_tokens,
        |        CAST(sum(nt) AS BIGINT) AS sum_tokens
        |      FROM r GROUP BY ALL)
        |SELECT band, batch_id, n_docs, max_tokens, sum_tokens,
        |       CAST(max_tokens * n_docs AS BIGINT) AS padded_tokens,
        |       CAST((10000 * (max_tokens * n_docs - sum_tokens))
        |            // (max_tokens * n_docs) AS BIGINT) AS waste_bp
        |FROM g ORDER BY band, batch_id""".stripMargin,

    // Reciprocal-rank fusion — mirrors TfIdf.rrfFusion: the
    // tfidf_search and knn_brute top-5 lists full-outer-joined per
    // (qid, candidate); contribution = 1000000 // (60 + rank).
    "rrf_fusion" -> {
      val vecP =
        """p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH w0 AS (
         |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
         |  FROM documents),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w0
         |       WHERE length(word) > 0 GROUP BY ALL),
         |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |posts AS (SELECT word, doc_id,
         |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (word) CROSS JOIN nn),
         |norms AS (SELECT doc_id, sum(w*w) AS nsq FROM posts GROUP BY doc_id),
         |lpairs AS (SELECT q.doc_id AS qid, c.doc_id AS did,
         |             sum(q.w * c.w) AS num
         |           FROM posts q JOIN posts c
         |             ON q.word = c.word AND q.doc_id < 16 AND q.doc_id <> c.doc_id
         |           GROUP BY ALL),
         |ls AS (SELECT qid, did,
         |         round(num / (sqrt(nq.nsq) * sqrt(nd.nsq)), 4) AS cos
         |       FROM lpairs JOIN norms nq ON nq.doc_id = qid
         |                   JOIN norms nd ON nd.doc_id = did),
         |lex AS (SELECT qid, did AS cand, lex_rank FROM (
         |  SELECT qid, did, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, did) AS INT) AS lex_rank
         |  FROM ls) WHERE lex_rank <= 5),
         |${cosineFrom(vecP, "")},
         |vec AS (SELECT qid, cid AS cand, vec_rank FROM (
         |  SELECT qid, cid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, cid) AS INT) AS vec_rank
         |  FROM s) WHERE vec_rank <= 5),
         |f AS (SELECT coalesce(l.qid, v.qid) AS qid,
         |             coalesce(l.cand, v.cand) AS cand,
         |             l.lex_rank, v.vec_rank
         |      FROM lex l FULL OUTER JOIN vec v
         |        ON l.qid = v.qid AND l.cand = v.cand),
         |g AS (SELECT qid, cand, lex_rank, vec_rank,
         |        CAST(coalesce(1000000 // (60 + lex_rank), 0)
         |           + coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf
         |      FROM f),
         |rr AS (SELECT qid, cand, rrf, lex_rank, vec_rank,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY rrf DESC, cand) AS INT) AS rank
         |       FROM g)
         |SELECT qid, rank, cand, rrf, lex_rank, vec_rank FROM rr
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    // Data-quality expectations — mirrors Observability.expectations:
    // one conditional-aggregation pass, six rules, violation rate in
    // basis points.
    "expectations" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |    CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |    CAST(sum(CASE WHEN NOT coalesce(l_tax = 0.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5
        |  FROM lineitem),
        |u AS (
        |  SELECT 'quantity_in_1_50' AS rule, n_rows, v0 AS n_violations FROM a
        |  UNION ALL SELECT 'discount_in_0_10pct', n_rows, v1 FROM a
        |  UNION ALL SELECT 'shipdate_not_null', n_rows, v2 FROM a
        |  UNION ALL SELECT 'returnflag_in_domain', n_rows, v3 FROM a
        |  UNION ALL SELECT 'price_positive', n_rows, v4 FROM a
        |  UNION ALL SELECT 'tax_is_zero', n_rows, v5 FROM a)
        |SELECT rule, n_rows, n_violations,
        |       CAST((10000 * n_violations) // n_rows AS BIGINT) AS violation_bp,
        |       CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM u ORDER BY rule""".stripMargin,

    // DSIR importance weighting — mirrors TextAnalysis.dsirWeights:
    // 1024-bucket hashed unigrams, Laplace-smoothed target/raw ratio in
    // basis points, per-doc mean bucket weight, top-200. All-BIGINT
    // integer math; `//` and `div` agree (every operand nonnegative).
    // sum() output is divided then CAST — the knn_pq HUGEINT lesson.
    "dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(list_filter(string_split(coalesce(text, ''), ' '),
        |                                w -> length(w) > 0)) AS w
        |           FROM documents),
        |b AS (SELECT doc_id, lang,
        |        CAST(concat('0x', substr(md5(lower(w)), 1, 8)) AS BIGINT) % 1024 AS b
        |      FROM t),
        |c AS (SELECT b, count(*) AS raw_n,
        |        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_n
        |      FROM b GROUP BY b),
        |wt AS (SELECT b, ((tgt_n + 1) * 10000) // (raw_n + 1) AS w_bp FROM c),
        |s AS (SELECT doc_id, count(*) AS n_toks, sum(w_bp) AS w_sum
        |      FROM b JOIN wt USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_toks, CAST(w_sum // n_toks AS BIGINT) AS dsir_bp
        |FROM s ORDER BY dsir_bp DESC, doc_id LIMIT 200""".stripMargin,

    // SemDeDup — mirrors Similarity.semDedup: nearest-of-8 centroid
    // assignment (as cluster_assign), within-(cluster × sign-bucket)
    // pair cosines, drop a member iff a strictly-more-keep-worthy
    // near-dup (cos ≥ 0.25) exists. Both cosines round to 4dp BEFORE
    // any comparison, so the threshold and keep-worthiness tests are
    // engine-exact. The bucket width derives from the corpus count
    // exactly as GraphCuration.adaptiveBits (integer-exact, floors at
    // 3 for n <= 8000) — the r15 composed blocking key that keeps
    // within-block pairs bounded as clusters grow.
    "semdedup" ->
      s"""WITH nn AS (SELECT $AdaptiveBitsSql AS bits),
        |bk AS (SELECT vec_id,
        |         CAST(list_sum(list_transform(range(nn.bits), i ->
        |           CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
        |                THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
        |                ELSE 0 END)) AS INT) AS bucket
        |       FROM embeddings, nn),
        |p AS (SELECT e.vec_id AS qid, c.vec_id AS cid,
        |             e.embedding AS qe, c.embedding AS ce
        |           FROM embeddings e JOIN embeddings c
        |             ON c.vec_id < 8 AND e.vec_id <> c.vec_id),
        |z AS (SELECT qid, cid,
        |             CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
        |      FROM p),
        |d AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |      FROM z GROUP BY ALL),
        |s AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM d),
        |r AS (SELECT qid, cid, cos,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |      FROM s),
        |m AS (SELECT qid AS vec_id, cid AS cluster, cos AS cc FROM r WHERE rk = 1),
        |mp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.cc AS a_cc, b.cc AS b_cc,
        |              ea.embedding AS ae, eb.embedding AS be
        |       FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |       JOIN bk ba ON ba.vec_id = a.vec_id
        |       JOIN bk bb ON bb.vec_id = b.vec_id AND bb.bucket = ba.bucket
        |       JOIN embeddings ea ON ea.vec_id = a.vec_id
        |       JOIN embeddings eb ON eb.vec_id = b.vec_id),
        |z2 AS (SELECT a_id, b_id, a_cc, b_cc,
        |              CAST(unnest(ae) AS DOUBLE) AS x, CAST(unnest(be) AS DOUBLE) AS y
        |       FROM mp),
        |d2 AS (SELECT a_id, b_id, a_cc, b_cc,
        |              sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM z2 GROUP BY ALL),
        |s2 AS (SELECT a_id, b_id, a_cc, b_cc,
        |              round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS pcos FROM d2),
        |drops AS (SELECT DISTINCT a_id AS vec_id FROM s2
        |          WHERE pcos >= 0.25
        |            AND (b_cc < a_cc OR (b_cc = a_cc AND b_id < a_id)))
        |SELECT m.vec_id, m.cluster, m.cc, (dr.vec_id IS NULL) AS kept
        |FROM m LEFT JOIN drops dr ON dr.vec_id = m.vec_id
        |ORDER BY m.vec_id""".stripMargin,

    // S5 main-content extraction — mirrors HtmlExtract.htmlExtract: the
    // page build is self-inverting, so the oracle reconstructs the
    // EXPECTED extraction (h1 + 12-word paragraphs that clear the
    // 20-char gate) straight from the documents table, and DuckDB never
    // parses HTML. Corpus precondition (asserted by the word-chunk ==
    // regex-chunk equivalence): text is single-spaced [a-z0-9 ] — the
    // same precondition every shingle oracle in this file relies on.
    "html_extract" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split(coalesce(text, ''), ' '),
        |                     x -> length(x) > 0) AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         list_filter(
        |           list_transform(range(CAST(ceil(len(ws) / 12.0) AS BIGINT)),
        |             i -> array_to_string(ws[(i*12+1):(i*12+12)], ' ')),
        |           s -> length(s) >= 20) AS paras
        |  FROM w)
        |SELECT doc_id,
        |       'Doc ' || doc_id ||
        |         CASE WHEN len(paras) > 0
        |              THEN chr(10) || array_to_string(paras, chr(10))
        |              ELSE '' END AS main_text,
        |       CAST(1 + len(paras) AS INT) AS n_blocks
        |FROM p ORDER BY doc_id""".stripMargin,

    // S9 PDF extraction round-trip — mirrors Multimodal.pdfExtract.
    // The PDF build is self-inverting (PdfBuild.PageWords-word pages,
    // Tj-shown, pages joined by blank lines, 15-page cap), so the
    // oracle reconstructs the EXPECTED extraction from the words table
    // and DuckDB never parses a PDF byte. A wordless doc still renders
    // one empty page (a valid PDF has >= 1 page).
    "pdf_extract" ->
      s"""WITH $WordsCte,
         |wi AS (SELECT doc_id, word,
         |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
         |           AS BIGINT) AS widx
         |       FROM words),
         |pg AS (SELECT doc_id, widx // ${graft.functions.PdfBuild.PageWords} AS page,
         |         string_agg(word, ' ' ORDER BY widx) AS p_text
         |       FROM wi GROUP BY doc_id, widx // ${graft.functions.PdfBuild.PageWords}),
         |pc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_pages
         |       FROM pg GROUP BY doc_id),
         |tx AS (SELECT doc_id,
         |         string_agg(p_text, chr(10) || chr(10) ORDER BY page) AS pdf_text
         |       FROM pg WHERE page < 15 GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pc.n_pages, 1) AS INT) AS n_pages,
         |  coalesce(tx.pdf_text, '') AS pdf_text,
         |  coalesce(pc.n_pages, 1) > 15 AS capped
         |FROM documents d LEFT JOIN pc USING (doc_id) LEFT JOIN tx USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // corpus-tier digest projection of the same round trip — mirrors
    // Multimodal.pdfExtractDigest (md5 of the identical UTF-8 text)
    "pdf_extract_digest" ->
      s"""WITH $WordsCte,
         |wi AS (SELECT doc_id, word,
         |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
         |           AS BIGINT) AS widx
         |       FROM words),
         |pg AS (SELECT doc_id, widx // ${graft.functions.PdfBuild.PageWords} AS page,
         |         string_agg(word, ' ' ORDER BY widx) AS p_text
         |       FROM wi GROUP BY doc_id, widx // ${graft.functions.PdfBuild.PageWords}),
         |pc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_pages
         |       FROM pg GROUP BY doc_id),
         |tx AS (SELECT doc_id,
         |         string_agg(p_text, chr(10) || chr(10) ORDER BY page) AS pdf_text
         |       FROM pg WHERE page < 15 GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pc.n_pages, 1) AS INT) AS n_pages,
         |  coalesce(pc.n_pages, 1) > 15 AS capped,
         |  md5(coalesce(tx.pdf_text, '')) AS text_md5
         |FROM documents d LEFT JOIN pc USING (doc_id) LEFT JOIN tx USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Duplicated-span clipping — mirrors Dedup.spanClip. Coverage uses
    // the EXPLICIT positions of the 8 gram words (lead(pos, i)), not
    // pos+i arithmetic, so the construction stays structural even when
    // blank-dropped positions leave gaps.
    "span_clip" ->
      s"""WITH $WordsCte,
         |g0 AS (SELECT doc_id, pos, word,
         |         lead(word, 1) OVER w AS w1, lead(pos, 1) OVER w AS p1,
         |         lead(word, 2) OVER w AS w2, lead(pos, 2) OVER w AS p2,
         |         lead(word, 3) OVER w AS w3, lead(pos, 3) OVER w AS p3,
         |         lead(word, 4) OVER w AS w4, lead(pos, 4) OVER w AS p4,
         |         lead(word, 5) OVER w AS w5, lead(pos, 5) OVER w AS p5,
         |         lead(word, 6) OVER w AS w6, lead(pos, 6) OVER w AS p6,
         |         lead(word, 7) OVER w AS w7, lead(pos, 7) OVER w AS p7
         |       FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |g AS (SELECT doc_id, pos, p1, p2, p3, p4, p5, p6, p7,
         |        word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
         |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS gram
         |      FROM g0 WHERE w7 IS NOT NULL),
         |d AS (SELECT gram FROM (
         |        SELECT gram, count(DISTINCT doc_id) AS nd
         |        FROM g GROUP BY gram) WHERE nd >= 2),
         |cov AS (SELECT DISTINCT doc_id,
         |          unnest([pos, p1, p2, p3, p4, p5, p6, p7]) AS cpos
         |        FROM g JOIN d USING (gram)),
         |kept AS (SELECT w.doc_id, w.pos, w.word FROM words w
         |         ANTI JOIN cov c ON w.doc_id = c.doc_id AND w.pos = c.cpos),
         |tot AS (SELECT doc_id, count(*) AS n_words FROM words GROUP BY doc_id),
         |re AS (SELECT doc_id, count(*) AS n_kept,
         |         string_agg(word, ' ' ORDER BY pos) AS clean_text
         |       FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
         |       CAST(t.n_words - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(r.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN re r USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // Heavy hitters — mirrors Skew.heavyHitters. The Spark side runs
    // Misra-Gries + exact recount; the MG guarantee (candidates ⊇ all
    // keys with cnt > N/33, threshold N/16) makes the two-pass result
    // IDENTICAL to this plain GROUP BY — that equality is the point.
    "heavy_hitters" ->
      """WITH s AS (SELECT CASE WHEN l_orderkey % 2 = 0
        |                       THEN 'hot_' || (l_orderkey % 8)
        |                       ELSE 'cold_' || l_orderkey || '_' || l_linenumber
        |                  END AS k
        |           FROM lineitem),
        |t AS (SELECT count(*) AS n FROM s),
        |c AS (SELECT k, count(*) AS cnt FROM s GROUP BY k)
        |SELECT k, CAST(cnt AS BIGINT) AS cnt,
        |       CAST((10000 * cnt) // n AS BIGINT) AS share_bp
        |FROM c, t WHERE cnt * 16 > n
        |ORDER BY cnt DESC, k""".stripMargin,

    // Curriculum interleave — mirrors Packing.curriculumOrder. The
    // oracle MAY rank the language dim with a window (DuckDB has no
    // funnel concern); the Spark side derives lang_idx join-side.
    "curriculum_order" ->
      """WITH d AS (SELECT doc_id, lang,
        |             CAST(least(3, n_chars // 150) AS BIGINT) AS tier
        |           FROM documents),
        |l AS (SELECT lang,
        |        CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS lang_idx,
        |        CAST(count(*) OVER () AS BIGINT) AS nl
        |      FROM (SELECT DISTINCT lang FROM d)),
        |r AS (SELECT doc_id, lang, tier,
        |        CAST(row_number() OVER (PARTITION BY tier, lang
        |          ORDER BY doc_id) AS INT) AS round
        |      FROM d)
        |SELECT r.doc_id, r.tier, r.lang, r.round,
        |       CAST((r.round - 1) * l.nl + l.lang_idx AS BIGINT) AS ikey
        |FROM r JOIN l USING (lang)
        |ORDER BY tier, ikey""".stripMargin,

    // k-anonymity — mirrors Observability.kAnonymity. floor(x/1000) on
    // DOUBLE is IEEE-deterministic in both engines; all counters are
    // BIGINT integer math.
    "k_anonymity" ->
      """WITH qi AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |              CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
        |            FROM customer),
        |c AS (SELECT nation, segment, bal_band, count(*) AS class_n
        |      FROM qi GROUP BY ALL)
        |SELECT nation,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(CASE WHEN class_n < 4 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS risky_classes,
        |       CAST(sum(CASE WHEN class_n < 4 THEN class_n ELSE 0 END) AS BIGINT)
        |         AS risky_rows,
        |       CAST(sum(class_n) AS BIGINT) AS n_rows,
        |       CAST((10000 * sum(CASE WHEN class_n < 4 THEN class_n ELSE 0 END))
        |         // sum(class_n) AS BIGINT) AS risky_bp
        |FROM c GROUP BY nation ORDER BY nation""".stripMargin,

    // l-diversity — mirrors Observability.lDiversity (QI = nation ×
    // balance band; sensitive = segment; exposed when < 2 distinct)
    "l_diversity" ->
      """WITH t AS (SELECT c_nationkey AS nation,
        |             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |             c_mktsegment AS segment
        |           FROM customer),
        |c AS (SELECT nation, bal_band, CAST(count(*) AS BIGINT) AS class_n,
        |        CAST(count(DISTINCT segment) AS BIGINT) AS n_sensitive
        |      FROM t GROUP BY ALL)
        |SELECT nation,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS homogeneous_classes,
        |  CAST(sum(CASE WHEN n_sensitive < 2 THEN class_n ELSE 0 END) AS BIGINT)
        |    AS exposed_rows,
        |  CAST(sum(class_n) AS BIGINT) AS n_rows,
        |  CAST((10000 * sum(CASE WHEN n_sensitive < 2 THEN class_n ELSE 0 END))
        |    // sum(class_n) AS BIGINT) AS exposed_bp
        |FROM c GROUP BY nation ORDER BY nation""".stripMargin,

    // t-closeness — mirrors Observability.tCloseness (QI = nation ×
    // segment; sensitive = ordered balance band; ordered EMD via
    // cross-multiplied integer prefix sums; breach at 2000 bp).
    "t_closeness" ->
      """WITH t AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
        |           FROM customer),
        |cb AS (SELECT nation, segment, band, CAST(count(*) AS BIGINT) AS c
        |       FROM t GROUP BY ALL),
        |cls AS (SELECT nation, segment, CAST(sum(c) AS BIGINT) AS n_c
        |        FROM cb GROUP BY ALL),
        |gb AS (SELECT band, CAST(sum(c) AS BIGINT) AS g FROM cb GROUP BY band),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total,
        |          CAST(count(*) AS BIGINT) AS k_bands FROM gb),
        |grid AS (SELECT cls.nation, cls.segment, cls.n_c, gb.band, gb.g,
        |           CAST(coalesce(cb.c, 0) AS BIGINT) AS c
        |         FROM cls CROSS JOIN gb
        |         LEFT JOIN cb ON cb.nation = cls.nation
        |           AND cb.segment = cls.segment AND cb.band = gb.band),
        |cum AS (SELECT nation, segment, n_c,
        |          CAST(sum(c) OVER (PARTITION BY nation, segment ORDER BY band
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_c,
        |          CAST(sum(g) OVER (PARTITION BY nation, segment ORDER BY band
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_g
        |        FROM grid),
        |e AS (SELECT nation, segment, n_c,
        |        sum(abs(CAST(cum_c AS HUGEINT) * tot.n_total
        |          - CAST(cum_g AS HUGEINT) * n_c)) AS emd_num,
        |        max(tot.n_total) AS n_total, max(tot.k_bands) AS k_bands
        |      FROM cum CROSS JOIN tot GROUP BY nation, segment, n_c),
        |tb AS (SELECT nation, n_c,
        |         CAST((10000 * emd_num) // (greatest(k_bands - 1, 1)
        |           * CAST(n_c AS HUGEINT) * n_total) AS BIGINT) AS t_bp
        |       FROM e)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(n_c) AS BIGINT) AS n_rows,
        |  CAST(max(t_bp) AS BIGINT) AS max_t_bp,
        |  CAST(sum(t_bp) // count(*) AS BIGINT) AS avg_t_bp,
        |  CAST(sum(CASE WHEN t_bp > 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS breach_classes,
        |  CAST(sum(CASE WHEN t_bp > 2000 THEN n_c ELSE 0 END) AS BIGINT)
        |    AS breach_rows
        |FROM tb GROUP BY nation ORDER BY nation""".stripMargin,

    // Domain-mix drift — mirrors CorpusStats.mixDrift. The ln() terms
    // use the SAME double formula as the Spark side and round to 4dp
    // (the repo's irrational-value rule); shares stay integer bp.
    "mix_drift" ->
      """WITH t AS (SELECT lang,
        |  CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |            ELSE len(string_split(coalesce(text,''), ' ')) END AS INT) AS tc
        |  FROM documents),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(tc) AS BIGINT) AS n_tokens
        |      FROM t GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |               CAST(sum(n_tokens) AS BIGINT) AS tt FROM l)
        |SELECT lang, n_docs, n_tokens,
        |  CAST((10000 * n_tokens) // tt AS BIGINT) AS p_bp,
        |  CAST((10000 * n_docs) // td AS BIGINT) AS q_bp,
        |  round((CAST(n_tokens AS DOUBLE) / tt) *
        |        ln((CAST(n_tokens AS DOUBLE) * td) /
        |           (CAST(n_docs AS DOUBLE) * tt)), 4) AS kl_term,
        |  round(-(CAST(n_tokens AS DOUBLE) / tt) *
        |        ln(CAST(n_tokens AS DOUBLE) / tt), 4) AS entropy_term
        |FROM l, tot ORDER BY lang""".stripMargin,

    // α=0.5 temperature mix — mirrors CorpusStats.temperatureMix. The
    // integer square root replays the same floor(sqrt(double)) ± 1
    // correction on both engines, so every output stays exact BIGINT
    // (sums are CAST — DuckDB sum(BIGINT) would yield HUGEINT).
    "temperature_mix" ->
      """WITH t AS (SELECT lang,
        |  CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |            ELSE len(string_split(coalesce(text,''), ' ')) END AS INT) AS tc
        |  FROM documents),
        |toks AS (SELECT lang, CAST(sum(tc) AS BIGINT) AS n_tokens FROM t GROUP BY lang),
        |iq AS (SELECT lang, n_tokens,
        |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
        |       FROM toks),
        |c1 AS (SELECT lang, n_tokens,
        |         CASE WHEN s0 * s0 > n_tokens THEN s0 - 1 ELSE s0 END AS s1
        |       FROM iq),
        |wq AS (SELECT lang, n_tokens,
        |         CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens THEN s1 + 1 ELSE s1 END AS w
        |       FROM c1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        |               CAST(sum(w) AS BIGINT) AS total_w FROM wq)
        |SELECT lang, n_tokens, w,
        |  CAST((10000 * n_tokens) // total AS BIGINT) AS prop_bp,
        |  CAST((10000 * w) // total_w AS BIGINT) AS temp_bp,
        |  CAST((10000 * w) // total_w - (10000 * n_tokens) // total AS BIGINT) AS uplift_bp
        |FROM wq, tot ORDER BY lang""".stripMargin,

    // ANN recall audit — mirrors Similarity.knnRecall: the brute and
    // sign-bucket top-5 sets are both replayed in full, then the
    // per-query intersection rate in exact basis points.
    "knn_recall" ->
      """WITH p1 AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
        |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |      WHERE q.vec_id < 16),
        |z1 AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
        |       FROM p1),
        |d1 AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM z1 GROUP BY ALL),
        |s1 AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM d1),
        |r1 AS (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM s1),
        |ex AS (SELECT qid, cid FROM r1 WHERE rank <= 5),
        |b AS (SELECT vec_id, embedding,
        |        CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
        |             (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
        |             (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
        |      FROM embeddings),
        |p2 AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
        |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |      WHERE q.vec_id < 16),
        |z2 AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
        |       FROM p2),
        |d2 AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM z2 GROUP BY ALL),
        |s2 AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM d2),
        |r2 AS (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM s2),
        |ap AS (SELECT qid, cid FROM r2 WHERE rank <= 5)
        |SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(count(ap.cid) AS BIGINT) AS n_hit,
        |  CAST((10000 * count(ap.cid)) // count(*) AS BIGINT) AS recall_bp
        |FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.cid = ap.cid
        |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin,

    // MMR diversified retrieval — mirrors Similarity.mmrDiversify:
    // λ=0.5 greedy selection unrolled to 5 rounds; every pick is an
    // integer argmax (mmr2 = rel_bp − max sim_bp) with cid tie-break,
    // so the unrolled CTE chain replays the greedy loop exactly.
    "mmr_diversify" -> {
      val p =
        """p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      val head =
        s"""WITH ${cosineFrom(p, "")},
           |r0 AS (SELECT qid, cid, cos,
           |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS srk FROM s),
           |cand AS (SELECT qid, cid, CAST(round(cos * 10000) AS BIGINT) AS rel_bp
           |         FROM r0 WHERE srk <= 20),
           |sp AS (SELECT a.qid, a.cid AS acid, b.cid AS bcid, ea.embedding AS ae, eb.embedding AS be
           |       FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
           |       JOIN embeddings ea ON ea.vec_id = a.cid
           |       JOIN embeddings eb ON eb.vec_id = b.cid),
           |sz AS (SELECT qid, acid, bcid,
           |         CAST(unnest(ae) AS DOUBLE) AS x, CAST(unnest(be) AS DOUBLE) AS y FROM sp),
           |sd AS (SELECT qid, acid, bcid,
           |         sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy FROM sz GROUP BY ALL),
           |sims AS (SELECT qid, acid, bcid,
           |         CAST(round(round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) * 10000) AS BIGINT) AS sim_bp
           |         FROM sd),
           |k1 AS (SELECT qid, cid, rel_bp,
           |         row_number() OVER (PARTITION BY qid ORDER BY rel_bp DESC, cid) AS pk FROM cand),
           |sel1 AS (SELECT qid, cid, rel_bp, rel_bp AS mmr2, 1 AS rank FROM k1 WHERE pk = 1)""".stripMargin
      val rounds = (2 to 5).map { r =>
        val prev = s"sel${r - 1}"
        s"""rem$r AS (SELECT c.* FROM cand c LEFT JOIN $prev v ON v.qid = c.qid AND v.cid = c.cid
           |        WHERE v.cid IS NULL),
           |m$r AS (SELECT c.qid, c.cid, c.rel_bp, max(s.sim_bp) AS ms
           |      FROM rem$r c JOIN $prev v ON v.qid = c.qid
           |      JOIN sims s ON s.qid = c.qid AND s.acid = c.cid AND s.bcid = v.cid
           |      GROUP BY ALL),
           |k$r AS (SELECT qid, cid, rel_bp, rel_bp - ms AS mmr2,
           |        row_number() OVER (PARTITION BY qid ORDER BY rel_bp - ms DESC, cid) AS pk FROM m$r),
           |sel$r AS (SELECT qid, cid, rel_bp, mmr2, $r AS rank FROM k$r WHERE pk = 1
           |        UNION ALL SELECT * FROM $prev)""".stripMargin
      }.mkString(",\n", ",\n", "")
      head + rounds +
        "\nSELECT qid, rank, cid, rel_bp, mmr2 FROM sel5 ORDER BY qid, rank"
    },

    // triplet mining — mirrors Similarity.tripletMine: rank-1 per
    // (anchor, same-label?) side, 2-row pivot, integer-bp margin
    "triplet_mine" -> {
      val p =
        """p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          |        CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS pos,
          |        q.embedding AS qe, c.embedding AS ce
          |      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          |      WHERE q.vec_id < 16)""".stripMargin
      s"""WITH ${cosineFrom(p, ", pos")},
         |r AS (SELECT qid, cid, pos, cos,
         |        row_number() OVER (PARTITION BY qid, pos ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |g AS (SELECT qid,
         |        max(CASE WHEN pos = 1 THEN cid END) AS pos_cid,
         |        max(CASE WHEN pos = 1 THEN cos END) AS pos_cos,
         |        max(CASE WHEN pos = 0 THEN cid END) AS neg_cid,
         |        max(CASE WHEN pos = 0 THEN cos END) AS neg_cos
         |      FROM r WHERE rk = 1 GROUP BY qid)
         |SELECT qid, pos_cid, pos_cos, neg_cid, neg_cos,
         |  CAST(round(pos_cos * 10000) AS BIGINT)
         |    - CAST(round(neg_cos * 10000) AS BIGINT) AS margin_bp
         |FROM g ORDER BY qid""".stripMargin
    },

    // per-domain cap — mirrors TextAnalysis.domainCap: quality_bp is
    // the quality_score formula; cap = rank<=10 per source
    "domain_cap" ->
      s"""WITH $QualityCtes,
         |k AS (SELECT d.source, qual.doc_id, qual.quality_bp,
         |        CAST(row_number() OVER (PARTITION BY d.source
         |          ORDER BY qual.quality_bp DESC, qual.doc_id) AS INT) AS rank
         |      FROM qual JOIN documents d USING (doc_id))
         |SELECT source, rank, doc_id, quality_bp FROM k WHERE rank <= 10
         |ORDER BY source, rank""".stripMargin,

    // data-constrained epoch allocator — mirrors CorpusStats.epochMix
    // (budget = 4× corpus uniform per source, R_max = 4 epochs, spill
    // reported; all-BIGINT with HUGEINT-safe casts)
    "epoch_mix" ->
      """WITH t AS (SELECT source,
        |  CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |            ELSE len(string_split(coalesce(text,''), ' ')) END AS INT) AS tc
        |  FROM documents),
        |toks AS (SELECT source, CAST(sum(tc) AS BIGINT) AS n_tokens FROM t GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        |               count(*) AS n_src FROM toks),
        |a AS (SELECT source, n_tokens,
        |        CAST((4 * total) // n_src AS BIGINT) AS alloc_tokens,
        |        CAST(least((4 * total) // n_src, 4 * n_tokens) AS BIGINT) AS used_tokens
        |      FROM toks, tot)
        |SELECT source, n_tokens, alloc_tokens,
        |  CAST((10000 * used_tokens) // n_tokens AS BIGINT) AS repeat_bp,
        |  used_tokens,
        |  CAST(alloc_tokens - used_tokens AS BIGINT) AS spill_tokens
        |FROM a ORDER BY source""".stripMargin,

    // per-lang exact decile cutpoints — mirrors
    // TextAnalysis.qualityDeciles (grouped histogram rank selection;
    // d_i = ceil(i*n/10)-th smallest n_chars; HUGEINT-safe casts)
    "quality_deciles" -> {
      val ds = (1 to 9).map(i =>
        s"min(CASE WHEN cum >= ($i * n + 9) // 10 THEN n_chars END) AS d$i")
        .mkString(",\n        |  ").stripMargin
      s"""WITH c AS (SELECT lang, n_chars, count(*) AS cc
         |           FROM documents GROUP BY lang, n_chars),
         |cum0 AS (SELECT lang, n_chars,
         |          CAST(sum(cc) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS cum
         |        FROM c),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang)
         |SELECT lang, n,
         |  $ds
         |FROM cum0 JOIN tot USING (lang)
         |GROUP BY lang, n ORDER BY lang""".stripMargin
    },

    // vocab-coverage audit — mirrors CorpusStats.oovRate: top-256
    // corpus vocabulary cut on the total order (count DESC, word ASC),
    // per-language OOV share in exact basis points.
    "oov_rate" ->
      """WITH t AS (SELECT lang, unnest(string_split(coalesce(text,''), ' ')) AS word
        |           FROM documents),
        |toks AS (SELECT lang, word FROM t WHERE length(word) > 0),
        |cnt AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
        |vocab AS (SELECT word FROM cnt ORDER BY n DESC, word LIMIT 256)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST((10000 * sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS oov_bp
        |FROM toks LEFT JOIN vocab v ON toks.word = v.word
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Phrase search — mirrors TfIdf.phraseSearch: phrase == 3-shingle,
    // so the oracle rides the shared Shingle3Cte. The absent fourth
    // phrase must contribute zero rows.
    "phrase_search" ->
      s"""WITH $Shingle3Cte,
         |p AS (SELECT unnest(['big order scan', 'group slow spark',
         |                     'small part order', 'spark spark spark'])
         |        AS phrase),
         |m AS (SELECT phrase, doc_id, count(*) AS n_hits
         |      FROM shingles s JOIN p ON s.shingle = p.phrase
         |      GROUP BY ALL),
         |r AS (SELECT phrase, doc_id, n_hits,
         |        CAST(row_number() OVER (PARTITION BY phrase
         |          ORDER BY n_hits DESC, doc_id) AS INT) AS rank
         |      FROM m)
         |SELECT phrase, rank, doc_id, CAST(n_hits AS BIGINT) AS n_hits
         |FROM r WHERE rank <= 5
         |ORDER BY phrase, rank""".stripMargin,

    // Bag-of-words dedup — mirrors Dedup.bagDedup. md5 is the shared
    // engine-exact hash family; list_sort/array_sort both order strings
    // by binary collation.
    "bag_dedup" ->
      """WITH f AS (SELECT doc_id,
        |             md5(array_to_string(list_sort(
        |               list_filter(string_split(coalesce(text, ''), ' '),
        |                           w -> length(w) > 0)), ' ')) AS bag_fp
        |           FROM documents),
        |g AS (SELECT bag_fp, CAST(count(*) AS BIGINT) AS n_docs,
        |             min(doc_id) AS canonical
        |      FROM f GROUP BY bag_fp)
        |SELECT f.doc_id, f.bag_fp, g.n_docs, g.canonical,
        |       f.doc_id = g.canonical AS is_canonical
        |FROM f JOIN g USING (bag_fp)
        |ORDER BY f.doc_id""".stripMargin,

    // Frame sampling — mirrors Multimodal.frameSampleQuery. The corpus
    // payload is ASCII text encoded to bytes, so char slicing == byte
    // slicing and substr+md5 reproduces each frame digest.
    "frame_sample" ->
      """WITH a AS (SELECT doc_id AS asset_id, coalesce(text, '') AS t,
        |             length(coalesce(text, '')) AS len
        |           FROM documents),
        |s AS (SELECT asset_id, t, len, greatest(len // 4, 1) AS step FROM a),
        |f AS (SELECT asset_id, CAST(i AS INT) AS frame_idx,
        |             CAST(i * step AS INT) AS frame_off, step, len, t
        |      FROM s, range(4) r(i) WHERE i * step < len)
        |SELECT asset_id, frame_idx, frame_off,
        |       CAST(least(step, len - frame_off) AS INT) AS frame_len,
        |       md5(substr(t, frame_off + 1, CAST(step AS INT))) AS frame_md5
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin,

    // Record linkage — mirrors TfIdf.recordLinkage. levenshtein is
    // engine-shared (edit_distance precedent); the blocking key and
    // perturbation use identical length-anchored substr formulas.
    "record_linkage" ->
      """WITH clean AS (SELECT c_custkey AS ck, c_name AS cname,
        |                 substr(c_name, length(c_name) - 2, 3) AS blk
        |               FROM customer),
        |dirty AS (SELECT c_custkey AS dk,
        |                 concat(substr(c_name, 1, 3), substr(c_name, 5, 100))
        |                   AS dname,
        |                 substr(c_name, length(c_name) - 2, 3) AS blk
        |          FROM customer WHERE c_custkey % 3 = 0),
        |m AS (SELECT dk, ck,
        |        CAST(levenshtein(dname, cname) AS INT) AS dist
        |      FROM dirty JOIN clean USING (blk)
        |      WHERE levenshtein(dname, cname) <= 2),
        |r AS (SELECT dk, ck, dist,
        |        row_number() OVER (PARTITION BY dk ORDER BY dist, ck) AS rk
        |      FROM m)
        |SELECT dk, ck AS matched, dist, dk = ck AS correct
        |FROM r WHERE rk = 1 ORDER BY dk""".stripMargin,

    // LSH s-curve audit — mirrors Dedup.lshQuality. Rides the SHARED
    // full-corpus banding CTEs, so the audited pairing is
    // definitionally the verified minhash_lsh pairing. The pair frame
    // = block intersecting pairs (low-Jaccard mass) ∪ corpus-wide
    // candidates with verify Jaccard (high mass; neardup_pipeline's
    // exact construction).
    "lsh_quality" ->
      s"""WITH $LshPairCtes,
         |dshB AS (SELECT DISTINCT doc_id, shingle FROM shingles
         |         WHERE doc_id < 64),
         |sizesB AS (SELECT doc_id, count(*) AS n_sh FROM dshB GROUP BY doc_id),
         |interB AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS n_common
         |           FROM dshB a JOIN dshB b
         |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY ALL),
         |truthB AS (SELECT doc_a, doc_b,
         |             (10000 * n_common) // (sa.n_sh + sb.n_sh - n_common)
         |               AS jaccard_bp
         |           FROM interB JOIN sizesB sa ON doc_a = sa.doc_id
         |                       JOIN sizesB sb ON doc_b = sb.doc_id),
         |dshA AS (SELECT DISTINCT doc_id, shingle FROM shingles),
         |sizesA AS (SELECT doc_id, count(*) AS n_sh FROM dshA GROUP BY doc_id),
         |interC AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |           FROM lshpairs c JOIN dshA a ON a.doc_id = c.doc_a
         |             JOIN dshA b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |           GROUP BY c.doc_a, c.doc_b),
         |truthC AS (SELECT c.doc_a, c.doc_b,
         |             (10000 * coalesce(i.n_common, 0)) //
         |               (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0))
         |               AS jaccard_bp
         |           FROM lshpairs c
         |             LEFT JOIN interC i
         |               ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
         |             JOIN sizesA sa ON c.doc_a = sa.doc_id
         |             JOIN sizesA sb ON c.doc_b = sb.doc_id),
         |truth AS (SELECT DISTINCT doc_a, doc_b, jaccard_bp FROM
         |          (SELECT * FROM truthB UNION ALL SELECT * FROM truthC)),
         |cd AS (SELECT doc_a, doc_b, 1 AS is_cand FROM lshpairs),
         |j AS (SELECT t.doc_a, t.doc_b, t.jaccard_bp // 1000 AS bucket,
         |             coalesce(cd.is_cand, 0) AS is_cand
         |      FROM truth t LEFT JOIN cd USING (doc_a, doc_b))
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(is_cand) AS BIGINT) AS n_cands,
         |       CAST((10000 * sum(is_cand)) // count(*) AS BIGINT)
         |         AS cand_rate_bp
         |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Attribution — mirrors Events.attribution: conditional aggregates
    // over the user-keyed running frame (no IGNORE NULLS dialects).
    "attribution" ->
      """WITH a AS (SELECT event_id, user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us,
        |             min(CASE WHEN event_type = 'click'
        |                      THEN CAST(epoch_us(ts) AS BIGINT) END)
        |               OVER w AS first_touch_us,
        |             max(CASE WHEN event_type = 'click'
        |                      THEN CAST(epoch_us(ts) AS BIGINT) END)
        |               OVER w AS last_touch_us,
        |             count(CASE WHEN event_type = 'click' THEN 1 END)
        |               OVER w AS n_touches
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, us AS purchase_us,
        |       first_touch_us, last_touch_us,
        |       CAST(n_touches AS BIGINT) AS n_touches
        |FROM a WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // Event debounce dedup — mirrors Events.eventDedup.
    "event_dedup" ->
      """WITH x AS (SELECT event_id, user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1)
        |               OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev_us
        |           FROM events)
        |SELECT event_id, user_id, event_type, us
        |FROM x WHERE prev_us IS NULL OR us - prev_us > 600000000
        |ORDER BY event_id""".stripMargin,

    // Character entropy — the count/sum/charset fragments are generated
    // by TextAnalysis (entropyCountSql/entropySumSql/charsetSizeSql);
    // Spark runs the char_entropy_sum/charset_size kernels instead, and
    // CharEntropyKernelSpec checks them against these fragments.
    "char_entropy" -> {
      val cnts = graft.etl.TextAnalysis.EntropyCharSet.indices
        .map(i => s"${graft.etl.TextAnalysis.entropyCountSql(i)} AS c_$i")
        .mkString(", ")
      s"""WITH b0 AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
         |b1 AS (SELECT doc_id, t, length(t) AS len FROM b0
         |       WHERE length(t) > 0),
         |b AS (SELECT doc_id, len, $cnts FROM b1)
         |SELECT doc_id, CAST(len AS INT) AS len,
         |       CAST(${graft.etl.TextAnalysis.charsetSizeSql} AS INT)
         |         AS n_charset,
         |       round(${graft.etl.TextAnalysis.entropySumSql}, 4) AS entropy
         |FROM b ORDER BY doc_id""".stripMargin
    },

    // BPE round-trip — mirrors CorpusStats.bpeRoundtrip: decode∘encode
    // is the identity (sentinels are non-corpus chars), so the oracle
    // is just the filtered words re-joined. ok is structurally true.
    "bpe_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(string_split(coalesce(text, ''), ' '),
        |                              w -> length(w) > 0), ' ')
        |    AS decoded_text,
        |  true AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Prefix autocomplete — mirrors CorpusStats.prefixTopk.
    "prefix_topk" ->
      s"""WITH $WordsCte,
         |wf AS (SELECT word, count(*) AS freq FROM words
         |       GROUP BY word HAVING length(word) >= 2),
         |p AS (SELECT substr(word, 1, 2) AS prefix, word, freq,
         |        CAST(row_number() OVER (PARTITION BY substr(word, 1, 2)
         |          ORDER BY freq DESC, word) AS INT) AS rank
         |      FROM wf)
         |SELECT prefix, rank, word, CAST(freq AS BIGINT) AS freq
         |FROM p WHERE rank <= 3
         |ORDER BY prefix, rank""".stripMargin,

    // Join-key skew audit — mirrors Skew.joinSkewReport.
    "join_skew_report" ->
      """WITH a AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
        |b AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        |c AS (SELECT CASE WHEN l_orderkey % 2 = 0
        |                  THEN 'hot_' || (l_orderkey % 8)
        |                  ELSE 'cold_' || l_orderkey || '_' || l_linenumber
        |             END AS k
        |      FROM lineitem),
        |s AS (
        |  SELECT 'lineitem.l_orderkey' AS join_key, k FROM a
        |  UNION ALL SELECT 'orders.o_custkey', k FROM b
        |  UNION ALL SELECT 'derived.hot_tail', k FROM c),
        |g AS (SELECT join_key, k, count(*) AS cnt FROM s GROUP BY ALL)
        |SELECT join_key,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(max(cnt) AS BIGINT) AS max_key_rows,
        |       CAST((10000 * max(cnt) * count(*)) // sum(cnt) AS BIGINT)
        |         AS skew_bp
        |FROM g GROUP BY join_key ORDER BY join_key""".stripMargin,

    // Skyline / Pareto front — the oracle states dominance directly
    // (NOT EXISTS over distinct pairs); the Spark side must reach the
    // same set via its banded prefix-max decomposition.
    "skyline_parts" ->
      """WITH p AS (SELECT CAST(round(p_retailprice * 100, 0) AS BIGINT)
        |             AS price_c, p_size
        |           FROM part),
        |g AS (SELECT price_c, p_size, CAST(count(*) AS BIGINT) AS n_parts
        |      FROM p GROUP BY ALL)
        |SELECT a.price_c, a.p_size AS size, a.n_parts
        |FROM g a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM g b
        |  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))
        |ORDER BY a.price_c""".stripMargin,

    // ---- round-9 corpus-composition audit wave ----

    // Zipf head concentration per lang — mirrors CorpusStats
    // .tokenHeadShare (top-100 by count desc, word asc; binary string
    // order in both engines)
    "token_head_share" ->
      """WITH t0 AS (SELECT lang,
        |              unnest(string_split(coalesce(text,''), ' ')) AS word
        |            FROM documents),
        |t AS (SELECT * FROM t0 WHERE length(word) > 0),
        |c AS (SELECT lang, word, count(*) AS n FROM t GROUP BY lang, word),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY n DESC, word) AS rn FROM c),
        |h AS (SELECT lang, sum(n) AS head_occ, count(*) AS n_head
        |      FROM r WHERE rn <= 100 GROUP BY lang),
        |tot AS (SELECT lang, sum(n) AS total_occ, count(*) AS n_types
        |        FROM c GROUP BY lang)
        |SELECT tot.lang, CAST(n_types AS BIGINT) AS n_types,
        |  CAST(total_occ AS BIGINT) AS total_occ,
        |  CAST(n_head AS BIGINT) AS n_head,
        |  CAST(head_occ AS BIGINT) AS head_occ,
        |  CAST((10000 * head_occ) // total_occ AS BIGINT) AS head_share_bp
        |FROM tot JOIN h USING (lang) ORDER BY tot.lang""".stripMargin,

    // ingest-order novelty — mirrors CorpusStats.ingestNovelty (8-gram
    // positions whose gram's min owner is this doc; same gram CTE as
    // substring_dedup)
    "ingest_novelty" ->
      s"""WITH $WordsCte,
         |$Gram8DigestCtes,
         |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
         |nov AS (SELECT g.doc_id, count(*) AS nn
         |        FROM g JOIN f ON g.gram = f.gram AND g.doc_id = f.first_doc
         |        GROUP BY g.doc_id)
         |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
         |  CAST(coalesce(v.nn, 0) AS BIGINT) AS n_novel,
         |  CAST((10000 * coalesce(v.nn, 0)) // t.n_grams AS BIGINT) AS novel_bp
         |FROM tot t LEFT JOIN nov v USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // cross-language 3-shingle contamination — mirrors CorpusStats
    // .crosslangOverlap (distinct (lang, shingle) pairs, lang_a < lang_b)
    "crosslang_overlap" ->
      """WITH w0 AS (SELECT doc_id, lang,
        |              unnest(string_split(coalesce(text,''), ' ')) AS word,
        |              generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos
        |            FROM documents),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |sh0 AS (SELECT doc_id, lang, pos, word,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM words),
        |sl AS (SELECT DISTINCT lang, word || ' ' || w1 || ' ' || w2 AS shingle
        |       FROM sh0 WHERE w2 IS NOT NULL),
        |sz AS (SELECT lang, count(*) AS n_sh FROM sl GROUP BY lang),
        |sh AS (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
        |       FROM sl a JOIN sl b ON a.shingle = b.shingle AND a.lang < b.lang
        |       GROUP BY a.lang, b.lang)
        |SELECT lang_a, lang_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
        |  CAST((10000 * n_shared) // least(za.n_sh, zb.n_sh) AS BIGINT) AS overlap_bp
        |FROM sh JOIN sz za ON lang_a = za.lang JOIN sz zb ON lang_b = zb.lang
        |ORDER BY lang_a, lang_b""".stripMargin,

    // ---- round-9 mix-construction wave ----

    // deterministic stratified sample — mirrors CorpusStats
    // .stratifiedSample (md5(doc_id) pick order, integer allocation,
    // floor 1 per stratum)
    "budget_sample" ->
      """WITH d AS (SELECT doc_id, lang,
        |             md5(CAST(doc_id AS VARCHAR)) AS pick_key
        |           FROM documents),
        |s AS (SELECT lang, count(*) AS n_lang FROM d GROUP BY lang),
        |t AS (SELECT sum(n_lang) AS n_total FROM s),
        |a AS (SELECT lang, greatest(1, (100 * n_lang) // n_total) AS n_alloc
        |      FROM s, t),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY pick_key, doc_id) AS rn
        |      FROM d)
        |SELECT r.lang, CAST(rn AS INT) AS rn, doc_id,
        |  CAST(n_alloc AS BIGINT) AS n_alloc
        |FROM r JOIN a ON r.lang = a.lang
        |WHERE rn <= n_alloc
        |ORDER BY r.lang, rn""".stripMargin,

    // Herfindahl source concentration — mirrors CorpusStats
    // .hhiConcentration (shares in integer bp, summed squares)
    "hhi_concentration" ->
      """WITH c AS (SELECT lang, source, count(*) AS n_cell
        |           FROM documents GROUP BY lang, source),
        |w AS (SELECT *, sum(n_cell) OVER (PARTITION BY lang) AS n_docs FROM c),
        |b AS (SELECT *, (10000 * n_cell) // n_docs AS share_bp FROM w)
        |SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(share_bp * share_bp) AS BIGINT) AS hhi
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin,

    // winsorized aggregates — mirrors Events.winsorizeValues (exact
    // histogram-rank P1/P99 clamp, integer-cents sums and mean)
    "winsorize_values" ->
      """WITH h AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |             count(*) AS cnt
        |           FROM events GROUP BY event_type, cents),
        |c AS (SELECT *,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM h),
        |b AS (SELECT *, cum - cnt AS cum_before FROM c),
        |p AS (SELECT event_type,
        |        max(CASE WHEN (n * 1 + 99) // 100 > cum_before
        |                  AND (n * 1 + 99) // 100 <= cum THEN cents END) AS p1,
        |        max(CASE WHEN (n * 99 + 99) // 100 > cum_before
        |                  AND (n * 99 + 99) // 100 <= cum THEN cents END) AS p99
        |      FROM b GROUP BY event_type),
        |v AS (SELECT e.event_type,
        |        CAST(round(e.value * 100, 0) AS BIGINT) AS cents, p.p1, p.p99
        |      FROM events e JOIN p ON e.event_type = p.event_type)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN cents < p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
        |  CAST(sum(CASE WHEN cents > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
        |  CAST(max(p1) AS BIGINT) AS p1_c, CAST(max(p99) AS BIGINT) AS p99_c,
        |  CAST(sum(greatest(p1, least(p99, cents))) // count(*) AS BIGINT) AS wmean_c
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,

    // ---- round-9 graph-curation wave ----
    // mutual-kNN graph — mirrors GraphCuration.knnGraph (sign-bucket
    // blocked top-5 lists, symmetrized by reciprocal membership)
    "knn_graph" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn),
          |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |k AS (SELECT qid, cid, cos FROM r WHERE rk <= 5)
         |SELECT a.qid AS src, a.cid AS dst, a.cos
         |FROM k a JOIN k m ON a.qid = m.cid AND a.cid = m.qid
         |WHERE a.qid < a.cid ORDER BY src, dst""".stripMargin
    },

    // label propagation over the mutual-kNN graph — mirrors
    // GraphCuration.labelProp (clamped seeds, 2 unrolled majority
    // rounds, ties count desc then label asc)
    "label_prop" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn),
          |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |k AS (SELECT qid, cid FROM r WHERE rk <= 5),
         |eg AS (SELECT a.qid AS src, a.cid AS dst
         |       FROM k a JOIN k m ON a.qid = m.cid AND a.cid = m.qid
         |       WHERE a.qid < a.cid),
         |adj AS (SELECT src AS node, dst AS nbr FROM eg
         |        UNION ALL SELECT dst AS node, src AS nbr FROM eg),
         |seeds AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lp_label,
         |            0 AS lp_round
         |          FROM embeddings WHERE vec_id % 4 = 0),
         |v1 AS (SELECT adj.node, s.lp_label, count(*) AS n
         |       FROM adj JOIN seeds s ON adj.nbr = s.node
         |       WHERE adj.node NOT IN (SELECT node FROM seeds)
         |       GROUP BY adj.node, s.lp_label),
         |w1 AS (SELECT node, lp_label,
         |         row_number() OVER (PARTITION BY node ORDER BY n DESC, lp_label) AS rk
         |       FROM v1),
         |l1 AS (SELECT node, lp_label, lp_round FROM seeds
         |       UNION ALL
         |       SELECT node, lp_label, 1 AS lp_round FROM w1 WHERE rk = 1),
         |v2 AS (SELECT adj.node, l.lp_label, count(*) AS n
         |       FROM adj JOIN l1 l ON adj.nbr = l.node
         |       WHERE adj.node NOT IN (SELECT node FROM l1)
         |       GROUP BY adj.node, l.lp_label),
         |w2 AS (SELECT node, lp_label,
         |         row_number() OVER (PARTITION BY node ORDER BY n DESC, lp_label) AS rk
         |       FROM v2),
         |l2 AS (SELECT node, lp_label, lp_round FROM l1
         |       UNION ALL
         |       SELECT node, lp_label, 2 AS lp_round FROM w2 WHERE rk = 1)
         |SELECT node AS vec_id, lp_round, lp_label FROM l2 ORDER BY vec_id""".stripMargin
    },

    // 3-core PEEL FIXPOINT — mirrors GraphCuration.kcore (round 17):
    // the Spark loop peels until stable (round count published via
    // Fixpoint.lastRounds); the oracle unrolls KcoreMaxRounds peels,
    // which are identities past convergence — and if the cap ever
    // bit, both engines would have done exactly cap rounds, so the
    // surfaces agree either way. Every u_r is AS MATERIALIZED: each
    // level references its predecessor 3× (degree union ×2 + the
    // restrict), so DuckDB's CTE inlining would otherwise re-evaluate
    // the prefix 3^R times (the quality_train unroll lesson).
    "kcore" -> {
      val R = graft.etl.GraphCuration.KcoreMaxRounds
      val rounds = (1 to R).map { r =>
        val p = s"u${r - 1}"
        s"""d$r AS (SELECT node, count(*) AS deg FROM
           |         (SELECT a AS node FROM $p UNION ALL SELECT b AS node FROM $p)
           |       GROUP BY node),
           |k$r AS (SELECT node FROM d$r WHERE deg >= 3),
           |u$r AS MATERIALIZED (SELECT a, b FROM $p
           |       WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e0 AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                       CAST(o_orderkey % c AS BIGINT) AS dst
        |       FROM orders, cnt),
        |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM e0 WHERE src <> dst),
        |$rounds
        |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS node FROM u$R UNION ALL SELECT b AS node FROM u$R)
        |GROUP BY node ORDER BY node""".stripMargin
    },

    // ---- round-9 boilerplate wave ----
    // per-source template-gram profile — mirrors Boilerplate
    // .boilerplateNgrams (5-grams, threshold 10·df >= 3·n_docs)
    "boilerplate_ngrams" ->
      (Gram5SrcCte + """,
        |df AS (SELECT source, gram, count(DISTINCT doc_id) AS df, count(*) AS occ
        |       FROM grams5 GROUP BY source, gram),
        |sd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |j AS (SELECT d.source, d.df, d.occ, s.n_docs,
        |        CASE WHEN 10 * d.df >= 3 * s.n_docs THEN 1 ELSE 0 END AS is_boiler
        |      FROM df d JOIN sd s ON d.source = s.source)
        |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(is_boiler) AS BIGINT) AS n_boiler,
        |  CAST(sum(occ) AS BIGINT) AS n_occ,
        |  CAST((10000 * sum(CASE WHEN is_boiler = 1 THEN occ ELSE 0 END)) // sum(occ)
        |    AS BIGINT) AS boiler_occ_bp
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    // per-doc strip-mass audit — mirrors Boilerplate.boilerplateStrip
    "boilerplate_strip" ->
      (Gram5SrcCte + """,
        |df AS (SELECT source, gram, count(DISTINCT doc_id) AS df
        |       FROM grams5 GROUP BY source, gram),
        |sd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |b AS (SELECT d.source, d.gram FROM df d JOIN sd s ON d.source = s.source
        |      WHERE 10 * d.df >= 3 * s.n_docs),
        |pos AS (SELECT g.doc_id, count(*) AS n_pos,
        |         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler_pos
        |       FROM grams5 g LEFT JOIN b
        |         ON g.source = b.source AND g.gram = b.gram
        |       GROUP BY g.doc_id)
        |SELECT doc_id, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_boiler_pos AS BIGINT) AS n_boiler_pos,
        |  CAST((10000 * n_boiler_pos) // n_pos AS BIGINT) AS boiler_bp
        |FROM pos ORDER BY doc_id""".stripMargin),

    // ---- round-9 eval/drift wave ----
    // BM25 MRR / P@5 — mirrors TfIdf.mrrEval (same Okapi formula and
    // operation order as bm25_topk, corpus-wide, fixed query terms,
    // relevance proxy tf >= 3)
    "mrr_eval" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark','window','hash','merge','scan','batch','vector','filter')
        |       GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25,
        |         CASE WHEN t.tf >= 3 THEN 1 ELSE 0 END AS rel
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY word
        |        ORDER BY bm25 DESC, doc_id) AS INT) AS rk FROM sc),
        |t10 AS (SELECT * FROM r WHERE rk <= 10),
        |m AS (SELECT word, count(*) AS n_ranked,
        |        coalesce(min(CASE WHEN rel = 1 THEN rk END), 0) AS first_rank,
        |        sum(CASE WHEN rk <= 5 THEN rel ELSE 0 END) AS rel5
        |      FROM t10 GROUP BY word)
        |SELECT word, CAST(n_ranked AS BIGINT) AS n_ranked,
        |  CAST(first_rank AS INT) AS first_rank,
        |  CAST(CASE WHEN first_rank > 0 THEN 10000 // first_rank ELSE 0 END AS BIGINT) AS rr_bp,
        |  CAST(rel5 AS BIGINT) AS rel5,
        |  CAST((10000 * rel5) // 5 AS BIGINT) AS p5_bp
        |FROM m ORDER BY word""".stripMargin,

    // MAP — mirrors TfIdf.apEval: mrr_eval's BM25 ranking and tf>=3
    // truth, AP@10 with the 2520 = LCM(1..10) exact-precision trick,
    // R = all relevant docs for the term.
    "ap_eval" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark','window','hash','merge','scan','batch','vector','filter')
        |       GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25,
        |         CASE WHEN t.tf >= 3 THEN 1 ELSE 0 END AS rel
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY word
        |        ORDER BY bm25 DESC, doc_id) AS INT) AS rk FROM sc),
        |t10 AS (SELECT * FROM r WHERE rk <= 10),
        |cum AS (SELECT word, rk, rel,
        |          sum(rel) OVER (PARTITION BY word ORDER BY rk
        |            ROWS UNBOUNDED PRECEDING) AS hits
        |        FROM t10),
        |pr AS (SELECT word, rel,
        |         CASE WHEN rel = 1 THEN (2520 * hits) // rk ELSE 0 END AS prec_x2520
        |       FROM cum),
        |ag AS (SELECT word, sum(prec_x2520) AS sum_prec_x2520,
        |         sum(rel) AS rel10 FROM pr GROUP BY word),
        |rt AS (SELECT word, sum(rel) AS n_rel FROM sc GROUP BY word)
        |SELECT word, CAST(n_rel AS BIGINT) AS n_rel,
        |  CAST(rel10 AS BIGINT) AS rel10,
        |  CAST(sum_prec_x2520 AS BIGINT) AS sum_prec_x2520,
        |  CAST(CASE WHEN n_rel = 0 THEN 0
        |    ELSE (10000 * sum_prec_x2520) // (2520 * n_rel) END AS BIGINT) AS ap_bp
        |FROM ag JOIN rt USING (word) ORDER BY word""".stripMargin,

    // per-lang KS drift — mirrors CorpusStats.ksDrift (exact integer
    // CDFs over the bounded (lang, n_chars) histogram grid)
    "ks_drift" ->
      """WITH d AS (SELECT lang, n_chars AS v FROM documents),
        |hist AS (SELECT lang, v, count(*) AS cnt FROM d GROUP BY lang, v),
        |grid AS (SELECT l.lang, va.v
        |         FROM (SELECT DISTINCT lang FROM d) l,
        |              (SELECT DISTINCT v FROM d) va),
        |totv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS tot_v FROM hist GROUP BY v),
        |j AS (SELECT g.lang, g.v, CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt, t.tot_v
        |      FROM grid g LEFT JOIN hist h ON g.lang = h.lang AND g.v = h.v
        |      JOIN totv t ON g.v = t.v),
        |cum AS (SELECT lang, v,
        |          CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_in,
        |          CAST(sum(tot_v - cnt) OVER (PARTITION BY lang ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rest
        |        FROM j),
        |bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_in FROM d GROUP BY lang),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d)
        |SELECT c.lang, CAST(max(b.n_in) AS BIGINT) AS n_in,
        |  CAST(max(t.n_all - b.n_in) AS BIGINT) AS n_rest,
        |  CAST(max(abs((10000 * c.cum_in) // b.n_in -
        |               (10000 * c.cum_rest) // (t.n_all - b.n_in))) AS BIGINT) AS ks_bp
        |FROM cum c JOIN bl b ON c.lang = b.lang, tot t
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,

    // asymmetric containment — mirrors Dedup.containmentDedup (same
    // shingle-intersect skeleton as ngram_jaccard, both directions)
    "containment_dedup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 64),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word,
        |         generate_subscripts(string_split(coalesce(text,''), ' '), 1) AS pos FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |sh0 AS (SELECT doc_id, pos, word,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM words),
        |shingles AS (SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
        |             FROM sh0 WHERE w2 IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |          FROM shingles a JOIN shingles b
        |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |c AS (SELECT doc_a, doc_b, n_common,
        |        (10000 * n_common) // sa.n_sh AS cont_a_bp,
        |        (10000 * n_common) // sb.n_sh AS cont_b_bp
        |      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |                 JOIN sizes sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(cont_a_bp AS BIGINT) AS cont_a_bp,
        |  CAST(cont_b_bp AS BIGINT) AS cont_b_bp
        |FROM c WHERE cont_a_bp >= 500 OR cont_b_bp >= 500
        |ORDER BY doc_a, doc_b""".stripMargin,

    // chi-square independence — mirrors CorpusStats.chi2Independence
    // (exact integer centi-unit cell contributions)
    "chi2_independence" ->
      """WITH d AS (SELECT lang, least(n_chars // 100, 5) AS bucket FROM documents),
        |cells AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS obs
        |          FROM d GROUP BY lang, bucket),
        |rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS rt FROM d GROUP BY lang),
        |ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM d GROUP BY bucket),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        |SELECT c.lang, c.bucket, c.obs,
        |  CAST((100 * r.rt * t.ct) // n AS BIGINT) AS exp_c,
        |  CAST((100 * (n * c.obs - r.rt * t.ct) * (n * c.obs - r.rt * t.ct))
        |    // (n * r.rt * t.ct) AS BIGINT) AS chi2_c
        |FROM cells c JOIN rt r ON c.lang = r.lang
        |     JOIN ct t ON c.bucket = t.bucket, nn
        |ORDER BY c.lang, c.bucket""".stripMargin,

    // pairwise Cohen's kappa between quality gates — mirrors
    // TextAnalysis.filterKappa (single-pass counters, offset-div so
    // truncating and flooring integer division agree; denom-0 => 10000)
    "filter_kappa" ->
      s"""WITH w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word
        |            FROM documents),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |base AS (SELECT doc_id, count(*) AS n_words, sum(length(word)) AS sum_len
        |         FROM words GROUP BY doc_id),
        |$QualityCtes,
        |g AS (SELECT qual.doc_id,
        |        coalesce(b.n_words, 0) >= 50 AS g_words,
        |        coalesce(b.n_words, 0) > 0 AND
        |          coalesce(b.sum_len, 0) >= coalesce(b.n_words, 0) * 3 AND
        |          coalesce(b.sum_len, 0) <= coalesce(b.n_words, 0) * 10 AS g_meanlen,
        |        qual.quality_bp >= 5000 AS g_quality
        |      FROM qual LEFT JOIN base b ON qual.doc_id = b.doc_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN g_words THEN 1 ELSE 0 END) AS BIGINT) AS w1,
        |        CAST(sum(CASE WHEN g_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |        CAST(sum(CASE WHEN g_quality THEN 1 ELSE 0 END) AS BIGINT) AS q1,
        |        CAST(sum(CASE WHEN g_meanlen = g_quality THEN 1 ELSE 0 END) AS BIGINT) AS agree_mq,
        |        CAST(sum(CASE WHEN g_meanlen = g_words THEN 1 ELSE 0 END) AS BIGINT) AS agree_mw,
        |        CAST(sum(CASE WHEN g_quality = g_words THEN 1 ELSE 0 END) AS BIGINT) AS agree_qw
        |      FROM g),
        |p AS (SELECT 'g_meanlen' AS gate_a, 'g_quality' AS gate_b,
        |        agree_mq AS n_agree, m1 AS n_a1, q1 AS n_b1, n FROM a
        |      UNION ALL
        |      SELECT 'g_meanlen', 'g_words', agree_mw, m1, w1, n FROM a
        |      UNION ALL
        |      SELECT 'g_quality', 'g_words', agree_qw, q1, w1, n FROM a),
        |k AS (SELECT *, n_a1 * n_b1 + (n - n_a1) * (n - n_b1) AS s FROM p)
        |SELECT gate_a, gate_b, n, n_agree, n_a1, n_b1,
        |  CAST((10000 * n_agree) // n AS BIGINT) AS po_bp,
        |  CAST(CASE WHEN n * n - s = 0 THEN 10000
        |    ELSE (10000 * (n * n_agree - s + (n * n - s))) // (n * n - s) - 10000
        |    END AS BIGINT) AS kappa_bp
        |FROM k ORDER BY gate_a, gate_b""".stripMargin,

    // quality-threshold retention sweep — mirrors TextAnalysis
    // .qualitySweep (grid-broadcast scan, dedup_sweep's twin)
    "quality_sweep" ->
      s"""WITH $QualityCtes,
        |grid AS (SELECT CAST(unnest([0,1000,2000,3000,4000,5000,6000,7000,8000,9000]) AS BIGINT) AS threshold),
        |keep AS (SELECT g.threshold, CAST(count(*) AS BIGINT) AS n_keep,
        |           CAST(sum(qual.tokens) AS BIGINT) AS tok_keep
        |         FROM qual JOIN grid g ON qual.quality_bp >= g.threshold
        |         GROUP BY g.threshold),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |          CAST(sum(tokens) AS BIGINT) AS tok_all FROM qual)
        |SELECT threshold, n_keep,
        |  CAST((10000 * n_keep) // n_all AS BIGINT) AS keep_bp,
        |  tok_keep,
        |  CAST((10000 * tok_keep) // tok_all AS BIGINT) AS tok_keep_bp
        |FROM keep, tot ORDER BY threshold""".stripMargin,

    // in-engine classifier training — mirrors QualityTrain.qualityTrain:
    // quantized multinomial-NB warm start + unrolled integer perceptron
    // refinement, pocket-selected on the valid split; the chain is
    // generated from the same constants the Spark loop reads
    "quality_train" ->
      s"""WITH $WordsCte,
         |$GopherCtes,
         |$QualityTrainCtes
         |SELECT b AS bucket, w AS weight
         |FROM qchosen ORDER BY bucket""".stripMargin,

    // the pocket's measured trajectory — mirrors
    // QualityTrain.qualityTrainCurve: per candidate round, train and
    // valid mistake counts
    "quality_train_curve" -> {
      val R = graft.etl.QualityTrain.Rounds
      val tmists = (0 to R).map { r =>
        s"""qt$r AS (SELECT CAST($r AS BIGINT) AS round, count(*) FILTER (
           |        WHERE y * score <= 0) AS tm FROM (
           |        SELECT t.doc_id, t.y, sum(qw$r.w * t.cnt) AS score
           |        FROM tr t JOIN qw$r ON t.b = qw$r.b GROUP BY t.doc_id, t.y))""".stripMargin
      }.mkString(",\n")
      s"""WITH $WordsCte,
         |$GopherCtes,
         |$QualityTrainCtes,
         |$tmists,
         |tall AS (${(0 to R).map(r => s"SELECT round, tm FROM qt$r").mkString(" UNION ALL ")}),
         |vall AS (${(0 to R).map(r => s"SELECT round, vm FROM qv$r").mkString(" UNION ALL ")})
         |SELECT t.round, CAST(t.tm AS BIGINT) AS train_mistakes,
         |  CAST(v.vm AS BIGINT) AS valid_mistakes
         |FROM tall t JOIN vall v USING (round) ORDER BY t.round""".stripMargin
    },

    // held-out confusion row — mirrors QualityTrain.qualityTrainEval
    // (train bucket < 80, pocket on 80-89, report on >= 90)
    "quality_train_eval" ->
      s"""WITH $WordsCte,
         |$GopherCtes,
         |$QualityTrainCtes,
         |ho AS (SELECT l.doc_id, l.y FROM lbl l JOIN spl USING (doc_id)
         |       WHERE spl.sbucket >= 90),
         |hs AS (SELECT h.doc_id, h.y,
         |         CAST(coalesce(sum(wn.w * f.cnt), 0) AS BIGINT) AS score
         |       FROM ho h LEFT JOIN ft f USING (doc_id)
         |            LEFT JOIN qchosen wn ON f.b = wn.b
         |       GROUP BY h.doc_id, h.y),
         |cf AS (SELECT CAST(count(*) AS BIGINT) AS n_heldout,
         |         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_truth_pass,
         |         CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pass,
         |         CAST(sum(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
         |         CAST(sum(CASE WHEN y = -1 AND score <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tn
         |       FROM hs)
         |SELECT (SELECT round FROM qpick) AS chosen_round,
         |  n_heldout, n_truth_pass, n_pred_pass, n_tp, n_tn,
         |  CAST(CASE WHEN n_heldout = 0 THEN 0
         |       ELSE (10000 * (n_tp + n_tn)) // n_heldout END AS BIGINT) AS accuracy_bp,
         |  CAST(CASE WHEN n_pred_pass = 0 THEN 0
         |       ELSE (10000 * n_tp) // n_pred_pass END AS BIGINT) AS precision_bp,
         |  CAST(CASE WHEN n_truth_pass = 0 THEN 0
         |       ELSE (10000 * n_tp) // n_truth_pass END AS BIGINT) AS recall_bp
         |FROM cf""".stripMargin,

    // CUSUM change-point — mirrors Events.cusumChangepoint (integer
    // m·S_k statistic over the per-type hourly series)
    "cusum_changepoint" ->
      """WITH hourly AS (SELECT event_type, (epoch_us(ts) // 3600000000) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, hr),
        |c AS (SELECT event_type, hr, n,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS k,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM hourly),
        |s AS (SELECT *, abs(m * cum - k * total) AS stat FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY stat DESC, hr) AS rk FROM s)
        |SELECT event_type, m AS n_hours, total AS n_events, hr AS cp_hr,
        |  k AS cp_idx, CAST(stat AS BIGINT) AS cusum_peak,
        |  CAST((10000 * stat) // (m * total) AS BIGINT) AS cusum_bp,
        |  CAST((100 * cum) // k AS BIGINT) AS pre_rate_c,
        |  CAST(CASE WHEN m = k THEN 0
        |    ELSE (100 * (total - cum)) // (m - k) END AS BIGINT) AS post_rate_c
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // embedding health audit — mirrors Similarity.embeddingAudit
    "embedding_audit" ->
      """WITH z AS (SELECT vec_id, label, len(embedding) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |nr AS (SELECT vec_id, label, max(dim) AS dim,
        |         round(sqrt(sum(x * x)), 4) AS nrm
        |       FROM z GROUP BY vec_id, label),
        |e AS (SELECT em.vec_id, em.label,
        |        CASE WHEN em.embedding IS NULL THEN NULL ELSE n.nrm END AS nrm,
        |        coalesce(n.dim, 0) AS dim,
        |        CASE WHEN em.embedding IS NULL THEN 1 ELSE 0 END AS null_flag
        |      FROM embeddings em LEFT JOIN nr n ON em.vec_id = n.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(null_flag) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_baddim,
        |  min(nrm) AS nrm_min, max(nrm) AS nrm_max,
        |  round(sum(nrm) / count(nrm), 4) AS nrm_avg
        |FROM e GROUP BY label ORDER BY label""".stripMargin,

    // Spearman rank correlation — mirrors TextAnalysis.spearmanCorr
    // (row_number ranks, doc_id tie-break, offset integer division)
    "spearman_corr" ->
      s"""WITH $QualityCtes,
        |r AS (SELECT d.lang,
        |        CAST(row_number() OVER (PARTITION BY d.lang ORDER BY d.n_chars, qual.doc_id) AS BIGINT) AS r_len,
        |        CAST(row_number() OVER (PARTITION BY d.lang ORDER BY qual.quality_bp, qual.doc_id) AS BIGINT) AS r_q
        |      FROM qual JOIN documents d USING (doc_id)),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum((r_len - r_q) * (r_len - r_q)) AS BIGINT) AS sum_d2
        |      FROM r GROUP BY lang),
        |d AS (SELECT *, n * (n * n - 1) AS den FROM a)
        |SELECT lang, n, sum_d2,
        |  CAST(CASE WHEN den = 0 THEN 0
        |    ELSE (10000 * (2 * den - 6 * sum_d2)) // den - 10000
        |    END AS BIGINT) AS rho_bp
        |FROM d ORDER BY lang""".stripMargin,

    // held-out bigram LM eval — mirrors CorpusStats.lmHeldout (train
    // bucket < 80, test bucket >= 90, unseen bigrams score 0)
    "lm_heldout" ->
      s"""WITH $WordsCte,
         |bk AS (SELECT doc_id,
         |         CAST(CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS INT) AS bucket
         |       FROM documents),
         |bg AS (SELECT w.doc_id, b.bucket, w.word AS w1,
         |         lead(w.word, 1) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS w2
         |       FROM words w JOIN bk b ON w.doc_id = b.doc_id),
         |inst AS (SELECT doc_id, bucket, w1, w2 FROM bg WHERE w2 IS NOT NULL),
         |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
         |          FROM inst WHERE bucket < 80 GROUP BY w1, w2),
         |prefix AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM model GROUP BY w1),
         |s AS (SELECT i.doc_id,
         |        CASE WHEN m.n12 IS NULL THEN 1 ELSE 0 END AS unseen,
         |        CASE WHEN m.n12 IS NULL THEN 0
         |             ELSE (10000 * m.n12) // p.n1 END AS p_bp
         |      FROM inst i
         |      LEFT JOIN model m ON i.w1 = m.w1 AND i.w2 = m.w2
         |      LEFT JOIN prefix p ON i.w1 = p.w1
         |      WHERE i.bucket >= 90)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
         |  CAST((10000 * sum(unseen)) // count(*) AS BIGINT) AS unseen_bp,
         |  CAST(sum(p_bp) // count(*) AS BIGINT) AS lm_score_bp
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Matryoshka truncation recall — mirrors Similarity
    // .matryoshkaRecall (full-64 truth vs first-16 prefix ranking)
    "matryoshka_recall" ->
      """WITH pf AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    q.embedding AS qe, c.embedding AS ce
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 16),
        |zf AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x,
        |         CAST(unnest(ce) AS DOUBLE) AS y FROM pf),
        |df_ AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |        FROM zf GROUP BY qid, cid),
        |sf AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM df_),
        |rf AS (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |       FROM sf),
        |kf AS (SELECT qid, cid FROM rf WHERE rk <= 5),
        |pt AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    q.embedding[1:16] AS qe, c.embedding[1:16] AS ce
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 16),
        |zt AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x,
        |         CAST(unnest(ce) AS DOUBLE) AS y FROM pt),
        |dt AS (SELECT qid, cid, sum(x*y) AS dxy, sum(x*x) AS dxx, sum(y*y) AS dyy
        |       FROM zt GROUP BY qid, cid),
        |st AS (SELECT qid, cid, round(dxy / (sqrt(dxx) * sqrt(dyy)), 4) AS cos FROM dt),
        |rt AS (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |       FROM st),
        |kt AS (SELECT qid, cid FROM rt WHERE rk <= 5)
        |SELECT f.qid, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST((10000 * sum(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END)) // count(*)
        |    AS BIGINT) AS recall_bp
        |FROM kf f LEFT JOIN kt t ON f.qid = t.qid AND f.cid = t.cid
        |GROUP BY f.qid ORDER BY f.qid""".stripMargin,

    // per-source duplication burden — mirrors Dedup.dupAttribution
    // (one closure + canonical-survivor rank + source rollup)
    "dup_attribution" ->
      s"""WITH RECURSIVE $ComponentsCtes,
         |j AS (SELECT c.doc_id, c.component, d.source, d.n_chars
         |      FROM comp c JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY component
         |        ORDER BY n_chars DESC, doc_id) AS rn FROM j),
         |att AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clustered,
         |          CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant
         |        FROM r GROUP BY source),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY source)
         |SELECT ps.source, ps.n_docs,
         |  coalesce(att.n_clustered, 0) AS n_clustered,
         |  coalesce(att.n_redundant, 0) AS n_redundant,
         |  CAST((10000 * coalesce(att.n_redundant, 0)) // ps.n_docs AS BIGINT) AS redundant_bp
         |FROM ps LEFT JOIN att ON ps.source = att.source
         |ORDER BY ps.source""".stripMargin,

    // top-10 3-step session paths — mirrors Events.sessionPaths
    "session_paths" ->
      """WITH x AS (SELECT user_id, event_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             lag(CAST(epoch_us(ts) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk FROM x),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM b),
        |t AS (SELECT event_type AS t1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id, session_seq
        |          ORDER BY ts_us, event_id) AS t2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id, session_seq
        |          ORDER BY ts_us, event_id) AS t3
        |      FROM s),
        |p AS (SELECT t1 || ' > ' || t2 || ' > ' || t3 AS path FROM t
        |      WHERE t3 IS NOT NULL),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_paths FROM c)
        |SELECT path, n, n_paths,
        |  CAST((10000 * n) // n_paths AS BIGINT) AS share_bp
        |FROM c, tot ORDER BY n DESC, path LIMIT 10""".stripMargin,

    // Nelson-Aalen cumulative hazard — mirrors Events.survivalHazard
    // (per-term truncated hazard_bp so the running sum is integer-exact;
    // triangular joins mirror the Spark plan's broadcast triangles)
    "survival_hazard" ->
      """WITH pu AS (SELECT user_id,
        |             min(CAST(epoch_us(ts) AS BIGINT)) AS first_us,
        |             max(CAST(epoch_us(ts) AS BIGINT)) AS last_us
        |           FROM events GROUP BY user_id),
        |e AS (SELECT max(last_us) AS end_us FROM pu),
        |lives AS (SELECT (last_us - first_us) // 86400000000 AS life_d,
        |            CASE WHEN last_us >= end_us - 604800000000
        |                 THEN 1 ELSE 0 END AS censored
        |          FROM pu, e),
        |byday AS (SELECT life_d, CAST(sum(1 - censored) AS BIGINT) AS deaths,
        |            CAST(sum(censored) AS BIGINT) AS n_censored
        |          FROM lives GROUP BY life_d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM lives),
        |ar AS (SELECT b.life_d, b.deaths, b.n_censored, t.n_users,
        |         CAST(coalesce(sum(x.ex), 0) AS BIGINT) AS prior_exits
        |       FROM byday b CROSS JOIN tot t
        |       LEFT JOIN (SELECT life_d AS d0, deaths + n_censored AS ex
        |                  FROM byday) x ON x.d0 < b.life_d
        |       GROUP BY b.life_d, b.deaths, b.n_censored, t.n_users),
        |hz AS (SELECT life_d, n_users - prior_exits AS at_risk, deaths,
        |         n_censored,
        |         CAST((10000 * deaths) // (n_users - prior_exits) AS BIGINT)
        |           AS hazard_bp
        |       FROM ar)
        |SELECT a.life_d, CAST(a.at_risk AS BIGINT) AS at_risk, a.deaths,
        |  a.n_censored, a.hazard_bp,
        |  CAST(sum(b.hazard_bp) AS BIGINT) AS cum_hazard_bp
        |FROM hz a JOIN hz b ON b.life_d <= a.life_d
        |GROUP BY a.life_d, a.at_risk, a.deaths, a.n_censored, a.hazard_bp
        |ORDER BY a.life_d""".stripMargin,

    // lag-k ACF over the dense hourly grid — mirrors Events.autocorrLag
    // (m²-scaled integer covariances; spearman-style shifted division)
    "autocorr_lag" ->
      """WITH h AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |hourly AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n
        |           FROM h GROUP BY event_type, hr),
        |span AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |         FROM hourly GROUP BY event_type),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hr
        |         FROM span),
        |f AS (SELECT g.event_type, g.hr, coalesce(hourly.n, 0) AS n
        |      FROM grid g LEFT JOIN hourly
        |        ON g.event_type = hourly.event_type AND g.hr = hourly.hr),
        |c AS (SELECT event_type, hr,
        |        CAST(count(*) OVER wa AS BIGINT) AS m,
        |        CAST(count(*) OVER wa AS BIGINT) * n
        |          - CAST(sum(n) OVER wa AS BIGINT) AS c
        |      FROM f WINDOW wa AS (PARTITION BY event_type)),
        |cc AS (SELECT event_type, m, c,
        |         lead(c, 1) OVER wo AS c_1,
        |         lead(c, 2) OVER wo AS c_2,
        |         lead(c, 3) OVER wo AS c_3,
        |         lead(c, 24) OVER wo AS c_24
        |       FROM c WINDOW wo AS (PARTITION BY event_type ORDER BY hr)),
        |a AS (SELECT event_type, CAST(max(m) AS BIGINT) AS m_hours,
        |        sum(CAST(c AS HUGEINT) * c) AS var2,
        |        sum(CAST(c AS HUGEINT) * c_1) AS cov2_1,
        |        sum(CAST(c AS HUGEINT) * c_2) AS cov2_2,
        |        sum(CAST(c AS HUGEINT) * c_3) AS cov2_3,
        |        sum(CAST(c AS HUGEINT) * c_24) AS cov2_24
        |      FROM cc GROUP BY event_type)
        |SELECT event_type, m_hours,
        |  CAST(CASE WHEN var2 = 0 THEN 0
        |       ELSE (10000 * (var2 + cov2_1)) // var2 - 10000 END AS BIGINT)
        |    AS acf1_bp,
        |  CAST(CASE WHEN var2 = 0 THEN 0
        |       ELSE (10000 * (var2 + cov2_2)) // var2 - 10000 END AS BIGINT)
        |    AS acf2_bp,
        |  CAST(CASE WHEN var2 = 0 THEN 0
        |       ELSE (10000 * (var2 + cov2_3)) // var2 - 10000 END AS BIGINT)
        |    AS acf3_bp,
        |  CAST(CASE WHEN var2 = 0 THEN 0
        |       ELSE (10000 * (var2 + cov2_24)) // var2 - 10000 END AS BIGINT)
        |    AS acf24_bp
        |FROM a ORDER BY event_type""".stripMargin,

    // >=2x-median burst runs — mirrors Events.burstDetect (dense grid,
    // exact histogram median, gaps-and-islands run ids)
    "burst_detect" ->
      """WITH h AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr
        |           FROM events),
        |hourly AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n
        |           FROM h GROUP BY event_type, hr),
        |span AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |         FROM hourly GROUP BY event_type),
        |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hr
        |         FROM span),
        |f AS (SELECT g.event_type, g.hr, coalesce(hourly.n, 0) AS n
        |      FROM grid g LEFT JOIN hourly
        |        ON g.event_type = hourly.event_type AND g.hr = hourly.hr),
        |hist AS (SELECT event_type, n, count(*) AS cnt
        |         FROM f GROUP BY event_type, n),
        |cum AS (SELECT event_type, n,
        |          sum(cnt) OVER (PARTITION BY event_type ORDER BY n
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          sum(cnt) OVER (PARTITION BY event_type) AS nn
        |        FROM hist),
        |med AS (SELECT event_type,
        |          min(CASE WHEN cum >= (nn + 1) // 2 THEN n END) AS med
        |        FROM cum GROUP BY event_type),
        |flag AS (SELECT f.event_type, f.hr, f.n, m.med,
        |           CASE WHEN f.n >= 2 * greatest(m.med, 1)
        |                THEN 1 ELSE 0 END AS is_burst
        |         FROM f JOIN med m ON f.event_type = m.event_type),
        |g AS (SELECT *, sum(1 - is_burst) OVER (PARTITION BY event_type
        |        ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS grp
        |      FROM flag)
        |SELECT event_type, min(hr) AS start_hr, max(hr) AS end_hr,
        |  CAST(count(*) AS BIGINT) AS len_hours,
        |  CAST(max(n) AS BIGINT) AS peak_n,
        |  CAST(sum(n) AS BIGINT) AS burst_mass,
        |  CAST(max(med) AS BIGINT) AS med
        |FROM g WHERE is_burst = 1
        |GROUP BY event_type, grp HAVING count(*) >= 2
        |ORDER BY event_type, start_hr""".stripMargin,

    // capped common-neighbor Jaccard — mirrors GraphCuration.jaccardLinkpred
    "jaccard_linkpred" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e0 AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                       CAST(o_orderkey % c AS BIGINT) AS dst
        |       FROM orders, cnt),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e0 WHERE src <> dst),
        |adj0 AS (SELECT a AS node, b AS nbr FROM und
        |         UNION ALL SELECT b AS node, a AS nbr FROM und),
        |adj AS (SELECT node, nbr FROM
        |          (SELECT *, row_number() OVER (PARTITION BY node
        |             ORDER BY nbr) AS rk FROM adj0)
        |        WHERE rk <= 20),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY node),
        |pairs AS (SELECT x.node AS a, y.node AS b,
        |            CAST(count(*) AS BIGINT) AS common
        |          FROM adj x JOIN adj y
        |            ON x.nbr = y.nbr AND x.node < y.node
        |          GROUP BY x.node, y.node HAVING count(*) >= 2),
        |cand AS (SELECT p.* FROM pairs p
        |         WHERE NOT EXISTS (SELECT 1 FROM und u
        |                           WHERE u.a = p.a AND u.b = p.b))
        |SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
        |  CAST((10000 * c.common) // (da.deg + db.deg - c.common) AS BIGINT)
        |    AS jaccard_bp
        |FROM cand c
        |JOIN deg da ON da.node = c.a
        |JOIN deg db ON db.node = c.b
        |ORDER BY jaccard_bp DESC, c.a, c.b LIMIT 20""".stripMargin,

    // graded nDCG@5, reciprocal-rank discounts — mirrors TfIdf.ndcgEval
    "ndcg_eval" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark','window','hash','merge','scan','batch','vector','filter')
        |       GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25,
        |         CASE WHEN t.tf >= 5 THEN 2 WHEN t.tf >= 3 THEN 1 ELSE 0 END AS rel
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY word
        |        ORDER BY bm25 DESC, doc_id) AS rk FROM sc),
        |dcg AS (SELECT word, CAST(sum(rel * (10000 // rk)) AS BIGINT) AS dcg,
        |          CAST(sum(rel) AS BIGINT) AS rel_mass5
        |        FROM r WHERE rk <= 5 GROUP BY word),
        |ri AS (SELECT *, row_number() OVER (PARTITION BY word
        |         ORDER BY rel DESC, doc_id) AS rk FROM sc WHERE rel > 0),
        |idcg AS (SELECT word, CAST(sum(rel * (10000 // rk)) AS BIGINT) AS idcg
        |         FROM ri WHERE rk <= 5 GROUP BY word)
        |SELECT d.word, d.dcg, coalesce(i.idcg, 0) AS idcg, d.rel_mass5,
        |  CAST(CASE WHEN coalesce(i.idcg, 0) = 0 THEN 0
        |       ELSE (10000 * d.dcg) // i.idcg END AS BIGINT) AS ndcg_bp
        |FROM dcg d LEFT JOIN idcg i USING (word)
        |ORDER BY d.word""".stripMargin,

    // PRF query expansion from top-3 BM25 docs — mirrors TfIdf.queryExpansion
    "query_expansion" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM docs),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark','window','hash','merge','scan','batch','vector','filter')
        |       GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM docs),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |prf AS (SELECT word AS query, doc_id FROM
        |          (SELECT *, row_number() OVER (PARTITION BY word
        |             ORDER BY bm25 DESC, doc_id) AS rk FROM sc)
        |        WHERE rk <= 3),
        |mined AS (SELECT p.query, w.word,
        |            CAST(count(DISTINCT w.doc_id) AS BIGINT) AS prf_df,
        |            CAST(count(*) AS BIGINT) AS prf_tf
        |          FROM words w JOIN prf p ON w.doc_id = p.doc_id
        |          WHERE w.word <> p.query AND length(w.word) >= 4
        |          GROUP BY p.query, w.word)
        |SELECT query, CAST(rank AS INT) AS rank, word AS exp_word, prf_df, prf_tf FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query
        |     ORDER BY prf_df DESC, prf_tf DESC, word) AS rank FROM mined)
        |WHERE rank <= 5 ORDER BY query, rank""".stripMargin,

    // min/max skipping audit, natural vs clustered — mirrors Layout.minmaxPrune
    "minmax_prune" ->
      """WITH base AS (SELECT l_orderkey,
        |         CAST(datediff('day', DATE '1992-01-01',
        |           CAST(l_shipdate AS DATE)) AS BIGINT) AS day
        |       FROM lineitem),
        |okm AS (SELECT max(l_orderkey) AS ok_max FROM base),
        |dex AS (SELECT min(day) AS day_min, max(day) AS day_max FROM base),
        |lo AS (SELECT datediff('day', DATE '1992-01-01', DATE '1994-01-01') AS d_lo,
        |              datediff('day', DATE '1992-01-01', DATE '1994-12-31') AS d_hi),
        |natf AS (SELECT l_orderkey // (ok_max // 64 + 1) AS file_id,
        |           count(*) AS n_rows, min(day) AS d_min, max(day) AS d_max,
        |           sum(CASE WHEN day BETWEEN d_lo AND d_hi THEN 1 ELSE 0 END) AS n_match
        |         FROM base, okm, lo GROUP BY file_id, d_lo, d_hi),
        |nat AS (SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |          CAST(sum(CASE WHEN d_max < d_lo OR d_min > d_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |          CAST(sum(CASE WHEN d_max < d_lo OR d_min > d_hi THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
        |          CAST(sum(n_match) AS BIGINT) AS rows_match,
        |          CAST(sum(n_rows) AS BIGINT) AS rows_total
        |        FROM natf, lo),
        |cluf AS (SELECT (day - day_min) // ((day_max - day_min) // 64 + 1) AS file_id,
        |           count(*) AS n_rows, min(day) AS d_min, max(day) AS d_max,
        |           sum(CASE WHEN day BETWEEN d_lo AND d_hi THEN 1 ELSE 0 END) AS n_match
        |         FROM base, dex, lo GROUP BY file_id, d_lo, d_hi),
        |clu AS (SELECT 'shipdate_clustered' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |          CAST(sum(CASE WHEN d_max < d_lo OR d_min > d_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |          CAST(sum(CASE WHEN d_max < d_lo OR d_min > d_hi THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
        |          CAST(sum(n_match) AS BIGINT) AS rows_match,
        |          CAST(sum(n_rows) AS BIGINT) AS rows_total
        |        FROM cluf, lo)
        |SELECT layout, n_files, n_skipped, rows_scanned, rows_match,
        |  CAST((10000 * rows_scanned) // rows_total AS BIGINT) AS scan_bp
        |FROM (SELECT * FROM nat UNION ALL SELECT * FROM clu)
        |ORDER BY layout""".stripMargin,

    // GDPR cascade-delete dry run — mirrors Observability.forgetCascade
    "forget_cascade" ->
      """WITH seeds AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |delo AS (SELECT o_orderkey FROM orders
        |         WHERE o_custkey IN (SELECT c_custkey FROM seeds)),
        |rows_ AS (
        |  SELECT 'customer' AS tbl,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_total,
        |    (SELECT CAST(count(*) AS BIGINT) FROM seeds) AS n_delete
        |  UNION ALL
        |  SELECT 'orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM delo)
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
        |  UNION ALL
        |  SELECT 'events',
        |    (SELECT CAST(count(*) AS BIGINT) FROM events),
        |    (SELECT CAST(count(*) AS BIGINT) FROM events WHERE user_id % 97 = 0))
        |SELECT tbl, n_total, n_delete,
        |  CAST((10000 * n_delete) // n_total AS BIGINT) AS share_bp
        |FROM rows_ ORDER BY tbl""".stripMargin,

    // integer Flesch-Kincaid — mirrors TextAnalysis.readability
    "readability" ->
      """WITH r AS (SELECT doc_id, lang,
        |    CAST(CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        |         ELSE len(string_split(coalesce(text,''), ' ')) END AS BIGINT) AS words,
        |    greatest(1, CAST(len(regexp_extract_all(coalesce(text,''), '[.!?]+')) AS BIGINT)) AS sentences,
        |    CAST(len(regexp_extract_all(lower(coalesce(text,'')), '[aeiouy]+')) AS BIGINT) AS syllables
        |  FROM documents)
        |SELECT doc_id, lang, words, sentences, syllables,
        |  CAST((39 * words) // sentences
        |    + (1180 * syllables) // greatest(words, 1) - 1559 AS BIGINT) AS fk_x100
        |FROM r ORDER BY doc_id""".stripMargin,

    // severity blocklist gate — mirrors TextAnalysis.blocklistFilter
    "blocklist_filter" ->
      """WITH bl(word, sev) AS (VALUES ('dup', 4), ('slow', 3), ('big', 1), ('fast', 1)),
        |w0 AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS word FROM documents),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |           CAST(sum(sev) AS BIGINT) AS sev_mass, max(sev) AS max_sev
        |         FROM words JOIN bl USING (word) GROUP BY doc_id),
        |scored AS (SELECT d.source, coalesce(h.sev_mass, 0) AS sev_mass,
        |             CASE WHEN coalesce(h.max_sev, 0) >= 4
        |                       OR coalesce(h.sev_mass, 0) >= 20 THEN 'block'
        |                  WHEN coalesce(h.sev_mass, 0) >= 8 THEN 'review'
        |                  ELSE 'pass' END AS verdict
        |           FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id),
        |bysrc AS (SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs,
        |            CAST(sum(sev_mass) AS BIGINT) AS sev_mass
        |          FROM scored GROUP BY source, verdict),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |        FROM scored GROUP BY source)
        |SELECT b.source, b.verdict, b.n_docs,
        |  CAST((10000 * b.n_docs) // t.n_source AS BIGINT) AS share_bp,
        |  b.sev_mass
        |FROM bysrc b JOIN tot t ON b.source = t.source
        |ORDER BY b.source, b.verdict""".stripMargin,

    // per-source deciles on the global percentile scale — mirrors
    // CorpusStats.quantileNorm
    "quantile_norm" ->
      s"""WITH $QualityCtes,
        |q AS (SELECT d.source, qual.quality_bp AS v
        |      FROM qual JOIN documents d USING (doc_id)),
        |hs AS (SELECT source, v, count(*) AS cnt FROM q GROUP BY source, v),
        |cum AS (SELECT source, v,
        |          sum(cnt) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          sum(cnt) OVER (PARTITION BY source) AS nn
        |        FROM hs),
        |dec AS (SELECT source, d.decile,
        |          min(CASE WHEN cum >= (d.decile * nn + 9) // 10 THEN v END) AS q_value
        |        FROM cum, (SELECT unnest(generate_series(1, 9)) AS decile) d
        |        GROUP BY source, d.decile),
        |hg AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt_g FROM q GROUP BY v),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_g FROM q)
        |SELECT dec.source, CAST(dec.decile AS BIGINT) AS decile,
        |  CAST(dec.q_value AS BIGINT) AS q_value,
        |  CAST((10000 * coalesce(sum(hg.cnt_g), 0)) // max(ng.n_g) AS BIGINT)
        |    AS global_pct_bp
        |FROM dec CROSS JOIN ng LEFT JOIN hg ON hg.v < dec.q_value
        |GROUP BY dec.source, dec.decile, dec.q_value
        |ORDER BY dec.source, dec.decile""".stripMargin,

    // power-of-2 half-life weighting — mirrors Events.recencyDecay
    "recency_decay" ->
      """WITH ev AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |e AS (SELECT max(us) AS end_us FROM ev),
        |w AS (SELECT event_type,
        |        (end_us - us) // 604800000000 AS age_w,
        |        10000 // (1 << least((end_us - us) // 604800000000, 20)) AS w_bp
        |      FROM ev, e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(w_bp) AS BIGINT) AS decayed_mass_bp,
        |  CAST(sum(w_bp) // count(*) AS BIGINT) AS avg_weight_bp,
        |  CAST(max(age_w) AS BIGINT) AS oldest_weeks,
        |  CAST(min(age_w) AS BIGINT) AS newest_weeks
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    // two-phase arrival-prefix lateness — mirrors Events.latenessAudit
    "lateness_audit" ->
      """WITH ev AS (SELECT event_type, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS us,
        |             event_id // 1000 AS chunk
        |           FROM events),
        |cm AS (SELECT event_type, chunk, max(us) AS cmax
        |       FROM ev GROUP BY event_type, chunk),
        |pr AS (SELECT event_type, chunk,
        |         max(cmax) OVER (PARTITION BY event_type ORDER BY chunk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prior_chunk_max
        |       FROM cm),
        |x AS (SELECT e.event_type, e.us,
        |        greatest(
        |          coalesce(max(e.us) OVER (PARTITION BY e.event_type, e.chunk
        |            ORDER BY e.event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
        |          coalesce(p.prior_chunk_max, -1)) AS prior_max
        |      FROM ev e JOIN pr p
        |        ON e.event_type = p.event_type AND e.chunk = p.chunk),
        |l AS (SELECT event_type,
        |        CASE WHEN prior_max > us THEN (prior_max - us) // 1000000
        |             ELSE 0 END AS late_s,
        |        CASE WHEN prior_max > us THEN 1 ELSE 0 END AS is_late
        |      FROM x)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(is_late) AS BIGINT) AS n_late,
        |  CAST((10000 * sum(is_late)) // count(*) AS BIGINT) AS late_bp,
        |  CAST(max(late_s) AS BIGINT) AS max_late_s,
        |  CAST(CASE WHEN sum(is_late) = 0 THEN 0
        |       ELSE sum(late_s) // sum(is_late) END AS BIGINT) AS mean_late_s
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    // vocab-size coverage curve — mirrors CorpusStats.vocabCoverage
    "vocab_coverage" ->
      """WITH w0 AS (SELECT lang, unnest(string_split(coalesce(text,''), ' ')) AS word
        |            FROM documents),
        |words AS (SELECT * FROM w0 WHERE length(word) > 0),
        |wf AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS n
        |       FROM words GROUP BY lang, word),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
        |             ORDER BY n DESC, word) AS rk FROM wf),
        |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS mass,
        |          CAST(count(*) AS BIGINT) AS vocab_size
        |        FROM wf GROUP BY lang),
        |cuts AS (SELECT CAST(1 << cast(i AS INT) AS BIGINT) AS cut FROM
        |           (SELECT unnest(generate_series(6, 9)) AS i)),
        |cov AS (SELECT lang, cut, CAST(sum(n) AS BIGINT) AS covered
        |        FROM ranked, cuts WHERE rk <= cut GROUP BY lang, cut)
        |SELECT c.lang, c.cut, c.covered, t.mass, t.vocab_size,
        |  CAST((10000 * c.covered) // t.mass AS BIGINT) AS coverage_bp
        |FROM cov c JOIN tot t ON c.lang = t.lang
        |ORDER BY c.lang, c.cut""".stripMargin,

    // Kneser-Ney held-out bigram LM — mirrors CorpusStats.lmKneserNey
    // (quarter-unit D=3/4 discount; every term one truncated division)
    "lm_kneser_ney" ->
      s"""WITH $WordsCte,
        |bk AS (SELECT doc_id,
        |         CAST(CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS INT) AS bucket
        |       FROM documents),
        |bg0 AS (SELECT w.doc_id, b.bucket, w.word AS w1,
        |         lead(w.word, 1) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS w2
        |       FROM words w JOIN bk b ON w.doc_id = b.doc_id),
        |bg AS (SELECT doc_id, bucket, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
        |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
        |          FROM bg WHERE bucket < 80 GROUP BY w1, w2),
        |prefix AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1,
        |             CAST(count(*) AS BIGINT) AS n1plus
        |           FROM model GROUP BY w1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
        |         FROM model GROUP BY w2),
        |types AS (SELECT CAST(count(*) AS BIGINT) AS t FROM model),
        |sc AS (SELECT b.doc_id,
        |         CASE WHEN m.n12 IS NOT NULL
        |              THEN (10000 * (4 * m.n12 - 3)) // (4 * p.n1)
        |              ELSE 0 END AS term1_bp,
        |         CASE WHEN p.n1 IS NOT NULL
        |              THEN (30000 * p.n1plus * coalesce(c.ncont, 0)) // (4 * p.n1 * ty.t)
        |              ELSE (10000 * coalesce(c.ncont, 0)) // ty.t END AS backoff_bp,
        |         CASE WHEN m.n12 IS NULL THEN 1 ELSE 0 END AS unseen
        |       FROM bg b
        |       LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |       LEFT JOIN prefix p ON b.w1 = p.w1
        |       LEFT JOIN cont c ON b.w2 = c.w2
        |       CROSS JOIN types ty
        |       WHERE b.bucket >= 90)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
        |  CAST(sum(term1_bp + backoff_bp) // count(*) AS BIGINT) AS kn_bp,
        |  CAST(CASE WHEN sum(term1_bp + backoff_bp) = 0 THEN 0
        |       ELSE (10000 * sum(backoff_bp)) // sum(term1_bp + backoff_bp)
        |       END AS BIGINT) AS backoff_share_bp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // integer power iteration, 3 unrolled rounds — mirrors
    // Similarity.pcaPower (quantize once, shifted-div normalization)
    "pca_power" -> {
      def rnd(i: Int, prev: String): String =
        s"""d$i AS (SELECT e.vec_id, CAST(sum(e.ei * v.v) AS BIGINT) AS dot
           |      FROM e JOIN $prev v USING (dim) GROUP BY e.vec_id),
           |s$i AS (SELECT e.dim, CAST(sum(e.ei * d.dot) AS BIGINT) AS s
           |      FROM e JOIN d$i d USING (vec_id) GROUP BY e.dim),
           |m$i AS (SELECT greatest(max(abs(s)), 1) AS m FROM s$i),
           |v$i AS (SELECT dim, (100 * (s + m)) // m - 100 AS v
           |      FROM s$i, m$i)""".stripMargin
      s"""WITH e AS (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS ei
         |  FROM embeddings),
         |v0 AS (SELECT CAST(dim AS INT) AS dim, CAST(100 AS BIGINT) AS v
         |       FROM (SELECT unnest(generate_series(0, 63)) AS dim)),
         |${rnd(1, "v0")},
         |${rnd(2, "v1")},
         |${rnd(3, "v2")}
         |SELECT dim, CAST(v AS BIGINT) AS v_100 FROM v3 ORDER BY dim""".stripMargin
    },

    // hourly-anchor linear interpolation — mirrors Events.interpJoin
    // (nonnegative weighted form; hold-last at the series tail)
    "interp_join" ->
      """WITH ev AS (SELECT event_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us,
        |             CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v_c
        |           FROM events),
        |e2 AS (SELECT *, us // 3600000000 AS hr FROM ev),
        |a AS (SELECT event_type, hr, CAST(sum(v_c) // count(*) AS BIGINT) AS a_v
        |      FROM e2 GROUP BY event_type, hr),
        |p AS (SELECT event_type, hr, a_v,
        |        lead(hr, 1) OVER w AS next_hr,
        |        lead(a_v, 1) OVER w AS next_v
        |      FROM a WINDOW w AS (PARTITION BY event_type ORDER BY hr))
        |SELECT e.event_id, e.event_type, e.us AS ts_us,
        |  p.a_v AS v0_c, p.next_v AS v1_c,
        |  CAST(CASE WHEN p.next_hr IS NULL THEN p.a_v
        |       ELSE (p.a_v * (p.next_hr * 3600000000 - e.us)
        |             + p.next_v * (e.us - p.hr * 3600000000))
        |            // ((p.next_hr - p.hr) * 3600000000) END AS BIGINT)
        |    AS v_interp_c
        |FROM e2 e JOIN p ON e.event_type = p.event_type AND e.hr = p.hr
        |ORDER BY e.event_id""".stripMargin,

    // weekly exact p50/p90 drift — mirrors Events.quantileDrift
    "quantile_drift" ->
      """WITH x AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS wk,
        |             CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v_c
        |           FROM events),
        |hist AS (SELECT event_type, wk, v_c, CAST(count(*) AS BIGINT) AS cnt
        |         FROM x GROUP BY event_type, wk, v_c),
        |c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type, wk ORDER BY v_c
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY event_type, wk) AS nn
        |      FROM hist),
        |q AS (SELECT event_type, wk, CAST(max(nn) AS BIGINT) AS n,
        |        min(CASE WHEN cum >= (nn + 1) // 2 THEN v_c END) AS p50_c,
        |        min(CASE WHEN 10 * cum >= 9 * nn THEN v_c END) AS p90_c
        |      FROM c GROUP BY event_type, wk)
        |SELECT event_type, wk, n, CAST(p50_c AS BIGINT) AS p50_c,
        |  CAST(p90_c AS BIGINT) AS p90_c,
        |  CAST(p50_c - coalesce(lag(p50_c, 1) OVER (PARTITION BY event_type
        |    ORDER BY wk), p50_c) AS BIGINT) AS p50_delta_c
        |FROM q ORDER BY event_type, wk""".stripMargin,

    // WAU / trailing-4-week MAU — mirrors Events.stickiness
    "stickiness" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |             CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS wk
        |           FROM events),
        |wau AS (SELECT wk, CAST(count(*) AS BIGINT) AS wau
        |        FROM uw GROUP BY wk),
        |span AS (SELECT max(wk) AS w1 FROM uw),
        |contrib AS (SELECT DISTINCT user_id, mwk AS wk FROM
        |              (SELECT user_id,
        |                 unnest(generate_series(wk, wk + 3)) AS mwk
        |               FROM uw), span
        |            WHERE mwk <= w1),
        |mau AS (SELECT wk, CAST(count(*) AS BIGINT) AS mau
        |        FROM contrib GROUP BY wk)
        |SELECT w.wk, w.wau, m.mau,
        |  CAST((10000 * w.wau) // m.mau AS BIGINT) AS stickiness_bp
        |FROM wau w JOIN mau m ON w.wk = m.wk
        |ORDER BY w.wk""".stripMargin,

    // HITS hubs/authorities, 2 unrolled rounds — mirrors Crawl.hitsScores
    "hits_scores" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e0 AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                       CAST(o_orderkey % c AS BIGINT) AS dst
        |       FROM orders, cnt),
        |e AS (SELECT * FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM
        |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |a1r AS (SELECT dst AS node, CAST(count(*) * 1000 AS BIGINT) AS a
        |        FROM e GROUP BY dst),
        |a1m AS (SELECT greatest(max(a), 1) AS m FROM a1r),
        |a1 AS (SELECT node, (1000 * a) // m AS a FROM a1r, a1m),
        |h1r AS (SELECT e.src AS node, CAST(sum(a1.a) AS BIGINT) AS h
        |        FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
        |h1m AS (SELECT greatest(max(h), 1) AS m FROM h1r),
        |h1 AS (SELECT node, (1000 * h) // m AS h FROM h1r, h1m),
        |a2r AS (SELECT e.dst AS node, CAST(sum(h1.h) AS BIGINT) AS a
        |        FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
        |a2m AS (SELECT greatest(max(a), 1) AS m FROM a2r),
        |a2 AS (SELECT node, (1000 * a) // m AS a FROM a2r, a2m),
        |h2r AS (SELECT e.src AS node, CAST(sum(a2.a) AS BIGINT) AS h
        |        FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
        |h2m AS (SELECT greatest(max(h), 1) AS m FROM h2r),
        |h2 AS (SELECT node, (1000 * h) // m AS h FROM h2r, h2m)
        |SELECT n.node, CAST(coalesce(a2.a, 0) AS BIGINT) AS auth_1000,
        |  CAST(coalesce(h2.h, 0) AS BIGINT) AS hub_1000
        |FROM nodes n
        |LEFT JOIN a2 ON n.node = a2.node
        |LEFT JOIN h2 ON n.node = h2.node
        |ORDER BY n.node""".stripMargin,

    // view->purchase lag histogram — mirrors Events.conversionLag
    "conversion_lag" ->
      """WITH ev AS (SELECT user_id, event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |fv AS (SELECT user_id, min(us) AS view_us FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |fb AS (SELECT e.user_id, f.view_us, min(e.us) AS buy_us
        |       FROM ev e JOIN fv f ON e.user_id = f.user_id
        |       WHERE e.event_type = 'purchase' AND e.us >= f.view_us
        |       GROUP BY e.user_id, f.view_us),
        |lagt AS (SELECT (buy_us - view_us) // 60000000 AS lag_min FROM fb),
        |b AS (SELECT CASE WHEN lag_min < 1 THEN 0 WHEN lag_min < 2 THEN 1
        |        WHEN lag_min < 4 THEN 2 WHEN lag_min < 8 THEN 3
        |        WHEN lag_min < 16 THEN 4 WHEN lag_min < 32 THEN 5
        |        WHEN lag_min < 64 THEN 6 WHEN lag_min < 128 THEN 7
        |        WHEN lag_min < 256 THEN 8 WHEN lag_min < 512 THEN 9
        |        WHEN lag_min < 1024 THEN 10 ELSE 11 END AS bucket FROM lagt),
        |cells AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_users
        |          FROM b GROUP BY bucket),
        |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS total FROM cells)
        |SELECT c.bucket, c.n_users,
        |  CAST((10000 * c.n_users) // t.total AS BIGINT) AS share_bp,
        |  CAST((10000 * sum(c2.n_users)) // t.total AS BIGINT) AS cum_bp
        |FROM cells c JOIN cells c2 ON c2.bucket <= c.bucket
        |CROSS JOIN tot t
        |GROUP BY c.bucket, c.n_users, t.total
        |ORDER BY c.bucket""".stripMargin,

    // fixed-band RFM segmentation — mirrors Relational3.rfmSegments
    "rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |         max(CAST(o_orderdate AS DATE)) AS last_d,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS money_c
        |       FROM orders GROUP BY o_custkey),
        |e AS (SELECT max(last_d) AS end_d FROM per),
        |b AS (SELECT datediff('day', last_d, end_d) AS recency_d,
        |        freq, money_c FROM per, e),
        |bb AS (SELECT
        |         CASE WHEN recency_d < 30 THEN 0 WHEN recency_d < 90 THEN 1
        |              WHEN recency_d < 180 THEN 2 WHEN recency_d < 365 THEN 3
        |              ELSE 4 END AS r_band,
        |         CASE WHEN freq < 2 THEN 0 WHEN freq < 4 THEN 1
        |              WHEN freq < 8 THEN 2 WHEN freq < 16 THEN 3
        |              ELSE 4 END AS f_band,
        |         CASE WHEN money_c < 1000000 THEN 0
        |              WHEN money_c < 10000000 THEN 1
        |              WHEN money_c < 100000000 THEN 2
        |              WHEN money_c < 1000000000 THEN 3 ELSE 4 END AS m_band,
        |         money_c, freq
        |       FROM b)
        |SELECT CAST(r_band AS INT) AS r_band, CAST(f_band AS INT) AS f_band,
        |  CAST(m_band AS INT) AS m_band,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(money_c) AS BIGINT) AS segment_cents,
        |  CAST(sum(freq) AS BIGINT) AS segment_orders
        |FROM bb GROUP BY r_band, f_band, m_band
        |ORDER BY r_band, f_band, m_band""".stripMargin,

    // percent_rank / cume_dist / ntile — mirrors Relational2.analyticRanks
    // (single IEEE divisions of identical integers: bit-exact unrounded)
    "analytic_ranks" ->
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS INT) AS nation,
        |             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
        |           FROM customer)
        |SELECT c_custkey, nation, bal_c,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM c WINDOW w AS (PARTITION BY nation
        |  ORDER BY bal_c, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // Newman degree assortativity — mirrors Crawl.assortativity
    "assortativity" ->
      """WITH cnt AS (SELECT count(*) AS c FROM customer),
        |e0 AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                       CAST(o_orderkey % c AS BIGINT) AS dst
        |       FROM orders, cnt),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e0 WHERE src <> dst),
        |both_ AS (SELECT a AS u, b AS v FROM und
        |          UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM both_ GROUP BY u),
        |xy AS (SELECT dx.deg AS x, dy.deg AS y
        |       FROM both_ b JOIN deg dx ON b.u = dx.u
        |       JOIN deg dy ON b.v = dy.u),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM xy)
        |SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS varx_n2,
        |  CAST(n * syy - sy * sy AS BIGINT) AS vary_n2,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
        |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
        |  END AS r_4dp
        |FROM m""".stripMargin,

    // duplicate-cluster size power-law — mirrors Dedup.clusterSizes
    "cluster_sizes" ->
      s"""WITH RECURSIVE $ComponentsCtes,
         |cs AS (SELECT DISTINCT c.component, s.cluster_size
         |       FROM comp c JOIN sizes s ON c.component = s.component),
         |b AS (SELECT CASE WHEN cluster_size < 4 THEN 0
         |        WHEN cluster_size < 8 THEN 1 WHEN cluster_size < 16 THEN 2
         |        WHEN cluster_size < 32 THEN 3 WHEN cluster_size < 64 THEN 4
         |        WHEN cluster_size < 128 THEN 5 ELSE 6 END AS bucket,
         |        cluster_size
         |      FROM cs),
         |cells AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_clusters,
         |            CAST(sum(cluster_size) AS BIGINT) AS doc_mass
         |          FROM b GROUP BY bucket),
         |tot AS (SELECT CAST(sum(doc_mass) AS BIGINT) AS total_docs FROM cells)
         |SELECT bucket, n_clusters, doc_mass,
         |  CAST((10000 * doc_mass) // total_docs AS BIGINT) AS mass_bp
         |FROM cells, tot ORDER BY bucket""".stripMargin,

    // reliability diagram — mirrors TextAnalysis.calibrationBins
    // (classifier pseudo-probability vs the independent rule gate)
    "calibration_bins" ->
      s"""WITH t AS (SELECT doc_id,
        |             list_filter(string_split(coalesce(text, ''), ' '),
        |                         w -> length(w) > 0) AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |        CAST(coalesce(list_sum(list_transform(toks, w ->
        |          CAST(concat('0x', substr(md5(lower(w)), 1, 8)) AS BIGINT)
        |            % 2001 - 1000)), 0) AS BIGINT) AS score
        |      FROM t WHERE len(toks) > 0),
        |pred AS (SELECT doc_id,
        |           least(10000, greatest(0, (score // n_tokens + 1000) * 5)) AS p_bp
        |         FROM s),
        |$QualityCtes,
        |truth AS (SELECT doc_id,
        |        CASE WHEN quality_bp >= 5000 THEN 1 ELSE 0 END AS pass
        |      FROM qual),
        |j AS (SELECT least(p.p_bp // 1000, 9) AS bin, p.p_bp, tr.pass
        |      FROM pred p JOIN truth tr ON p.doc_id = tr.doc_id)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(p_bp) // count(*) AS BIGINT) AS mean_pred_bp,
        |  CAST((10000 * sum(pass)) // count(*) AS BIGINT) AS pass_bp,
        |  CAST(abs(sum(p_bp) // count(*)
        |    - (10000 * sum(pass)) // count(*)) AS BIGINT) AS gap_bp
        |FROM j GROUP BY bin ORDER BY bin""".stripMargin,

    // sweep-line peak concurrency — mirrors Events.peakConcurrency
    "peak_concurrency" ->
      """WITH ev AS (SELECT event_type,
        |             CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |d0 AS (SELECT event_type, us // 60000000 AS mn, 1 AS d FROM ev
        |       UNION ALL
        |       SELECT event_type, (us + 300000000) // 60000000 AS mn, -1 AS d
        |       FROM ev),
        |deltas AS (SELECT event_type, mn, CAST(sum(d) AS BIGINT) AS delta
        |           FROM d0 GROUP BY event_type, mn),
        |conc AS (SELECT event_type, mn,
        |           CAST(sum(delta) OVER (PARTITION BY event_type ORDER BY mn
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |             AS conc
        |         FROM deltas),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY conc DESC, mn) AS rk FROM conc)
        |SELECT event_type, conc AS peak, mn AS peak_minute
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // SLO burn-rate alerting — mirrors Events.sloBurn
    "slo_burn" ->
      """WITH hourly AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_err
        |       FROM events GROUP BY hr),
        |j AS (SELECT h.hr, h.n, h.n_err,
        |        CAST(sum(w.n) AS BIGINT) AS n6, CAST(sum(w.n_err) AS BIGINT) AS e6
        |      FROM hourly h JOIN hourly w
        |        ON w.hr >= h.hr - 5 AND w.hr <= h.hr
        |      GROUP BY h.hr, h.n, h.n_err)
        |SELECT hr, n, n_err,
        |  CAST((10000 * n_err) // n AS BIGINT) AS err_bp,
        |  CAST(((10000 * n_err) // n) // 10 AS BIGINT) AS burn1_x10,
        |  CAST(((10000 * e6) // n6) // 10 AS BIGINT) AS burn6_x10,
        |  ((10000 * n_err) // n) // 10 >= 144 AS alert_fast,
        |  ((10000 * e6) // n6) // 10 >= 60 AS alert_slow
        |FROM j ORDER BY hr""".stripMargin,

    // two-phase deterministic shuffle — mirrors Splits.corpusShuffle
    "corpus_shuffle" ->
      """WITH keyed AS (SELECT doc_id,
        |         md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
        |       FROM documents),
        |k2 AS (SELECT *, CAST(concat('0x', substr(skey, 1, 2)) AS INT) AS shard
        |       FROM keyed),
        |local_ AS (SELECT doc_id, shard,
        |         row_number() OVER (PARTITION BY shard
        |           ORDER BY skey, doc_id) AS local_rank
        |       FROM k2),
        |counts AS (SELECT shard, CAST(count(*) AS BIGINT) AS cnt
        |           FROM k2 GROUP BY shard),
        |off AS (SELECT a.shard,
        |          CAST(coalesce(sum(b.cnt), 0) AS BIGINT) AS off
        |        FROM counts a LEFT JOIN counts b ON b.shard < a.shard
        |        GROUP BY a.shard)
        |SELECT l.doc_id, l.shard,
        |  CAST(o.off + l.local_rank - 1 AS BIGINT) AS shuffle_pos
        |FROM local_ l JOIN off o ON l.shard = o.shard
        |ORDER BY l.doc_id""".stripMargin,

    // top correlated dimension pairs — mirrors Similarity.dimCorrelation
    "dim_correlation" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS ei
        |  FROM embeddings),
        |p AS (SELECT a.dim AS d1, b.dim AS d2, a.ei AS x, b.ei AS y
        |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim < b.dim),
        |m AS (SELECT d1, d2, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM p GROUP BY d1, d2)
        |SELECT d1, d2, n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
        |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
        |  END AS r_4dp
        |FROM m ORDER BY abs(r_4dp) DESC, d1, d2 LIMIT 20""".stripMargin,

    // densest 10-word passage — mirrors TfIdf.bestSnippet (oracle pos
    // is 1-based generate_subscripts; Spark's posexplode is 0-based,
    // hence the pos - 1 shift on the occurrence list)
    "best_snippet" ->
      s"""WITH $WordsCte,
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark','window','hash','merge','scan','batch','vector','filter')
        |       GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM documents),
        |sd AS (SELECT sum(dl) AS sumdl FROM dl),
        |sc AS (SELECT t.doc_id, t.word,
        |         round(ln(1.0 + (CAST(n AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
        |           * (t.tf * 2.2)
        |           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * CAST(n AS DOUBLE) / CAST(sumdl AS DOUBLE))), 4) AS bm25
        |       FROM tf t JOIN dfx f USING (word) JOIN dl d ON t.doc_id = d.doc_id, nn, sd),
        |top1 AS (SELECT word AS query, doc_id FROM
        |           (SELECT *, row_number() OVER (PARTITION BY word
        |              ORDER BY bm25 DESC, doc_id) AS rk FROM sc)
        |         WHERE rk = 1),
        |occ AS (SELECT t.query, t.doc_id, CAST(w.pos - 1 AS BIGINT) AS pos
        |        FROM words w JOIN top1 t
        |          ON w.doc_id = t.doc_id AND w.word = t.query),
        |cand AS (SELECT s.query, s.doc_id, s.pos AS start_pos,
        |           CAST(count(*) AS BIGINT) AS hits
        |         FROM occ s JOIN occ o
        |           ON s.query = o.query AND s.doc_id = o.doc_id
        |          AND o.pos >= s.pos AND o.pos <= s.pos + 9
        |         GROUP BY s.query, s.doc_id, s.pos)
        |SELECT query, doc_id, start_pos, hits FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query
        |     ORDER BY hits DESC, start_pos) AS rk FROM cand)
        |WHERE rk = 1 ORDER BY query""".stripMargin,

    // FK orphan audit — mirrors Observability.fkIntegrity
    "fk_integrity" ->
      """WITH rows_ AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'events.user_id->customer',
        |    (SELECT CAST(count(*) AS BIGINT) FROM events),
        |    (SELECT CAST(count(*) AS BIGINT) FROM events e
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = e.user_id)))
        |SELECT fk_edge, n_child, n_orphans,
        |  CAST((10000 * n_orphans) // n_child AS BIGINT) AS orphan_bp
        |FROM rows_ ORDER BY fk_edge""".stripMargin,

    // watermark drop-rate sweep — mirrors Events.watermarkSweep
    // (lateness_audit's two-phase prior-max, 5-delay grid)
    "watermark_sweep" ->
      """WITH ev AS (SELECT event_type, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS us,
        |             event_id // 1000 AS chunk
        |           FROM events),
        |cm AS (SELECT event_type, chunk, max(us) AS cmax
        |       FROM ev GROUP BY event_type, chunk),
        |pr AS (SELECT event_type, chunk,
        |         max(cmax) OVER (PARTITION BY event_type ORDER BY chunk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prior_chunk_max
        |       FROM cm),
        |x AS (SELECT e.us,
        |        greatest(
        |          coalesce(max(e.us) OVER (PARTITION BY e.event_type, e.chunk
        |            ORDER BY e.event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
        |          coalesce(p.prior_chunk_max, -1)) AS prior_max
        |      FROM ev e JOIN pr p
        |        ON e.event_type = p.event_type AND e.chunk = p.chunk),
        |l AS (SELECT greatest(0, prior_max - us) AS late_us FROM x),
        |d(delay_s) AS (VALUES (CAST(0 AS BIGINT)), (1), (10), (60), (300))
        |SELECT d.delay_s, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN l.late_us > d.delay_s * 1000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST((10000 * sum(CASE WHEN l.late_us > d.delay_s * 1000000
        |       THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS drop_bp
        |FROM l CROSS JOIN d GROUP BY d.delay_s ORDER BY d.delay_s""".stripMargin,

    // multi-seed BFS reachability — mirrors Crawl.bfsLayers
    "bfs_layers" ->
      """WITH RECURSIVE cnt AS (SELECT count(*) AS c FROM customer),
        |e0 AS (SELECT DISTINCT CAST(o_custkey % c AS BIGINT) AS src,
        |                       CAST(o_orderkey % c AS BIGINT) AS dst
        |       FROM orders, cnt),
        |e AS (SELECT * FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM
        |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r(node, level) AS (
        |  SELECT node, 0 FROM nodes WHERE node < 8
        |  UNION
        |  SELECT e.dst, r.level + 1 FROM r JOIN e ON e.src = r.node
        |  WHERE r.level < 3),
        |visited AS (SELECT node, min(level) AS level FROM r GROUP BY node),
        |pl AS (SELECT level, CAST(count(*) AS BIGINT) AS n_new
        |       FROM visited GROUP BY level)
        |SELECT a.level, a.n_new,
        |  CAST(sum(b.n_new) AS BIGINT) AS n_cum,
        |  CAST((10000 * sum(b.n_new)) // max(ntot.n) AS BIGINT) AS reach_bp
        |FROM pl a JOIN pl b ON b.level <= a.level CROSS JOIN ntot
        |GROUP BY a.level, a.n_new ORDER BY a.level""".stripMargin,

    // BLEU-2 clipped n-gram precision over keyed candidate/reference
    // pairs — mirrors TextAnalysis.bleuEval: candidate = even doc_id,
    // reference = doc_id + 1; both sides need >= 2 words; floor(sqrt)
    // of the bp product is cross-engine exact (see the Scala scaladoc).
    "bleu_eval" ->
      (s"""$PairClipCte
         |SELECT doc_id, ref_id, n1_total, n1_match, n2_total, n2_match,
         |  CAST((10000 * n1_match) // n1_total AS BIGINT) AS p1_bp,
         |  CAST((10000 * n2_match) // n2_total AS BIGINT) AS p2_bp,
         |  CAST(floor(sqrt(CAST(((10000 * n1_match) // n1_total)
         |    * ((10000 * n2_match) // n2_total) AS DOUBLE))) AS BIGINT)
         |    AS bleu2_bp,
         |  CAST((10000 * n1_total) // r1_total AS BIGINT) AS len_ratio_bp
         |FROM j ORDER BY doc_id""").stripMargin,

    // ROUGE-1/2 clipped n-gram recall + unigram F1 — mirrors
    // TextAnalysis.rougeEval on the SAME PairClipCte chain as bleu_eval
    // (matches are symmetric; only denominators differ). f1 guards on
    // p1_bp + r1_bp = 0, not on the match count (a >10000-word side can
    // floor a nonzero match to 0 bp).
    "rouge_eval" ->
      (s"""$PairClipCte,
         |k AS (SELECT doc_id, ref_id, n1_match, n2_match,
         |        r1_total, r2_total,
         |        CAST((10000 * n1_match) // r1_total AS BIGINT) AS r1_bp,
         |        CAST((10000 * n2_match) // r2_total AS BIGINT) AS r2_bp,
         |        CAST((10000 * n1_match) // n1_total AS BIGINT) AS p1_bp
         |      FROM j)
         |SELECT doc_id, ref_id, n1_match, n2_match, r1_total, r2_total,
         |  r1_bp, r2_bp,
         |  CAST(CASE WHEN p1_bp + r1_bp = 0 THEN 0
         |    ELSE (2 * p1_bp * r1_bp) // (p1_bp + r1_bp) END AS BIGINT)
         |    AS f1_bp
         |FROM k ORDER BY doc_id""").stripMargin,

    // chrF2 — mirrors TextAnalysis.chrfEval: whitespace-deleted
    // 1000-char slice, char n-grams n ∈ {1,2,3}, clipped matches,
    // totals = len − n + 1 directly, uniform n-average, exact integer
    // β=2 F-measure (5·p·r) // (4·p + r).
    "chrf_eval" ->
      """WITH d AS (SELECT doc_id,
        |    substr(translate(coalesce(text, ''),
        |      ' ' || chr(9) || chr(13) || chr(10), ''), 1, 1000) AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, t, CAST(length(t) AS BIGINT) AS len FROM d),
        |pairs AS (SELECT c.doc_id, c.doc_id + 1 AS ref_id,
        |            c.len AS clen, r.len AS rlen
        |          FROM dl c JOIN dl r ON r.doc_id = c.doc_id + 1
        |          WHERE c.doc_id % 2 = 0 AND c.len >= 3 AND r.len >= 3),
        |g1 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM
        |         (SELECT doc_id, substr(t, CAST(unnest(generate_series(1, len)) AS INT), 1) AS gram
        |          FROM dl WHERE len >= 3) GROUP BY doc_id, gram),
        |g2 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM
        |         (SELECT doc_id, substr(t, CAST(unnest(generate_series(1, len - 1)) AS INT), 2) AS gram
        |          FROM dl WHERE len >= 3) GROUP BY doc_id, gram),
        |g3 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM
        |         (SELECT doc_id, substr(t, CAST(unnest(generate_series(1, len - 2)) AS INT), 3) AS gram
        |          FROM dl WHERE len >= 3) GROUP BY doc_id, gram),
        |m1 AS (SELECT p.doc_id, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS m
        |       FROM pairs p JOIN g1 c ON c.doc_id = p.doc_id
        |         JOIN g1 r ON r.doc_id = p.ref_id AND r.gram = c.gram
        |       GROUP BY p.doc_id),
        |m2 AS (SELECT p.doc_id, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS m
        |       FROM pairs p JOIN g2 c ON c.doc_id = p.doc_id
        |         JOIN g2 r ON r.doc_id = p.ref_id AND r.gram = c.gram
        |       GROUP BY p.doc_id),
        |m3 AS (SELECT p.doc_id, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS m
        |       FROM pairs p JOIN g3 c ON c.doc_id = p.doc_id
        |         JOIN g3 r ON r.doc_id = p.ref_id AND r.gram = c.gram
        |       GROUP BY p.doc_id),
        |j AS (SELECT p.doc_id, p.ref_id, p.clen, p.rlen,
        |        coalesce(m1.m, 0) AS m1, coalesce(m2.m, 0) AS m2,
        |        coalesce(m3.m, 0) AS m3
        |      FROM pairs p LEFT JOIN m1 ON m1.doc_id = p.doc_id
        |        LEFT JOIN m2 ON m2.doc_id = p.doc_id
        |        LEFT JOIN m3 ON m3.doc_id = p.doc_id),
        |b AS (SELECT doc_id, ref_id, clen, rlen, m1, m2, m3,
        |        CAST(((10000 * m1) // clen + (10000 * m2) // (clen - 1)
        |          + (10000 * m3) // (clen - 2)) // 3 AS BIGINT) AS p_bp,
        |        CAST(((10000 * m1) // rlen + (10000 * m2) // (rlen - 1)
        |          + (10000 * m3) // (rlen - 2)) // 3 AS BIGINT) AS r_bp
        |      FROM j)
        |SELECT doc_id, ref_id, clen, rlen, m1, m2, m3, p_bp, r_bp,
        |  CAST(CASE WHEN 4 * p_bp + r_bp = 0 THEN 0
        |    ELSE (5 * p_bp * r_bp) // (4 * p_bp + r_bp) END AS BIGINT)
        |    AS chrf2_bp
        |FROM b ORDER BY doc_id""".stripMargin,

    // Paired-bootstrap system comparison — mirrors
    // TextAnalysis.evalSignificance: system A = full candidate, B =
    // first ⌈w/2⌉ words, unigram clipped precision bp vs the shared
    // reference, pair deltas re-weighted by the bootstrap_mean Poisson
    // draw. Only POSITIVE totals are divided (Spark div truncates
    // toward zero, DuckDB // floors — they differ on negatives); the
    // replicate surfaces the exact weighted SUM and its sign.
    "eval_significance" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split(coalesce(text, ''), ' '),
        |      w -> length(w) > 0) AS ws
        |  FROM documents),
        |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw FROM d),
        |p AS (SELECT c.doc_id, c.ws AS cws, r.ws AS rws, c.nw,
        |        (c.nw + 1) // 2 AS hw
        |      FROM n c JOIN n r ON r.doc_id = c.doc_id + 1
        |      WHERE c.doc_id % 2 = 0 AND c.nw >= 2 AND r.nw >= 2),
        |fcg AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
        |          (SELECT doc_id, unnest(cws) AS w FROM p)
        |        GROUP BY doc_id, w),
        |hcg AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
        |          (SELECT doc_id, unnest(list_slice(cws, 1, hw)) AS w FROM p)
        |        GROUP BY doc_id, w),
        |rcg AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
        |          (SELECT doc_id, unnest(rws) AS w FROM p)
        |        GROUP BY doc_id, w),
        |mf AS (SELECT f.doc_id, CAST(sum(least(f.c, r.c)) AS BIGINT) AS m
        |       FROM fcg f JOIN rcg r ON r.doc_id = f.doc_id AND r.w = f.w
        |       GROUP BY f.doc_id),
        |mh AS (SELECT h.doc_id, CAST(sum(least(h.c, r.c)) AS BIGINT) AS m
        |       FROM hcg h JOIN rcg r ON r.doc_id = h.doc_id AND r.w = h.w
        |       GROUP BY h.doc_id),
        |delta AS (SELECT p.doc_id,
        |            (10000 * coalesce(mf.m, 0)) // p.nw
        |              - (10000 * coalesce(mh.m, 0)) // p.hw AS delta
        |          FROM p LEFT JOIN mf ON mf.doc_id = p.doc_id
        |            LEFT JOIN mh ON mh.doc_id = p.doc_id),
        |rep AS (SELECT doc_id, delta, CAST(unnest(range(0, 16)) AS INT) AS b
        |        FROM delta),
        |u AS (SELECT b, delta,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        |      FROM rep),
        |c AS (SELECT b, delta,
        |        CASE WHEN u < 1580030168 THEN 0
        |             WHEN u < 3160060337 THEN 1
        |             WHEN u < 3950075421 THEN 2
        |             WHEN u < 4213413783 THEN 3
        |             WHEN u < 4279248373 THEN 4
        |             ELSE 5 END AS cnt
        |      FROM u)
        |SELECT b, CAST(sum(cnt) AS BIGINT) AS n_eff,
        |  CAST(sum(cnt * delta) AS BIGINT) AS sum_wdelta,
        |  sum(cnt * delta) > 0 AS a_better
        |FROM c GROUP BY b ORDER BY b""".stripMargin,

    // WER — mirrors TextAnalysis.werEval: 40-word eval slices, joint
    // per-pair word vocabulary densely ranked alphabetically, both
    // sides re-encoded one ASCII byte per word (chr(32+idx)), native
    // byte levenshtein = exact word-level edit distance.
    "wer_eval" -> WerOracle,

    // In-row WER twin — mirrors TextAnalysis.werInRow: identical
    // semantics through the compiled word-level DP, so the ORACLE is
    // wer_eval's verbatim (both engine plans answer to the same
    // byte-bijection ground truth).
    "wer_inrow" -> WerOracle,

    // int8 SQ audit — mirrors Similarity.int8Quant: x_bp = floor(x·1e4)
    // enters the integer domain once; amax/greatest guard; truncating
    // 127-scale quantizer; |127·x_bp − q·amax| error numerators.
    "int8_quant" ->
      """WITH z AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS x_bp
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id, label, greatest(max(abs(x_bp)), 1) AS amax_bp
        |      FROM z GROUP BY vec_id, label),
        |q AS (SELECT z.vec_id, z.label, a.amax_bp, z.x_bp,
        |        (127 * z.x_bp) // a.amax_bp AS qv
        |      FROM z JOIN a ON a.vec_id = z.vec_id),
        |e AS (SELECT vec_id, label, amax_bp, qv,
        |        abs(127 * x_bp - qv * amax_bp) AS e_num
        |      FROM q)
        |SELECT vec_id, label, amax_bp,
        |  CAST(sum(e_num) AS BIGINT) AS l1_err,
        |  CAST(max(e_num) AS BIGINT) AS linf_err,
        |  CAST(count(*) FILTER (WHERE abs(qv) = 127) AS BIGINT) AS n_sat
        |FROM e GROUP BY vec_id, label, amax_bp
        |ORDER BY vec_id""".stripMargin,

    // RBO@5 (p = 1/2) between the tfidf and knn top-5 rankings —
    // same tier CTEs as retriever_overlap; a common candidate at
    // ranks (rl, rv) carries the suffix weight S(max(rl, rv)) in
    // exact 1/960 fixed-point units.
    "rbo_overlap" -> RboSql,

    // the in-row twin computes the SAME (qid, n_common, rbo_x960)
    // values from staged top-5 arrays; the keyed DuckDB form below is
    // the shared cross-engine ground truth for both plans
    "rbo_inrow" -> RboSql,

    // Sketch reaggregation audit — mirrors CorpusStats.hllUnion: the
    // error-band discipline again (registers never surface; the merge
    // identity and the 10% band are in-engine booleans the oracle
    // asserts TRUE), exact sides recomputed.
    "hll_union" ->
      """WITH w0 AS (
        |  SELECT coalesce(lang, 'und') AS lang,
        |    unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |w AS (SELECT lang, word FROM w0 WHERE length(word) > 0)
        |SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT word) AS BIGINT) AS exact_words,
        |  TRUE AS union_eq_direct,
        |  TRUE AS approx_ok
        |FROM w""".stripMargin,

    // Token-mass-weighted length quantiles — mirrors CorpusStats
    // .quantileWeighted: weighted histogram rank selection on the same
    // clamped domain; digest estimates stay behind the mass-unit band.
    "quantile_weighted" ->
      """WITH d AS (
        |  SELECT coalesce(lang, 'und') AS lang,
        |    least(greatest(n_chars, 0), 65535) AS len,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      x -> length(x) > 0)) AS BIGINT) AS wt
        |  FROM documents),
        |n AS (SELECT lang, CAST(sum(wt) AS BIGINT) AS w_total
        |      FROM d GROUP BY lang),
        |h AS (SELECT lang, len, sum(wt) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, len,
        |          sum(c) OVER (PARTITION BY lang ORDER BY len) AS cum
        |        FROM h),
        |j AS (SELECT c.lang, c.len, c.cum, n.w_total
        |      FROM cum c JOIN n USING (lang)),
        |ex AS (SELECT lang,
        |    CAST(min(CASE WHEN cum >= (5000 * w_total + 9999) // 10000
        |      THEN len END) AS BIGINT) AS p50w,
        |    CAST(min(CASE WHEN cum >= (9000 * w_total + 9999) // 10000
        |      THEN len END) AS BIGINT) AS p90w
        |  FROM j GROUP BY lang)
        |SELECT n.lang, n.w_total, ex.p50w, ex.p90w,
        |  TRUE AS ok50w, TRUE AS ok90w
        |FROM n JOIN ex USING (lang)
        |ORDER BY lang""".stripMargin,

    // KMV cross-snapshot novelty — mirrors CorpusStats.kmvNovelty: the
    // exact vocabulary sizes/union/difference recomputed over the same
    // arrival-order halves; the sketch estimates and the lossless-merge
    // array equality stay in-engine behind asserted boolean flags.
    "kmv_novelty" ->
      """WITH w0 AS (
        |  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |w AS (SELECT doc_id, word FROM w0 WHERE length(word) > 0),
        |m AS (SELECT max(doc_id) // 2 AS mid FROM documents),
        |sw AS (SELECT DISTINCT
        |         CASE WHEN doc_id <= (SELECT mid FROM m) THEN 'a' ELSE 'b'
        |         END AS snap, word
        |       FROM w),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS exact_a FROM sw WHERE snap = 'a'),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS exact_b FROM sw WHERE snap = 'b'),
        |u AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS exact_union FROM sw)
        |SELECT exact_a, exact_b, exact_union,
        |  exact_union - exact_a AS exact_new,
        |  TRUE AS merge_eq_direct, TRUE AS union_ok, TRUE AS new_ok
        |FROM a, b, u""".stripMargin,

    // Q-digest per-lang length quantiles — mirrors CorpusStats
    // .quantileDigest: exact p50/p90/p99 by histogram rank selection on
    // the same clamped [0, 2^16) domain (the median_price discipline);
    // the digest estimates and the merge reagg stay in-engine behind
    // the guaranteed-rank-band booleans the oracle asserts TRUE.
    "quantile_digest" ->
      """WITH d AS (
        |  SELECT coalesce(lang, 'und') AS lang,
        |    least(greatest(n_chars, 0), 65535) AS len
        |  FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY lang),
        |h AS (SELECT lang, len, count(*) AS c FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, len,
        |          sum(c) OVER (PARTITION BY lang ORDER BY len) AS cum
        |        FROM h),
        |j AS (SELECT c.lang, c.len, c.cum, n.n FROM cum c JOIN n USING (lang)),
        |ex AS (SELECT lang,
        |    CAST(min(CASE WHEN cum >= (5000 * n + 9999) // 10000 THEN len END) AS BIGINT) AS p50,
        |    CAST(min(CASE WHEN cum >= (9000 * n + 9999) // 10000 THEN len END) AS BIGINT) AS p90,
        |    CAST(min(CASE WHEN cum >= (9900 * n + 9999) // 10000 THEN len END) AS BIGINT) AS p99
        |  FROM j GROUP BY lang)
        |SELECT n.lang, n.n, ex.p50, ex.p90, ex.p99,
        |  TRUE AS ok50, TRUE AS ok90, TRUE AS ok99, TRUE AS merge_ok
        |FROM n JOIN ex USING (lang)
        |ORDER BY lang""".stripMargin,

    // KMV cross-corpus overlap — mirrors CorpusStats.kmvOverlap: exact
    // per-lang vocab sizes + exact pair intersections recomputed; the
    // sketch estimates stay in-engine behind asserted band flags.
    "kmv_overlap" ->
      """WITH w0 AS (
        |  SELECT lang, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |lw AS (SELECT DISTINCT lang, word FROM w0 WHERE length(word) > 0),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM lw GROUP BY lang),
        |pc AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
        |         CAST(count(*) AS BIGINT) AS exact_common
        |       FROM lw a JOIN lw b ON b.word = a.word AND a.lang < b.lang
        |       GROUP BY 1, 2)
        |SELECT x.lang AS lang_a, y.lang AS lang_b,
        |  x.n AS exact_a, y.n AS exact_b,
        |  CAST(coalesce(pc.exact_common, 0) AS BIGINT) AS exact_common,
        |  TRUE AS card_ok, TRUE AS common_ok
        |FROM n x JOIN n y ON x.lang < y.lang
        |LEFT JOIN pc ON pc.lang_a = x.lang AND pc.lang_b = y.lang
        |ORDER BY lang_a, lang_b""".stripMargin,

    // Frequency-octave Zipf spectrum — mirrors CorpusStats.zipfBands:
    // band = floor(log2 c) via bit-length (length(bin(c)) - 1, exact
    // in both engines — no floating log).
    "zipf_bands" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w0
        |       WHERE length(word) > 0 GROUP BY word),
        |bands AS (SELECT CAST(length(bin(c)) - 1 AS INT) AS band,
        |            CAST(count(*) AS BIGINT) AS n_words,
        |            CAST(sum(c) AS BIGINT) AS mass,
        |            CAST(min(c) AS BIGINT) AS f_min,
        |            CAST(max(c) AS BIGINT) AS f_max
        |          FROM wc GROUP BY 1),
        |t AS (SELECT CAST(sum(mass) AS BIGINT) AS total_mass FROM bands)
        |SELECT band, n_words, mass, f_min, f_max,
        |  CAST((10000 * mass) // total_mass AS BIGINT) AS mass_bp
        |FROM bands, t ORDER BY band""".stripMargin,

    // Count-Min sketch audit — mirrors CorpusStats.cmsFrequency: d=4
    // md5-analog row hashes mod 256, cell = Σ counts hashing there,
    // estimate = min over rows, one-sided overestimate vs exact.
    "cms_frequency" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w0
        |       WHERE length(word) > 0 GROUP BY word),
        |wb AS (SELECT word, c, j AS rw,
        |         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), word)), 1, 8))
        |           AS BIGINT) % 256 AS bucket
        |       FROM wc, (SELECT unnest(generate_series(1, 4)) AS j)),
        |cells AS (SELECT rw, bucket, CAST(sum(c) AS BIGINT) AS cell
        |          FROM wb GROUP BY rw, bucket)
        |SELECT word, max(c) AS exact, min(cell) AS est_cms,
        |  min(cell) - max(c) AS over_count
        |FROM wb JOIN cells USING (rw, bucket)
        |GROUP BY word
        |ORDER BY exact DESC, word ASC LIMIT 20""".stripMargin,

    // Identical audit surface through the native sketch aggregate —
    // cells are bit-identical by construction, so the oracle is
    // cms_frequency's verbatim.
    "cms_native" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w0
        |       WHERE length(word) > 0 GROUP BY word),
        |wb AS (SELECT word, c, j AS rw,
        |         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), word)), 1, 8))
        |           AS BIGINT) % 256 AS bucket
        |       FROM wc, (SELECT unnest(generate_series(1, 4)) AS j)),
        |cells AS (SELECT rw, bucket, CAST(sum(c) AS BIGINT) AS cell
        |          FROM wb GROUP BY rw, bucket)
        |SELECT word, max(c) AS exact, min(cell) AS est_cms,
        |  min(cell) - max(c) AS over_count
        |FROM wb JOIN cells USING (rw, bucket)
        |GROUP BY word
        |ORDER BY exact DESC, word ASC LIMIT 20""".stripMargin,

    // CMS inner-product join-size estimate — mirrors
    // CorpusStats.cmsJoinSize: per-side cells from the same md5-analog
    // row hashes over the key's decimal string, est = min over rows of
    // the cell dot product (one-sided high), exact = sum of per-key
    // count products, Markov bound 2*na*nb/w.
    "cms_join_size" ->
      """WITH ca AS (SELECT CAST(l_orderkey AS VARCHAR) AS k,
        |              CAST(count(*) AS BIGINT) AS c
        |            FROM lineitem GROUP BY 1),
        |cb AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
        |         CAST(count(*) AS BIGINT) AS c
        |       FROM orders GROUP BY 1),
        |wa AS (SELECT k, c, j AS rw,
        |         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), k)), 1, 8))
        |           AS BIGINT) % 256 AS bucket
        |       FROM ca, (SELECT unnest(generate_series(1, 4)) AS j)),
        |wb AS (SELECT k, c, j AS rw,
        |         CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), k)), 1, 8))
        |           AS BIGINT) % 256 AS bucket
        |       FROM cb, (SELECT unnest(generate_series(1, 4)) AS j)),
        |cella AS (SELECT rw, bucket, CAST(sum(c) AS BIGINT) AS cell
        |          FROM wa GROUP BY rw, bucket),
        |cellb AS (SELECT rw, bucket, CAST(sum(c) AS BIGINT) AS cell
        |          FROM wb GROUP BY rw, bucket),
        |ip AS (SELECT a.rw, CAST(sum(a.cell * b.cell) AS BIGINT) AS est
        |       FROM cella a JOIN cellb b USING (rw, bucket) GROUP BY a.rw),
        |e AS (SELECT CAST(min(est) AS BIGINT) AS est_pairs FROM ip),
        |n AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ca) AS na,
        |             (SELECT CAST(sum(c) AS BIGINT) FROM cb) AS nb),
        |x AS (SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS exact_pairs
        |      FROM ca JOIN cb USING (k))
        |SELECT n.na, n.nb, x.exact_pairs, e.est_pairs,
        |  e.est_pairs - x.exact_pairs AS over_count,
        |  CAST((2 * n.na * n.nb) // 256 AS BIGINT) AS err_bound,
        |  (e.est_pairs - x.exact_pairs) <= ((2 * n.na * n.nb) // 256)
        |    AS within_bound
        |FROM n, x, e""".stripMargin,

    // Newman modularity of the label_prop partition — same kNN-graph +
    // 2-round propagation CTEs as label_prop, then labeled-subgraph
    // edge scoring in exact 1/(4m^2) units (no division anywhere).
    "modularity" -> {
      val p =
        s"""nn AS (SELECT $AdaptiveBitsSql AS bits),
          |b AS (SELECT vec_id, embedding,
          |        CAST(list_sum(list_transform(range(nn.bits), i ->
          |          CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
          |               THEN (1::BIGINT << CAST(nn.bits - 1 - i AS INT))
          |               ELSE 0 END)) AS INT) AS bucket
          |      FROM embeddings, nn),
          |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
          |      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)""".stripMargin
      s"""WITH ${cosineFrom(p, "")},
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |      FROM s),
         |k AS (SELECT qid, cid FROM r WHERE rk <= 5),
         |eg AS (SELECT a.qid AS src, a.cid AS dst
         |       FROM k a JOIN k m ON a.qid = m.cid AND a.cid = m.qid
         |       WHERE a.qid < a.cid),
         |adj AS (SELECT src AS node, dst AS nbr FROM eg
         |        UNION ALL SELECT dst AS node, src AS nbr FROM eg),
         |seeds AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lp_label,
         |            0 AS lp_round
         |          FROM embeddings WHERE vec_id % 4 = 0),
         |v1 AS (SELECT adj.node, sd.lp_label, count(*) AS n
         |       FROM adj JOIN seeds sd ON adj.nbr = sd.node
         |       WHERE adj.node NOT IN (SELECT node FROM seeds)
         |       GROUP BY adj.node, sd.lp_label),
         |w1 AS (SELECT node, lp_label,
         |         row_number() OVER (PARTITION BY node ORDER BY n DESC, lp_label) AS rk
         |       FROM v1),
         |l1 AS (SELECT node, lp_label FROM seeds
         |       UNION ALL
         |       SELECT node, lp_label FROM w1 WHERE rk = 1),
         |v2 AS (SELECT adj.node, l.lp_label, count(*) AS n
         |       FROM adj JOIN l1 l ON adj.nbr = l.node
         |       WHERE adj.node NOT IN (SELECT node FROM l1)
         |       GROUP BY adj.node, l.lp_label),
         |w2 AS (SELECT node, lp_label,
         |         row_number() OVER (PARTITION BY node ORDER BY n DESC, lp_label) AS rk
         |       FROM v2),
         |l2 AS (SELECT node, lp_label FROM l1
         |       UNION ALL
         |       SELECT node, lp_label FROM w2 WHERE rk = 1),
         |le AS (SELECT a.lp_label AS la, bb.lp_label AS lb
         |       FROM eg JOIN l2 a ON a.node = eg.src
         |               JOIN l2 bb ON bb.node = eg.dst),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM le),
         |deg AS (SELECT lp_label, CAST(count(*) AS BIGINT) AS degree_sum FROM
         |          (SELECT la AS lp_label FROM le
         |           UNION ALL SELECT lb AS lp_label FROM le)
         |        GROUP BY lp_label),
         |intra AS (SELECT la AS lp_label, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM le WHERE la = lb GROUP BY la),
         |nodes AS (SELECT lp_label, CAST(count(*) AS BIGINT) AS n_nodes
         |          FROM l2 GROUP BY lp_label)
         |SELECT n.lp_label, n.n_nodes,
         |  coalesce(i.intra_edges, 0) AS intra_edges,
         |  coalesce(d.degree_sum, 0) AS degree_sum, mm.m,
         |  4 * mm.m * coalesce(i.intra_edges, 0)
         |    - coalesce(d.degree_sum, 0) * coalesce(d.degree_sum, 0) AS q_x4m2
         |FROM nodes n LEFT JOIN intra i USING (lp_label)
         |  LEFT JOIN deg d USING (lp_label) CROSS JOIN mm
         |ORDER BY n.lp_label""".stripMargin
    },

    // W1 drift — mirrors CorpusStats.wassersteinDrift: histogram CDFs
    // per lang vs rest, cross-multiplied gap × next-value delta summed
    // through HUGEINT, one normalizing division at the surface.
    "wasserstein_drift" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
        |hist AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS cnt
        |         FROM d GROUP BY lang, v),
        |grid AS (SELECT l.lang, g.v
        |         FROM (SELECT DISTINCT lang FROM d) l,
        |              (SELECT DISTINCT v FROM d) g),
        |tv AS (SELECT v, sum(cnt) AS tot_v FROM hist GROUP BY v),
        |j AS (SELECT grid.lang, grid.v, coalesce(h.cnt, 0) AS cnt,
        |        tv.tot_v - coalesce(h.cnt, 0) AS rest
        |      FROM grid LEFT JOIN hist h
        |        ON h.lang = grid.lang AND h.v = grid.v
        |      JOIN tv ON tv.v = grid.v),
        |cum AS (SELECT lang, v,
        |          sum(cnt) OVER (PARTITION BY lang ORDER BY v
        |            ROWS UNBOUNDED PRECEDING) AS cum_in,
        |          sum(rest) OVER (PARTITION BY lang ORDER BY v
        |            ROWS UNBOUNDED PRECEDING) AS cum_rest,
        |          coalesce(lead(v, 1) OVER (PARTITION BY lang ORDER BY v)
        |            - v, 0) AS dv
        |        FROM j),
        |bl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_in FROM d GROUP BY lang),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d),
        |terms AS (SELECT c.lang, bl.n_in, tt.n_all - bl.n_in AS n_rest,
        |            CAST(abs(c.cum_in * (tt.n_all - bl.n_in)
        |              - c.cum_rest * bl.n_in) AS HUGEINT) * c.dv AS term
        |          FROM cum c JOIN bl ON bl.lang = c.lang CROSS JOIN tt)
        |SELECT lang, max(n_in) AS n_in, max(n_rest) AS n_rest,
        |  CAST((1000 * sum(term)) // greatest(max(n_in) * max(n_rest), 1)
        |    AS BIGINT) AS w1_x1000
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,

    // Gini — mirrors CorpusStats.giniConcentration: ascending-count
    // rank formula sum (2i - n - 1) x_i over (lang, source) cells.
    "gini_concentration" ->
      """WITH cells AS (SELECT lang, source,
        |    CAST(count(*) AS BIGINT) AS n_cell
        |  FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, n_cell,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY n_cell ASC, source ASC) AS BIGINT) AS i,
        |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_src
        |      FROM cells)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(n_cell) AS BIGINT) AS n_docs,
        |  CAST((10000 * sum((2 * i - n_src - 1) * n_cell)) //
        |    (count(*) * sum(n_cell)) AS BIGINT) AS gini_bp
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // Negative-sampling table — mirrors CorpusStats.unigramSampling:
    // w34 = isqrt(c * isqrt(c)), both isqrts floor(sqrt(double)) with
    // the ±1 correction, probabilities in exact ppm.
    "unigram_sampling" ->
      """WITH w0 AS (
        |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w0
        |       WHERE length(word) > 0 GROUP BY word),
        |i1 AS (SELECT word, c,
        |         CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS s0
        |       FROM wc),
        |i2 AS (SELECT word, c,
        |         CASE WHEN s0 * s0 > c THEN s0 - 1 ELSE s0 END AS s1
        |       FROM i1),
        |i3 AS (SELECT word, c,
        |         CASE WHEN (s1 + 1) * (s1 + 1) <= c THEN s1 + 1 ELSE s1 END AS r1
        |       FROM i2),
        |m AS (SELECT word, c, c * r1 AS m FROM i3),
        |o1 AS (SELECT word, c, m,
        |         CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT) AS t0
        |       FROM m),
        |o2 AS (SELECT word, c, m,
        |         CASE WHEN t0 * t0 > m THEN t0 - 1 ELSE t0 END AS t1
        |       FROM o1),
        |w34 AS (SELECT word, c,
        |          CASE WHEN (t1 + 1) * (t1 + 1) <= m THEN t1 + 1 ELSE t1 END AS w34
        |        FROM o2),
        |tot AS (SELECT sum(w34) AS total_w FROM w34)
        |SELECT word, c, w34,
        |  CAST((1000000 * w34) // total_w AS BIGINT) AS prob_ppm
        |FROM w34 CROSS JOIN tot
        |ORDER BY c DESC, word ASC LIMIT 30""".stripMargin,

    // Dunning G² collocations — same bigram tokens as collocations'
    // lead() build; marginals and the total derive from the pair-count
    // frame; every ln argument keeps the engine's exact CAST placement
    // and the four terms sum in the same left-associative order, so
    // the rounded doubles are bit-identical.
    "llr_collocations" ->
      s"""WITH $WordsCte,
         |sh0 AS (SELECT doc_id, pos, word,
         |          lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS wnext
         |        FROM words),
         |p AS (SELECT word AS w1, wnext AS w2, CAST(count(*) AS BIGINT) AS c12
         |      FROM sh0 WHERE wnext IS NOT NULL GROUP BY 1, 2),
         |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM p GROUP BY 1),
         |m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM p GROUP BY 1),
         |t AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM p),
         |sc AS (SELECT w1, w2, c12, c1, c2,
         |  round(2 * (CASE WHEN c12 = 0 THEN CAST(0 AS DOUBLE) ELSE (c12) *
         |      ln((CAST(c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * (c2))) END
         |   + CASE WHEN c1 - c12 = 0 THEN CAST(0 AS DOUBLE) ELSE (c1 - c12) *
         |      ln((CAST(c1 - c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * (n - c2))) END
         |   + CASE WHEN c2 - c12 = 0 THEN CAST(0 AS DOUBLE) ELSE (c2 - c12) *
         |      ln((CAST(c2 - c12 AS DOUBLE) * n) / (CAST(n - c1 AS DOUBLE) * (c2))) END
         |   + CASE WHEN n - c1 - c2 + c12 = 0 THEN CAST(0 AS DOUBLE)
         |     ELSE (n - c1 - c2 + c12) *
         |      ln((CAST(n - c1 - c2 + c12 AS DOUBLE) * n)
         |        / (CAST(n - c1 AS DOUBLE) * (n - c2))) END), 4) AS llr
         |  FROM p JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN t
         |  WHERE c12 >= 5)
         |SELECT w1, w2, c12, c1, c2, llr FROM sc
         |ORDER BY llr DESC, w1, w2 LIMIT 20""".stripMargin,

    // Benford leading-digit audit — digit of the exact integer-cents
    // encoding (the repo money rule; no double→string formatting);
    // reference shares are the pinned round(10000·log10(1+1/d)) table,
    // NOT runtime log10 (libm rounding is engine-specific).
    "benford_deviation" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        |           FROM orders),
        |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
        |      FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
        |b(digit, benford_bp) AS (VALUES
        |  (1, CAST(3010 AS BIGINT)), (2, CAST(1761 AS BIGINT)),
        |  (3, CAST(1249 AS BIGINT)), (4, CAST(969 AS BIGINT)),
        |  (5, CAST(792 AS BIGINT)), (6, CAST(669 AS BIGINT)),
        |  (7, CAST(580 AS BIGINT)), (8, CAST(512 AS BIGINT)),
        |  (9, CAST(458 AS BIGINT)))
        |SELECT g.digit, g.n,
        |  CAST((10000 * g.n) // t.n_total AS BIGINT) AS share_bp,
        |  b.benford_bp,
        |  CAST((10000 * g.n) // t.n_total - b.benford_bp AS BIGINT) AS dev_bp
        |FROM g CROSS JOIN t JOIN b USING (digit)
        |ORDER BY digit""".stripMargin,

    // Exact-rational shape moments about the floor mean — identical
    // binomial expansion and staged integral division as the engine
    // (m3² div m2 first, then the b1 scaling), all in HUGEINT so no
    // intermediate rounds; surfaces cast to BIGINT/INT (dtype-strict).
    "moments_profile" ->
      """WITH l AS (SELECT lang, CAST(length(text) AS HUGEINT) AS l
        |           FROM documents),
        |s AS (SELECT lang, CAST(count(*) AS HUGEINT) AS n,
        |        sum(l) AS s1, sum(l * l) AS s2,
        |        sum(l * l * l) AS s3, sum(l * l * l * l) AS s4
        |      FROM l GROUP BY lang),
        |mu AS (SELECT *, s1 // n AS mu FROM s),
        |m AS (SELECT lang, n, mu,
        |        s2 - 2 * mu * s1 + n * mu * mu AS m2,
        |        s3 - 3 * mu * s2 + 3 * mu * mu * s1 - n * mu * mu * mu AS m3,
        |        s4 - 4 * mu * s3 + 6 * mu * mu * s2
        |          - 4 * mu * mu * mu * s1 + n * mu * mu * mu * mu AS m4
        |      FROM mu)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST(mu AS BIGINT) AS mean_floor, CAST(m2 AS BIGINT) AS m2,
        |  CAST((10000 * n * m4) // greatest(m2 * m2, 1) AS BIGINT) AS kurt_bp,
        |  CAST(CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 ELSE 0 END
        |    AS INT) AS skew_sign,
        |  CAST((100 * n * ((m3 * m3) // greatest(m2, 1)))
        |    // greatest(m2 * m2, 1) AS BIGINT) AS skew_b1_x100
        |FROM m ORDER BY lang""".stripMargin
  )
}
