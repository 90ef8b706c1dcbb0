package graft.catalog

import graft.catalog.Shared._
import graft.operators._
import graft.sources.Tables

/** Text analysis of the documents corpus: quality signals, language ID,
  * fingerprints, contamination, retrieval and drift. */
object TextQueries {

  /** The BM25 oracle as a corpus-parameterized template: `preCtes` are
    * extra CTE definitions (trailing comma + newline, or empty) and
    * `corpusSel` must yield (doc_id, text) — one SQL body serves both
    * the documents-table query and the chunk-index capstone. */
  private def bm25SqlOver(preCtes: String, corpusSel: String): String =
    s"""WITH ${preCtes}corpus AS ($corpusSel),
       |q AS (SELECT CAST(qid AS BIGINT) AS qid, qtext
       |  FROM (VALUES ${Retrieval.Queries.map { case (q, t) =>
           s"($q, '$t')" }.mkString(", ")}) v(qid, qtext)),
       |qt AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term
       |       FROM q),
       |terms AS (SELECT doc_id, unnest(toks) AS term
       |  FROM (SELECT doc_id, $DuckTokList AS toks FROM corpus) t),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY 1),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |       FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
       |c AS (
       |  SELECT qt.qid, tf.doc_id,
       |    CAST(floor(
       |      ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
       |      (tf.tf * ${Retrieval.K1 + 1.0} /
       |       (tf.tf + ${Retrieval.K1} * (1.0 - ${Retrieval.B} +
       |        ${Retrieval.B} * dl.dl * st.n_docs / st.n_tokens))) *
       |      1000000.0) AS BIGINT) AS contrib
       |  FROM tf JOIN qt USING (term) JOIN df USING (term)
       |       JOIN dl USING (doc_id) CROSS JOIN st),
       |sc AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(sum(contrib) AS BIGINT) AS score_micro
       |       FROM c GROUP BY 1, 2)
       |SELECT qid, doc_id, n_terms, score_micro, rn FROM (
       |  SELECT qid, doc_id, n_terms, score_micro,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score_micro DESC, doc_id) AS rn
       |  FROM sc) x
       |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  /** DuckDB retraining of the count-space NB language-ID model — the
    * identical marker plant, counts, smoothing, integer-millionth log
    * weights, and (score DESC, lang ASC) argmax as
    * TextAnalysis.nbScores. Float work is confined to one ln per
    * distinct (token, lang) weight, floored to BIGINT millionths before
    * any sum, so both engines aggregate identical integers. */
  private lazy val NbScoresSql: String =
    s"""corpus AS (
       |  SELECT doc_id, lang,
       |    text || ' ' || repeat('qq' || CAST(li AS VARCHAR) || ' ', 6) ||
       |    'qq' || CAST((li + 1) % 5 AS VARCHAR) ||
       |    ' qq' || CAST((li + 2) % 5 AS VARCHAR) AS text
       |  FROM (SELECT doc_id, lang, text,
       |          CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1
       |               WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END AS li
       |        FROM documents) d),
       |tk AS (SELECT doc_id, lang, $DuckTokList AS toks FROM corpus),
       |tok AS (SELECT doc_id, lang AS lang_label, unnest(toks) AS w
       |        FROM tk),
       |cnt AS (SELECT lang_label AS l, w, count(*) AS c
       |        FROM tok GROUP BY 1, 2),
       |tots AS (SELECT lang_label AS l, count(*) AS tot
       |         FROM tok GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
       |pri AS (
       |  SELECT lang AS l,
       |    CAST(floor(ln(count(*)::DOUBLE /
       |      (SELECT count(*)::DOUBLE FROM corpus)) * 1000000.0)
       |      AS BIGINT) AS prior
       |  FROM corpus GROUP BY 1),
       |langs AS (SELECT DISTINCT lang AS l FROM corpus),
       |scores AS (
       |  SELECT t.doc_id, t.lang_label, lg.l, pr.prior +
       |    CAST(sum(CAST(floor(ln(
       |      (coalesce(c.c, 0) + 1)::DOUBLE / (tt.tot + vb.v)::DOUBLE)
       |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM tok t
       |  CROSS JOIN langs lg
       |  LEFT JOIN cnt c ON c.l = lg.l AND c.w = t.w
       |  JOIN tots tt ON tt.l = lg.l
       |  CROSS JOIN vocab vb
       |  JOIN pri pr ON pr.l = lg.l
       |  GROUP BY t.doc_id, t.lang_label, lg.l, pr.prior),
       |pred AS (
       |  SELECT doc_id, lang_label, l AS lang_pred, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, l ASC) AS rn
       |  FROM scores)""".stripMargin

  /** DuckDB recomputation of benchmark contamination (shared by the
    * exact one-tier path and the bloom-pruned two-tier path, whose
    * result must be identical). */
  private lazy val ContaminationSql: String =
    s"""WITH snip AS (
       |  SELECT doc_id + 50 AS t_id,
       |    array_to_string(list_slice($DuckTokList, 1, 8), ' ') AS snippet
       |  FROM documents WHERE doc_id < 20),
       |corpus AS (
       |  SELECT d.doc_id,
       |    CASE WHEN s.snippet IS NOT NULL
       |      THEN d.text || ' ' || s.snippet ELSE d.text END AS text
       |  FROM documents d LEFT JOIN snip s ON d.doc_id = s.t_id),
       |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(list_slice(toks, i, i+7), ' ') AS gram
       |  FROM t, LATERAL (SELECT unnest(generate_series(1,
       |                     greatest(len(toks)-7, 0))) AS i) g),
       |bench AS (SELECT gram, doc_id AS bench_id FROM grams
       |          WHERE doc_id < 50)
       |SELECT g.doc_id, count(DISTINCT g.gram) AS n_grams_hit,
       |  count(DISTINCT b.bench_id) AS n_bench_docs
       |FROM grams g JOIN bench b USING (gram)
       |WHERE g.doc_id >= 50
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- text analysis (north-star LLM-pipeline operators) ---
    Query("token_stats", (TextAnalysis.tokenStats _), Oracle(
      s"""SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct,
         |  length(text) AS n_chars,
         |  round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
         |        / len(toks), 4) AS avg_token_len
         |FROM (SELECT doc_id, text, $DuckTokList AS toks FROM documents) t
         |ORDER BY doc_id""".stripMargin)),
    Query("quality_score", (TextAnalysis.qualityScore _), Oracle(
      s"""SELECT doc_id, n_tokens, stop_ratio, distinct_ratio,
         |  round(0.4*stop_ratio + 0.6*distinct_ratio, 4) AS quality_score
         |FROM (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(len(list_filter(toks, x -> list_contains(
         |      ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |      / len(toks), 4) AS stop_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4)
         |      AS distinct_ratio
         |  FROM (SELECT doc_id, $DuckTokList AS toks FROM documents) t) q
         |ORDER BY doc_id""".stripMargin)),
    // Gopher/MassiveText composite reject rules as one scan; every
    // threshold a cross-multiplied integer comparison so the per-rule
    // rejection counts hash-match the ANSI recompute exactly
    Query("gopher_rules", (TextAnalysis.gopherRules _), Oracle(
      // Gopher composite rules: identical clean_words tokens, identical
      // cross-multiplied integer thresholds — exact per-rule counts
      s"""WITH t AS (SELECT doc_id, text, $DuckTokList AS toks
         |           FROM documents),
         |m AS (SELECT
         |  len(toks)::BIGINT AS n_words,
         |  COALESCE(list_sum(list_transform(toks, x -> length(x))),
         |    0)::BIGINT AS sum_len,
         |  (length(text) - length(replace(text, '#', '')))::BIGINT
         |    AS n_hash,
         |  ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT
         |    AS n_ell,
         |  len(string_split(text, chr(10)))::BIGINT AS n_lines,
         |  len(list_filter(string_split(text, chr(10)), l ->
         |    starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
         |    OR starts_with(ltrim(l), '•')))::BIGINT AS n_bullet,
         |  len(list_filter(string_split(text, chr(10)), l ->
         |    ends_with(rtrim(l), '...')))::BIGINT AS n_ell_end,
         |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
         |    AS n_alpha,
         |  len(list_intersect(list_distinct(toks),
         |    ['the','be','to','of','and','that','have','with']))::BIGINT
         |    AS n_stop
         |  FROM t),
         |fl AS (SELECT
         |  CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
         |    AS r_wc,
         |  CASE WHEN sum_len < 3*n_words OR sum_len > 10*n_words
         |    THEN 1 ELSE 0 END AS r_mwl,
         |  CASE WHEN 10*n_hash > n_words OR 10*n_ell > n_words
         |    THEN 1 ELSE 0 END AS r_sym,
         |  CASE WHEN 10*n_bullet > 9*n_lines THEN 1 ELSE 0 END AS r_bul,
         |  CASE WHEN 10*n_ell_end > 3*n_lines THEN 1 ELSE 0 END AS r_ell,
         |  CASE WHEN 10*n_alpha < 8*n_words THEN 1 ELSE 0 END AS r_alp,
         |  CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS r_stp
         |  FROM m),
         |a AS (SELECT
         |  COALESCE(CAST(sum(r_wc) AS BIGINT), 0) AS wc,
         |  COALESCE(CAST(sum(r_mwl) AS BIGINT), 0) AS mwl,
         |  COALESCE(CAST(sum(r_sym) AS BIGINT), 0) AS sym,
         |  COALESCE(CAST(sum(r_bul) AS BIGINT), 0) AS bul,
         |  COALESCE(CAST(sum(r_ell) AS BIGINT), 0) AS ell,
         |  COALESCE(CAST(sum(r_alp) AS BIGINT), 0) AS alp,
         |  COALESCE(CAST(sum(r_stp) AS BIGINT), 0) AS stp,
         |  COALESCE(CAST(sum(CASE WHEN
         |    r_wc+r_mwl+r_sym+r_bul+r_ell+r_alp+r_stp = 0
         |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS pas
         |  FROM fl)
         |SELECT 'pass_all' AS rule, pas AS n_docs FROM a
         |UNION ALL SELECT 'reject_alpha_words', alp FROM a
         |UNION ALL SELECT 'reject_bullet_lines', bul FROM a
         |UNION ALL SELECT 'reject_ellipsis_lines', ell FROM a
         |UNION ALL SELECT 'reject_mean_word_len', mwl FROM a
         |UNION ALL SELECT 'reject_stopwords', stp FROM a
         |UNION ALL SELECT 'reject_symbol_ratio', sym FROM a
         |UNION ALL SELECT 'reject_word_count', wc FROM a
         |ORDER BY rule""".stripMargin)),
    // the A1.2 repetition battery (13 published reject rules as one
    // scan; doubled-doc plant keeps the reject counts live)
    Query("gopher_repetition", (TextAnalysis.gopherRepetition _), Oracle {
      // Gopher A1.2 repetition battery: identical segment/gram
      // definitions, identical cross-multiplied integer thresholds; the
      // oracle recomputes gram counts relationally (unnest + GROUP BY)
      // where Spark runs sorted-array aggregates — different shapes,
      // value-identical. Generated from the SAME (n, pct) constant
      // tables as the Spark side so the engines cannot drift.
      val topJoins = TextAnalysis.RepTopNgram.map { case (n, _) =>
        s"LEFT JOIN tp t$n ON s.doc_id = t$n.doc_id AND t$n.n = $n"
      }.mkString("\n")
      val dupJoins = TextAnalysis.RepDupNgram.map { case (n, _) =>
        s"LEFT JOIN dp d$n ON s.doc_id = d$n.doc_id AND d$n.n = $n"
      }.mkString("\n")
      val topSel = TextAnalysis.RepTopNgram.map { case (n, _) =>
        s"COALESCE(t$n.cover, 0) AS top$n" }.mkString(", ")
      val dupSel = TextAnalysis.RepDupNgram.map { case (n, _) =>
        s"COALESCE(d$n.cover, 0) AS dup$n" }.mkString(", ")
      val topFlags = TextAnalysis.RepTopNgram.map { case (n, pct) =>
        f"CASE WHEN 100*top$n > $pct*total THEN 1 ELSE 0 END AS r_top_$n%02d"
      }.mkString(",\n")
      val dupFlags = TextAnalysis.RepDupNgram.map { case (n, pct) =>
        f"CASE WHEN 100*dup$n > $pct*total THEN 1 ELSE 0 END AS r_dup_$n%02d"
      }.mkString(",\n")
      val allFlags = Seq("r_line_frac", "r_line_chars", "r_para_frac",
        "r_para_chars") ++
        TextAnalysis.RepTopNgram.map { case (n, _) => f"r_top_$n%02d" } ++
        TextAnalysis.RepDupNgram.map { case (n, _) => f"r_dup_$n%02d" }
      val sums = allFlags.map(f =>
        s"COALESCE(CAST(SUM($f) AS BIGINT), 0) AS $f").mkString(",\n")
      val unions = (Seq(
        "reject_dup_line_frac" -> "r_line_frac",
        "reject_dup_line_chars" -> "r_line_chars",
        "reject_dup_para_frac" -> "r_para_frac",
        "reject_dup_para_chars" -> "r_para_chars") ++
        TextAnalysis.RepTopNgram.map { case (n, _) =>
          f"reject_top_ngram_$n%02d" -> f"r_top_$n%02d" } ++
        TextAnalysis.RepDupNgram.map { case (n, _) =>
          f"reject_dup_ngram_$n%02d" -> f"r_dup_$n%02d" })
        .map { case (name, c) => s"UNION ALL SELECT '$name', $c FROM a" }
        .mkString("\n")
      val ns = (TextAnalysis.RepTopNgram ++ TextAnalysis.RepDupNgram)
        .map(_._1).mkString(",")
      s"""WITH corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |    THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, text, $DuckTokList AS toks FROM corpus),
         |base AS (SELECT doc_id, toks,
         |  length(array_to_string(toks, ' '))::BIGINT AS total,
         |  list_filter(string_split(text, chr(10)),
         |    l -> trim(l) <> '') AS lines,
         |  list_filter(string_split(text, chr(10)||chr(10)),
         |    l -> trim(l) <> '') AS paras
         |  FROM t),
         |seg AS (SELECT doc_id, total,
         |  len(lines)::BIGINT AS nl,
         |  len(list_distinct(lines))::BIGINT AS nld,
         |  COALESCE(list_sum(list_transform(lines, x -> length(x))),
         |    0)::BIGINT AS lc,
         |  COALESCE(list_sum(list_transform(list_distinct(lines),
         |    x -> length(x))), 0)::BIGINT AS lcd,
         |  len(paras)::BIGINT AS np,
         |  len(list_distinct(paras))::BIGINT AS npd,
         |  COALESCE(list_sum(list_transform(paras, x -> length(x))),
         |    0)::BIGINT AS pc,
         |  COALESCE(list_sum(list_transform(list_distinct(paras),
         |    x -> length(x))), 0)::BIGINT AS pcd
         |  FROM base),
         |g AS (SELECT doc_id, n, gram, count(*)::BIGINT AS cnt,
         |             length(gram)::BIGINT AS glen
         |  FROM (
         |    SELECT b.doc_id, ns.n,
         |      unnest(list_transform(
         |        generate_series(1, greatest(len(b.toks) - ns.n + 1, 0)),
         |        i -> array_to_string(
         |          list_slice(b.toks, i, i + ns.n - 1), ' '))) AS gram
         |    FROM base b, (SELECT unnest([$ns]) AS n) ns) x
         |  GROUP BY doc_id, n, gram),
         |tp AS (SELECT doc_id, n, cnt * glen AS cover FROM (
         |    SELECT doc_id, n, cnt, glen, gram,
         |      row_number() OVER (PARTITION BY doc_id, n
         |        ORDER BY cnt DESC, gram) AS rn
         |    FROM g WHERE n <= 4) y WHERE rn = 1),
         |dp AS (SELECT doc_id, n,
         |    COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt * glen
         |      ELSE 0 END), 0)::BIGINT AS cover
         |  FROM g WHERE n >= 5 GROUP BY doc_id, n),
         |m AS (SELECT s.doc_id, s.total, s.nl, s.nld, s.lc, s.lcd,
         |  s.np, s.npd, s.pc, s.pcd,
         |  $topSel, $dupSel
         |  FROM seg s
         |$topJoins
         |$dupJoins),
         |fl AS (SELECT
         |  CASE WHEN 100*(nl - nld) > 30*nl THEN 1 ELSE 0 END
         |    AS r_line_frac,
         |  CASE WHEN 100*(lc - lcd) > 20*lc THEN 1 ELSE 0 END
         |    AS r_line_chars,
         |  CASE WHEN 100*(np - npd) > 30*np THEN 1 ELSE 0 END
         |    AS r_para_frac,
         |  CASE WHEN 100*(pc - pcd) > 20*pc THEN 1 ELSE 0 END
         |    AS r_para_chars,
         |$topFlags,
         |$dupFlags
         |  FROM m),
         |a AS (SELECT
         |  COALESCE(CAST(SUM(CASE WHEN ${allFlags.mkString(" + ")} = 0
         |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS pas,
         |$sums
         |  FROM fl)
         |SELECT 'pass_all' AS rule, pas AS n_docs FROM a
         |$unions
         |ORDER BY rule""".stripMargin
    }),
    // curriculum-learning order: quality-quantile stages with per-stage
    // doc/token accounting (ntile semantics, no global window)
    Query("curriculum_stages", ((s, dir) =>
      TextAnalysis.curriculumStages(s, dir)), Oracle(
      // the staging is EXACTLY ntile over (quality DESC, doc_id) — the
      // Spark side computes the same assignment without the global window
      s"""WITH q AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(0.4*round(len(list_filter(toks, x -> list_contains(
         |        ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4) +
         |      0.6*round(len(list_distinct(toks))::DOUBLE / len(toks), 4),
         |      4) AS quality_score
         |  FROM (SELECT doc_id, $DuckTokList AS toks FROM documents) t),
         |s AS (
         |  SELECT n_tokens, quality_score,
         |    ntile(4) OVER (ORDER BY quality_score DESC, doc_id) AS stage
         |  FROM q)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  min(quality_score) AS min_quality,
         |  max(quality_score) AS max_quality
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("lang_id", (TextAnalysis.langId _), Oracle(
      """SELECT doc_id, lang AS lang_label,
        |  CASE
        |    WHEN len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]'))::DOUBLE
        |         / greatest(length(text), 1) > 0.05 THEN 'zh'
        |    WHEN len(regexp_extract_all(text, '[\x{3040}-\x{30FF}]'))::DOUBLE
        |         / greatest(length(text), 1) > 0.05 THEN 'ja'
        |    WHEN len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]'))::DOUBLE
        |         / greatest(length(text), 1) > 0.05 THEN 'ru'
        |    WHEN len(regexp_extract_all(text, '[áéíóúñ¿¡]'))::DOUBLE
        |         / greatest(length(text), 1) > 0.01 THEN 'es'
        |    ELSE 'en' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // trained count-space Naive Bayes over the marker-planted corpus:
    // integer-millionth log weights make the argmax hash-exact
    Query("lang_id_nb", (TextAnalysis.langIdNb _), Oracle(
      s"""WITH $NbScoresSql
         |SELECT doc_id, lang_label, lang_pred, score
         |FROM pred WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    // model-eval view: (label, pred) error structure of the trained NB
    Query("lang_id_confusion", (TextAnalysis.langIdNbConfusion _), Oracle(
      s"""WITH $NbScoresSql
         |SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // per-lang robust (median/MAD) token-length outliers, all-integer
    Query("length_outliers", (TextAnalysis.lengthOutliers _), Oracle(
      // the robust_price_stats integer median/MAD arithmetic per lang,
      // emitting the flagged docs instead of per-group counts
      s"""WITH corpus AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 40000, lang, substr(text, 1, 15)
         |  FROM documents WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id + 50000, lang, repeat(text || ' ', 20)
         |  FROM documents WHERE doc_id < 10),
         |t AS (
         |  SELECT doc_id, lang, CAST(len($DuckTokList) AS BIGINT)
         |    AS n_toks
         |  FROM corpus),
         |m AS (
         |  SELECT lang, CAST(2 * quantile_cont(n_toks, 0.5) AS BIGINT)
         |    AS med2
         |  FROM t GROUP BY 1),
         |d AS (
         |  SELECT t.doc_id, t.lang, t.n_toks,
         |    2 * n_toks - med2 AS dev2, med2
         |  FROM t JOIN m USING (lang)),
         |md AS (
         |  SELECT lang, CAST(2 * quantile_cont(abs(dev2), 0.5) AS BIGINT)
         |    AS mad4
         |  FROM d GROUP BY 1)
         |SELECT doc_id, lang, n_toks, med2, mad4, reason FROM (
         |  SELECT d.doc_id, d.lang, d.n_toks, d.med2, md.mad4,
         |    CASE WHEN d.n_toks < 5 THEN 'too_short'
         |         WHEN 2 * dev2 > 3 * mad4 THEN 'too_long' END AS reason
         |  FROM d JOIN md USING (lang)) f
         |WHERE reason IS NOT NULL
         |ORDER BY doc_id""".stripMargin)),
    // Gopher-style deflate-ratio repetitiveness signal (native
    // expression), checked through its planted-repeat invariant gate
    // (r17: the rows-only per-doc view consolidated into the gate —
    // deflate is not oracle-expressible, and the gate runs the same
    // expression over the same corpus with hash-checked flags)
    Query("compression_ratio_gate", (TextAnalysis.compressionRatioGate _), Oracle(
      // deflate isn't SQL-recomputable; the gate's correct answer is the
      // plant structure itself: 10 repeat pairs, corpus + 20 planted
      // rows, both invariant flags true
      """SELECT (SELECT CAST(count(*) + 20 AS BIGINT) FROM documents)
        |    AS n_docs,
        |  CAST(10 AS BIGINT) AS n_pairs,
        |  CAST(1 AS BIGINT) AS all_bounded,
        |  CAST(1 AS BIGINT) AS all_repeats_better""".stripMargin)),
    Query("lang_id_nb_gate", ((s, dir) => TextAnalysis.langIdNbGate(s, dir)), Oracle(
      s"""WITH $NbScoresSql
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN lang_pred = lang_label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_correct,
         |  CASE WHEN sum(CASE WHEN lang_pred = lang_label
         |                     THEN 1 ELSE 0 END) * 1000
         |            >= count(*) * 950
         |       THEN 1 ELSE 0 END AS acc_ok
         |FROM pred WHERE rn = 1""".stripMargin)),
    // trained quality filter: all-int64 batch perceptron over hashed
    // bag-of-words — the full train+score recurrence is hash-exact
    // against an oracle that unrolls the same integer updates
    Query("quality_classifier", (QualityClassifier.qualityPerceptron _), Oracle(
      s"""WITH $PerceptronSql
         |SELECT doc_id, label, margin,
         |  CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM mfin ORDER BY doc_id""".stripMargin)),
    Query("quality_classifier_gate",
      (QualityClassifier.qualityPerceptronGate _), Oracle(
      s"""WITH $PerceptronSql
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN (CASE WHEN margin > 0 THEN 1 ELSE -1 END)
         |                     = label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_correct,
         |  CASE WHEN sum(CASE WHEN (CASE WHEN margin > 0 THEN 1 ELSE -1
         |                           END) = label THEN 1 ELSE 0 END) * 1000
         |            >= count(*) * ${QualityClassifier.FloorMillis}
         |       THEN 1 ELSE 0 END AS acc_ok
         |FROM mfin""".stripMargin)),
    Query("fingerprint_md5", (TextAnalysis.fingerprintMd5 _), Oracle(
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""")),
    // rolling fingerprint checked through its gate (r17 consolidation:
    // xxhash64 is not oracle-expressible; the gate folds the SAME
    // rollingFpExpr over every doc + reversed plants and hash-checks
    // determinism/injectivity/order-sensitivity)
    Query("fingerprint_gate", (TextAnalysis.fingerprintGate _), Oracle(
      // the fingerprint itself is xxhash64-based (not ANSI-expressible);
      // the gate's n_docs/n_keys are exact recomputations and the flags
      // assert determinism + injectivity (see TextAnalysis.fingerprintGate)
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000,
         |    array_to_string(list_reverse($DuckTokList), ' ')
         |  FROM documents WHERE doc_id < 20),
         |k AS (SELECT array_to_string($DuckTokList, ' ') AS tok_key
         |      FROM corpus)
         |SELECT count(*) AS n_docs, count(DISTINCT tok_key) AS n_keys,
         |  1 AS functional_ok, 1 AS injective_ok
         |FROM k""".stripMargin)),
    Query("contamination_check", ((s, dir) =>
      TextAnalysis.contaminationCheck(s, dir, n = 8)),
      Oracle(ContaminationSql)),
    // the bloom-pruned + exact-confirmed two-tier variant must produce
    // the IDENTICAL answer (bloom has no false negatives; the exact
    // semi-join kills its false positives) — same oracle SQL
    Query("contamination_bloom", ((s, dir) =>
      TextAnalysis.contaminationCheckBloom(s, dir, n = 8)), Oracle(
      // bloom prune + exact confirm computes the identical answer — the
      // equality with the one-tier exact path IS the check
      ContaminationSql)),
    Query("doc_repetition", (TextAnalysis.docRepetition _), Oracle(
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
         |g AS (SELECT doc_id,
         |  list_transform(generate_series(1, greatest(len(toks)-2, 0)),
         |    i -> array_to_string(list_slice(toks, i, i+2), ' ')) AS grams
         |  FROM t)
         |SELECT doc_id, len(grams) AS n_3grams,
         |  len(list_distinct(grams)) AS n_distinct,
         |  1.0::DOUBLE - (len(list_distinct(grams))::DOUBLE
         |                 / greatest(len(grams), 1)) AS rep_ratio
         |FROM g ORDER BY doc_id""".stripMargin)),
    Query("top_domains", (TextAnalysis.topDomains _), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN
        |      text || ' see https://d' || (doc_id % 7) ||
        |      '.example.com/p/' || doc_id
        |    ELSE text END AS text
        |  FROM documents),
        |urls AS (SELECT unnest(regexp_extract_all(text,
        |           'https?://[^\s]+')) AS url FROM corpus)
        |SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
        |  count(*) AS n_urls
        |FROM urls GROUP BY 1
        |ORDER BY n_urls DESC, domain""".stripMargin)),
    Query("top_bigrams", ((s, dir) => TextAnalysis.topBigrams(s, dir, 30)), Oracle(
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |pairs AS (
         |  SELECT toks[i] || ' ' || toks[i+1] AS bigram
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g)
         |SELECT bigram, count(*) AS cnt FROM pairs
         |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 30""".stripMargin)),
    Query("tfidf_top_terms", ((s, dir) => TextAnalysis.tfidfTopTerms(s, dir, 5)), Oracle(
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(toks) AS term
         |  FROM (SELECT doc_id, $DuckTokList AS toks FROM documents) t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1,2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df
         |       FROM terms GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df, tfidf, rn FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) DESC,
         |               tf.term) AS rn
         |  FROM tf JOIN df USING(term) CROSS JOIN n) x
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin)),
    Query("bm25_topk", ((s, dir) => Retrieval.bm25TopK(s, dir, k = 10)), Oracle(
      bm25SqlOver("", "SELECT doc_id, text FROM documents"))),
    // hybrid retrieval: BM25 + embedding-cosine legs fused by integer
    // reciprocal-rank fusion — both legs oracle-expressible, so the
    // whole hybrid ranking hash-checks
    Query("hybrid_rrf", ((s, dir) => Retrieval.hybridRrf(s, dir)), Oracle(
      // both hybrid legs recomputed exactly (the bm25 template with the
      // query docs' own distinct tokens as terms + the knn_bruteforce
      // cosine), fused by the same integer floor(1e9/(60+rank)) formula
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |qt AS (SELECT DISTINCT doc_id AS qid, unnest(toks) AS term
         |       FROM t WHERE doc_id < 4),
         |terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM terms GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY 1),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM tf GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(dl) AS BIGINT) AS n_tokens FROM dl),
         |c AS (
         |  SELECT qt.qid, tf.doc_id,
         |    CAST(floor(
         |      ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
         |      (tf.tf * ${Retrieval.K1 + 1.0} /
         |       (tf.tf + ${Retrieval.K1} * (1.0 - ${Retrieval.B} +
         |        ${Retrieval.B} * dl.dl * st.n_docs / st.n_tokens))) *
         |      1000000.0) AS BIGINT) AS contrib
         |  FROM tf JOIN qt USING (term) JOIN df USING (term)
         |       JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.doc_id <> qt.qid),
         |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS sm
         |       FROM c GROUP BY 1, 2),
         |lexk AS (SELECT qid, doc_id, r FROM (
         |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sm DESC, doc_id) AS r FROM sc) x
         |  WHERE r <= ${Retrieval.RrfRankK}),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS vq FROM e WHERE vec_id < 4),
         |sims AS (
         |  SELECT qid, e.vec_id AS doc_id,
         |    round(
         |      list_sum(list_transform(list_zip(vq, e.v), x -> x[1]*x[2])) /
         |      (sqrt(list_sum(list_transform(vq, x -> x*x))) *
         |       sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS sim
         |  FROM q JOIN e ON qid <> e.vec_id),
         |cosk AS (SELECT qid, doc_id, r FROM (
         |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, doc_id) AS r FROM sims) x
         |  WHERE r <= ${Retrieval.RrfRankK}),
         |f AS (
         |  SELECT coalesce(l.qid, c2.qid) AS qid,
         |    coalesce(l.doc_id, c2.doc_id) AS doc_id,
         |    coalesce(CAST(floor(1000000000.0 /
         |      (${Retrieval.RrfK} + l.r)) AS BIGINT), 0) +
         |    coalesce(CAST(floor(1000000000.0 /
         |      (${Retrieval.RrfK} + c2.r)) AS BIGINT), 0) AS rrf_nano
         |  FROM lexk l FULL OUTER JOIN cosk c2
         |    ON l.qid = c2.qid AND l.doc_id = c2.doc_id)
         |SELECT qid, doc_id, rrf_nano, rn FROM (
         |  SELECT qid, doc_id, rrf_nano,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf_nano DESC, doc_id) AS rn
         |  FROM f) x
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),
    // RAG-prep capstone: CDC chunks -> exact chunk dedup -> BM25 over
    // the chunk index (chunk id = doc_id*stride + chunk_idx)
    Query("chunk_index_assembly",
      ((s, dir) => Retrieval.chunkIndexAssembly(s, dir)), Oracle(
      // chunk-level retrieval: the same BM25 template over the deduped
      // CDC chunk corpus (chunk id = doc_id·stride + chunk_idx)
      bm25SqlOver(
        s"""ct AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
           |ctp AS (
           |  SELECT doc_id, toks[pos] AS w, pos
           |  FROM ct, LATERAL (SELECT unnest(generate_series(1,
           |                      len(toks))) AS pos) p),
           |cf AS (
           |  SELECT doc_id, w, pos,
           |    CASE WHEN substr(md5(w), 1, 2)
           |              <= '${TextAnalysis.CdcBoundaryHexMax}'
           |         THEN 1 ELSE 0 END AS bnd
           |  FROM ctp),
           |cc AS (
           |  SELECT doc_id, w, pos,
           |    coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS chunk_idx
           |  FROM cf),
           |ch AS (
           |  SELECT CAST(doc_id * ${Retrieval.ChunkIdStride} + chunk_idx
           |              AS BIGINT) AS doc_id,
           |    string_agg(w, ' ' ORDER BY pos) AS text
           |  FROM cc GROUP BY doc_id, chunk_idx),
           |ded AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (
           |      PARTITION BY md5(text) ORDER BY doc_id) AS drn
           |    FROM ch) x
           |  WHERE drn = 1),
           |""".stripMargin,
        "SELECT doc_id, text FROM ded"))),
    // materialized searchable index export; stop-list NULL above df 64
    Query("inverted_index", ((s, dir) => Retrieval.invertedIndex(s, dir)), Oracle(
      s"""WITH tf AS (
         |  SELECT lower(word) AS term, doc_id, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($DuckTokList) AS word
         |        FROM documents) x
         |  GROUP BY 1, 2)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(tf) AS BIGINT) AS total_tf,
         |  CASE WHEN count(*) <= 64
         |    THEN string_agg(doc_id, ',' ORDER BY doc_id) END AS postings
         |FROM tf GROUP BY term ORDER BY term""".stripMargin)),
    // the release datasheet: one long-format hash-checked summary table
    Query("dataset_card", (Profile.datasetCard _), Oracle(
      // BM25 with the identical double expression tree (constants and the
      // query VALUES list interpolated from Retrieval's definitions); the
      // per-term floor-to-micros makes the sum order-independent
      // every card number re-states an already-green oracle's arithmetic:
      // the quality_score blend, the pii regexes, the exact-dup grouping
      s"""WITH base AS (
         |  SELECT doc_id, lang, text, $DuckTokList AS toks
         |  FROM documents),
         |pd AS (
         |  SELECT doc_id, lang,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(text) AS BIGINT) AS n_chars,
         |    round(0.4*round(len(list_filter(toks, x -> list_contains(
         |        ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4)
         |      + 0.6*round(len(list_distinct(toks))::DOUBLE
         |        / len(toks), 4), 4) AS q,
         |    regexp_matches(text, '${TextAnalysis.EmailRe}') AS has_email,
         |    regexp_matches(text, '${TextAnalysis.UrlRe}') AS has_url,
         |    md5(text) AS fp
         |  FROM base),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(sum(CASE WHEN has_email THEN 1 ELSE 0 END) AS BIGINT)
         |      AS docs_with_email,
         |    CAST(sum(CASE WHEN has_url THEN 1 ELSE 0 END) AS BIGINT)
         |      AS docs_with_url,
         |    CAST(min(n_toks) AS BIGINT) AS min_toks,
         |    CAST(max(n_toks) AS BIGINT) AS max_toks,
         |    CAST(2 * quantile_cont(n_toks, 0.5) AS BIGINT) AS med2_toks
         |  FROM pd),
         |v AS (SELECT CAST(count(DISTINCT lower(w)) AS BIGINT) AS c
         |      FROM (SELECT unnest(toks) AS w FROM base)),
         |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS d,
         |        CAST(sum(n_toks) AS BIGINT) AS t
         |      FROM pd GROUP BY lang),
         |qh AS (SELECT CAST(floor(q*10) AS BIGINT) AS b,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM pd GROUP BY 1),
         |dg AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT)
         |      AS g2,
         |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0)
         |      AS BIGINT) AS r2
         |  FROM (SELECT count(*) AS n FROM pd GROUP BY fp) s)
         |SELECT * FROM (
         |  SELECT 'global' AS section, 'n_docs' AS metric, n_docs AS value
         |  FROM g
         |  UNION ALL SELECT 'global', 'n_tokens', n_tokens FROM g
         |  UNION ALL SELECT 'global', 'n_chars', sum_chars FROM g
         |  UNION ALL SELECT 'global', 'vocab_size', c FROM v
         |  UNION ALL SELECT 'length', 'min_toks', min_toks FROM g
         |  UNION ALL SELECT 'length', 'max_toks', max_toks FROM g
         |  UNION ALL SELECT 'length', 'med2_toks', med2_toks FROM g
         |  UNION ALL SELECT 'pii', 'docs_with_email', docs_with_email FROM g
         |  UNION ALL SELECT 'pii', 'docs_with_url', docs_with_url FROM g
         |  UNION ALL SELECT 'lang', 'docs:' || lang, d FROM l
         |  UNION ALL SELECT 'lang', 'tokens:' || lang, t FROM l
         |  UNION ALL SELECT 'quality', 'decile_' || b, n FROM qh
         |  UNION ALL SELECT 'dup', 'exact_dup_groups', g2 FROM dg
         |  UNION ALL SELECT 'dup', 'exact_redundant_docs', r2 FROM dg) u
         |ORDER BY section, metric""".stripMargin)),
    // novelty runs on the near-dup plant so shared grams exist to find
    Query("ngram_novelty", ((s, dir) =>
      TextAnalysis.ngramNovelty(Dedup.withNearDups(Tables.documents(s, dir)))), Oracle(
      // novelty over the near-dup plant: each planted copy's gram set is a
      // subset of its base's, so copies score 0 and bases near 0
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${Dedup.DupIdOffset},
         |    regexp_replace(text, '^[^ ]+ ', '')
         |  FROM documents WHERE doc_id < ${Dedup.PlantCount}),
         |t AS (SELECT doc_id, $DuckTokList AS toks FROM corpus),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(toks, i, i+7), ' ') AS gram
         |  FROM t, LATERAL (SELECT unnest(generate_series(1,
         |                     greatest(len(toks)-7, 0))) AS i) w),
         |wc AS (SELECT doc_id,
         |         count(*) OVER (PARTITION BY gram) AS gdocs FROM g),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |          CAST(sum(CASE WHEN gdocs >= 2 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_shared
         |        FROM wc GROUP BY 1)
         |SELECT c.doc_id,
         |  coalesce(n_grams, CAST(0 AS BIGINT)) AS n_grams,
         |  coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared,
         |  CASE WHEN coalesce(n_grams, 0) = 0 THEN CAST(1000000 AS BIGINT)
         |       ELSE (n_grams - n_shared) * 1000000 // n_grams
         |  END AS novelty_millionths
         |FROM (SELECT doc_id FROM corpus) c LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),
    Query("dict_encode_stats", (TextAnalysis.dictEncodeStats _), Oracle(
      // the oracle's global row_number() IS the spec the distributed
      // local-rank+offset id assignment must reproduce
      s"""WITH toks AS (
         |  SELECT doc_id, lower(word) AS word
         |  FROM (SELECT doc_id, unnest($DuckTokList) AS word
         |        FROM documents) t),
         |vocab AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
         |ids AS (
         |  SELECT word,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word) - 1
         |      AS BIGINT) AS id
         |  FROM vocab)
         |SELECT t.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_toks,
         |  CAST(sum(i.id) AS BIGINT) AS id_sum,
         |  min(i.id) AS id_min,
         |  max(i.id) AS id_max,
         |  CAST(count(DISTINCT i.id) AS BIGINT) AS n_distinct
         |FROM toks t JOIN ids i USING (word)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("url_canonical", (TextAnalysis.urlCanonical _), Oracle(
      // the planted raw spellings are recomputed by formula (fixture-by-
      // construction), then canonicalized with the same regex pipeline
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'https://d' || (doc_id % 7) ||
        |        '.example.com/p/' || (doc_id % 20) || '?ref=a'
        |      WHEN 1 THEN 'HTTPS://WWW.d' || (doc_id % 7) ||
        |        '.EXAMPLE.COM:443/p/' || (doc_id % 20) ||
        |        '?utm_source=x&ref=a'
        |      ELSE 'https://D' || (doc_id % 7) ||
        |        '.example.com/p/' || (doc_id % 20) || '?ref=a#frag'
        |    END AS url
        |  FROM documents WHERE doc_id % 4 = 0),
        |parts AS (
        |  SELECT url,
        |    array_to_string(list_filter(string_split(
        |      regexp_extract(url, '[?]([^#]*)', 1), '&'),
        |      x -> NOT regexp_matches(x, '^utm_') AND x <> ''), '&')
        |      AS qs
        |  FROM planted),
        |canon AS (
        |  SELECT
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |      ':(443|80)$', ''), '^www\.', '') ||
        |    regexp_extract(regexp_extract(url,
        |      '^[A-Za-z]+://[^/?#]+([^#]*)', 1), '^([^?]*)', 1) ||
        |    CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon_url,
        |    url
        |  FROM parts)
        |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("pii_scrub", (TextAnalysis.piiScrub _), Oracle(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || doc_id ||
        |           '@example.com via https://example.com/d/' || doc_id
        |      ELSE text END AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS sc
        |  FROM d)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |  md5(sc) AS scrubbed_fp,
        |  length(sc) AS n_chars_scrubbed
        |FROM s ORDER BY doc_id""".stripMargin)),
    Query("text_normalize", (TextAnalysis.textNormalize _), Oracle(
      // DuckDB ships the same Unicode tables (nfc_normalize); chr(769)
      // rebuilds the planted combining-acute suffix byte-for-byte
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN
        |      text || ' cafe' || chr(769) || ' re' || chr(769) ||
        |      'sume' || chr(769)
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(nfc_normalize(text) <> text AS INT) AS changed,
        |  length(text) AS n_chars_raw,
        |  length(nfc_normalize(text)) AS n_chars_nfc,
        |  md5(nfc_normalize(text)) AS nfc_fp
        |FROM corpus ORDER BY doc_id""".stripMargin)),
    Query("lm_typicality", (TextAnalysis.lmTypicality _), Oracle(
      // count-space LM scoring: integer sums are exact on both engines;
      // the single final division is correctly rounded (see lmTypicality)
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |grams AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g),
         |big AS (SELECT bigram, count(*) AS c_big FROM grams GROUP BY 1),
         |pre AS (SELECT split_part(bigram, ' ', 1) AS prefix,
         |               count(*) AS c_pre FROM grams GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(c_big) AS BIGINT) AS sum_big,
         |  CAST(sum(c_pre) AS BIGINT) AS sum_pre,
         |  CAST(CAST(sum(c_big) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(sum(c_pre) AS BIGINT) AS DOUBLE) AS typicality
         |FROM grams g
         |JOIN big USING (bigram)
         |JOIN pre ON split_part(bigram, ' ', 1) = pre.prefix
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("boilerplate_scrub", ((s, dir) =>
      TextAnalysis.boilerplateScrub(s, dir, minDocs = 10)), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'subscribe to our newsletter' || chr(10) || text ||
        |      chr(10) || 'all rights reserved'
        |    WHEN doc_id % 3 = 1 THEN text || chr(10) || 'all rights reserved'
        |    ELSE text END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
        |lines AS (
        |  SELECT doc_id, len(ls) AS n_lines, i AS pos, ls[i] AS line
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(ls)))
        |                   AS i) g),
        |freq AS (SELECT line FROM (
        |  SELECT line, count(DISTINCT doc_id) AS nd FROM lines
        |  GROUP BY 1) f WHERE nd >= 10),
        |kept AS (SELECT * FROM lines
        |         WHERE line NOT IN (SELECT line FROM freq))
        |SELECT doc_id, CAST(max(n_lines) AS BIGINT) AS n_lines,
        |  count(*) AS n_kept,
        |  md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_fp
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    Query("doc_chunks", ((s, dir) =>
      TextAnalysis.chunkDocuments(s, dir, chunkTokens = 64, stride = 48)), Oracle(
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start
         |  FROM t)
         |SELECT doc_id, CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
         |  len(list_slice(toks, start, start + 63)) AS n_toks,
         |  md5(array_to_string(list_slice(toks, start, start + 63), ' '))
         |    AS chunk_fp
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),
    // content-defined chunking: boundaries from local token hashes, so
    // chunk identities survive upstream edits (chunk-level dedup/cache)
    Query("cdc_chunks", (TextAnalysis.cdcChunks _), Oracle(
      // the same chunks-by-running-boundary-count formulation, window-sum
      // style: a token belongs to chunk (#boundary tokens strictly before
      // it); boundary tokens END their chunk. Spark derives the identical
      // spans from end-position arrays — the md5 fingerprints must agree
      // byte-for-byte.
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |tp AS (
         |  SELECT doc_id, toks[pos] AS w, pos
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)))
         |                   AS pos) p),
         |f AS (
         |  SELECT doc_id, w, pos,
         |    CASE WHEN substr(md5(w), 1, 2)
         |              <= '${TextAnalysis.CdcBoundaryHexMax}'
         |         THEN 1 ELSE 0 END AS bnd
         |  FROM tp),
         |c AS (
         |  SELECT doc_id, w, pos,
         |    coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk_idx
         |  FROM f)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(count(*) AS BIGINT) AS n_toks,
         |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_fp
         |FROM c GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin)),
    // MOSS winnowing: rightmost-min-per-window fingerprint selection
    // with the guaranteed-detection property for 7-token shared runs
    Query("winnow_fingerprints", (TextAnalysis.winnowFingerprints _), Oracle(
      // same packed-key trick as the Spark side: v = hash·2^20 +
      // (2^20−1−pos) makes "smallest hash, rightmost pos" a plain MIN;
      // the frame CURRENT ROW..w−1 FOLLOWING mirrors Spark's slice
      // windows including the partial tails
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(toks, i,
         |      i + ${TextAnalysis.WinnowK - 1}), ' ') AS gram, i AS pos
         |  FROM t, LATERAL (SELECT unnest(generate_series(1,
         |    len(toks) - ${TextAnalysis.WinnowK - 1})) AS i) p),
         |v AS (
         |  SELECT doc_id, pos,
         |    CAST('0x' || substr(md5(gram), 1, 10) AS BIGINT) * 1048576
         |      + (1048575 - pos) AS v
         |  FROM g),
         |s AS (
         |  SELECT DISTINCT doc_id,
         |    min(v) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${TextAnalysis.WinnowW - 1}
         |      FOLLOWING) AS v
         |  FROM v)
         |SELECT doc_id, CAST(1048575 - (v % 1048576) AS BIGINT) AS pos,
         |  CAST(v // 1048576 AS BIGINT) AS gram_hash
         |FROM s ORDER BY doc_id, pos""".stripMargin)),
    Query("corpus_refresh", (Incremental.corpusRefresh _), Oracle(
      """WITH delta AS (
        |  SELECT doc_id, text || ' [revised]' AS text, lang, 'upsert' AS op
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 30000, text, lang, 'upsert'
        |  FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id, NULL, lang, 'delete'
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
        |  CASE WHEN d.doc_id IS NULL THEN 'kept'
        |       WHEN b.doc_id IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS row_status,
        |  coalesce(d.lang, b.lang) AS lang,
        |  md5(coalesce(d.text, b.text)) AS fp,
        |  length(coalesce(d.text, b.text)) AS n_chars
        |FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
        |WHERE d.op IS NULL OR d.op <> 'delete'
        |ORDER BY doc_id""".stripMargin)),
    // release-gate snapshot diff: headline integer metrics unpivoted
    // to (metric, before, after, delta) rows
    Query("snapshot_drift", (Profile.snapshotDrift _), Oracle(
      """WITH delta AS (
        |  SELECT doc_id, text || ' [revised]' AS text, lang, 'upsert' AS op
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 30000, text, lang, 'upsert'
        |  FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id, NULL, lang, 'delete'
        |  FROM documents WHERE doc_id % 13 = 0),
        |aft AS (
        |  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
        |    coalesce(d.lang, b.lang) AS lang,
        |    md5(coalesce(d.text, b.text)) AS fp,
        |    CAST(length(coalesce(d.text, b.text)) AS BIGINT) AS n_chars
        |  FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
        |  WHERE d.op IS NULL OR d.op <> 'delete'),
        |bse AS (
        |  SELECT doc_id, lang, md5(text) AS fp,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |bp AS (SELECT CAST(count(*) AS BIGINT) AS r,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS l,
        |         CAST(count(DISTINCT fp) AS BIGINT) AS t,
        |         CAST(sum(n_chars) AS BIGINT) AS c FROM bse),
        |ap AS (SELECT CAST(count(*) AS BIGINT) AS r,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS l,
        |         CAST(count(DISTINCT fp) AS BIGINT) AS t,
        |         CAST(sum(n_chars) AS BIGINT) AS c FROM aft)
        |SELECT metric, "before", "after", "after" - "before" AS delta
        |FROM (
        |  SELECT 'n_chars' AS metric, bp.c AS "before", ap.c AS "after"
        |  FROM bp, ap
        |  UNION ALL
        |  SELECT 'n_distinct_texts', bp.t, ap.t FROM bp, ap
        |  UNION ALL
        |  SELECT 'n_langs', bp.l, ap.l FROM bp, ap
        |  UNION ALL
        |  SELECT 'n_rows', bp.r, ap.r FROM bp, ap) x
        |ORDER BY metric""".stripMargin)),
    // refresh-time drift monitors: base snapshot vs the merged refresh
    Query("token_drift", ((s, dir) => {
      val base = Tables.documents(s, dir)
      Profile.tokenDrift(base,
        Incremental.mergeUpsert(base, Incremental.syntheticDelta(base),
          "doc_id"), 30)
    }), Oracle(
      // drift monitors share corpus_refresh's delta/after CTEs; token
      // counts use the reference tokenizer (lowercased, wordcount_ci
      // convention)
      s"""WITH delta AS (
         |  SELECT doc_id, text || ' [revised]' AS text, 'upsert' AS op
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text, 'upsert'
         |  FROM documents WHERE doc_id < 25
         |  UNION ALL
         |  SELECT doc_id, NULL, 'delete'
         |  FROM documents WHERE doc_id % 13 = 0),
         |aft AS (
         |  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |    coalesce(d.text, b.text) AS text
         |  FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
         |  WHERE d.op IS NULL OR d.op <> 'delete'),
         |cb AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_before
         |       FROM (SELECT unnest($DuckTokList) AS word
         |             FROM documents) x GROUP BY 1),
         |ca AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_after
         |       FROM (SELECT unnest($DuckTokList) AS word
         |             FROM aft) x GROUP BY 1),
         |m AS (SELECT coalesce(cb.word, ca.word) AS word,
         |        coalesce(n_before, CAST(0 AS BIGINT)) AS n_before,
         |        coalesce(n_after, CAST(0 AS BIGINT)) AS n_after
         |      FROM cb FULL OUTER JOIN ca ON cb.word = ca.word)
         |SELECT word, n_before, n_after,
         |  n_after - n_before AS delta
         |FROM m
         |ORDER BY abs(n_after - n_before) DESC, word ASC
         |LIMIT 30""".stripMargin)),
    Query("token_drift_kl", ((s, dir) => {
      val base = Tables.documents(s, dir)
      Profile.tokenDriftKl(base,
        Incremental.mergeUpsert(base, Incremental.syntheticDelta(base),
          "doc_id"))
    }), Oracle(
      s"""WITH delta AS (
         |  SELECT doc_id, text || ' [revised]' AS text, 'upsert' AS op
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text, 'upsert'
         |  FROM documents WHERE doc_id < 25
         |  UNION ALL
         |  SELECT doc_id, NULL, 'delete'
         |  FROM documents WHERE doc_id % 13 = 0),
         |aft AS (
         |  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |    coalesce(d.text, b.text) AS text
         |  FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
         |  WHERE d.op IS NULL OR d.op <> 'delete'),
         |cb AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_before
         |       FROM (SELECT unnest($DuckTokList) AS word
         |             FROM documents) x GROUP BY 1),
         |ca AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_after
         |       FROM (SELECT unnest($DuckTokList) AS word
         |             FROM aft) x GROUP BY 1),
         |m AS (SELECT coalesce(cb.word, ca.word) AS word,
         |        coalesce(n_before, CAST(0 AS BIGINT)) AS n_before,
         |        coalesce(n_after, CAST(0 AS BIGINT)) AS n_after
         |      FROM cb FULL OUTER JOIN ca ON cb.word = ca.word),
         |t AS (SELECT coalesce(CAST(sum(n_before) AS BIGINT),
         |          CAST(0 AS BIGINT)) AS n1,
         |        coalesce(CAST(sum(n_after) AS BIGINT),
         |          CAST(0 AS BIGINT)) AS n2,
         |        CAST(count(*) AS BIGINT) AS v FROM m),
         |terms AS (
         |  SELECT (n_before + 1) * CAST(floor(
         |      (ln((n_before + 1)::DOUBLE / greatest(t.n1 + t.v, 1)) -
         |       ln((n_after + 1)::DOUBLE / greatest(t.n2 + t.v, 1)))
         |      * 1000000.0) AS BIGINT) AS term
         |  FROM m, t)
         |SELECT t.n1 AS n_tokens_before, t.n2 AS n_tokens_after,
         |  t.v AS vocab_union,
         |  greatest(coalesce(CAST(sum(term) AS BIGINT), CAST(0 AS BIGINT)),
         |    CAST(0 AS BIGINT))
         |    // greatest(t.n1 + t.v, 1) AS kl_millionths
         |FROM t LEFT JOIN terms ON TRUE
         |GROUP BY t.n1, t.n2, t.v""".stripMargin)),
    // --- one-pass distributed model fitting ---
    Query("ols_chars_per_token", (Regression.olsCharsPerToken _), Oracle(
      s"""WITH t AS (SELECT lang, len($DuckTokList) AS x,
         |             length(text) AS y FROM documents),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x * x) AS BIGINT) AS sxx,
         |        CAST(sum(x * y) AS BIGINT) AS sxy
         |      FROM t GROUP BY 1)
         |SELECT lang, n,
         |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
         |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
         |FROM a ORDER BY lang""".stripMargin)),
    Query("collocations_pmi", ((s, dir) => TextAnalysis.collocationsPmi(s, dir)), Oracle(
      s"""WITH t AS (SELECT doc_id, $DuckTokList AS toks FROM documents),
         |uni AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS wc
         |  FROM (SELECT unnest(toks) AS w FROM t) u GROUP BY 1),
         |bi AS (
         |  SELECT toks[i] AS x, toks[i+1] AS y,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g
         |  GROUP BY 1, 2),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_bi FROM bi)
         |SELECT x, y, cnt,
         |  CAST(cnt * n_bi * 1000000 // (ux.wc * uy.wc) AS BIGINT)
         |    AS pmi_scaled
         |FROM bi JOIN uni ux ON bi.x = ux.w
         |JOIN uni uy ON bi.y = uy.w
         |CROSS JOIN n
         |WHERE cnt >= 5
         |ORDER BY pmi_scaled DESC, x, y LIMIT 30""".stripMargin)),
  )
}
