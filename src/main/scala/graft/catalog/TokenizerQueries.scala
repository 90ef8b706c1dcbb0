package graft.catalog

import graft.catalog.Shared._
import graft.operators._

/** Subword tokenizers (BPE and unigram), their encode and packing gates,
  * and token-budget accounting. */
object TokenizerQueries {

  val queries: Seq[Query] = Seq(
    // length-bucketed padding-waste accounting (batching prep): exact
    // integer token masses per ceil(len/16)*16 bucket + a __total__
    // row, waste in floor-division millionths
    Query("padding_waste", ((s, dir) => TextAnalysis.paddingWaste(s, dir)), Oracle(
      // padding-waste: same token lists, same integer bucket/ratio math
      s"""WITH t AS (SELECT len($DuckTokList) AS len FROM documents),
         |b AS (SELECT CAST(ceil(len / 16.0) * 16 AS BIGINT) AS hi,
         |             len FROM t),
         |g AS (SELECT hi, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(len) AS BIGINT) AS real_tokens
         |      FROM b GROUP BY 1),
         |u AS (SELECT format('{:09d}', hi) AS bucket, n_docs,
         |             real_tokens, hi * n_docs AS padded_tokens
         |      FROM g
         |      UNION ALL
         |      SELECT '__total__',
         |             COALESCE(CAST(sum(n_docs) AS BIGINT), 0),
         |             COALESCE(CAST(sum(real_tokens) AS BIGINT), 0),
         |             COALESCE(CAST(sum(hi * n_docs) AS BIGINT), 0)
         |      FROM g)
         |SELECT bucket, n_docs, real_tokens, padded_tokens,
         |  CAST((padded_tokens - real_tokens) * 1000000
         |       // GREATEST(padded_tokens, 1) AS BIGINT)
         |    AS waste_millionths
         |FROM u ORDER BY bucket""".stripMargin)),
    Query("bpe_token_stats", (TextAnalysis.bpeTokenStats _), Oracle(
      s"""SELECT doc_id, len(bt) AS n_bpe_tokens, len(wt) AS n_ws_tokens,
         |  round(len(bt)::DOUBLE / greatest(len(wt), 1), 4) AS bpe_per_word
         |FROM (SELECT doc_id,
         |  regexp_extract_all(text,
         |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')
         |    AS bt,
         |  $DuckTokList AS wt FROM documents) t
         |ORDER BY doc_id""".stripMargin)),
    // BPE merge-table induction, checked through its gate (r17
    // consolidation: the gate trains the SAME 20-merge table — step-0
    // argmax SQL-exact, table-level invariants hash-checked; encode
    // gates downstream fail loudly on a broken table)
    Query("bpe_merge_gate", ((s, dir) =>
      TextAnalysis.bpeMergeGate(s, dir, nMerges = 20)), Oracle(
      // only step 0 of BPE training is ANSI-recomputable (later steps see
      // merged symbols); the gate pins it plus table-level invariants
      s"""WITH w AS (SELECT lower(word) AS word, count(*) AS cnt
         |           FROM ($DuckTokens) t
         |           WHERE regexp_matches(word, '\\S') GROUP BY 1),
         |prs AS (SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1)
         |          AS b, cnt
         |        FROM w, LATERAL (SELECT unnest(generate_series(1,
         |                           length(word) - 1)) AS i) g),
         |pc AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c
         |       FROM prs GROUP BY 1, 2)
         |SELECT a AS step0_a, b AS step0_b, c AS step0_count,
         |  20 AS n_merges, 1 AS distinct_ok
         |FROM pc ORDER BY c DESC, a, b LIMIT 1""".stripMargin)),
    // SentencePiece-style unigram-LM tokenizer, checked through its
    // gate (r17 consolidation: SQL can't re-run EM; the gate trains
    // the SAME piece inventory and hash-checks the char inventory +
    // coverage/monotone/vocab invariants)
    Query("unigram_gate", ((s, dir) => TextAnalysis.unigramGate(s, dir)), Oracle(
      // the unigram trainer's ANSI-checkable side: the corpus character
      // inventory is exact (tokenize → lowercase → distinct chars) and
      // the four invariants — chars retained, full coverage, within-round
      // EM monotone, vocab target honored — are pinned at 1
      s"""WITH w AS (SELECT DISTINCT lower(word) AS word
         |           FROM ($DuckTokens) t
         |           WHERE regexp_matches(word, '\\S')),
         |c AS (SELECT DISTINCT substr(word, i, 1) AS ch
         |      FROM w, LATERAL (SELECT unnest(generate_series(1,
         |                         length(word))) AS i) g)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_chars,
         |  1 AS chars_ok, 1 AS coverage_ok, 1 AS monotone_ok,
         |  1 AS vocab_ok""".stripMargin)),
    // the unigram ENCODE surface, checked through the roundtrip/
    // bounds gate (r17 consolidation: the gate runs the SAME per-doc
    // Viterbi encode; piece counts ride its hashed flag columns)
    Query("unigram_encode_gate", ((s, dir) =>
      TextAnalysis.unigramEncodeGate(s, dir)), Oracle(
      // the unigram encoder's gate carries the SAME ANSI-checkable
      // surface as bpe_encode_gate (the flags gate a Viterbi backtrack
      // instead of a merge chain, but the exact counts and the pinned
      // invariants are identical SQL)
      s"""SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  1 AS roundtrip_ok, 1 AS bounds_ok
         |FROM (SELECT doc_id, lower(word) AS word
         |      FROM (SELECT doc_id, unnest($DuckTokList) AS word
         |            FROM documents) u) t
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // per-language fertility of the two trained tokenizers, checked
    // through its DIRECT gate (r17 consolidation: the gate computes
    // the SAME view — exact per-lang word/char counts hash-green,
    // consistency flags pinned)
    Query("tokenizer_fertility_gate", ((s, dir) =>
      TextAnalysis.tokenizerFertilityGate(s, dir)), Oracle(
      // the fertility view's direct gate: per-language word/char counts
      // are exact SQL (the encode gates' per-doc surface re-aggregated by
      // lang, crossed with the two tokenizer labels); the view-consistency
      // flags (word counts match, piece counts within [n_words, n_chars],
      // fertility = round(pieces/words, 4)) are pinned at 1
      s"""WITH t AS (SELECT lang, lower(word) AS word
         |           FROM (SELECT lang, unnest($DuckTokList) AS word
         |                 FROM documents) u),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |             CAST(sum(length(word)) AS BIGINT) AS n_chars
         |      FROM t GROUP BY 1)
         |SELECT tok AS tokenizer, lang, n_words, n_chars,
         |  1 AS words_ok, 1 AS bounds_ok, 1 AS ratio_ok
         |FROM a CROSS JOIN (SELECT unnest(['bpe', 'unigram']) AS tok) k
         |ORDER BY 1, 2""".stripMargin)),
    // trained-BPE encode surface, checked through the roundtrip/
    // bounds gate (r17 consolidation — same encode, hashed flags)
    Query("bpe_encode_gate", ((s, dir) =>
      TextAnalysis.bpeEncodeGate(s, dir, nMerges = 20)), Oracle(
      // exact word/char counts recomputed; the encode invariants
      // (symbol concat round-trips the word, counts in [1, n_chars])
      // are pinned at 1 — a broken merge flips them and fails the hash
      s"""SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  1 AS roundtrip_ok, 1 AS bounds_ok
         |FROM (SELECT doc_id, lower(word) AS word
         |      FROM (SELECT doc_id, unnest($DuckTokList) AS word
         |            FROM documents) u) t
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // FFD packing + the tokens-on-disk capstone, each checked through
    // its conservation/capacity gate (r17 consolidation: the gates run
    // the SAME packing over the same token counts; per-shard doc/token
    // totals hash-green, occupancy/lower-bound/half-empty flags pinned)
    Query("bpe_pack_gate", ((s, dir) => TextAnalysis.bpePackGate(s, dir)), Oracle(
      // structural truths of the BPE packing, stated without retraining
      // the tokenizer: every non-empty doc packed once, no overfull
      // window, token mass conserved (flags Spark-verified, pinned at 1)
      s"""SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
         |         WHERE len($DuckTokList) > 0) AS n_docs,
         |  CAST(1 AS INTEGER) AS within_cap,
         |  CAST(1 AS INTEGER) AS conserved""".stripMargin)),
    Query("ffd_pack_gate", ((s, dir) =>
      TextAnalysis.ffdPackGate(s, dir, capacity = 256)), Oracle(
      // exact per-shard doc/token counts recomputed; the FFD invariants
      // (capacity, ceil lower bound, ≤1 half-empty bin) pinned at 1
      s"""SELECT lang AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS total_toks,
         |  1 AS occupancy_ok, 1 AS lower_bound_ok, 1 AS half_empty_ok
         |FROM (SELECT lang, len($DuckTokList) AS n_toks FROM documents) t
         |WHERE n_toks > 0
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("sequence_packing", ((s, dir) =>
      TextAnalysis.sequencePacking(s, dir, windowTokens = 2048)), Oracle(
      s"""WITH t AS (
         |  SELECT doc_id, lang, len($DuckTokList) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_toks,
         |    sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT lang,
         |  CAST(floor((cum - n_toks) / 2048) AS BIGINT) AS window_id,
         |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc
         |FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    // --- tokenizer sizing + eval integrity ---
    Query("vocab_coverage", ((s, dir) => TextAnalysis.vocabCoverage(s, dir)), Oracle(
      s"""WITH toks AS (SELECT unnest(toks) AS w FROM
         |  (SELECT $DuckTokList AS toks FROM documents) t),
         |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
         |      FROM toks GROUP BY 1),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn
         |      FROM c),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |               CAST(count(*) AS BIGINT) AS n_vocab FROM c),
         |ks AS (SELECT unnest([100, 1000, 5000]) AS k)
         |SELECT k, n_vocab, n_tokens,
         |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS covered,
         |  CAST(CAST(coalesce(sum(cnt), 0) AS BIGINT) * 1000000
         |    // n_tokens AS BIGINT) AS coverage_millionths
         |FROM ks LEFT JOIN r ON r.rn <= ks.k CROSS JOIN tot
         |GROUP BY k, n_vocab, n_tokens ORDER BY k""".stripMargin)),
  )
}
