package graft.catalog

import graft.catalog.Shared._
import graft.operators._
import graft.sources.Tables

/** Deterministic sampling, mixtures, sharding and the curation and
  * corpus-assembly capstones. */
object SamplingQueries {

  /** Shard count for training_shards/shard_stats — interpolated into the
    * DuckDB oracles so both engines derive the shard formula from ONE
    * value (ADVICE r8). */
  private val ShardN = 16

  /** domain_cap's per-source cap — one value for the Spark call and
    * the oracle (10 binds at every SF: testdata sources hold ≥ 25
    * docs). */
  private val DomainCapN = 10

  /** contrastive_pairs' negatives per anchor (shared with the oracle). */
  private val ContrastiveK = 3

  /** Knuth hash constant + 2^31 fold modulus of Sampling's hash family,
    * as oracle text — ONE definition drives Sampling.hashBucket/
    * hashOrderKey/bucketMillionths AND every oracle SQL string (ADVICE
    * r9: four SQL strings hardcoded these; the ShardN pattern). */
  private val HashMult = Sampling.Mult
  private val Fold31 = Sampling.Fold

  /** corpus_assembly oracle fragments derived from CorpusAssembly's
    * shared defaults — one definition drives both engines (same
    * anti-desync pattern as ShardN). */
  private lazy val CaWeightCase: String =
    CorpusAssembly.DefaultWeights.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")

  private lazy val CaRepFactor: Int = CorpusAssembly.DefaultMaxEpochs + 2
  private lazy val CaNgM1: Int = CorpusAssembly.DefaultNgram - 1
  private lazy val CaBench: Long = CorpusAssembly.DefaultBenchMaxId

  /** quality_top_pct's percentile — one value for the Spark call and
    * the oracle threshold. */
  private val QualityPct = 25

  /** The capstone oracle as a tau-parameterized template: the gated
    * exact-tier query interpolates DefaultTau, the LSH-tier gate
    * interpolates LshGateTau — one SQL definition, two thresholds. */
  private def corpusAssemblySql(tau: Double): String =
    s"""WITH RECURSIVE q AS (
         |  SELECT doc_id, lang,
         |    regexp_replace(
         |      regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g') AS ctext
         |  FROM (SELECT doc_id, lang, text, $DuckTokList AS toks
         |        FROM documents) t0
         |  WHERE round(0.4 * round(len(list_filter(toks,
         |        x -> list_contains(
         |          ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4)
         |      + 0.6 * round(len(list_distinct(toks))::DOUBLE
         |        / len(toks), 4), 4) >= ${CorpusAssembly.DefaultMinQuality}),
         |e AS (
         |  SELECT doc_id, lang, ctext FROM (
         |    SELECT q.*, row_number() OVER (PARTITION BY md5(ctext)
         |                                   ORDER BY doc_id) AS rn
         |    FROM q) f
         |  WHERE rn = 1),
         |tk AS (SELECT doc_id, $DuckTokList AS toks
         |       FROM (SELECT doc_id, ctext AS text FROM e) x),
         |feats AS (
         |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS feat
         |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                    AS i) g),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM feats a JOIN feats b
         |    ON a.feat = b.feat AND a.doc_id < b.doc_id
         |  GROUP BY 1,2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
         |    >= $tau),
         |edges AS (
         |  SELECT id_a, id_b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT r.src, e2.id_b FROM reach r
         |  JOIN edges e2 ON r.dst = e2.id_a),
         |dropped AS (
         |  SELECT src AS doc_id FROM reach
         |  GROUP BY 1 HAVING min(dst) <> src),
         |strain AS (
         |  SELECT doc_id, lang, ctext FROM e
         |  WHERE doc_id >= $CaBench
         |    AND doc_id NOT IN (SELECT doc_id FROM dropped)),
         |ttk AS (SELECT doc_id, $DuckTokList AS toks
         |        FROM (SELECT doc_id, ctext AS text FROM strain) x),
         |bg AS (
         |  SELECT DISTINCT array_to_string(list_slice(toks, i, i+$CaNgM1), ' ')
         |    AS gram
         |  FROM (SELECT $DuckTokList AS toks FROM (
         |          SELECT regexp_replace(
         |            regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
         |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |            '<EMAIL>', 'g') AS text
         |          FROM documents WHERE doc_id < $CaBench) b0) b1,
         |    LATERAL (SELECT unnest(generate_series(1,
         |               greatest(len(toks)-$CaNgM1, 0))) AS i) g),
         |tg AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(toks, i, i+$CaNgM1), ' ') AS gram
         |  FROM ttk, LATERAL (SELECT unnest(generate_series(1,
         |               greatest(len(toks)-$CaNgM1, 0))) AS i) g),
         |contam AS (SELECT DISTINCT tg.doc_id FROM tg
         |           JOIN bg USING (gram)),
         |train AS (
         |  SELECT s.doc_id, s.lang, CAST(len(tt.toks) AS BIGINT) AS n_toks,
         |    ((s.doc_id % $Fold31) * $HashMult) % 1000000 AS bm
         |  FROM strain s JOIN ttk tt USING (doc_id)
         |  WHERE s.doc_id NOT IN (SELECT doc_id FROM contam)),
         |b AS (SELECT CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM train),
         |a2 AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS available_toks
         |       FROM train GROUP BY lang),
         |r2 AS (
         |  SELECT lang,
         |    CAST(least(target_toks // available_toks, ${CorpusAssembly.DefaultMaxEpochs}) AS BIGINT)
         |      AS full_epochs,
         |    CAST(least(999999, CASE WHEN available_toks < 8796093022208
         |        THEN ((target_toks % available_toks) * 1000000)
         |          // available_toks
         |        ELSE (target_toks % available_toks)
         |          // greatest(available_toks // 1000000, 1) END) AS BIGINT)
         |      AS rem_rate_millionths
         |  FROM (SELECT lang, available_toks,
         |          (budget // 1000000) * w + ((budget % 1000000) * w)
         |            // 1000000 AS target_toks
         |        FROM (SELECT a2.*, b.budget,
         |            CAST(CASE lang $CaWeightCase
         |              ELSE ${CorpusAssembly.DefaultWeightOther} END
         |              AS BIGINT) AS w
         |          FROM a2, b) t1) t2),
         |cop AS (
         |  SELECT train.doc_id, train.lang, train.n_toks,
         |    full_epochs + CASE WHEN bm < rem_rate_millionths
         |      THEN 1 ELSE 0 END AS copies
         |  FROM train JOIN r2 USING (lang)),
         |expd AS (
         |  SELECT doc_id, lang, n_toks,
         |    unnest(generate_series(0, copies - 1)) AS epoch
         |  FROM cop WHERE copies > 0),
         |h AS (
         |  SELECT doc_id, epoch, lang, n_toks,
         |    doc_id * $CaRepFactor + epoch AS rep_id,
         |    (((doc_id * $CaRepFactor + epoch) % $Fold31) * $HashMult)
         |      % $Fold31 AS hkey
         |  FROM expd)
         |SELECT doc_id, CAST(epoch AS INTEGER) AS epoch, lang, n_toks,
         |  (hkey * ${CorpusAssembly.DefaultNShards}) // $Fold31 AS shard,
         |  CAST(row_number() OVER (PARTITION BY (hkey * ${CorpusAssembly.DefaultNShards}) // $Fold31
         |    ORDER BY hkey, rep_id) AS INTEGER) AS pos
         |FROM h ORDER BY doc_id, epoch""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- deterministic sampling (corpus curation) ---
    Query("sample_hash_docs", (Sampling.documentsSample _), Oracle(
      s"""SELECT doc_id,
        |  ((doc_id % $Fold31) * $HashMult) % 100 AS bucket, lang, n_chars
        |FROM documents
        |WHERE ((doc_id % $Fold31) * $HashMult) % 100 < 20
        |ORDER BY doc_id""".stripMargin)),
    Query("sample_stratified_lang", (Sampling.documentsStratified _), Oracle(
      s"""SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % $Fold31) * $HashMult) % 100, doc_id)
        |      AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin)),
    Query("sample_mixture_lang", (Sampling.documentsMixture _), Oracle(
      s"""SELECT doc_id, lang,
        |  ((doc_id % $Fold31) * $HashMult) % 100 AS bucket
        |FROM documents
        |WHERE ((doc_id % $Fold31) * $HashMult) % 100 <
        |  CASE lang WHEN 'en' THEN 90 WHEN 'zh' THEN 40 ELSE 60 END
        |ORDER BY doc_id""".stripMargin)),
    // Efraimidis-Spirakis length-weighted sample without replacement:
    // integer-millionth keys make top-k membership engine-exact
    Query("weighted_sample", ((s, dir) => Sampling.weightedSample(s, dir)), Oracle(
      // A-Res keys with the IDENTICAL float-op order as the Spark side
      // (ln → divide by weight → scale → floor) so the integer millionths
      // agree; k and the hash constants all interpolate from one place
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CAST(len($DuckTokList) AS BIGINT) AS n_toks,
         |    ((doc_id % $Fold31) * $HashMult) % 1000000 AS bm
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, lang, n_toks,
         |    CAST(floor(ln((bm::DOUBLE + 0.5) / 1000000.0)
         |      / n_toks::DOUBLE * 1000000.0) AS BIGINT) AS key_micro
         |  FROM d WHERE n_toks > 0)
         |SELECT doc_id, lang, n_toks, key_micro FROM k
         |ORDER BY key_micro DESC, doc_id ASC LIMIT 100""".stripMargin)),
    // RefinedWeb anti-domination rule: deterministic-random cap per
    // source (hash order, not quality — capping bounds influence)
    Query("domain_cap", ((s, dir) => Curation.domainCap(s, dir, DomainCapN)), Oracle(
      s"""SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ((doc_id % $Fold31) * $HashMult) % $Fold31,
         |               doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= $DomainCapN ORDER BY doc_id""".stripMargin)),
    // contrastive training pairs: near-dup positive + hash-drawn
    // negatives, reproducible across engines and epochs
    Query("contrastive_pairs",
      ((s, dir) => Curation.contrastivePairs(s, dir, ContrastiveK)), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n
         |           FROM documents),
         |a AS (SELECT doc_id AS anchor_id,
         |        doc_id + ${Dedup.DupIdOffset} AS pos_id
         |      FROM documents WHERE doc_id < ${Dedup.PlantCount}),
         |x AS (
         |  SELECT anchor_id, pos_id, CAST(r AS BIGINT) AS neg_rank, n.n,
         |    ((((anchor_id * $ContrastiveK + r) % $Fold31)
         |      * $HashMult) % $Fold31) % n.n AS raw
         |  FROM a, n,
         |    LATERAL (SELECT unnest(generate_series(1, $ContrastiveK))
         |             AS r) g)
         |SELECT anchor_id, pos_id, neg_rank,
         |  CASE WHEN raw = anchor_id THEN (raw + 1) % n ELSE raw END
         |    AS neg_id
         |FROM x ORDER BY anchor_id, neg_rank""".stripMargin)),
    // curation by the TRAINED filter: the oracle retrains the identical
    // integer perceptron and reproduces the survivor mass exactly
    Query("curation_trained_filter",
      (Curation.trainedQualityFilter _), Oracle(
      s"""WITH $PerceptronSql,
         |pred AS (
         |  SELECT doc_id, CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred
         |  FROM mfin)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN pred = 1 THEN len($DuckTokList) ELSE 0 END)
         |       AS BIGINT) AS n_toks_kept
         |FROM documents d JOIN pred USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),
    // deterministic global shuffle into trainer shards + balance audit
    // (ShardN is the single source for both engines' shard formula)
    Query("training_shards", ((s, dir) => Sampling.documentsShards(s, dir, ShardN)),
      Oracle(
      // $ShardN and $Fold31 interpolate the SAME constants the Spark side
      // uses (Sampling.shardOf / ADVICE r8: a default-shard-count change
      // must not silently desync the oracle)
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ((doc_id % $Fold31) * $HashMult) % $Fold31 AS hkey
         |  FROM documents),
         |s AS (SELECT doc_id, hkey,
         |        (hkey * $ShardN) // $Fold31 AS shard FROM h)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY hkey, doc_id) AS INTEGER) AS pos, hkey
         |FROM s ORDER BY doc_id""".stripMargin)),
    Query("shard_stats", ((s, dir) => Sampling.shardStats(s, dir, ShardN)), Oracle(
      s"""WITH t AS (
         |  SELECT (((doc_id % $Fold31) * $HashMult) % $Fold31 * $ShardN)
         |      // $Fold31 AS shard,
         |    len($DuckTokList) AS n_toks
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS shard_toks
         |FROM t GROUP BY shard ORDER BY shard""".stripMargin)),
    // per-shard delivery manifest: counts + id range + order-independent
    // xor content checksum
    Query("shard_manifest", ((s, dir) => Sampling.shardManifest(s, dir, ShardN)), Oracle(
      s"""WITH t AS (
         |  SELECT (((doc_id % $Fold31) * $HashMult) % $Fold31 * $ShardN)
         |      // $Fold31 AS shard,
         |    doc_id, len($DuckTokList) AS n_toks,
         |    CAST('0x' || substr(md5(concat_ws('|', doc_id, text)), 1, 14)
         |      AS BIGINT) AS h
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS shard_toks,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |  CAST(coalesce(bit_xor(h), 0) AS BIGINT) AS content_xor56
         |FROM t GROUP BY shard ORDER BY shard""".stripMargin)),
    // mixture-to-token-budget materialization (epochs + hash remainder)
    Query("mixture_budget", ((s, dir) => Sampling.mixtureBudget(s, dir,
      Map("en" -> 500000L, "zh" -> 150000L), defaultWeight = 100000L)), Oracle(
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(len($DuckTokList) AS BIGINT) AS n_toks,
         |    ((doc_id % $Fold31) * $HashMult) % 1000000 AS bm
         |  FROM documents),
         |b AS (SELECT CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM d),
         |a AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS available_toks,
         |        CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY lang),
         |r AS (
         |  SELECT lang, available_toks, n_docs,
         |    (budget // 1000000) * w + ((budget % 1000000) * w) // 1000000
         |      AS target_toks
         |  FROM (SELECT a.*, b.budget,
         |      CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 150000
         |        ELSE 100000 END AS BIGINT) AS w
         |    FROM a, b) t),
         |r2 AS (
         |  SELECT lang, available_toks, n_docs, target_toks,
         |    target_toks // available_toks AS full_epochs,
         |    CAST(least(999999, CASE WHEN available_toks < 8796093022208
         |        THEN ((target_toks % available_toks) * 1000000)
         |          // available_toks
         |        ELSE (target_toks % available_toks)
         |          // greatest(available_toks // 1000000, 1) END) AS BIGINT)
         |      AS rem_rate_millionths
         |  FROM r),
         |k AS (
         |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs_sampled,
         |    CAST(sum(d.n_toks) AS BIGINT) AS sampled_toks
         |  FROM d JOIN r2 ON d.lang = r2.lang
         |  WHERE d.bm < r2.rem_rate_millionths GROUP BY d.lang)
         |SELECT r2.lang, available_toks, n_docs, target_toks, full_epochs,
         |  rem_rate_millionths,
         |  COALESCE(n_docs_sampled, 0) AS n_docs_sampled,
         |  COALESCE(sampled_toks, 0) AS sampled_toks,
         |  full_epochs * available_toks + COALESCE(sampled_toks, 0)
         |    AS achieved_toks
         |FROM r2 LEFT JOIN k ON r2.lang = k.lang
         |ORDER BY r2.lang""".stripMargin)),
    // temperature-flattened mixture weights (share^alpha, alpha = 0.5)
    Query("mixture_temperature", ((s, dir) =>
      Sampling.temperatureWeights(s, dir)), Oracle(
      // same integer share + single floor(1e6·exp(α·ln(share))) float step
      // as Sampling.temperatureWeights; α derived from the one shared
      // constant by the identical division in both engines
      s"""WITH d AS (
         |  SELECT lang, CAST(len($DuckTokList) AS BIGINT) AS n_toks
         |  FROM documents),
         |a AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS available_toks,
         |        CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY lang),
         |t AS (SELECT CAST(sum(available_toks) AS BIGINT) AS total_toks
         |      FROM a),
         |sh AS (
         |  SELECT lang, n_docs, available_toks,
         |    CASE WHEN total_toks < ${1L << 43}
         |      THEN (available_toks * 1000000) // total_toks
         |      ELSE available_toks // greatest(total_toks // 1000000, 1)
         |      END AS share_millionths
         |  FROM a, t),
         |u AS (
         |  SELECT sh.*,
         |    CAST(floor(1000000.0 *
         |        exp((${Sampling.TempAlphaMillionths} / 1000000.0) *
         |          ln(CAST(greatest(share_millionths, 1) AS DOUBLE))))
         |      AS BIGINT) AS u_micros
         |  FROM sh),
         |s AS (SELECT CAST(sum(u_micros) AS BIGINT) AS sum_u FROM u)
         |SELECT lang, n_docs, available_toks, share_millionths,
         |  (u_micros * 1000000) // sum_u AS temp_weight_millionths
         |FROM u, s ORDER BY lang""".stripMargin)),
    // the composed self-tuning mixer: corpus-derived temperature
    // weights drive the epochs-plus-remainder budget materializer
    Query("mixture_temperature_budget", ((s, dir) =>
      Sampling.temperatureMixtureBudget(s, dir)), Oracle(
      // the temperature-weight derivation of mixture_temperature chained
      // into the budget arithmetic of mixture_budget — both already
      // hash-checked standalone; this pins their composition
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(len($DuckTokList) AS BIGINT) AS n_toks,
         |    ((doc_id % $Fold31) * $HashMult) % 1000000 AS bm
         |  FROM documents),
         |b AS (SELECT CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM d),
         |a AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS available_toks,
         |        CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY lang),
         |t AS (SELECT CAST(sum(available_toks) AS BIGINT) AS total_toks
         |      FROM a),
         |sh AS (
         |  SELECT lang, n_docs, available_toks,
         |    CASE WHEN total_toks < ${1L << 43}
         |      THEN (available_toks * 1000000) // total_toks
         |      ELSE available_toks // greatest(total_toks // 1000000, 1)
         |      END AS share_millionths
         |  FROM a, t),
         |u AS (
         |  SELECT sh.*,
         |    CAST(floor(1000000.0 *
         |        exp((${Sampling.TempAlphaMillionths} / 1000000.0) *
         |          ln(CAST(greatest(share_millionths, 1) AS DOUBLE))))
         |      AS BIGINT) AS u_micros
         |  FROM sh),
         |su AS (SELECT CAST(sum(u_micros) AS BIGINT) AS sum_u FROM u),
         |wt AS (SELECT lang, n_docs, available_toks,
         |         (u_micros * 1000000) // sum_u AS w FROM u, su),
         |r AS (
         |  SELECT lang, available_toks, n_docs,
         |    (budget // 1000000) * w + ((budget % 1000000) * w) // 1000000
         |      AS target_toks
         |  FROM wt, b),
         |r2 AS (
         |  SELECT lang, available_toks, n_docs, target_toks,
         |    target_toks // available_toks AS full_epochs,
         |    CAST(least(999999, CASE WHEN available_toks < ${1L << 43}
         |        THEN ((target_toks % available_toks) * 1000000)
         |          // available_toks
         |        ELSE (target_toks % available_toks)
         |          // greatest(available_toks // 1000000, 1) END) AS BIGINT)
         |      AS rem_rate_millionths
         |  FROM r),
         |k AS (
         |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs_sampled,
         |    CAST(sum(d.n_toks) AS BIGINT) AS sampled_toks
         |  FROM d JOIN r2 ON d.lang = r2.lang
         |  WHERE d.bm < r2.rem_rate_millionths GROUP BY d.lang)
         |SELECT r2.lang, available_toks, n_docs, target_toks, full_epochs,
         |  rem_rate_millionths,
         |  COALESCE(n_docs_sampled, 0) AS n_docs_sampled,
         |  COALESCE(sampled_toks, 0) AS sampled_toks,
         |  full_epochs * available_toks + COALESCE(sampled_toks, 0)
         |    AS achieved_toks
         |FROM r2 LEFT JOIN k ON r2.lang = k.lang
         |ORDER BY r2.lang""".stripMargin)),
    // --- end-to-end curation composition (quality→scrub→dedup→sample) ---
    Query("curation_pipeline", ((s, dir) => Curation.curationPipeline(s, dir)), Oracle(
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' contact user' || doc_id ||
         |           '@example.com via https://example.com/d/' || doc_id
         |      ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, lang, text, $DuckTokList AS toks FROM d),
         |q AS (
         |  SELECT doc_id, lang, text, len(toks) AS n_tokens,
         |    round(0.4 * round(len(list_filter(toks, x -> list_contains(
         |        ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4)
         |      + 0.6 * round(len(list_distinct(toks))::DOUBLE
         |        / len(toks), 4), 4) AS quality_score
         |  FROM t),
         |s AS (
         |  SELECT doc_id, lang, n_tokens, quality_score,
         |    md5(regexp_replace(
         |      regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g')) AS scrubbed_fp
         |  FROM q WHERE quality_score >= 0.3),
         |k AS (
         |  SELECT *, row_number() OVER (PARTITION BY scrubbed_fp
         |                               ORDER BY doc_id) AS rn
         |  FROM s)
         |SELECT doc_id, lang, n_tokens, quality_score, scrubbed_fp
         |FROM k
         |WHERE rn = 1 AND ((doc_id % $Fold31) * $HashMult) % 100 < 50
         |ORDER BY doc_id""".stripMargin)),
    // k-anonymity-style small-cell suppression for published breakdowns
    Query("small_cell_release", ((s, dir) => Curation.smallCellRelease(s, dir)), Oracle(
      s"""WITH c AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($DuckTokList)) AS BIGINT) AS n_toks
         |  FROM documents GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT lang, source, n_docs, n_toks, CAST(1 AS BIGINT)
         |    AS n_cells
         |  FROM c WHERE n_docs >= 8
         |  UNION ALL
         |  SELECT '__suppressed__', '__suppressed__',
         |    coalesce(CAST(sum(n_docs) AS BIGINT), CAST(0 AS BIGINT)),
         |    coalesce(CAST(sum(n_toks) AS BIGINT), CAST(0 AS BIGINT)),
         |    CAST(count(*) AS BIGINT)
         |  FROM c WHERE n_docs < 8) u
         |ORDER BY lang, source""".stripMargin)),
    // --- corpus-assembly capstone: raw documents in, sharded training
    // set out (curation → near-dup dedup → decontamination → mixture
    // budget → shard assignment, composed as ONE plan) ---
    Query("corpus_assembly", ((s, dir) => CorpusAssembly.corpusAssembly(s, dir)), Oracle(
      // full capstone recompute: quality gate → scrub → exact dedup →
      // exact-Jaccard closure → 8-gram decontamination → mixture rates →
      // replica explode → shard/pos from the hash high bits. Stage
      // arithmetic is copied from the per-stage oracles above (quality/
      // scrub from curation_pipeline, pairs+closure from neardup_pipeline,
      // grams from ContaminationSql, rates from mixture_budget, shard
      // formula from training_shards) so one definition per stage holds
      // across BOTH engines via CorpusAssembly.Default* constants
      // (CaRepFactor = maxEpochs + 2, CaWeightCase from DefaultWeights).
      corpusAssemblySql(CorpusAssembly.DefaultTau))),
    // the production (candidate-bounded LSH) dedup tier, driver-gated at
    // tau = LshGateTau where the tiers provably keep the same survivors
    // (see the constant's scaladoc); same oracle template as the exact
    // tier, different threshold
    Query("corpus_assembly_lsh", ((s, dir) => CorpusAssembly.corpusAssembly(
      s, dir, tau = CorpusAssembly.LshGateTau, lshTier = true)), Oracle(
      // LSH-tier capstone gate: same oracle TEMPLATE at tau = LshGateTau
      // (0.9) — in that band every exact-tier pair is either an exact
      // copy (identical MinHash signatures, LSH recall deterministically
      // 1) or a J >= 0.9 near-copy (band-miss odds ~1e-4 per pair,
      // deterministic per corpus — the incremental_neardup triage
      // convention), so the candidate-bounded production tier and the
      // SQL-exact closure provably keep the same survivors
      corpusAssemblySql(CorpusAssembly.LshGateTau))),
    // refresh capstone: merge the day's delta → drop fresh near-dups of
    // the existing corpus → re-shard → drift-gate (corpus_assembly's
    // daily complement; stages referenced, not re-implemented)
    Query("corpus_refresh_assembly",
      ((s, dir) => CorpusAssembly.corpusRefreshAssembly(s, dir)), Oracle(
      // refresh capstone recompute, stage by stage: syntheticDelta merge
      // (corpus_refresh's fragment) → fresh-vs-existing bigram Jaccard ≥
      // tau (incremental_neardup's fragment) → per-shard stats over the
      // survivors (shard_stats' hash formula) + add-1 KL drift gate
      // between the base snapshot and the refreshed corpus
      // (token_drift_kl's fragment, same empty-corpus guards)
      s"""WITH delta AS (
         |  SELECT doc_id, text || ' [revised]' AS text, lang,
         |    'upsert' AS op
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text, lang, 'upsert'
         |  FROM documents WHERE doc_id < 25
         |  UNION ALL
         |  SELECT doc_id, NULL, lang, 'delete'
         |  FROM documents WHERE doc_id % 13 = 0),
         |merged AS (
         |  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |    CASE WHEN d.doc_id IS NULL THEN 'kept'
         |         WHEN b.doc_id IS NULL THEN 'inserted'
         |         ELSE 'updated' END AS row_status,
         |    coalesce(d.lang, b.lang) AS lang,
         |    coalesce(d.text, b.text) AS text
         |  FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
         |  WHERE d.op IS NULL OR d.op <> 'delete'),
         |t AS (SELECT doc_id, row_status = 'inserted' AS fresh,
         |        $DuckTokList AS toks FROM merged),
         |feats AS (
         |  SELECT DISTINCT doc_id, fresh,
         |    toks[i] || ' ' || toks[i+1] AS feat
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS fid, b.doc_id AS bid, count(*) AS n_inter
         |  FROM feats a JOIN feats b
         |    ON a.feat = b.feat AND a.fresh AND NOT b.fresh
         |  GROUP BY 1,2),
         |dropped AS (
         |  SELECT DISTINCT fid AS doc_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = fid
         |  JOIN sizes sb ON sb.doc_id = bid
         |  WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
         |    >= ${Dedup.IncrementalTau}),
         |fin AS (
         |  SELECT m.doc_id, m.lang, m.text FROM merged m
         |  WHERE m.doc_id NOT IN (SELECT doc_id FROM dropped)),
         |cb AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_before
         |       FROM (SELECT unnest($DuckTokList) AS word
         |             FROM documents) x GROUP BY 1),
         |ca AS (SELECT lower(word) AS word, CAST(count(*) AS BIGINT)
         |         AS n_after
         |       FROM (SELECT unnest(t.toks) AS word
         |             FROM t JOIN fin ON t.doc_id = fin.doc_id) x
         |       GROUP BY 1),
         |m2 AS (SELECT coalesce(cb.word, ca.word) AS word,
         |        coalesce(n_before, CAST(0 AS BIGINT)) AS n_before,
         |        coalesce(n_after, CAST(0 AS BIGINT)) AS n_after
         |      FROM cb FULL OUTER JOIN ca ON cb.word = ca.word),
         |tt AS (SELECT coalesce(CAST(sum(n_before) AS BIGINT),
         |          CAST(0 AS BIGINT)) AS n1,
         |        coalesce(CAST(sum(n_after) AS BIGINT),
         |          CAST(0 AS BIGINT)) AS n2,
         |        CAST(count(*) AS BIGINT) AS v FROM m2),
         |terms AS (
         |  SELECT (n_before + 1) * CAST(floor(
         |      (ln((n_before + 1)::DOUBLE / greatest(tt.n1 + tt.v, 1)) -
         |       ln((n_after + 1)::DOUBLE / greatest(tt.n2 + tt.v, 1)))
         |      * 1000000.0) AS BIGINT) AS term
         |  FROM m2, tt),
         |klrow AS (
         |  SELECT tt.n1 AS n_tokens_before, tt.n2 AS n_tokens_after,
         |    tt.v AS vocab_union,
         |    greatest(coalesce(CAST(sum(term) AS BIGINT),
         |        CAST(0 AS BIGINT)), CAST(0 AS BIGINT))
         |      // greatest(tt.n1 + tt.v, 1) AS kl_millionths
         |  FROM tt LEFT JOIN terms ON TRUE
         |  GROUP BY tt.n1, tt.n2, tt.v),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_fresh
         |       FROM dropped),
         |sh AS (
         |  SELECT (((fin.doc_id % $Fold31) * $HashMult) % $Fold31
         |      * ${CorpusAssembly.DefaultNShards}) // $Fold31 AS shard,
         |    CAST(len(t.toks) AS BIGINT) AS n_toks
         |  FROM fin JOIN t ON t.doc_id = fin.doc_id),
         |sh2 AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(n_toks) AS BIGINT) AS shard_toks
         |        FROM sh GROUP BY shard)
         |SELECT sh2.shard, sh2.n_docs, sh2.shard_toks,
         |  nd.n_dropped_fresh, klrow.n_tokens_before,
         |  klrow.n_tokens_after, klrow.vocab_union, klrow.kl_millionths
         |FROM sh2, nd, klrow ORDER BY sh2.shard""".stripMargin)),
    // per-language quality percentile (relative curation threshold)
    Query("quality_top_pct", ((s, dir) => Curation.qualityTopPct(s, dir, QualityPct)),
      Oracle(
      // same quality blend as curation_pipeline, ranked per lang; keep =
      // integer percentile threshold so both engines agree exactly
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    round(0.4 * round(len(list_filter(toks, x -> list_contains(
         |        ['${TextAnalysis.Stopwords.mkString("','")}'], x)))::DOUBLE
         |        / len(toks), 4)
         |      + 0.6 * round(len(list_distinct(toks))::DOUBLE
         |        / len(toks), 4), 4) AS quality_score
         |  FROM (SELECT doc_id, lang, $DuckTokList AS toks
         |        FROM documents) t),
         |r AS (
         |  SELECT doc_id, lang, quality_score,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY quality_score DESC, doc_id) AS INTEGER) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM q WHERE quality_score IS NOT NULL)
         |SELECT doc_id, lang, quality_score, rk
         |FROM r WHERE rk <= (n_lang * $QualityPct) // 100
         |ORDER BY lang, rk""".stripMargin)),
    Query("split_leakage_audit", ((s, dir) => Sampling.splitLeakageAudit(s, dir)), Oracle(
      s"""WITH d AS (
        |  SELECT doc_id, md5(text) AS fp,
        |    ((doc_id % $Fold31) * $HashMult) % 100 AS b
        |  FROM documents),
        |te AS (SELECT doc_id AS test_id, fp FROM d WHERE b < 10),
        |tr AS (SELECT doc_id AS train_id, fp FROM d WHERE b >= 10),
        |lk AS (SELECT te.test_id FROM te JOIN tr ON te.fp = tr.fp)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train,
        |  (SELECT CAST(count(*) AS BIGINT) FROM te) AS n_test,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lk) AS n_leak_pairs,
        |  (SELECT CAST(count(DISTINCT test_id) AS BIGINT) FROM lk)
        |    AS n_leaky_test_docs""".stripMargin)),
    // near-dup tier of the leakage audit: asymmetric LSH across the split
    Query("split_leakage_neardup", ((s, dir) =>
      Sampling.splitLeakageNearDup(
        Dedup.withNearDups(Tables.documents(s, dir)))), Oracle(
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^[^ ]+ ', '')
         |  FROM documents WHERE doc_id < 20),
         |d AS (
         |  SELECT doc_id, text,
         |    ((doc_id % $Fold31) * $HashMult) % 100 < 10 AS is_test
         |  FROM corpus),
         |t AS (SELECT doc_id, is_test, $DuckTokList AS toks FROM d),
         |feats AS (
         |  SELECT DISTINCT doc_id, is_test,
         |    toks[i] || ' ' || toks[i+1] AS feat
         |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
         |                   AS i) g),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM feats GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.is_test AS ta, count(*) AS n_inter
         |  FROM feats a JOIN feats b
         |    ON a.feat = b.feat AND a.doc_id < b.doc_id
         |   AND a.is_test <> b.is_test
         |  GROUP BY 1,2,3),
         |lk AS (
         |  SELECT CASE WHEN ta THEN id_a ELSE id_b END AS test_id
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  -- pinned to the planted J >= 0.9 band (LSH miss prob <= 2e-4
         |  -- there), so an organic mid-Jaccard pair can't flip this gate
         |  WHERE round(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6)
         |    >= 0.9)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE NOT is_test)
         |    AS n_train,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d WHERE is_test)
         |    AS n_test,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lk) AS n_neardup_pairs,
         |  (SELECT CAST(count(DISTINCT test_id) AS BIGINT) FROM lk)
         |    AS n_leaky_test_docs""".stripMargin)),
  )
}
