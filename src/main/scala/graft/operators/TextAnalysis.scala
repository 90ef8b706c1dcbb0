package graft.operators

import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for a large-scale training-data pipeline:
  * per-document token statistics, quality scoring, language-ID heuristic,
  * content fingerprinting, n-gram statistics, TF-IDF.
  *
  * Everything is built from codegen'd `functions._` (higher-order array
  * functions, no UDFs), so per-document metrics stay inside whole-stage
  * codegen and scale linearly with the corpus — no shuffle at all for the
  * per-doc operators; one bounded shuffle for corpus-level stats
  * (vocabulary-sized, not corpus-sized, thanks to partial aggregation).
  */
object TextAnalysis {

  /** Small English stopword list (shared with the DuckDB oracle SQL). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "this", "that", "with", "for", "on", "as", "are", "was", "be")

  private def toks = tokenize(col("text"))

  /** Stopword-filtered case-insensitive word count (filter applied after
    * fold, before the aggregation — the filter prunes shuffle input). */
  def wordCountNoStopwords(s: SparkSession, dir: String): DataFrame = {
    val sw = array(Stopwords.map(lit): _*)
    WordCount.tokens(Tables.documents(s, dir), "text")
      .select(lower(col("word")).as("word"))
      .filter(!array_contains(sw, col("word")))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-document token statistics. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("toks"), length(col("text")).as("len"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        col("len").as("n_chars"),
        round(
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(col("toks")), 4).as("avg_token_len"))

  /** Per-document quality score from length/stopword/diversity ratios —
    * the classic cheap pre-filters for LLM training corpora. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScoreOf(Tables.documents(s, dir))

  /** [[qualityScore]] over an arbitrary (doc_id, text) frame — so
    * composed operators (e.g. quality-aware dedup) can score a planted
    * or derived corpus with the identical formula. */
  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val sw = array(Stopwords.map(lit): _*)
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        round(size(filter(col("toks"), t => array_contains(sw, t)))
          .cast("double") / size(col("toks")), 4).as("stop_ratio"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 4).as("distinct_ratio"))
      // weights 0.4/0.6 (not 0.5/0.5): products of 4-decimal ratios then
      // end in an even 5th decimal, never the exact .5 half-way case that
      // Spark (HALF_UP on the double) and DuckDB round differently
      .withColumn("quality_score",
        round(lit(0.4) * col("stop_ratio") +
              lit(0.6) * col("distinct_ratio"), 4))
  }

  /** Gopher-style composite quality rules (Rae et al. 2021, Appendix
    * A1.1) — the published reject rules a MassiveText-class pipeline
    * applies BEFORE any trained filter, composed over the corpus as ONE
    * scan: word count outside [minWords, maxWords]; mean word length
    * outside [3, 10]; symbol-to-word ratio ('#' chars + non-overlapping
    * '...' occurrences) > 0.1; > 90% of lines bullet-led; > 30% of
    * lines ellipsis-terminated; < 80% of words containing an alphabetic
    * character; fewer than 2 distinct essential stop words (Gopher's
    * the/be/to/of/and/that/have/with list, matched on the raw token —
    * the [[qualityScoreOf]] case convention).
    *
    * Every threshold is applied as a CROSS-MULTIPLIED INTEGER
    * comparison (10·symbols > words, 10·bullets > 9·lines, …): no float
    * ratio ever crosses the engine boundary, so the per-rule rejection
    * counts hash-match the ANSI recompute exactly. Words are the
    * reference `clean_words` tokens; symbol/line evidence reads the RAW
    * text (tokenization strips exactly the punctuation these rules
    * count). Long-format output — one row per rule with the count of
    * docs it rejects, plus the `pass_all` survivor count: the
    * accounting a curation dashboard consumes. All per-doc work is
    * scan-fused column math; the only aggregation is one 8-sum reduce. */
  def gopherRulesOf(docs: DataFrame, minWords: Int = 50,
                    maxWords: Int = 100000): DataFrame = {
    val essential =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val sw = array(essential.map(lit): _*)
    val bulletLed = (l: org.apache.spark.sql.Column) => {
      val lt = ltrim(l)
      lt.startsWith("-") || lt.startsWith("*") || lt.startsWith("•")
    }
    val f = docs
      .select(col("doc_id"), col("text"), toks.as("toks"),
        split(col("text"), "\n", -1).as("lines"))
      .select(
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (a, x) => a + length(x))
          .as("sum_len"),
        (length(col("text")) -
          length(replace(col("text"), lit("#")))).cast("long").as("n_hash"),
        ((length(col("text")) -
          length(replace(col("text"), lit("...")))) / lit(3))
          .cast("long").as("n_ell"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"), bulletLed)).cast("long").as("n_bullet"),
        size(filter(col("lines"), l => rtrim(l).endsWith("...")))
          .cast("long").as("n_ell_end"),
        size(filter(col("toks"), x => x.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(col("toks")), sw)).cast("long")
          .as("n_stop"))
      .select(
        (col("n_words") < minWords || col("n_words") > maxWords)
          .cast("long").as("r_wc"),
        (col("sum_len") < lit(3L) * col("n_words") ||
          col("sum_len") > lit(10L) * col("n_words"))
          .cast("long").as("r_mwl"),
        // Rae et al. A1.1 applies the 0.1 threshold to EACH symbol
        // separately ("either the hash symbol or the ellipsis") — a
        // summed ratio would reject docs neither published rule does
        // (e.g. hash 0.06 + ellipsis 0.06)
        (lit(10L) * col("n_hash") > col("n_words") ||
          lit(10L) * col("n_ell") > col("n_words"))
          .cast("long").as("r_sym"),
        (lit(10L) * col("n_bullet") > lit(9L) * col("n_lines"))
          .cast("long").as("r_bul"),
        (lit(10L) * col("n_ell_end") > lit(3L) * col("n_lines"))
          .cast("long").as("r_ell"),
        (lit(10L) * col("n_alpha") < lit(8L) * col("n_words"))
          .cast("long").as("r_alp"),
        (col("n_stop") < 2).cast("long").as("r_stp"))
      .withColumn("pass",
        (col("r_wc") + col("r_mwl") + col("r_sym") + col("r_bul") +
          col("r_ell") + col("r_alp") + col("r_stp") === 0L)
          .cast("long"))
    f.agg(
        coalesce(sum("r_wc"), lit(0L)).as("wc"),
        coalesce(sum("r_mwl"), lit(0L)).as("mwl"),
        coalesce(sum("r_sym"), lit(0L)).as("sym"),
        coalesce(sum("r_bul"), lit(0L)).as("bul"),
        coalesce(sum("r_ell"), lit(0L)).as("ell"),
        coalesce(sum("r_alp"), lit(0L)).as("alp"),
        coalesce(sum("r_stp"), lit(0L)).as("stp"),
        coalesce(sum("pass"), lit(0L)).as("pas"))
      .selectExpr("""stack(8,
        'pass_all', pas,
        'reject_alpha_words', alp,
        'reject_bullet_lines', bul,
        'reject_ellipsis_lines', ell,
        'reject_mean_word_len', mwl,
        'reject_stopwords', stp,
        'reject_symbol_ratio', sym,
        'reject_word_count', wc) as (rule, n_docs)""")
      .orderBy("rule")
  }

  /** [[gopherRulesOf]] over the documents table. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.documents(s, dir))

  // (the pre-r20 composed forms of the gram covers — array_sort +
  // interpreted `aggregate` folds — live on as the reference
  // implementation inside TextAnalysisSpec, which pins the native
  // GramCoverExpression bit-identical to them)

  /** The top-n-gram rules' (n, reject-percent) pairs — Rae et al.
    * Table A1 — shared between the Spark side and the oracle SQL
    * generator so the two engines cannot drift. */
  val RepTopNgram: Seq[(Int, Int)] = Seq(2 -> 20, 3 -> 18, 4 -> 16)

  /** The duplicate-n-gram rules' (n, reject-percent) pairs. */
  val RepDupNgram: Seq[(Int, Int)] =
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  /** Gopher-style REPETITION rules (Rae et al. 2021, Appendix A1.2 —
    * the second half of the published MassiveText battery, completing
    * [[gopherRulesOf]]'s A1.1 scans): reject documents dominated by
    * repeated lines, paragraphs, or n-grams. ONE corpus scan; every
    * threshold a cross-multiplied integer comparison (100·covered >
    * pct·total) so the per-rule rejection counts hash-match the ANSI
    * recompute exactly.
    *
    * Definitions, pinned identically in both engines:
    *  - lines / paragraphs: raw text split on '\n' / '\n\n',
    *    whitespace-only segments dropped (blank separators are layout;
    *    counting them as duplicates would reject every multi-paragraph
    *    document);
    *  - duplicate fraction = (segments − distinct) / segments; the
    *    CHAR variant replaces counts with summed lengths — every
    *    occurrence beyond a segment's first counts as duplicated mass;
    *  - top-n-gram char fraction (n = 2..4): occurrences × chars of
    *    the most frequent word n-gram (ties → smallest gram) over the
    *    space-joined token stream's length;
    *  - duplicate-n-gram char fraction (n = 5..10): Σ over grams with
    *    ≥ 2 occurrences of occurrences × chars, same denominator.
    *    This is the SUM form, not Rae's positional character marking:
    *    overlapping repeats charge every occurrence, the ratio can
    *    exceed 1, and the rule rejects a superset of the published
    *    one — deliberate: positional coverage needs per-offset state
    *    no ANSI recompute can mirror, and a reject rule only needs
    *    monotone-in-repetition. Documented deviation.
    *
    * Thresholds (Table A1): dup line/para 30%, dup line/para chars
    * 20%, top 2/3/4-gram 20/18/16%, dup 5..10-gram 15..10%.
    *
    * Scale shape: all per-doc work is scan-fused column math — the
    * gram counters run on sorted arrays (O(G log G) + O(G) aggregates,
    * [[topGramCover]]/[[dupGramCover]]) — and the only shuffle is the
    * final 14-sum reduce; the battery rides the same single corpus
    * scan as [[gopherRulesOf]] at any corpus size. */
  def gopherRepetitionOf(docs: DataFrame): DataFrame = {
    def cleanSegs(sep: String) =
      filter(split(col("text"), sep, -1), l => length(trim(l)) > 0)
    def segChars(c: Column) =
      aggregate(c, lit(0L), (a, x) => a + length(x))
    // all 9 n-gram covers from ONE native call per document
    // (GramCoverExpression): the composed array_sort + interpreted
    // `aggregate` fold per n dominated this query's profile — 9 sorted
    // gram arrays and 9 per-gram interpreted lambdas per doc
    val coverSpecs = RepTopNgram.map(_._1 -> true) ++
      RepDupNgram.map(_._1 -> false)
    val measured = docs
      .select(col("text"), toks.as("toks"),
        cleanSegs("\n").as("lines"), cleanSegs("\n\n").as("paras"))
      .select(
        length(array_join(col("toks"), " ")).cast("long").as("total"),
        size(col("lines")).cast("long").as("nl"),
        size(array_distinct(col("lines"))).cast("long").as("nld"),
        segChars(col("lines")).as("lc"),
        segChars(array_distinct(col("lines"))).as("lcd"),
        size(col("paras")).cast("long").as("np"),
        size(array_distinct(col("paras"))).cast("long").as("npd"),
        segChars(col("paras")).as("pc"),
        segChars(array_distinct(col("paras"))).as("pcd"),
        graft.functions.GramCoverExpression
          .gram_covers(col("toks"), coverSpecs).as("cov"))
    val flags = measured.select(
      Seq(
        (lit(100L) * (col("nl") - col("nld")) > lit(30L) * col("nl"))
          .cast("long").as("r_line_frac"),
        (lit(100L) * (col("lc") - col("lcd")) > lit(20L) * col("lc"))
          .cast("long").as("r_line_chars"),
        (lit(100L) * (col("np") - col("npd")) > lit(30L) * col("np"))
          .cast("long").as("r_para_frac"),
        (lit(100L) * (col("pc") - col("pcd")) > lit(20L) * col("pc"))
          .cast("long").as("r_para_chars")) ++
      RepTopNgram.zipWithIndex.map { case ((n, pct), i) =>
        (lit(100L) * col("cov").getItem(i) > lit(pct.toLong) * col("total"))
          .cast("long").as(f"r_top_$n%02d") } ++
      RepDupNgram.zipWithIndex.map { case ((n, pct), i) =>
        (lit(100L) * col("cov").getItem(RepTopNgram.size + i) >
          lit(pct.toLong) * col("total"))
          .cast("long").as(f"r_dup_$n%02d") }: _*)
    val ruleCols = flags.columns.toSeq
    val agged = flags
      .withColumn("pass",
        (ruleCols.map(col).reduce(_ + _) === 0L).cast("long"))
      .agg(coalesce(sum("pass"), lit(0L)).as("pas"),
        ruleCols.map(c =>
          coalesce(sum(col(c)), lit(0L)).as(c)): _*)
    val stackArgs = (Seq("'pass_all'" -> "pas",
      "'reject_dup_line_frac'" -> "r_line_frac",
      "'reject_dup_line_chars'" -> "r_line_chars",
      "'reject_dup_para_frac'" -> "r_para_frac",
      "'reject_dup_para_chars'" -> "r_para_chars") ++
      RepTopNgram.map { case (n, _) =>
        f"'reject_top_ngram_$n%02d'" -> f"r_top_$n%02d" } ++
      RepDupNgram.map { case (n, _) =>
        f"'reject_dup_ngram_$n%02d'" -> f"r_dup_$n%02d" })
      .map { case (name, c) => s"$name, $c" }.mkString(",\n")
    val nRules = 5 + RepTopNgram.size + RepDupNgram.size
    agged.selectExpr(s"stack($nRules,\n$stackArgs) as (rule, n_docs)")
      .orderBy("rule")
  }

  /** [[gopherRepetitionOf]] over the documents table with the
    * [[withPlantedRepetition]] doubling plant (every 11th doc) — the
    * boilerplate failure mode the battery exists to catch, so the
    * gated query's reject counts are live, not vacuous zeros. */
  def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetitionOf(withPlantedRepetition(Tables.documents(s, dir)))

  /** Length-bucketed PADDING-WASTE accounting — the batching-prep view
    * a trainer reads before picking a bucketing width: documents are
    * grouped into token-length buckets of width `w` (bucket_hi =
    * ⌈len/w⌉·w, the padded length every member pays), and each bucket
    * reports its doc count, real token mass, padded mass, and the
    * waste in integer MILLIONTHS (the engine-portable ratio
    * convention) — Σ(padded − real)·1e6 / padded, floor division.
    * The all-corpus `__total__` row is what a bucketing sweep compares
    * across widths: smaller w → less padding but more bucket switches;
    * the number this view puts next to that tradeoff is exact. One
    * scan-fused length projection + one bucket aggregation; the total
    * re-aggregates ≤ maxLen/w bucket rows, never the corpus. */
  def paddingWaste(s: SparkSession, dir: String, w: Int = 16): DataFrame = {
    val b = Tables.documents(s, dir)
      .select(size(toks).as("len"))
      .select(col("len"),
        (ceil(col("len").cast("double") / w) * w).cast("long").as("hi"))
    val buckets = b.groupBy("hi")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len").cast("long")).as("real_tokens"))
      .withColumn("padded_tokens", col("hi") * col("n_docs"))
    val total = buckets
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("real_tokens"), lit(0L)).as("real_tokens"),
        coalesce(sum("padded_tokens"), lit(0L)).as("padded_tokens"))
      .withColumn("hi", lit(-1L))
    buckets.unionByName(total)
      .withColumn("waste_millionths",
        expr("(padded_tokens - real_tokens) * 1000000" +
          " DIV greatest(padded_tokens, 1)"))
      .select(
        // %09d, not %05d: the string sort must agree with the numeric
        // order for any reachable bucket, and hi >= 100000 is reachable
        // (gopherRules itself admits docs up to 100000 words) — at 5
        // digits '100000' would sort before '99984'
        when(col("hi") === -1L, "__total__")
          .otherwise(format_string("%09d", col("hi"))).as("bucket"),
        col("n_docs"), col("real_tokens"), col("padded_tokens"),
        col("waste_millionths"))
      .orderBy("bucket")
  }

  /** Curriculum staging: partition the corpus into `stages` quality
    * quantiles (high quality first — the classic curriculum-learning
    * order) and emit the per-stage accounting a trainer consumes:
    * doc count, token mass, quality bounds.
    *
    * Semantics are EXACTLY SQL ntile over (quality_score DESC, doc_id)
    * — the oracle states it that way — but the implementation never
    * runs the global single-partition window ntile compiles to:
    * 4-dp scores take ≤10001 distinct values, so per-score-bucket
    * counts are DRIVER METADATA (the model-registry collect class);
    * each doc's global rank is cumBefore(score) + its row_number
    * WITHIN its score bucket (a bounded, score-partitioned window),
    * and the ntile bucket index inverts from the rank in pure integer
    * math (first n%stages buckets hold ⌈n/stages⌉ rows). At 100 TB
    * that is one vocabulary-bounded aggregate + one bounded-partition
    * window + a scan-fused stage expression — no global sort. */
  def curriculumStages(s: SparkSession, dir: String,
                       stages: Int = 4): DataFrame = {
    import s.implicits._
    val q = qualityScore(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val buckets = q.groupBy("quality_score")
      .agg(count(lit(1)).as("c"))
      .as[(Double, Long)].collect().sortBy(-_._1)
    if (buckets.isEmpty)
      return Seq.empty[(Int, Long, Long, Double, Double)]
        .toDF("stage", "n_docs", "sum_tokens", "min_quality", "max_quality")
    val n = buckets.map(_._2).sum
    val cumBefore = buckets.scanLeft(0L)(_ + _._2).init
    val cumMap = buckets.map(_._1).zip(cumBefore).toMap
    val big = n / stages; val r = n % stages
    val wS = Window.partitionBy("quality_score").orderBy("doc_id")
    val rank0 = element_at(typedlit(cumMap), col("quality_score")) +
      row_number().over(wS) - 1
    val stage = when(rank0 < lit((big + 1) * r),
        (rank0 / lit(big + 1)).cast("int") + 1)
      .otherwise((lit(r) +
        (rank0 - lit((big + 1) * r)) / lit(math.max(big, 1L))).cast("int") + 1)
    q.withColumn("stage", stage)
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("quality_score").as("min_quality"),
        max("quality_score").as("max_quality"))
      .orderBy("stage")
  }

  /** Language-ID heuristic: character-class evidence first (CJK, kana,
    * Cyrillic, Spanish diacritics), else default 'en'. A real pipeline
    * swaps in an n-gram profile model; the plumbing (pure column
    * expressions, no shuffle) is the point here. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    def ratio(cls: String) =
      size(regexp_extract_all(text, lit(cls), lit(0))).cast("double") /
        greatest(length(text), lit(1))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("lang_label"),
        when(ratio("[\\x{4E00}-\\x{9FFF}]") > 0.05, "zh")
          .when(ratio("[\\x{3040}-\\x{30FF}]") > 0.05, "ja")
          .when(ratio("[\\x{0400}-\\x{04FF}]") > 0.05, "ru")
          .when(ratio("[áéíóúñ¿¡]") > 0.01, "es")
          .otherwise("en").as("lang_pred"))
  }

  /** Lang index for the trained-NB plant — the fixed alphabetical corpus
    * languages. Kept as a CASE expression (not a collected map) so the
    * oracle SQL states the identical formula. */
  private def langIdx = when(col("lang") === "de", 0)
    .when(col("lang") === "en", 1)
    .when(col("lang") === "es", 2)
    .when(col("lang") === "fr", 3)
    .otherwise(4)

  /** Labeled training corpus for the trained language-ID model. The
    * testdata's `lang` labels carry NO textual signal (token frequencies
    * are proportional across labels — verified), so, per the same
    * convention as Dedup's planted duplicates, each doc gets a
    * deterministic marker suffix: 6 copies of its own language's marker
    * token plus one copy of each of the two cyclically-next markers
    * (overlap keeps the classification non-degenerate). The formula is
    * trivially SQL-expressible, so the oracle can regenerate the corpus
    * and retrain the identical model. */
  def nbCorpus(docs: DataFrame): DataFrame = {
    val li = langIdx
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "),
        repeat(concat(lit("qq"), li.cast("string"), lit(" ")), 6),
        lit("qq"), ((li + 1) % 5).cast("string"),
        lit(" qq"), ((li + 2) % 5).cast("string")).as("text"))
  }

  /** Trained count-space Naive Bayes language ID. Training is one
    * vocabulary-sized aggregation (map-side combined); the model —
    * per-(lang, token) counts, per-lang totals, vocabulary size, priors —
    * is a few hundred rows, broadcast into the scoring scan. Scoring
    * sums INTEGER weights: each smoothed log-likelihood is rounded to
    * millionths (`floor(ln((c+1)/(tot+V))·1e6)` AS BIGINT) BEFORE the
    * per-doc sum, so the sum is exact integer arithmetic — order- and
    * engine-independent — and the argmax is hash-exact cross-engine
    * (the `lm_typicality` fixed-point trick applied to log space; float
    * error is confined to one floor per distinct (token, lang) weight,
    * never accumulated).
    *
    * 100 TB shape: tokens never shuffle by token for scoring — the only
    * corpus-sized movement is the per-(doc, lang) partial-aggregated
    * weight sum, keyed by doc_id. Training's count tables are
    * vocabulary-sized. The 5-row lang dimension rides a broadcast
    * nested-loop (one output row per token×lang, combined map-side). */
  private def nbScores(docs: DataFrame): DataFrame = {
    val corpus = nbCorpus(docs)
    val tok = corpus.select(col("doc_id"), col("lang").as("lang_label"),
      explode(toks).as("w"))
    val counts = tok.groupBy(col("lang_label").as("l"), col("w"))
      .agg(count(lit(1)).as("c"))
    val tots = tok.groupBy(col("lang_label").as("l"))
      .agg(count(lit(1)).as("tot"))
    val vocab = tok.agg(count_distinct(col("w")).as("v"))
    val nAll = corpus.agg(count(lit(1)).as("n_all"))
    val priors = corpus.groupBy(col("lang").as("l"))
      .agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(nAll))
      .select(col("l"),
        floor(log(col("n_l").cast("double") / col("n_all").cast("double"))
          * lit(1000000.0d)).as("prior"))
    val langs = corpus.select(col("lang").as("l")).distinct()
    tok.crossJoin(broadcast(langs))
      .join(broadcast(counts), Seq("l", "w"), "left")
      .join(broadcast(tots), Seq("l"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("lang_label"), col("l"),
        floor(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("tot") + col("v")).cast("double")) * lit(1000000.0d))
          .as("wgt"))
      .groupBy("doc_id", "lang_label", "l")
      .agg(sum("wgt").as("sum_w"))
      .join(broadcast(priors), Seq("l"))
      .select(col("doc_id"), col("lang_label"), col("l"),
        (col("prior") + col("sum_w")).as("score"))
  }

  /** Per-doc NB prediction: argmax lang with (score DESC, lang ASC)
    * tie-break, plus the winning integer score. */
  def langIdNb(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("l").asc)
    nbScores(Tables.documents(s, dir))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang_label"), col("l").as("lang_pred"),
        col("score"))
  }

  /** Confusion matrix of the trained NB language ID — the model-eval
    * view over [[langIdNb]]'s per-doc predictions: (label, pred) →
    * count, the per-pair error structure the scalar accuracy gate
    * can't show (which languages bleed into which). A langs²-bounded
    * re-aggregation of the prediction frame — the corpus-scale work is
    * all in the upstream scoring. */
  def langIdNbConfusion(s: SparkSession, dir: String): DataFrame =
    langIdNb(s, dir)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_label", "lang_pred")

  /** Per-lang token-length artifact detector — truncated fragments and
    * glued-together concatenations are the classic parser failures a
    * curation pass removes. Two regimes, because one test cannot
    * cover both tails: fragments get an ABSOLUTE floor (n < minToks →
    * 'too_short' — a robust low-side test is impossible whenever
    * MAD ≥ ⅔·median, which holds for this corpus and for most web
    * corpora whose lengths spread widely above a hard lower bound),
    * and concatenations get the robust high-side MAD test
    * (2·(2n − med2) > 3·mad4 → 'too_long' — mean/stddev is exactly
    * what heavy-tailed length distributions break). All-integer
    * median/MAD arithmetic as in Grouping.robustPriceStats (doubled
    * medians keep the even-count midpoint interpolation exact, so no
    * float reaches the hashed output); three bounded-key aggregation
    * passes with the langs-sized stats broadcast back between — each
    * pass is one scan + one tiny aggregate at any corpus size. */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame =
    lengthOutliersOf(withLengthArtifacts(Tables.documents(s, dir)))

  /** documents ∪ planted length artifacts for doc_id < 10 — the
    * synthetic corpus draws lengths too uniformly to have organic
    * 3×MAD outliers, so the demo plants both parser-artifact regimes
    * the detector exists for (the dedup-family convention, oracle
    * recomputes the identical rows): a 15-character truncation at
    * id + 40000 and a 20× self-concatenation at id + 50000 (20× so
    * even the SHORTEST seed doc lands far beyond the high-side bound —
    * a 6× plant of a 10-token doc sat exactly at the median). Both
    * engines count characters in substr, same as withContainedDups. */
  def withLengthArtifacts(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("text"))
    val seed = base.filter(col("doc_id") < 10)
    base
      .union(seed.select((col("doc_id") + 40000L).as("doc_id"),
        col("lang"), col("text").substr(1, 15).as("text")))
      .union(seed.select((col("doc_id") + 50000L).as("doc_id"),
        col("lang"),
        repeat(concat(col("text"), lit(" ")), 20).as("text")))
  }

  def lengthOutliersOf(docs: DataFrame, minToks: Long = 5L): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_toks"))
    val med = t.groupBy("lang")
      .agg(expr("CAST(2 * percentile(n_toks, 0.5D) AS BIGINT)").as("med2"))
    val dev = t.join(broadcast(med), "lang")
      .withColumn("dev2", lit(2L) * col("n_toks") - col("med2"))
    val mad = dev.groupBy("lang")
      .agg(expr("CAST(2 * percentile(abs(dev2), 0.5D) AS BIGINT)")
        .as("mad4"))
    dev.join(broadcast(mad), "lang")
      .withColumn("reason",
        when(col("n_toks") < minToks, "too_short")
          .when(lit(2L) * col("dev2") > lit(3L) * col("mad4"), "too_long"))
      .filter(col("reason").isNotNull)
      .select(col("doc_id"), col("lang"), col("n_toks"),
        col("med2"), col("mad4"), col("reason"))
      .orderBy("doc_id")
  }

  /** Per-doc compression-ratio quality scores (Gopher/MassiveText
    * heuristic — see [[graft.functions.DeflateExpression]]): runs over
    * the length-artifact plant so the 20×-repeat docs provide
    * repetitive ground truth the gate can pin. Scan-fused per-row
    * native expression, zero shuffles. */
  def compressionRatio(s: SparkSession, dir: String): DataFrame =
    withLengthArtifacts(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.DeflateExpression.deflate_ratio(col("text"))
          .as("ratio_millionths"))
      .orderBy("doc_id")

  /** Invariant gate for [[compressionRatio]] (the ratio itself is not
    * SQL-recomputable — DuckDB has no deflate): every planted
    * 20×-repeat must compress at least 2× better than its seed (LZ77
    * matches reduce each extra copy to a few match tokens, so the true
    * factor is ~10–20×; 2× is the robust floor), and every ratio must
    * sit in (0, 1.5e6] — the upper slack covers deflate's stored-block
    * overhead on very short strings (a 15-char truncation plant can
    * expand to ~1.33×). The oracle pins the planted counts and both
    * flags. */
  def compressionRatioGate(s: SparkSession, dir: String): DataFrame = {
    val r = compressionRatio(s, dir)
      .select(col("doc_id"), col("ratio_millionths"))
    val seeds = r.filter(col("doc_id") < 10)
      .select(col("doc_id").as("seed_id"),
        col("ratio_millionths").as("seed_ratio"))
    val reps = r.filter(col("doc_id") >= 50000L && col("doc_id") < 50010L)
      .select((col("doc_id") - 50000L).as("seed_id"),
        col("ratio_millionths").as("rep_ratio"))
    val pairs = reps.join(seeds, "seed_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(when(col("rep_ratio") * 2 < col("seed_ratio"), 1L)
          .otherwise(0L)).as("all_repeats_better"))
    r.agg(count(lit(1)).as("n_docs"),
        min(when(col("ratio_millionths") > 0 &&
          col("ratio_millionths") <= 1500000L, 1L).otherwise(0L))
          .as("all_bounded"))
      .crossJoin(pairs)
      .select(col("n_docs"), col("n_pairs"), col("all_bounded"),
        col("all_repeats_better"))
  }

  /** Driver-checkable accuracy gate for the trained NB: n_correct is an
    * exact integer (predictions are hash-exact), and acc_ok pins the
    * floor — marker signal puts true accuracy at ~1.0, the 0.95 floor
    * leaves corpus-drift margin. */
  def langIdNbGate(s: SparkSession, dir: String,
                   floorMillis: Int = 950): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("l").asc)
    nbScores(Tables.documents(s, dir))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .agg(count(lit(1)).as("n_docs"),
        sum((col("l") === col("lang_label")).cast("long")).as("n_correct"))
      .select(col("n_docs"), col("n_correct"),
        (col("n_correct") * 1000 >= col("n_docs") * floorMillis)
          .cast("int").as("acc_ok"))
  }

  /** Exact content fingerprint (md5) — the cheap exact-dedup key. */
  def fingerprintMd5(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))

  /** The rolling-fingerprint fold over a token array — shared by the
    * standalone query and the driver gate so the hash semantics exist in
    * exactly one place. Polynomial hash of per-token xxhash64, mod a
    * prime kept under 2^32 so every intermediate stays in long range
    * (Spark 4 runs ANSI mode — wrapping overflow raises). */
  def rollingFpExpr(toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val m = lit(3037000493L) // prime < 2^31.5: acc*31 + h stays < 2^37
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), m), m))
  }

  /** Token-order-sensitive rolling fingerprint. Order-sensitive where
    * md5-of-bytes is byte-exact and MinHash is order-blind. xxhash64 is
    * not expressible in ANSI SQL → rows-only check; [[fingerprintGate]]
    * is the driver-checkable companion. */
  def fingerprintRolling(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), rollingFpExpr(toks).as("fp"))

  /** Corpus plant for [[fingerprintGate]]: 20 token-REVERSED variants.
    * A reversed token list is the adversarial case for an order-
    * sensitive fingerprint — an order-blind replacement (e.g. the fold
    * degrading to a token-hash SUM) collides every planted doc with its
    * original, which the gate's injectivity flag catches. Offset 20000
    * keeps plant ids clear of both the base ids and Dedup's 10000. */
  def withReversedPlants(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 20000L).as("doc_id"),
        concat_ws(" ", reverse(tokenize(col("text")))).as("text")))
  }

  /** Driver-checkable invariants for the rolling fingerprint, same shape
    * as Dedup's agreement gates: the fingerprint must be a FUNCTION of
    * the token sequence (n_pairs == n_keys — determinism) and INJECTIVE
    * on this corpus (n_pairs == n_fps — no collisions, which also proves
    * order sensitivity against the reversed plants). n_docs/n_keys are
    * exact and SQL-recomputable; the oracle emits them plus literal 1s,
    * so breaking the fold, the modulus, or order sensitivity flips the
    * driver's hash check red even though xxhash64 itself is not ANSI-
    * expressible. One vocabulary-bounded aggregation, no join. */
  def fingerprintGate(s: SparkSession, dir: String): DataFrame =
    withReversedPlants(Tables.documents(s, dir))
      .select(col("doc_id"), concat_ws(" ", toks).as("tok_key"),
        rollingFpExpr(toks).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("tok_key")).as("n_keys"),
        countDistinct(col("fp")).as("n_fps"),
        countDistinct(col("tok_key"), col("fp")).as("n_pairs"))
      .select(col("n_docs"), col("n_keys"),
        (col("n_pairs") === col("n_keys")).cast("int").as("functional_ok"),
        (col("n_pairs") === col("n_fps")).cast("int").as("injective_ok"))

  /** BPE-style pre-tokenizer pattern (GPT-2-ish, kept RE2-compatible —
    * no lookahead — so the DuckDB oracle runs the identical regex):
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs. Counting these approximates an LLM token budget
    * without a merges table. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Per-document token-budget estimate: BPE-ish pre-token count vs
    * whitespace-token count. Pure per-row column math — no shuffle. */
  def bpeTokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("bt"),
        toks.as("wt"))
      .select(col("doc_id"),
        size(col("bt")).as("n_bpe_tokens"),
        size(col("wt")).as("n_ws_tokens"),
        round(size(col("bt")).cast("double") /
          greatest(size(col("wt")), lit(1)), 4).as("bpe_per_word"))

  /** Email/URL patterns, kept RE2-compatible (no lookahead/backrefs) so
    * the DuckDB oracle runs the byte-identical regexes. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe: String = "https?://[^\\s]+"

  /** The synthetic corpus contains no PII, so plant a deterministic
    * email + URL on every 5th document — fixture-by-construction, same
    * pattern as Dedup.withNearDups — to give the scrubber real work the
    * oracle can recompute. */
  def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com via https://example.com/d/"),
          col("doc_id").cast("string")))
        .otherwise(col("text")))

  /** The PII-redaction expression over a text column: URL scrub runs
    * first (mirrored in every oracle) so an address inside a URL can't
    * be double-redacted. Shared by piiScrub and Curation so the
    * redaction semantics exist in exactly one Scala place. */
  def scrubExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, lit(UrlRe), lit("<URL>")),
      lit(EmailRe), lit("<EMAIL>"))

  /** The 0.4·stop_ratio + 0.6·distinct_ratio quality blend over a token
    * array (ratios pre-rounded to 4 dp; see qualityScore for the why of
    * the weights) — the same score qualityScore emits, as one reusable
    * expression for pipelines (Curation) that don't surface the ratios. */
  def qualityExpr(toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val sw = array(Stopwords.map(lit): _*)
    val stopRatio = round(size(filter(toks, t => array_contains(sw, t)))
      .cast("double") / size(toks), 4)
    val distinctRatio =
      round(size(array_distinct(toks)).cast("double") / size(toks), 4)
    round(lit(0.4) * stopRatio + lit(0.6) * distinctRatio, 4)
  }

  /** PII scrub — the curation pass every training corpus runs: count and
    * redact emails/URLs. Pure per-row regex column math, scan-fused,
    * zero shuffles at any scale; the md5 of the redacted text makes the
    * result hash-checkable without shipping the text itself. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val scrubbed = scrubExpr(col("text"))
    withSyntheticPii(Tables.documents(s, dir))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
          .as("n_urls"),
        md5(scrubbed).as("scrubbed_fp"),
        length(scrubbed).as("n_chars_scrubbed"))
  }

  /** Contamination plant: training docs 50–69 get the first 8 tokens of
    * benchmark doc (doc_id − 50) appended — a guaranteed shared 8-gram.
    * Fixture-by-construction like Dedup.withNearDups; natural 8-gram
    * overlaps in the synthetic corpus are detected identically by both
    * engines, so they don't need excluding. */
  def withPlantedContamination(docs: DataFrame): DataFrame = {
    val snippets = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("b_id"),
        concat_ws(" ", slice(tokenize(col("text")), 1, 8)).as("snippet"))
    docs.join(broadcast(snippets),
        col("doc_id") - lit(50L) === col("b_id"), "left")
      .select(col("doc_id"),
        when(col("snippet").isNotNull,
          concat(col("text"), lit(" "), col("snippet")))
          .otherwise(col("text")).as("text"))
  }

  /** Benchmark-contamination check — the eval-set decontamination pass
    * every serious training pipeline runs: which training documents
    * (doc_id ≥ 50) share any word 8-gram with the benchmark set
    * (doc_id < 50), and with how many benchmark docs. The benchmark
    * n-gram set is tiny relative to the corpus, so it is BROADCAST and
    * the 100 TB side never shuffles — at real scale the same shape holds
    * (benchmark suites are MBs; a bloom filter over their n-grams is the
    * even-cheaper variant) and the only aggregation is per-training-doc.
    * Emits one row per contaminated training doc. */
  def contaminationCheck(s: SparkSession, dir: String, n: Int = 8)
      : DataFrame = {
    val grams = withPlantedContamination(Tables.documents(s, dir))
      .select(col("doc_id"), explode(wordNgrams(toks, n)).as("gram"))
    val bench = grams.filter(col("doc_id") < 50)
      .select(col("gram"), col("doc_id").as("bench_id")).distinct()
    grams.filter(col("doc_id") >= 50)
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_grams_hit"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** The bloom-filter tier of benchmark decontamination — the promised
    * degradation path when the benchmark/holdout n-gram set outgrows a
    * broadcast hash set (deduplicating new data against a PRIOR TRAINING
    * CORPUS means billions of grams: a 1%-fpp bloom is ~1.2 bytes/item
    * vs ~50 for a hashed relation, a 40× smaller broadcast). Two tiers:
    * the bloom (built by ONE aggregation job over the benchmark grams;
    * the resulting binary is driver metadata, embedded as a literal the
    * same way the k-means codebook is) prunes the corpus scan-side with
    * zero false NEGATIVES, then the exact broadcast semi-join confirms
    * survivors — bloom false positives die there, so the final answer is
    * IDENTICAL to [[contaminationCheck]], and the driver hash-checks it
    * against the very same oracle SQL. Spark's own codegen'd
    * BloomFilterAggregate / BloomFilterMightContain (the runtime-filter
    * machinery) do the sketch work; might_contain requires a foldable
    * bloom side, which the literal satisfies. */
  def contaminationCheckBloom(s: SparkSession, dir: String, n: Int = 8,
                              estItems: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType

    val grams = withPlantedContamination(Tables.documents(s, dir))
      .select(col("doc_id"), explode(wordNgrams(toks, n)).as("gram"))
    val bench = grams.filter(col("doc_id") < 50)
      .select(col("gram"), col("doc_id").as("bench_id")).distinct()

    // ~9.6 bits/item ≈ 1% fpp; the binary is KBs-to-MBs of driver
    // metadata, never a data-sized collect
    val bloomAgg = Bridge.toColumn(new BloomFilterAggregate(
      Bridge.toExpression(xxhash64(col("gram"))),
      Literal(estItems), Literal(estItems * 10)).toAggregateExpression())
    val bloomBytes = bench.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bloomBytes == null) {
      // empty benchmark set → nothing can be contaminated
      return grams.filter(lit(false))
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_grams_hit"),
          count(lit(1)).as("n_bench_docs"))
    }
    val mightContain = Bridge.toColumn(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      Bridge.toExpression(xxhash64(col("gram")))))

    grams.filter(col("doc_id") >= 50)
      .filter(mightContain)                  // tier 1: scan-fused prune
      .join(broadcast(bench), "gram")        // tier 2: exact confirm
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_grams_hit"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Per-document n-gram novelty — the memorization-risk profile: what
    * fraction of a document's distinct word `n`-grams appear in at least
    * one OTHER document (or a second time anywhere, for self-repeats).
    * Low novelty marks templated/duplicated text that a model would see
    * many times per epoch; the complement of the shared count is the
    * document's unique contribution to the corpus.
    *
    * One corpus-scale exchange on the gram key; the per-gram document
    * count is a window over that partitioning (no join back onto a
    * second explode of the corpus), then one doc-keyed rollup. Emitted
    * in integer millionths so the ratio is float-order-independent;
    * gram-less documents (fewer than `n` tokens) are defined fully
    * novel (1e6). */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(wordNgrams(tokenize(col("text")), n))).as("gram"))
    val withCnt = grams.withColumn("gdocs",
      count(lit(1)).over(Window.partitionBy("gram")))
    val per = withCnt.groupBy("doc_id").agg(
      count(lit(1)).as("n_grams"),
      sum(when(col("gdocs") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("novelty_millionths",
        when(col("n_grams") === 0, lit(1000000L))
          .otherwise(expr("(n_grams - n_shared) * 1000000 DIV n_grams")))
  }

  /** Repetition plant: every 11th doc has its text doubled — the classic
    * boilerplate/template-duplication failure mode repetition filters
    * exist to catch. */
  def withPlantedRepetition(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(11L)) === 0,
        concat_ws(" ", col("text"), col("text")))
        .otherwise(col("text")))

  /** Within-document repetition ratio over word 3-grams — the standard
    * cheap filter for looping/boilerplate text in training corpora.
    * rep_ratio is left as a RAW IEEE division of two exact integers
    * (no round()): Spark's and DuckDB's round() disagree at decimal
    * boundaries (see eventsJsonStats), while the bare division is a
    * single correctly-rounded operation on identical operands. Pure
    * per-row column math — zero shuffles at any scale. */
  def docRepetition(s: SparkSession, dir: String): DataFrame =
    withPlantedRepetition(Tables.documents(s, dir))
      .select(col("doc_id"), wordNgrams(toks, 3).as("g"))
      .select(col("doc_id"),
        size(col("g")).as("n_3grams"),
        size(array_distinct(col("g"))).as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("g"))).cast("double") /
          greatest(size(col("g")), lit(1))).as("rep_ratio"))

  /** URL plant for [[topDomains]]: every 4th doc cites one of 7 distinct
    * synthetic hosts (separate from withSyntheticPii so the PII oracle
    * stays untouched). */
  def withSyntheticUrls(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(col("text"), lit(" see https://d"),
          pmod(col("doc_id"), lit(7L)).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")))
        .otherwise(col("text")))

  /** Per-domain URL histogram — the web-corpus curation view used for
    * domain allow/deny lists and source weighting. Extract is per-row
    * regex column math (scan-fused); the only shuffle is the domain-
    * cardinality aggregation, which partial-aggregates map-side. */
  def topDomains(s: SparkSession, dir: String): DataFrame =
    withSyntheticUrls(Tables.documents(s, dir))
      .select(explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
        .as("url"))
      .select(regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"))

  /** Context-window sequence packing — the pre-training step that packs
    * documents into fixed token windows: docs are laid out in
    * deterministic (shard, doc_id) order and each doc is assigned the
    * window its first token lands in (`floor(cum_before / windowTokens)`).
    * Packing is PER SHARD (here: lang) — a single global order would be
    * one unpartitioned window over the corpus, which serializes at any
    * scale; per-shard packing is how real pipelines do it (each shard
    * becomes a training file), and the cumsum is one partition-local
    * window pass after the shard shuffle. Emits per-window occupancy
    * stats (doc count, token count, first doc). */
  def sequencePacking(s: SparkSession, dir: String,
                      windowTokens: Int = 2048): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), size(toks).as("n_toks"))
      .withColumn("cum", sum("n_toks").over(w))
      .withColumn("window_id",
        floor((col("cum") - col("n_toks")) / windowTokens).cast("long"))
      .groupBy("lang", "window_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        min("doc_id").as("first_doc"))
  }

  /** First-fit-decreasing bin packing — the occupancy-optimal tier
    * above `sequencePacking`'s greedy cumsum (which never revisits a
    * window: short docs strand capacity behind long ones). FFD sorts
    * each shard's docs by descending token count and places each into
    * the first bin that still fits, opening a new bin otherwise; docs
    * longer than the capacity get a dedicated bin (truncation is a
    * separate concern).
    *
    * This is the one operator shape where `mapPartitions` is the honest
    * answer (SURVEY §8.6's Misra-Gries justification): FFD is
    * inherently sequential per shard — bin state must be consulted for
    * every placement. The shard is the parallelism unit: one hash
    * shuffle co-locates each shard, the partition-local sort fixes the
    * deterministic order, and the per-partition walk keeps O(#bins)
    * state. At 100 TB, shards are training files (bounded); a shard too
    * big for one task gets pre-split by a deterministic doc_id salt and
    * packed per split — the FFD guarantees hold per split.
    *
    * Classic FFD invariants hash-checked by `ffd_pack_gate`: every
    * non-dedicated bin ≤ capacity; bins ≥ ⌈total/capacity⌉; at most ONE
    * bin per shard is ≤ half-full (two half-empty bins would have been
    * merged by first-fit).
    */
  def ffdPack(docs: DataFrame, capacity: Int): DataFrame =
    ffdPackCounts(
      docs.select(col("doc_id"), col("lang").as("shard"),
        size(toks).as("n_toks")),
      capacity)

  /** The FFD core over precomputed (doc_id, shard, n_toks) counts —
    * the composable entry the BPE-token packing capstone feeds with
    * LEARNED-tokenizer counts instead of whitespace tokens. */
  def ffdPackCounts(counts: DataFrame, capacity: Int): DataFrame = {
    import counts.sparkSession.implicits._
    counts
      .select(col("doc_id"), col("shard"), col("n_toks").cast("int"))
      .filter(col("n_toks") > 0)
      .as[(Long, String, Int)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("n_toks").desc,
        col("doc_id"))
      .mapPartitions { it =>
        // one partition holds whole shards (hash-partitioned), rows
        // grouped by the sort; reset bin state at each shard boundary
        var shard: String = null
        var remaining = scala.collection.mutable.ArrayBuffer[Int]()
        it.map { case (docId, sh, n) =>
          if (sh != shard) { shard = sh; remaining.clear() }
          val bin =
            if (n > capacity) { remaining += 0; remaining.length - 1 }
            else {
              val i = remaining.indexWhere(_ >= n)
              if (i >= 0) { remaining(i) -= n; i }
              else { remaining += (capacity - n); remaining.length - 1 }
            }
          (sh, bin.toLong, docId, n)
        }
      }
      .toDF("shard", "bin_id", "doc_id", "n_toks")
  }

  /** Rows-only view: per-bin occupancy. */
  def ffdPackStats(s: SparkSession, dir: String,
                   capacity: Int = 256): DataFrame =
    ffdPack(Tables.documents(s, dir), capacity)
      .groupBy("shard", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("bin_toks"))

  /** Hash-checked gate: exact per-shard doc/token counts (ANSI-
    * recomputable) plus the three FFD invariants pinned at 1. */
  def ffdPackGate(s: SparkSession, dir: String,
                  capacity: Int = 256): DataFrame = {
    val packed = ffdPack(Tables.documents(s, dir), capacity)
    val bins = packed.groupBy("shard", "bin_id")
      .agg(sum("n_toks").as("bin_toks"),
        max("n_toks").as("max_doc_toks"))
    bins.groupBy("shard")
      .agg(
        // the ceil bound holds for the in-capacity SUB-instance only:
        // a dedicated oversize bin holds > capacity tokens, so the
        // all-tokens bound would overcount required bins
        sum(when(col("max_doc_toks") <= capacity, 1L).otherwise(0L))
          .as("n_cap_bins"),
        coalesce(sum(when(col("max_doc_toks") <= capacity,
          col("bin_toks")).otherwise(0L)), lit(0L)).as("cap_toks"),
        min(when(col("max_doc_toks") <= capacity &&
          col("bin_toks") > capacity, 0).otherwise(1)).cast("int")
          .as("occupancy_ok"),
        sum(when(col("bin_toks") * 2 <= capacity &&
          col("max_doc_toks") <= capacity, 1L).otherwise(0L))
          .as("n_half_empty"))
      .join(packed.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_toks")),
        Seq("shard"))
      .select(col("shard"), col("n_docs"), col("total_toks"),
        col("occupancy_ok"),
        (col("n_cap_bins") >=
          ceil(col("cap_toks").cast("double") / capacity))
          .cast("int").as("lower_bound_ok"),
        (col("n_half_empty") <= 1).cast("int").as("half_empty_ok"))
      .orderBy("shard")
  }

  /** Unicode plant: the synthetic corpus is ASCII, so give the NFC
    * normalizer real work — every 6th doc gets a DECOMPOSED-form suffix
    * (e + U+0301 combining acute, the NFD spelling of é that web crawls
    * emit when sources disagree on encoding form). The oracle rebuilds
    * the identical byte sequence with chr(769). */
  def withDecomposedPlants(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(6L)) === 0,
        // NFD spelling: e + U+0301 combining acute (never precomposed)
        concat(col("text"),
          lit(" cafe\u0301 re\u0301sume\u0301")))
        .otherwise(col("text")))

  /** NFC text normalization — the canonicalization pass that must run
    * before ANY content hashing (md5/MinHash/SimHash treat NFD and NFC
    * spellings of the same text as different documents). Built on the
    * native codegen'd [[graft.functions.NormalizeExpression]] (Spark has
    * no built-in); pure per-row column math, scan-fused, zero shuffles.
    * Emits char counts both sides plus the md5 of the normalized text so
    * the exact output bytes are driver-hash-checked. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val nfc = graft.functions.NormalizeExpression.nfc_normalize(col("text"))
    withDecomposedPlants(Tables.documents(s, dir))
      .select(col("doc_id"),
        (nfc =!= col("text")).cast("int").as("changed"),
        length(col("text")).as("n_chars_raw"),
        length(nfc).as("n_chars_nfc"),
        md5(nfc).as("nfc_fp"))
  }

  /** Boilerplate plant: the corpus has single-line docs, so fabricate the
    * multi-line shape line-level dedup exists for — a shared subscription
    * header on every 3rd doc and a shared rights footer on two thirds of
    * docs (both CCNet-style high-document-frequency lines), with the
    * original text as the unique body line. Fixture-by-construction like
    * withSyntheticPii: the oracle recomputes the same plant. */
  def withPlantedBoilerplate(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit("subscribe to our newsletter\n"), col("text"),
          lit("\nall rights reserved")))
        .when(pmod(col("doc_id"), lit(3L)) === 1,
          concat(col("text"), lit("\nall rights reserved")))
        .otherwise(col("text")))

  /** Line-level boilerplate removal (the CCNet-style pass web-corpus
    * pipelines run before any quality filter): drop every line that
    * appears verbatim in ≥ minDocs distinct documents — headers, footers,
    * cookie banners — and rebuild each document from its surviving lines
    * in original order.
    *
    * Scale shape: the line-frequency aggregation partial-aggregates
    * map-side and its OUTPUT above threshold is tiny by construction
    * (boilerplate is high-frequency, so there are at most n_docs/minDocs
    * such lines) — it is BROADCAST into a left-anti join, so the corpus
    * side is scanned twice but never shuffled on line content. The only
    * corpus-scale shuffle is the per-doc rebuild groupBy on doc_id.
    * Emits md5 of the rebuilt text so the result is hash-checkable
    * without shipping the text. */
  def boilerplateScrub(s: SparkSession, dir: String,
                       minDocs: Int = 10): DataFrame = {
    val lines = withPlantedBoilerplate(Tables.documents(s, dir))
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).as("n_lines"),
        posexplode(col("ls")).as(Seq("pos", "line")))
    val frequent = lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line")
    lines.join(broadcast(frequent), Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(max(col("n_lines")).cast("long").as("n_lines"),
        count(lit(1)).as("n_kept"),
        md5(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")))).as("kept_fp"))
  }

  /** Context-window document chunking with overlap — the retrieval /
    * long-doc-training step that splits each document into fixed-size
    * token windows every `stride` tokens (stride < chunkTokens ⇒
    * consecutive chunks overlap by chunkTokens − stride). Pure per-row
    * column math (sequence + posexplode + slice), scan-fused, ZERO
    * shuffles at any scale; output size is rows × ⌈tokens/stride⌉. The
    * md5 of each chunk makes every chunk's exact content hash-checkable
    * without shipping the text. */
  def chunkDocuments(s: SparkSession, dir: String,
                     chunkTokens: Int = 64, stride: Int = 48): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        posexplode(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(stride))).as(Seq("chunk_id", "start")),
        col("toks"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("toks"), col("start"), lit(chunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))

  /** CDC boundary predicate — 2 hex chars of md5 ≤ [[CdcBoundaryHexMax]]
    * gives P(boundary) = 32/256 per token (expected chunk ≈ 8 tokens —
    * sized to the testdata's 10-100-token docs so multi-chunk splits
    * actually occur at every SF; production would tune the bar to its
    * target chunk size, the probability is the ONLY knob).
    * md5 because BOTH engines compute the identical lowercase hex (the
    * fingerprint_md5 contract), so the boundary choice itself is part
    * of the verified surface; hex compare is numeric because the hex
    * alphabet is ASCII-ordered. */
  val CdcBoundaryHexMax = "1f"

  private def cdcBoundary(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    substring(md5(w), 1, 2) <= lit(CdcBoundaryHexMax)

  /** Content-defined chunking — the dedup-stable complement of the
    * fixed-window [[chunkDocuments]]: a token ENDS a chunk iff its own
    * content hash clears the boundary bar, so chunk boundaries are a
    * function of local content, not absolute position. Insert a
    * paragraph at the top of a document and a fixed-stride chunker
    * shifts and rewrites EVERY downstream chunk identity; here every
    * chunk after the first boundary past the edit keeps its exact
    * `chunk_fp`, which is what makes chunk-level dedup/caching work
    * across corpus refreshes (FastCDC's rationale, token-granular).
    *
    * Scale shape: boundary positions, chunk spans, and per-chunk
    * fingerprints are all derived with higher-order functions on each
    * row's OWN token array, then exploded one row PER CHUNK (never per
    * token) — scan-fused, zero corpus shuffles; the only exchange in
    * the plan is the presentation sort. All-int spans + md5 make the
    * result hash-exact against the window-sum SQL oracle. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunkText(Tables.documents(s, dir))
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        md5(col("chunk_text")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")

  /** The CDC core with the chunk TEXT exposed — the composable frame
    * (doc_id, chunk_idx, n_toks, chunk_text) a chunk-level index or
    * dedup builds on; [[cdcChunks]] is its fingerprint view. */
  def cdcChunkText(docs: DataFrame): DataFrame = {
    val emptyInts = typedLit(Array.empty[Int])
    docs
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      // 1-based positions of boundary tokens (guard: sequence(1, 0)
      // DESCENDS in Spark, so the empty doc needs its own branch)
      .withColumn("bpos",
        when(col("n") === 0, emptyInts)
          .otherwise(filter(sequence(lit(1), col("n")),
            i => cdcBoundary(element_at(col("toks"), i)))))
      // chunk END positions: every boundary, plus the tail chunk's end
      // (the condition order keeps element_at off the empty array)
      .withColumn("ends",
        when(col("n") === 0, col("bpos"))
          .when(size(col("bpos")) === 0, array(col("n")))
          .when(element_at(col("bpos"), size(col("bpos"))) === col("n"),
            col("bpos"))
          .otherwise(array_append(col("bpos"), col("n"))))
      .select(col("doc_id"), col("toks"), col("ends"),
        posexplode(when(size(col("ends")) === 0, emptyInts)
          .otherwise(sequence(lit(0), size(col("ends")) - 1)))
          .as(Seq("chunk_idx", "k")))
      .withColumn("start",
        when(col("k") === 0, lit(1))
          .otherwise(element_at(col("ends"), col("k")) + 1))
      .withColumn("end", element_at(col("ends"), col("k") + 1))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("end") - col("start") + 1).cast("long").as("n_toks"),
        concat_ws(" ",
          slice(col("toks"), col("start"), col("end") - col("start") + 1))
          .as("chunk_text"))
  }

  /** Winnowing gram size (tokens per gram) and window size (grams per
    * selection window) — Schleimer et al. SIGMOD 2003. Any match of
    * [[WinnowW]] + [[WinnowK]] − 1 = 7 consecutive tokens is GUARANTEED
    * to share a selected fingerprint (the winnowing theorem), at an
    * expected density of 2/(w+1) of the grams. */
  val WinnowK = 4
  val WinnowW = 4

  /** Packing base for (hash, pos) → one comparable int64: v = h·M +
    * (M−1−pos), so min(v) is "smallest hash, rightmost position on
    * ties" — the winnowing tie rule as plain integer MIN, identically
    * computable by any engine. Caps positions at 2^20 grams/doc; the
    * 10-hex-char hash keeps v < 2^60. */
  private val WinnowM = 1L << 20

  /** MOSS-style winnowing fingerprint selection — the principled
    * successor to [[fingerprintRolling]]'s whole-doc hash: from each
    * window of [[WinnowW]] consecutive word-[[WinnowK]]-gram hashes,
    * keep the rightmost minimum. Unlike "every i-th gram" sampling,
    * winnowing guarantees a shared fingerprint for ANY shared run of
    * w+k−1 tokens regardless of alignment — the property plagiarism /
    * near-dup span detection needs.
    *
    * Scale shape: gram hashes, packed keys, windowed minima, and the
    * distinct-selection all run as higher-order functions over each
    * row's own gram array (window minima via slice+array_min, O(G·w)
    * per doc), then explode one row PER SELECTED FINGERPRINT —
    * scan-fused, zero corpus shuffles; the only exchange is the
    * presentation sort. The gram hash is the first 10 hex chars of
    * md5 parsed as int64, so the oracle reproduces every selected
    * (pos, hash) exactly. */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOf(Tables.documents(s, dir))
      .orderBy("doc_id", "pos")

  /** The winnowing core over any (doc_id, text) frame — the composable
    * entry the fingerprint-candidate dedup tier builds on. */
  def winnowFingerprintsOf(docs: DataFrame): DataFrame = {
    val emptyLongs = typedLit(Array.empty[Long])
    // letCol binds each array ONCE as a lambda variable — without it,
    // Catalyst inlines the single-use projected alias into the
    // consuming lambda and the windowed min re-evaluates the whole
    // hash array per window (measured O(G²): 229 s for sf0.01's 45k
    // grams vs <1 s bound; the shared helper's scaladoc has the story)
    val sel = letCol(wordNgrams(toks, WinnowK)) { grams =>
      // positions pack into the low 20 bits of the selection key — a doc
      // beyond 2^20−1 grams would drive (WinnowM−1−i) negative and
      // corrupt the hash bits SILENTLY, fingerprinting the doc wrongly
      // (ADVICE r10; same silent-cap class as Retrieval.ChunkIdStride).
      // Fail loudly instead: at 100 TB an over-cap doc is a data bug
      // (≥ ~4 MB of text in one row) the pipeline must surface, not
      // absorb as wrong near-dup pairs.
      letCol(when(size(grams) >= lit(WinnowM),
            raise_error(format_string(
              "winnowing: doc %s has %s grams, over the 2^20 position cap",
              col("doc_id"), size(grams))))
          .when(size(grams) === 0, emptyLongs)
          .otherwise(transform(sequence(lit(1), size(grams)), i =>
            conv(substring(md5(element_at(grams, i)), 1, 10), 16, 10)
              .cast("long") * lit(WinnowM)
              + (lit(WinnowM - 1) - i)))) { vs =>
        when(size(vs) === 0, emptyLongs)
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(vs)), i =>
              array_min(slice(vs, i, lit(WinnowW))))))
      }
    }
    docs
      .select(col("doc_id"), explode(sel).as("v"))
      .select(col("doc_id"),
        (lit(WinnowM - 1) - col("v").bitwiseAND(lit(WinnowM - 1)))
          .as("pos"),
        shiftright(col("v"), 20).as("gram_hash"))
  }

  /** BPE tokenizer TRAINING on the corpus — the merge-table induction
    * step every LLM pipeline runs before anything tokenizes: repeatedly
    * find the most frequent adjacent symbol pair (count weighted by word
    * frequency, ties broken lexicographically) and merge it, textbook
    * Sennrich et al. 2016.
    *
    * Scale shape: the corpus collapses to the (word, count) vocabulary
    * in ONE corpus-scale aggregation, fetched once ([[vocabulary]]);
    * every merge step then runs on the driver over that dictionary, the
    * way Sennrich et al. train — pair counts are weighted by word
    * frequency, so the corpus is never re-scanned. Rows-only (not
    * ANSI-expressible beyond step 0); [[bpeMergeGate]] is the
    * hash-checked companion. */
  // (dir, nMerges) → trained merge rows. Training is deterministic, and
  // the gate and the encoders need the same table. Same per-JVM pattern
  // as the wordcount_textdir corpus cache.
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Int, String, String, Long)]]()

  private def bpeMerges(s: SparkSession, dir: String,
                        nMerges: Int): Seq[(Int, String, String, Long)] =
    bpeCache.computeIfAbsent((dir, nMerges), _ => trainBpe(s, dir, nMerges))

  def bpeTrainMerges(s: SparkSession, dir: String,
                     nMerges: Int = 20): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir, nMerges)
      .toDF("step", "pair_a", "pair_b", "pair_count")
      .orderBy("step")
  }

  /** The (word, cnt) dictionary both tokenizer trainers start from —
    * the corpus tokens lowercased and counted, in one aggregation and
    * one fetch per `dir` (memoized like the trained models, so a query
    * that trains both tokenizers fetches it once). Its size is the
    * number of DISTINCT words (Heaps' law), not the corpus. */
  private val vocabCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(String, Long)]]()

  private def vocabulary(s: SparkSession, dir: String): Array[(String, Long)] =
    vocabCache.computeIfAbsent(dir, _ => {
      import s.implicits._
      WordCount.tokens(Tables.documents(s, dir), "text")
        .select(lower(col("word")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect()
    })

  /** Spark's order for strings (UTF8_BINARY: unsigned UTF-8 bytes, which
    * is code-point order — not Java's UTF-16 `String` order). */
  private val sparkStringOrder: Ordering[UTF8String] =
    Ordering.fromLessThan(_.binaryCompare(_) < 0)

  /** The trainer: one [[vocabulary]] fetch, then every step on the
    * driver. Words split into characters the way Spark's `length`/
    * `substr` count them (UTF8String chars = code points); each step
    * counts every adjacent pair weighted by word frequency (an exact
    * `addExact` sum — an overflow fails as ANSI `sum` does), takes the
    * argmax under (count desc, a asc, b asc) in Spark's binary string
    * order, and applies [[graft.functions.BpeMergeUtil.merge]] — the
    * function the `bpe_merge_pair` expression evaluates — to every
    * word. Stops early when no word has two symbols left.
    *
    * Driver memory: the vocabulary's symbol arrays (≤ its total
    * character count) plus one step's pair counts (no more entries than
    * symbols). */
  private[graft] def trainBpe(s: SparkSession, dir: String,
                              nMerges: Int): Seq[(Int, String, String, Long)] = {
    val vocab = vocabulary(s, dir)
    val syms: Array[ArrayData] = vocab.map { case (w, _) =>
      val u = UTF8String.fromString(w)
      new GenericArrayData(Array.tabulate[Any](u.numChars)(i => u.substring(i, i + 1)))
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val pcs = scala.collection.mutable.HashMap[(UTF8String, UTF8String), Long]()
      for (k <- syms.indices; i <- 0 until syms(k).numElements() - 1) {
        val p = (syms(k).getUTF8String(i), syms(k).getUTF8String(i + 1))
        pcs(p) = Math.addExact(pcs.getOrElse(p, 0L), vocab(k)._2)
      }
      if (pcs.isEmpty) exhausted = true
      else {
        val ((a, b), pc) = pcs.minBy { case ((a, b), pc) => (-pc, a, b) }(
          Ordering.Tuple3(Ordering.Long, sparkStringOrder, sparkStringOrder))
        merges += ((merges.size, a.toString, b.toString, pc))
        val ab = UTF8String.concat(a, b)
        for (k <- syms.indices)
          syms(k) = graft.functions.BpeMergeUtil.merge(syms(k), a, b, ab)
      }
    }
    merges.toSeq
  }

  /** Encode side of the tokenizer: apply the trained merge table to
    * every corpus word. The merge list is tiny (nMerges rows, collected
    * once per JVM by the cached trainer) and is compiled INTO the plan
    * as a chain of nMerges native bpe_merge_pair calls — per-row column
    * math, codegen'd, no join and no shuffle; the only exchange in the
    * downstream stats is the per-doc aggregate. That is exactly how a
    * production pipeline ships a tokenizer: the merge table is a
    * broadcast constant, the corpus never moves. */
  private def bpeEncoded(s: SparkSession, dir: String,
                         nMerges: Int): DataFrame = {
    val pairs = bpeMerges(s, dir, nMerges).map(m => (m._2, m._3))
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("w0"))
      .select(col("doc_id"), lower(col("w0")).as("word"))
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val syms = pairs.foldLeft(chars)((c, p) =>
      graft.functions.BpeMergeExpression.bpe_merge_pair(c, p._1, p._2))
    words.withColumn("syms", syms)
  }

  /** Per-doc encoding stats (rows-only: the symbol counts depend on the
    * learned merges, which ANSI SQL cannot re-train; bpe_encode_gate is
    * the hash-checked companion). */
  def bpeEncodeStats(s: SparkSession, dir: String,
                     nMerges: Int = 20): DataFrame =
    bpeEncoded(s, dir, nMerges)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_syms"),
        sum(length(col("word"))).as("n_chars"))
      .withColumn("syms_per_word",
        round(col("n_syms").cast("double") / col("n_words"), 4))

  /** The tokens-on-disk capstone: encode every doc with the TRAINED
    * BPE tokenizer, shard deterministically, and FFD-pack the real
    * token counts into fixed context windows — the final step that
    * turns a curated corpus into what a trainer actually reads. Emits
    * per-(shard, bin) occupancy. Rows-only (the learned merges aren't
    * ANSI-trainable); [[bpePackGate]] is the hash-checked companion. */
  def bpePackAssembly(s: SparkSession, dir: String, nMerges: Int = 20,
                      capacity: Int = 256, nShards: Int = 4): DataFrame =
    packedBpe(s, dir, nMerges, capacity, nShards)
      .groupBy("shard", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("bin_toks"))
      .orderBy("shard", "bin_id")

  private def bpeCounts(s: SparkSession, dir: String, nMerges: Int,
                        nShards: Int): DataFrame =
    bpeEncoded(s, dir, nMerges)
      .groupBy("doc_id")
      .agg(sum(size(col("syms"))).as("n_toks"))
      .withColumn("shard",
        graft.operators.Sampling.shardOf(
          graft.operators.Sampling.hashOrderKey(col("doc_id")), nShards)
          .cast("string"))
      .select("doc_id", "shard", "n_toks")

  private def packedBpe(s: SparkSession, dir: String, nMerges: Int,
                        capacity: Int, nShards: Int): DataFrame =
    ffdPackCounts(bpeCounts(s, dir, nMerges, nShards), capacity)

  /** Hash-checked gate for [[bpePackAssembly]] — the structural truths
    * ANSI SQL can state without retraining the tokenizer: every doc
    * with ≥1 whitespace token got packed exactly once (BPE never drops
    * a word, so the packed doc set equals the non-empty doc set), no
    * bin over capacity (dedicated oversize bins hold one doc), and
    * token mass is conserved bins-vs-encoder. A broken merge, lost
    * doc, or overfull window flips a flag the driver's hash catches. */
  def bpePackGate(s: SparkSession, dir: String, nMerges: Int = 20,
                  capacity: Int = 256, nShards: Int = 4): DataFrame = {
    // the encode scan (a 20-merge fold per word) runs ONCE: the per-doc
    // counts materialize and feed both the conservation denominator and
    // the packer (the datasetCard materialize-once discipline); the
    // coalesce guards the empty-corpus sum-over-zero-rows null
    val counts = bpeCounts(s, dir, nMerges, nShards).localCheckpoint(true)
    val enc = counts.agg(coalesce(sum("n_toks"), lit(0L)))
      .head().getLong(0)
    val packed = ffdPackCounts(counts, capacity)
    val bins = packed.groupBy("shard", "bin_id")
      .agg(sum("n_toks").as("bin_toks"),
        count(lit(1)).as("n_docs"),
        max("n_toks").as("max_doc"))
    bins.agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        max((col("bin_toks") > capacity &&
          !(col("n_docs") === 1 && col("max_doc") > capacity)).cast("int"))
          .as("any_overfull"),
        coalesce(sum(col("bin_toks")), lit(0L)).as("packed_toks"))
      .select(col("n_docs"),
        (lit(1) - coalesce(col("any_overfull"), lit(0))).as("within_cap"),
        (col("packed_toks") === enc).cast("int").as("conserved"))
  }

  /** Hash-checked gate for the encoder: exact per-doc word/char counts
    * (ANSI-recomputable) plus two invariants the oracle pins at 1 —
    * concatenating a word's symbols must reproduce the word (merges
    * never lose or reorder characters), and the symbol count must lie in
    * [1, n_chars] per word. A broken merge flips a flag to 0 and the
    * driver's hash compare catches it. */
  def bpeEncodeGate(s: SparkSession, dir: String,
                    nMerges: Int = 20): DataFrame =
    bpeEncoded(s, dir, nMerges)
      .select(col("doc_id"), col("word"),
        (concat_ws("", col("syms")) === col("word")).as("rt"),
        (size(col("syms")) >= 1 &&
          size(col("syms")) <= length(col("word"))).as("bd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        min(when(col("rt"), 1).otherwise(0)).cast("int")
          .as("roundtrip_ok"),
        min(when(col("bd"), 1).otherwise(0)).cast("int")
          .as("bounds_ok"))

  /** Driver-checkable side of the BPE trainer: step 0's winning pair IS
    * ANSI-recomputable (most frequent adjacent CHARACTER pair in the
    * word-frequency table, lex tie-break), the merge count is the
    * requested constant on this corpus, and the merge table must never
    * repeat a pair (symbols are never split, so a consumed adjacency
    * cannot re-form — a repeat means the merge step is broken). The
    * merge table is on the driver, so the row is computed there. */
  def bpeMergeGate(s: SparkSession, dir: String,
                   nMerges: Int = 20): DataFrame = {
    import s.implicits._
    val m = bpeMerges(s, dir, nMerges)
    val step0 = m.find(_._1 == 0)
    Seq((step0.map(_._2), step0.map(_._3), step0.map(_._4), m.size,
      if (m.map(r => (r._2, r._3)).distinct.size == m.size) 1 else 0))
      .toDF("step0_a", "step0_b", "step0_count", "n_merges", "distinct_ok")
  }

  // ---- Unigram-LM tokenizer trainer (Kudo 2018 — the SentencePiece
  //      unigram model: start from an over-complete substring seed
  //      inventory, hard-EM re-estimate piece costs via Viterbi
  //      segmentation, prune the least-used pieces per round) ----

  /** Max piece length — bounds both the seeder's substring explosion
    * (O(len·L) per word) and the Viterbi window. */
  val UnigramMaxPieceLen = 4
  /** Multi-char seed pieces kept (top by corpus-weighted count; all
    * single chars are kept besides, unconditionally — they are the
    * coverage floor and are never pruned). */
  val UnigramSeedCap = 600
  /** EM (segment → re-estimate) steps per prune round. */
  val UnigramEmPerRound = 2
  /** Fraction of prunable (multi-char) pieces dropped per round —
    * lowest usage count first, lexicographic tie-break. */
  val UnigramPruneFrac = 1.0 / 3
  /** Default final piece-inventory target (total, chars included). */
  val UnigramVocabTarget = 200
  /** Unreachable-DP sentinel: far above any real path cost (a 10^4-char
    * word at the max add-1 cost ≈ ln(corpus)·1e6 ≈ 4e7 micros/piece
    * stays < 1e12) and far below Long.Max/2 so one addition of a real
    * cost onto a sentinel cannot wrap. */
  private val UnigramInf = 1000000000000000L // 1e15

  /** Viterbi segmentation of one word under a (piece → cost micros)
    * map — the one segmenter, for training and encoding alike. A
    * forward DP over the word's character boundaries (characters as
    * Spark's `length`/`substr` count them: code points), each node
    * keeping its best cost and backpointer; the window is bounded by
    * [[UnigramMaxPieceLen]], a candidate counts only below the
    * [[UnigramInf]] sentinel, and ties resolve to (min cost, min start).
    * Then a backward walk collects the winning pieces. Returns (cost,
    * pieces); an unsegmentable word (possible only if the inventory
    * lost a character) yields the sentinel cost and EMPTY pieces — the
    * coverage gate's trigger. */
  private[graft] def unigramSegment(word: String,
                                    costs: Map[String, Long]): (Long, Seq[String]) = {
    val at = charBounds(word)
    val n = at.length - 1
    val cost = Array.fill(n + 1)(UnigramInf)
    val from = Array.fill(n + 1)(-1)
    cost(0) = 0L
    for (i <- 1 to n; j <- math.max(0, i - UnigramMaxPieceLen) until i)
      costs.get(word.substring(at(j), at(i))).foreach { pc =>
        val c = Math.addExact(cost(j), pc)
        if (c < cost(i)) { cost(i) = c; from(i) = j }
      }
    if (from(n) < 0) (cost(n), Seq.empty)
    else {
      val pieces = List.newBuilder[String]
      var pos = n
      while (pos > 0) {
        pieces += word.substring(at(from(pos)), at(pos))
        pos = from(pos)
      }
      (cost(n), pieces.result().reverse)
    }
  }

  private def charCount(p: String): Int = p.codePointCount(0, p.length)

  /** UTF-16 offsets of a word's character boundaries, 0 and
    * `w.length` included — characters as Spark's `length`/`substr`
    * count them (code points). */
  private def charBounds(w: String): Array[Int] =
    (0 to charCount(w)).map(w.offsetByCodePoints(0, _)).toArray

  /** (piece → cost micros) from usage counts: add-1 in count space (the
    * lang-ID NB convention — keeps zero-usage pieces alive at a steep
    * but finite cost), integer-millionths ln flooring. Costs are MODEL
    * metadata — never hashed. */
  private def unigramCosts(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum
    val v = counts.size.toLong
    counts.map { case (p, c) =>
      p -> math.floor((math.log((total + v).toDouble) -
        math.log((c + 1).toDouble)) * 1e6).toLong
    }.toMap
  }

  /** A trained unigram model: the final (piece, cnt, cost_micros) rows,
    * per-round stats (round, n_pieces, improved), the coverage flag, and
    * every vocabulary word's Viterbi segmentation under the final
    * costs (the encoder's lookup table). */
  private[graft] case class UnigramModel(
      pieces: Seq[(String, Long, Long)], stats: Seq[(Int, Int, Int)],
      coverage: Int, segmented: Seq[(String, Seq[String])])

  // (dir, target) → trained model — the bpeCache pattern: training is
  // deterministic and the pieces query, the gate and the encoders share
  // one run
  private val unigramCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), UnigramModel]()

  private def unigramModel(s: SparkSession, dir: String,
                           vocabTarget: Int): UnigramModel =
    unigramCache.computeIfAbsent((dir, vocabTarget),
      _ => trainUnigram(s, dir, vocabTarget))

  /** The trained unigram piece inventory: (piece, cnt — final-EM usage
    * count, cost_micros). Rows-only (ANSI SQL cannot re-run EM);
    * [[unigramGate]] is the hash-checked companion. */
  def unigramTrainPieces(s: SparkSession, dir: String,
                         vocabTarget: Int = UnigramVocabTarget): DataFrame = {
    import s.implicits._
    unigramModel(s, dir, vocabTarget).pieces
      .toDF("piece", "cnt", "cost_micros").orderBy("piece")
  }

  /** The trainer: ONE [[vocabulary]] fetch, then seeding, EM and
    * pruning on the driver over that dictionary (Kudo 2018 trains on
    * exactly this table). Seeds are every ≤[[UnigramMaxPieceLen]]-char
    * substring of every word, weighted by word count: all single
    * characters plus the top [[UnigramSeedCap]] multi-char pieces by
    * (count desc, piece asc in Spark's binary order). Each EM step
    * segments every word with [[unigramSegment]] and re-estimates the
    * costs from the usage counts. Each round then drops the
    * lowest-usage multi-char pieces ((count, piece) ascending, `String`
    * order) until the inventory reaches the target — characters (code
    * points) are never pruned, so every word stays segmentable (the
    * coverage invariant). Every sum is `addExact`/`multiplyExact`, so an
    * overflow fails as ANSI Spark's `sum` does.
    *
    * Hard-EM monotonicity WITHIN a round (same inventory): the M-step
    * re-estimates costs from the Viterbi counts, the next E-step can
    * only find equal-or-better segmentations — so the within-round
    * improved flag is a real invariant up to add-1 smoothing and the
    * 1-micro cost flooring (slack: one micro per emitted piece, ≤ the
    * corpus token-occurrence count — applied as an integer bound).
    * ACROSS rounds the cost may legitimately rise (pruning removes
    * options), so rounds are not compared to each other.
    *
    * Driver memory: the vocabulary, its seed-substring counts (≤
    * [[UnigramMaxPieceLen]] per character), and an inventory of at most
    * [[UnigramSeedCap]] + alphabet pieces. */
  private[graft] def trainUnigram(s: SparkSession, dir: String,
                                  vocabTarget: Int): UnigramModel = {
    val vocab = vocabulary(s, dir)
    val subs = scala.collection.mutable.HashMap[String, Long]()
    for ((w, cnt) <- vocab) {
      val at = charBounds(w)
      val n = at.length - 1
      for (i <- 0 until n; l <- 1 to math.min(UnigramMaxPieceLen, n - i)) {
        val p = w.substring(at(i), at(i + l))
        subs(p) = Math.addExact(subs.getOrElse(p, 0L), cnt)
      }
    }
    val (chars, longer) = subs.toSeq.partition(p => charCount(p._1) == 1)
    val multis = longer
      .sortBy { case (p, c) => (-c, UTF8String.fromString(p)) }(
        Ordering.Tuple2(Ordering.Long, sparkStringOrder))
      .take(UnigramSeedCap)
    var pieces: Seq[(String, Long)] = chars.sortBy(_._1) ++ multis
    val target = math.max(vocabTarget, chars.size)
    val stats = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    var coverage = 1
    var round = 0
    var done = pieces.isEmpty
    if (done) stats += ((0, 0, 1))
    while (!done) {
      var costs = unigramCosts(pieces)
      var lastCounts = pieces
      var prevStepCost = Long.MaxValue
      var slack = 0L
      var improved = 1
      for (_ <- 1 to UnigramEmPerRound) {
        // the cost sum counts SEGMENTABLE words only: an unsegmentable
        // word carries the ~1e15 sentinel, and summing sentinels over a
        // vocabulary overflows int64 (coverage_ok already flags the
        // unsegmentable case — the cost total is only meaningful for
        // the covered corpus)
        var stepCost = 0L
        var emitted = 0L
        val used = scala.collection.mutable.HashMap[String, Long]()
        for ((w, cnt) <- vocab) {
          val (cost, ps) = unigramSegment(w, costs)
          if (ps.nonEmpty)
            stepCost = Math.addExact(stepCost, Math.multiplyExact(cost, cnt))
          else coverage = 0
          emitted = Math.addExact(emitted, Math.multiplyExact(ps.size.toLong, cnt))
          ps.foreach(p => used(p) = Math.addExact(used.getOrElse(p, 0L), cnt))
        }
        if (stepCost > prevStepCost + slack) improved = 0
        prevStepCost = stepCost
        slack = emitted // 1 micro per emitted piece (flooring)
        lastCounts = pieces.map { case (p, _) => p -> used.getOrElse(p, 0L) }
        costs = unigramCosts(lastCounts)
      }
      stats += ((round, pieces.size, improved))
      pieces = lastCounts
      val prunable = pieces.filter(p => charCount(p._1) > 1)
      if (pieces.size <= target || prunable.isEmpty) done = true
      else {
        val dropN = math.min(pieces.size - target, math.max(1,
          math.ceil(prunable.size * UnigramPruneFrac).toInt))
        val dropped = prunable.sortBy { case (p, c) => (c, p) }
          .take(dropN).map(_._1).toSet
        pieces = pieces.filterNot { case (p, _) => dropped(p) }
      }
      round += 1
    }
    val finalCosts = unigramCosts(pieces)
    UnigramModel(
      pieces.map { case (p, c) => (p, c, finalCosts(p)) }.sortBy(_._1),
      stats.toSeq, coverage,
      vocab.toSeq.map { case (w, _) => w -> unigramSegment(w, finalCosts)._2 })
  }

  /** Encode side of the unigram tokenizer — the serving path
    * [[bpeEncoded]] has for BPE: every corpus word occurrence joins its
    * word's segmentation under the TRAINED inventory, which the trainer
    * already computed for its whole vocabulary (the encoder tokenizes
    * and lowercases the same way, so every occurrence finds its word).
    * The table ships as a local relation; the model is the cached
    * artifact, so encode never retrains. */
  private[graft] def unigramEncoded(s: SparkSession, dir: String,
                                    vocabTarget: Int): DataFrame = {
    import s.implicits._
    val vocabSeg = unigramModel(s, dir, vocabTarget).segmented
      .toDF("word", "pieces")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("w0"))
      .select(col("doc_id"), lower(col("w0")).as("word"))
      .join(vocabSeg, Seq("word"))
      .select("doc_id", "word", "pieces")
  }

  /** Per-doc unigram-encoding stats (rows-only — the learned inventory
    * isn't ANSI-trainable; [[unigramEncodeGate]] is the hash-checked
    * companion, and the BPE twin is [[bpeEncodeStats]]). */
  def unigramEncodeStats(s: SparkSession, dir: String,
                         vocabTarget: Int = UnigramVocabTarget): DataFrame =
    unigramEncoded(s, dir, vocabTarget)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).as("n_pieces"),
        sum(length(col("word"))).as("n_chars"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words"), 4))

  /** Hash-checked gate for the unigram encoder — [[bpeEncodeGate]]'s
    * twin: exact per-doc word/char counts (ANSI-recomputable) plus the
    * invariants the oracle pins at 1 — concatenating a word's Viterbi
    * pieces must reproduce the word (segmentation is a partition of
    * the character sequence) and the piece count lies in
    * [1, n_chars]. A lost character, a broken DP backtrack, or an
    * unsegmentable word flips a flag and fails the hash. */
  def unigramEncodeGate(s: SparkSession, dir: String,
                        vocabTarget: Int = UnigramVocabTarget): DataFrame =
    unigramEncoded(s, dir, vocabTarget)
      .select(col("doc_id"), col("word"),
        (concat_ws("", col("pieces")) === col("word")).as("rt"),
        (size(col("pieces")) >= 1 &&
          size(col("pieces")) <= length(col("word"))).as("bd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        min(when(col("rt"), 1).otherwise(0)).cast("int")
          .as("roundtrip_ok"),
        min(when(col("bd"), 1).otherwise(0)).cast("int")
          .as("bounds_ok"))

  /** Tokenizer comparison — FERTILITY (pieces per word) per language
    * for the two trained tokenizers, the eval view a tokenizer choice
    * runs on a held corpus (high fertility on a language = that
    * language pays more sequence length per word — the practical
    * multilingual-tokenizer selection metric). Re-aggregates the two
    * encode frames whose per-doc counts the encode gates already
    * hash-check (`bpe_encode_gate` / `unigram_encode_gate` are this
    * view's companions); rows-only because the piece counts come from
    * the learned models. Langs-bounded output; both trained models are
    * cached per JVM. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(s, dir).select("doc_id", "lang")
    def agg(df: DataFrame, piecesCol: org.apache.spark.sql.Column,
            tok: String) =
      df.join(langs, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(size(piecesCol)).as("n_pieces"))
        .withColumn("tokenizer", lit(tok))
    agg(bpeEncoded(s, dir, 20), col("syms"), "bpe")
      .unionByName(
        agg(unigramEncoded(s, dir, UnigramVocabTarget), col("pieces"),
          "unigram"))
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_words"), 4))
      .select("tokenizer", "lang", "n_words", "n_pieces", "fertility")
      .orderBy("tokenizer", "lang")
  }

  /** Hash-checked DIRECT gate for [[tokenizerFertility]] — previously
    * the only rows-only query whose check was transitive (through the
    * two encode gates). Per (tokenizer, lang): `n_words`/`n_chars` are
    * EXACT and SQL-recomputable (tokenize → lowercase → count / sum of
    * word lengths — the encode gates' per-doc surface re-aggregated by
    * language), and three pinned flags tie the fertility view to them:
    * words_ok — the view's per-lang word count equals the exact count
    * (an encoder dropping or duplicating word rows flips it);
    * bounds_ok — n_words ≤ n_pieces ≤ n_chars (every word segments
    * into ≥1 piece and at most one piece per character, for BOTH
    * trained tokenizers); ratio_ok — the emitted fertility is exactly
    * round(n_pieces / n_words, 4). Langs-bounded output; reuses the
    * per-JVM model caches the view itself fills. */
  def tokenizerFertilityGate(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.documents(s, dir)
      .select(col("lang"), explode(toks).as("w0"))
      .select(col("lang"), lower(col("w0")).as("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words_x"),
        sum(length(col("word"))).as("n_chars"))
    tokenizerFertility(s, dir)
      .join(exact, Seq("lang"))
      .withColumn("words_ok",
        when(col("n_words") === col("n_words_x"), 1).otherwise(0))
      .withColumn("bounds_ok",
        when(col("n_words_x") <= col("n_pieces") &&
          col("n_pieces") <= col("n_chars"), 1).otherwise(0))
      .withColumn("ratio_ok",
        when(col("fertility") ===
          round(col("n_pieces").cast("double") / col("n_words"), 4), 1)
          .otherwise(0))
      .select(col("tokenizer"), col("lang"),
        col("n_words_x").as("n_words"), col("n_chars"),
        col("words_ok"), col("bounds_ok"), col("ratio_ok"))
      .orderBy("tokenizer", "lang")
  }

  /** Hash-checked gate for the unigram trainer — the invariants ANSI
    * SQL can check without re-running EM: the corpus character
    * inventory (exact, SQL-recomputable — tokenize, lowercase, count
    * distinct chars), the trained inventory retains EVERY corpus char
    * (chars_ok — a prune that drops one breaks coverage), every vocab
    * word segments fully under the final inventory (coverage_ok), the
    * within-round EM cost never rises beyond the flooring slack
    * (monotone_ok — the hard-EM invariant), and the final inventory
    * honors the size target (vocab_ok). The oracle recomputes n_chars
    * and pins the flags at 1. */
  def unigramGate(s: SparkSession, dir: String,
                  vocabTarget: Int = UnigramVocabTarget): DataFrame = {
    import s.implicits._
    val UnigramModel(pieces, stats, coverage, _) =
      unigramModel(s, dir, vocabTarget)
    val nCharsCorpus = WordCount.tokens(Tables.documents(s, dir), "text")
      .select(explode(transform(
        sequence(lit(1), length(lower(col("word")))),
        i => lower(col("word")).substr(i, lit(1)))).as("ch"))
      .agg(size(collect_set(col("ch")))).head().getInt(0).toLong
    val nCharPieces = pieces.count(p => charCount(p._1) == 1).toLong
    Seq((nCharsCorpus,
      if (nCharPieces == nCharsCorpus) 1 else 0,
      coverage,
      if (stats.forall(_._3 == 1)) 1 else 0,
      if (pieces.size <= math.max(vocabTarget, nCharPieces.toInt)) 1 else 0))
      .toDF("n_chars", "chars_ok", "coverage_ok", "monotone_ok", "vocab_ok")
  }

  /** Statistical LM quality scoring, count-space formulation — the
    * perplexity-style filter (score docs by how typical their n-grams
    * are under a model trained on the corpus itself) with the log-space
    * step deliberately replaced by integer count sums: Σ c(bigram) and
    * Σ c(prefix) are EXACT BIGINTs both engines agree on bit-for-bit,
    * while Σ ln(c_big/c_pre) hangs on last-ulp libm behavior (JVM
    * Math.log vs DuckDB's libm are each ≤1 ulp but not the SAME ulp) —
    * an order-of-summation and rounding minefield the driver's exact
    * hash would step on. The ratio of the two sums is one final IEEE
    * division (correctly rounded, deterministic): high = built from
    * common continuations, low = rare/garbled text.
    *
    * Scale shape: the two model tables are n-gram-vocabulary-bounded
    * aggregates (partial-agg map-side); here they broadcast into the
    * per-occurrence lookup so the corpus side never shuffles on gram
    * content — at a vocabulary too big to broadcast the same plan runs
    * as a shuffle join with identical semantics. The per-doc
    * re-aggregation is the only corpus-scale shuffle. */
  def lmTypicality(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordNgrams(toks, 2)).as("bigram"))
    val bigCounts = grams.groupBy("bigram")
      .agg(count(lit(1)).as("c_big"))
    val preCounts = grams
      .select(substring_index(col("bigram"), " ", 1).as("prefix"))
      .groupBy("prefix").agg(count(lit(1)).as("c_pre"))
    grams
      .join(broadcast(bigCounts), "bigram")
      .join(broadcast(preCounts),
        substring_index(col("bigram"), " ", 1) === col("prefix"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c_big")).as("sum_big"),
        sum(col("c_pre")).as("sum_pre"))
      .select(col("doc_id"), col("n_bigrams"),
        col("sum_big"), col("sum_pre"),
        (col("sum_big").cast("double") / col("sum_pre").cast("double"))
          .as("typicality"))
  }

  /** Corpus-wide top-k bigrams (deterministic tie-break). */
  def topBigrams(s: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(s, dir)
      .select(explode(wordNgrams(toks, 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(k)

  /** PMI collocations: bigrams ranked by pointwise mutual information —
    * the "new york"/"machine learning" detector that raw frequency
    * (`topBigrams`) drowns under stopword pairs. PMI =
    * log(c_xy·N / (c_x·c_y)); log is monotone, so ranking by the exact
    * integer `c_xy·N·1e6 DIV (c_x·c_y)` orders identically while
    * staying hash-exact (the log itself would differ in float ulps).
    *
    * One token scan feeds both the unigram and bigram counts; both
    * aggregates are vocabulary-sized after map-side partial agg, the
    * unigram side is broadcast into the bigram table twice (x and y
    * legs), and N is a broadcast scalar re-aggregated from the bigram
    * counts — no second corpus pass. `minCount` guards the classic PMI
    * pathology (hapax pairs score highest). Top-k is
    * TakeOrderedAndProject with a full (score, x, y) tiebreak. */
  def collocationsPmi(s: SparkSession, dir: String, minCount: Int = 5,
                      k: Int = 30): DataFrame = {
    val docs = Tables.documents(s, dir)
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val biAll = docs.select(explode(wordNgrams(toks, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
    val n = biAll.agg(sum("cnt").as("n_bi"))
    val bi = biAll.filter(col("cnt") >= minCount)
      .withColumn("x", split(col("bigram"), " ")(0))
      .withColumn("y", split(col("bigram"), " ")(1))
    bi.join(broadcast(uni.select(col("w").as("x"), col("wc").as("xc"))), "x")
      .join(broadcast(uni.select(col("w").as("y"), col("wc").as("yc"))), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("cnt"),
        expr("cnt * n_bi * 1000000 DIV (xc * yc)").as("pmi_scaled"))
      .orderBy(desc("pmi_scaled"), asc("x"), asc("y"))
      .limit(k)
  }

  /** Vocabulary coverage curve: what fraction of all token occurrences
    * the top-K most frequent words cover, for several K — the stat that
    * sizes a tokenizer vocabulary (expected OOV rate of a K-word vocab
    * is `1 − coverage(K)`). Ranking ties break on the word itself, so
    * the curve is a deterministic function of the corpus. Coverage is
    * emitted in integer millionths (`covered·1e6 DIV total`).
    *
    * The corpus-scale work is the one vocabulary aggregate (map-side
    * combined); the ranking window and the K-threshold join run on the
    * vocabulary table, which is orders of magnitude smaller than the
    * corpus and shrinks relative to it as the corpus grows (Heaps'
    * law). */
  def vocabCoverage(s: SparkSession, dir: String,
                    ks: Seq[Int] = Seq(100, 1000, 5000)): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // global rank via [[denseIdsByCount]]'s partition-local-rank +
    // offset telescope — a bare row_number() OVER (ORDER BY …) here was
    // the repo's one remaining single-partition sort of a whole
    // vocabulary (Heaps-bounded, but the scale-safe form costs nothing)
    val ranked = denseIdsByCount(counts, "w")
      .select(col("w"), col("cnt"), (col("id") + 1L).as("rn"))
    val tot = counts.agg(sum("cnt").as("n_tokens"),
      count(lit(1)).as("n_vocab"))
    val ksDf = ks.toDF("k")
    broadcast(ksDf).join(ranked, col("rn") <= col("k"), "left")
      .groupBy("k")
      .agg(coalesce(sum("cnt"), lit(0L)).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_vocab"), col("n_tokens"), col("covered"),
        expr("covered * 1000000 DIV n_tokens").as("coverage_millionths"))
      .orderBy("k")
  }

  /** TF-IDF, top-k terms per document.
    * tf = in-doc term count; idf = ln(N / df). Two bounded shuffles:
    * (doc,term) agg and term-level df agg; N is a broadcast scalar. */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf rows ARE the distinct (doc, term) pairs — df is a vocab-sized
    // re-aggregation of tf, not a second explode+distinct corpus pass,
    // and ReuseExchange serves both consumers from one tf shuffle
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), asc("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
              col("tfidf"), col("rn"))
  }

  /** Case-insensitive URL matcher (raw corpora carry shouting URLs). */
  val MessyUrlRe: String = "(?i)https?://[^\\s]+"

  /** Three deterministic raw spellings of the same logical URL, planted
    * on every 4th doc: clean / WWW+default-port+utm-tracking / mixed-case
    * host+fragment. doc_id%7 picks the host, doc_id%20 the path, so
    * distinct docs collapse onto shared canonical URLs. */
  def withMessyUrls(docs: DataFrame): DataFrame = {
    val k = pmod(col("doc_id"), lit(7L)).cast("string")
    val p = pmod(col("doc_id"), lit(20L)).cast("string")
    val url = when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit("https://d"), k, lit(".example.com/p/"), p,
          lit("?ref=a")))
      .when(pmod(col("doc_id"), lit(3L)) === 1,
        concat(lit("HTTPS://WWW.d"), k, lit(".EXAMPLE.COM:443/p/"), p,
          lit("?utm_source=x&ref=a")))
      .otherwise(
        concat(lit("https://D"), k, lit(".example.com/p/"), p,
          lit("?ref=a#frag")))
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(col("text"), lit(" see "), url))
        .otherwise(col("text")))
  }

  /** Canonicalize one URL: lowercase scheme+host, strip `www.` and
    * default ports, drop the fragment, drop `utm_*` tracking params
    * (order of surviving params preserved — reordering would conflate
    * semantically different URLs on servers that care). Pure column
    * regex math: scan-fused, no UDF. */
  def canonicalizeUrl(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      regexp_replace(
        lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)),
        ":(443|80)$", ""),
      "^www\\.", "")
    val rest = regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^#]*)", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val qs = array_join(
      filter(split(regexp_extract(rest, "\\?(.*)$", 1), "&"),
        t => !t.rlike("^utm_") && t.rlike(".")), "&")
    concat(scheme, lit("://"), host, path,
      when(length(qs) > 0, concat(lit("?"), qs)).otherwise(lit("")))
  }

  /** URL-level dedup view: canonical URL → occurrence count + how many
    * raw spellings collapsed onto it. The step before URL-keyed crawl
    * dedup; one aggregation shuffle on the canonical key. */
  def urlCanonical(s: SparkSession, dir: String): DataFrame =
    withMessyUrls(Tables.documents(s, dir))
      .select(explode(
        regexp_extract_all(col("text"), lit(MessyUrlRe), lit(0)))
        .as("url"))
      .select(canonicalizeUrl(col("url")).as("canon_url"), col("url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("url").as("n_variants"))

  /** Distributed dense ids for a keyed count table, ordered by
    * (cnt DESC, key ASC) — the vocabulary-construction step of tokenizer
    * training (id 0 = most frequent term).
    *
    * A naive `row_number() OVER (ORDER BY ...)` is a single-partition
    * global window — the one shape that cannot scale. This is the
    * distributed equivalent: range-repartition by the rank keys, number
    * locally per partition, then add per-partition offsets (a tiny
    * aggregate, broadcast back). Ids are independent of where the range
    * boundaries land, because local_rank + offset telescopes to the
    * global rank for ANY boundary placement — so the sampling-based
    * range partitioner introduces no nondeterminism. */
  def denseIdsByCount(counts: DataFrame, key: String): DataFrame = {
    val parted = counts.repartitionByRange(desc("cnt"), asc(key))
      .withColumn("pid", spark_partition_id())
    val local = parted.withColumn("local_rank",
      row_number().over(
        Window.partitionBy("pid").orderBy(desc("cnt"), asc(key)))
        .cast("long"))
    val offsets = local.groupBy("pid").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum("n").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset") // one row per partition: broadcast-tiny
    local.join(broadcast(offsets), "pid")
      .select(col(key), col("cnt"),
        (col("offset") + col("local_rank") - 1L).as("id"))
  }

  /** Dictionary-encode the corpus: every (lowercased) token mapped to
    * its frequency-rank id, then per-document stats over the id stream —
    * integer sums only, so the result is exactly hash-comparable. The
    * id table joins back to the token stream by broadcast (vocabulary
    * << corpus by Heaps' law). */
  def dictEncodeStats(s: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("word"))
      .select(col("doc_id"), lower(col("word")).as("word"))
    val vocab = tokens.groupBy("word").agg(count(lit(1)).as("cnt"))
    val ids = denseIdsByCount(vocab, "word").select("word", "id")
    tokens.join(broadcast(ids), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum("id").as("id_sum"),
        min("id").as("id_min"),
        max("id").as("id_max"),
        countDistinct("id").as("n_distinct"))
  }
}
